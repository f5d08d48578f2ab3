package graft.streaming

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.GraftRegistrar

import graft.ops.TextOps.words
import graft.sql.CmSketch

/** Streaming face of the q84 Count-Min vehicle: a continuously-arriving
  * corpus folds into ONE running 32 KB frequency sketch. Each micro-batch
  * contributes exactly one partial grid (the batch-internal aggregation
  * is map-side partials + a one-row exchange, q84's shape), and the
  * running state is the elementwise sum — associative and commutative,
  * so the streamed sketch is BYTE-EQUAL to the batch sketch over the
  * same rows, under any batch split (spec-gated). The running grid is
  * the streaming analogue of a frozen `cm_est` probe artifact: a crawl
  * monitor reads it at any time for never-undercounting term frequencies
  * without touching the corpus. */
object SketchStreams {

  /** Crash-safe 32 KB sketch state: (lastBatchId, grid) in one file,
    * atomic tmp+rename commit. foreachBatch replays a batch after a
    * crash-between-commit-and-checkpoint — batch ids are monotone per
    * checkpoint, so the `batchId > lastBatchId` guard makes the merge
    * idempotent (the same redelivery contract as the lake's `_batch_<id>`
    * markers, scaled down to one file). Contract: a store is bound to ONE
    * checkpoint lineage — pointing a FRESH checkpoint at an existing
    * store restarts batch ids at 0 and the guard would skip them; start a
    * fresh store alongside a fresh checkpoint. */
  final class SketchStore(dir: java.io.File) {
    dir.mkdirs()
    private val file = new java.io.File(dir, "sketch.bin")

    /** exact expected file size: 8-byte batch id + the grid. */
    private val ExpectedBytes = 8 + CmSketch.Depth * CmSketch.Width * 8

    def load(): (Long, Array[Long]) =
      if (!file.exists()) (-1L, new Array[Long](CmSketch.Depth * CmSketch.Width))
      else {
        val raw = java.nio.file.Files.readAllBytes(file.toPath)
        // a torn/stale file (power loss before the data hit disk) must be
        // an OPERABLE error naming the file, not a BufferUnderflowException
        if (raw.length != ExpectedBytes)
          throw new java.io.IOException(
            s"corrupt sketch store ${file.getAbsolutePath}: ${raw.length} bytes, " +
              s"expected $ExpectedBytes — torn write (power loss?); delete the " +
              "store AND its checkpoint to rebuild from the source")
        val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        val id = bb.getLong
        (id, Array.fill(CmSketch.Depth * CmSketch.Width)(bb.getLong))
      }

    /** Durable commit: write tmp, force file bytes to disk, ATOMIC_MOVE,
      * then fsync the DIRECTORY so the rename itself is durable — "crash-
      * safe" covers power loss, not just process death (a rename that only
      * lives in the dirent cache can resurface the OLD file after a power
      * cut, which the batch-id guard tolerates, but a torn NEW file would
      * not be). */
    def commit(batchId: Long, grid: Array[Long]): Unit = {
      val bb = ByteBuffer.allocate(8 + grid.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(batchId); grid.foreach(bb.putLong)
      val tmp = new java.io.File(dir, "sketch.bin.tmp")
      val ch = java.nio.channels.FileChannel.open(tmp.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { ch.write(ByteBuffer.wrap(bb.array())); ch.force(true) }
      finally ch.close()
      java.nio.file.Files.move(tmp.toPath, file.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // directory fsync (no-op where unsupported, e.g. some non-POSIX FS)
      try {
        val dch = java.nio.channels.FileChannel.open(dir.toPath,
          java.nio.file.StandardOpenOption.READ)
        try dch.force(true) finally dch.close()
      } catch { case _: java.io.IOException => }
    }

    /** never-undercounting estimate from the current committed grid. */
    def estimate(term: String): Long =
      CmSketch.estimate(load()._2, term.getBytes("UTF-8"))
  }

  /** Fold the word stream of `docs` (a streaming DataFrame with a `text`
    * column) into `store`, one partial sketch per micro-batch. */
  def wordSketchSink(docs: DataFrame, store: SketchStore,
                     checkpointDir: String): StreamingQuery =
    docs.select(explode(words(col("text"))).as("w"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val (last, grid) = store.load()
        if (batchId > last) {
          GraftRegistrar.ensure(batch.sparkSession)
          val bytes = batch.agg(expr("cm_sketch_agg(w)"))
            .collect()(0).getAs[Array[Byte]](0)
          val part = CmSketch.deserialize(bytes)
          var i = 0
          while (i < grid.length) { grid(i) += part(i); i += 1 }
          store.commit(batchId, grid)
        }
      }
      .start()
}
