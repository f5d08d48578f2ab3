package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, StageRunner}
import graft.queries.EmbQueries

/** INCREMENTAL semantic dedup — the embedding counterpart of
  * [[IncrementalDedup]]: a daily batch-append face for the SemDeDup
  * pipeline (q78, `EmbQueries.semDedup`). The committed cell store (one
  * row per vector: product-quantizer cell + the embedding and its norm,
  * so the exact-cosine refine never re-reads the source corpus) is the
  * only state; an appended batch quantizes the NEW vectors only, joins
  * them against the store intra-cell (new×old and new×new in one cell
  * equi-join), refines by exact cosine ≥ SemTau, and commits the enlarged
  * store as a new lake snapshot.
  *
  * Equivalence contract (spec-enforced): the pairs an append reports are
  * EXACTLY the pairs a full SemDeDup recompute over old ∪ new finds that
  * involve a new vector. That requires the cell-size cap to be judged on
  * the UNION counts — a cell the batch pushes past `SemMaxCell` yields no
  * pairs from this append, exactly as the full recompute would skip it
  * (the cap is a skew guard; monotone-growing cells age out of candidate
  * generation on both faces).
  *
  * 100-TB shape: only cells the BATCH touches matter — a cell with no new
  * member can produce no new pair — so the store-side work is a broadcast
  * semi-join on the batch's distinct cells (with a cell-partitioned store
  * layout that is static partition pruning; here it prunes via the
  * broadcast hash join). The size check counts union members of those
  * cells only, and embeddings rejoin by vec_id just for surviving
  * candidate pairs (late materialization, same as q78). Store-side READS
  * are column-pruned (vec_id, cell) longs except the candidate refine's
  * id-keyed embedding rejoin, and the store WRITE is O(|batch|): the
  * commit is a [[graft.lake.LakeTable.commitAppend]] fast-append snapshot
  * referencing the parent's data files instead of rewriting them
  * (round-4 review: the old ∪ new rewrite contradicted this paragraph). */
object IncrementalEmbDedup {

  val CellStage = "semdedup_cell_store"

  /** quantize + norm: one map-side pass per vector (the store schema). */
  private def cellsOf(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), EmbQueries.semCell(col("embedding")).as("cell"),
      col("embedding"),
      sqrt(EmbQueries.dotCols(col("embedding"), col("embedding"))).as("norm"))

  /** Commit the cell store for the initial corpus; returns it. Pairs among
    * the initial corpus are the full pipeline's job (q78) — init only
    * establishes state, mirroring [[IncrementalDedup.init]]. */
  def init(spark: SparkSession, vecs: DataFrame, lakeRoot: String): DataFrame = {
    val lake = new LakeTable(lakeRoot)
    StageRunner.stage(spark, lake, CellStage) {
      cellsOf(vecs)
    }
  }

  /** Append a batch of (vec_id, embedding): returns every semantic-dup
    * pair (a < b, cosine ≥ SemTau, same live cell) involving a new vector,
    * and commits old ∪ new as the store's next snapshot.
    *
    * `batchId` makes the append IDEMPOTENT for streaming replays, exactly
    * as in [[IncrementalDedup.append]]: if the store's current snapshot
    * already carries this batch id the commit is skipped and the incoming
    * rows serve as the probe side against the store alone. */
  def append(spark: SparkSession, newVecs: DataFrame, lakeRoot: String,
             batchId: Option[Long] = None): DataFrame =
    appendWithHandle(spark, newVecs, lakeRoot, batchId)._1

  /** [[append]] plus the checkpointed new-cell handle, so a streaming
    * caller can free exactly the blocks this append pinned (a global
    * releaseAll would kill other queries' live checkpoints). Replay
    * idempotence + the two-layer disjointness guard (first-write-wins)
    * live in [[IncrementalAppend]], shared with the text job. */
  private[jobs] def appendWithHandle(
      spark: SparkSession, newVecs: DataFrame, lakeRoot: String,
      batchId: Option[Long]): (DataFrame, DataFrame, Boolean) =
    IncrementalAppend.appendWithHandle(spark, newVecs, lakeRoot, CellStage,
      batchId, "vec_id", cellsOf) { (newCells, _, all) =>

    // candidate generation touches ONLY the batch's cells: members of other
    // cells cannot pair with a new vector. batchCells is ≤ |batch| rows —
    // broadcast it; with a cell-partitioned store this is partition pruning.
    val batchCells = newCells.select(col("cell")).distinct()
    val touched = all.select(col("cell"), col("vec_id"))
      .join(broadcast(batchCells), Seq("cell"))
    // the skew cap judged on UNION counts (full-recompute parity): a cell
    // the batch pushes past SemMaxCell is skipped on both faces.
    val live = touched.groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).where(col("n") <= EmbQueries.SemMaxCell)
      .select(col("cell"))
    val member = touched.join(broadcast(live), Seq("cell"))
    // one cell equi-join covers new×old AND new×new: probe = new members,
    // build = all members of the batch's live cells; canonicalize a < b
    // (each new×new pair arrives in both orientations — dropDuplicates).
    val probe = newCells.select(col("cell"), col("vec_id").as("x"))
      .join(broadcast(live), Seq("cell"))
    val cand = probe
      .join(member.select(col("cell"), col("vec_id").as("y")), Seq("cell"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .dropDuplicates("a", "b")

    // exact-cosine refine: embeddings rejoin by id only for candidates
    cand
      .join(all.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("norm").as("na")), Seq("a"))
      .join(all.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("norm").as("nb")), Seq("b"))
      .where(EmbQueries.dotCols(col("ea"), col("eb")) / (col("na") * col("nb"))
        >= EmbQueries.SemTau)
      .select(col("a"), col("b"))
      .orderBy(col("a"), col("b"))
    }

  /** Streaming face: every micro-batch of `vecsStream` runs [[append]]
    * (batch-id-idempotent) and appends its pair rows to `pairsOut`. */
  def appendStream(vecsStream: DataFrame, lakeRoot: String,
                   pairsOut: String, checkpointDir: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    IncrementalAppend.stream(vecsStream, pairsOut, checkpointDir, trigger)(
      (s, batch, id) => appendWithHandle(s, batch, lakeRoot, Some(id)))
}
