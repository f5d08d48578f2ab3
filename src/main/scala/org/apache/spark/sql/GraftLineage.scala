package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XxHash64}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** Per-partition lineage recorded by the write tasks themselves, so a lake
  * commit needs no second pass over what it wrote. Lives in the
  * org.apache.spark.sql package to reach `internalCreateDataFrame`, which
  * wraps the build's internal rows back into a frame without a Row round
  * trip. */
object GraftLineage {

  /** One write task's share of a commit: the rows it wrote and the xor of
    * `xxhash64(<all columns>)` (seed 42) over them — the same value as
    * `bit_xor(xxhash64(cols))` over those rows. The analyzer refuses
    * `xxhash64` over map columns; the bound expression here hashes a map
    * in its stored entry order, so a stage with a map column commits. */
  final case class Part(partition: Int, rows: Long, checksum: Long)

  /** Runs `write` over `df` with a pass-through that counts and hashes
    * every row a task hands on, and returns one [[Part]] per task that
    * wrote rows, by partition. A task reports once its rows are drained.
    * The parts travel in an accumulator updated by the result stage, which
    * Spark merges once per partition: a retried or speculative task
    * cannot count twice, and a failed one not at all. */
  def recordWhile(df: DataFrame)(write: DataFrame => Unit): Seq[Part] = {
    val spark = castToImpl(df.sparkSession)
    val qe = df.queryExecution
    val attrs = qe.executedPlan.output
    val hash = new XxHash64(attrs) // functions.xxhash64: seed 42
    val parts = new CollectionAccumulator[Part]
    spark.sparkContext.register(parts)
    val tapped = qe.toRdd.mapPartitionsWithIndex({ (pid, rows) =>
      val proj = UnsafeProjection.create(Seq(hash), attrs)
      new Iterator[InternalRow] {
        private var n = 0L
        private var x = 0L
        private var reported = false
        def hasNext: Boolean = {
          val more = rows.hasNext
          if (!more && !reported && n > 0) {
            reported = true
            parts.add(Part(pid, n, x))
          }
          more
        }
        def next(): InternalRow = {
          val r = rows.next()
          n += 1
          x ^= proj(r).getLong(0)
          r
        }
      }
    }, preservesPartitioning = true)
    write(spark.internalCreateDataFrame(tapped, df.schema))
    parts.value.asScala.toSeq.sortBy(_.partition)
  }
}
