package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, StageRunner}
import graft.queries.TextQueries

/** INCREMENTAL near-dup detection (VERDICT r2 "Next round" #9): a daily
  * batch-append face for the MinHash pipeline. The committed signature
  * store (one row per doc: 128-perm signature) is the only state; an
  * appended batch computes signatures for the NEW docs only, banded-joins
  * them against the store (new×old) and against itself (new×new), refines
  * exactly like the full pipeline, and commits the enlarged store as a new
  * lake snapshot (time-travel keeps every prior corpus version).
  *
  * Equivalence contract (spec-enforced): the pairs an append reports are
  * EXACTLY the pairs a full recompute over old ∪ new finds that involve a
  * new doc — banding is per-doc, so candidate generation distributes over
  * the corpus split, and the signature refine is pairwise. At 100 TB the
  * append touches O(|batch|·bands) band rows against a bucket-partitioned
  * store — never the whole corpus. */
object IncrementalDedup {

  val SigStage = "neardup_sig_store"

  /** Commit the signature store for the initial corpus; returns it. */
  def init(spark: SparkSession, docs: DataFrame, lakeRoot: String): DataFrame = {
    val lake = new LakeTable(lakeRoot)
    StageRunner.stage(spark, lake, SigStage) {
      TextQueries.sigsOf(spark, docs)
    }
  }

  /** Append a batch: returns every near-dup pair (a < b) involving a new
    * doc, and commits old ∪ new signatures as the store's next snapshot.
    *
    * `batchId` makes the append IDEMPOTENT for streaming replays
    * (foreachBatch redelivers a batch after a crash between the store
    * commit and the sink write): if the store's current snapshot already
    * carries this batch id, the commit is skipped and the pair
    * computation reads the store alone — same pair set, no duplicate
    * signature rows. */
  def append(spark: SparkSession, newDocs: DataFrame, lakeRoot: String,
             batchId: Option[Long] = None): DataFrame =
    appendWithHandle(spark, newDocs, lakeRoot, batchId)._1

  /** [[append]] plus the checkpointed new-signature handle, so a streaming
    * caller can free exactly the blocks this append pinned once its sink
    * write completes — a global releaseAll would also kill any OTHER
    * query's live checkpoints on a shared session. Replay idempotence +
    * the two-layer disjointness guard (first-write-wins, matching
    * exact-dedup's keep-min semantics; an UPDATE workflow would instead
    * rollback + recommit) live in [[IncrementalAppend]], shared with the
    * embedding job. */
  private[jobs] def appendWithHandle(
      spark: SparkSession, newDocs: DataFrame, lakeRoot: String,
      batchId: Option[Long]): (DataFrame, DataFrame, Boolean) =
    IncrementalAppend.appendWithHandle(spark, newDocs, lakeRoot, SigStage,
      batchId, "doc_id", docs => TextQueries.sigsOf(spark, docs)) {
      (newSigs, _, allSigs) =>
        // new×(new ∪ old) — old×old pairs were already reported by earlier
        // appends/init; on a replay `allSigs` is the store, which already
        // holds the batch
        TextQueries.pairsFromSigs(newSigs, allSigs).orderBy(col("a"), col("b"))
    }

  /** Streaming face: every micro-batch of `docsStream` runs [[append]]
    * (batch-id-idempotent) and appends its pair rows to `pairsOut` —
    * the daily-incremental dedup operated as a continuous job. */
  def appendStream(docsStream: DataFrame, lakeRoot: String,
                   pairsOut: String, checkpointDir: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    IncrementalAppend.stream(docsStream, pairsOut, checkpointDir, trigger)(
      (s, batch, id) => appendWithHandle(s, batch, lakeRoot, Some(id)))
}
