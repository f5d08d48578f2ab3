package graft.jobs

import graft.io.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ordinals
import graft.queries.QualityQueries

/** Training-store READER — the consumer of q79's `split=/shard=` layout
  * ([[TrainingDataJob]] / [[graft.streaming.ShardStreams]] write it): a
  * deterministic, seeded, RESUMABLE iteration order over one split — the
  * data-loader contract a trainer needs. Same seed ⇒ identical order
  * across runs and across a mid-epoch resume; a new seed ⇒ a fresh
  * epoch shuffle; eval-wall docs are unreachable by construction (they
  * never entered the store, and the reader scans only its own split's
  * partition directories). This closes the crawl→tokens loop: WARC dump →
  * [[WarcPipeline]] → sharded store → seeded shard stream → tokenize/pack
  * ([[graft.queries.QualityQueries.sequencePack]]'s shape) → trainer.
  *
  * Scale shape: the shard permutation is a driver-side O(NumShards)
  * computation (splitmix64 keys — no RNG state, any worker can recompute
  * it); each shard's frame is a STATIC-partition-pruned scan (only the
  * `split=S/shard=K` directories are listed — the plan-gated spec); the
  * in-shard order is a seeded-hash sort of ONE shard (1/NumShards of the
  * split) with a distributed ordinal — no global sort, no single-reducer
  * window, O(|shard|) peak anywhere. A multi-executor trainer maps each
  * shard frame through its tokenize/pack stage; resuming costs zero
  * recompute of already-consumed shards. */
object TrainingStoreReader {

  /** Resume coordinates: `shardPos` = index INTO the epoch's shard
    * permutation (not a shard id) of the shard being consumed;
    * `docsConsumed` = in-shard ordinals already processed (the reader
    * serves `ord > docsConsumed`). Persist it with the trainer's own
    * checkpoint — it is a pure value, valid against the same (store,
    * split, seed). */
  final case class Cursor(epochSeed: Long, shardPos: Int, docsConsumed: Long)

  /** splitmix64 finalizer — a stateless, reproducible hash usable as a
    * permutation key (public-domain constant set, Steele et al. 2014). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The epoch's shard visit order: shard ids sorted by a seeded hash
    * (ties impossible — the id is the tiebreak). */
  def shardOrder(epochSeed: Long,
                 nShards: Int = QualityQueries.NumShards): Seq[Int] =
    (0 until nShards).sortBy(s => (mix(epochSeed ^ s.toLong), s))

  /** the seeded in-shard sort key — a pure function of (doc_id, seed). */
  private def orderKey(epochSeed: Long): Column =
    xxhash64(col("doc_id"), lit(epochSeed))

  /** One shard of one split, in the epoch's deterministic in-shard order,
    * with a dense ordinal `ord` (1..n — the resume coordinate). The scan
    * is partition-pruned to the single `split=/shard=` directory; the
    * ordinal is [[Ordinals.withOrdinal]] (distributed, no single-reducer
    * window). The ordinal's range-exchange persists via the checkpoint
    * registry — the consumer releases after its terminal action, like
    * every query. */
  def shardDocs(spark: SparkSession, storeDir: String, split: String,
                shard: Int, epochSeed: Long): DataFrame =
    Ordinals.withOrdinal(
      Parquet.read(spark, storeDir)
        .where(col("split") === split && col("shard") === shard),
      "ord", orderKey(epochSeed), col("doc_id"))

  /** Lazy stream of (shardPos, shardId, docs) for the epoch's remaining
    * work from `cursor`: fully-consumed shards are skipped WITHOUT being
    * scanned; the cursor shard serves only `ord > docsConsumed`. A fresh
    * epoch is `Cursor(seed, 0, 0)` ([[epoch]]). */
  def resumeEpoch(spark: SparkSession, storeDir: String, split: String,
                  cursor: Cursor,
                  nShards: Int = QualityQueries.NumShards)
      : Iterator[(Int, Int, DataFrame)] =
    shardOrder(cursor.epochSeed, nShards).zipWithIndex
      .drop(cursor.shardPos).iterator
      .map { case (shard, pos) =>
        val df = shardDocs(spark, storeDir, split, shard, cursor.epochSeed)
        val served =
          if (pos == cursor.shardPos && cursor.docsConsumed > 0)
            df.where(col("ord") > cursor.docsConsumed)
          else df
        (pos, shard, served)
      }

  /** A full epoch of `split` under `epochSeed`. */
  def epoch(spark: SparkSession, storeDir: String, split: String,
            epochSeed: Long,
            nShards: Int = QualityQueries.NumShards)
      : Iterator[(Int, Int, DataFrame)] =
    resumeEpoch(spark, storeDir, split, Cursor(epochSeed, 0, 0L), nShards)
}
