package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftCheckpoints
import org.apache.spark.sql.GraftCheckpoints.TrackedDataFrame
import org.apache.spark.sql.functions._

import graft.io.WarcIO

/** Crawl-dump → training-store: the end-to-end face a user points at a
  * directory of WARC archives (the input_hint pages shape, sourced from
  * the wire format instead of parquet). Ingest is file-per-archive with
  * zero shuffle — parse, extract text from the html payload, derive the
  * recrawl-stable doc identity — and the survivors flow through the
  * existing resumable [[TrainingDataJob]] stages (quality → exact dedup →
  * near-dup → decontaminate → sharded store).
  *
  * Identity (narrow, the default): `doc_id = xxhash64(url) &
  * Long.MaxValue`. A RECRAWL of the same url maps to the same id by
  * construction — exactly the stability the q79 contamination wall and
  * exact-dedup keeper rule rely on (a url's content update dedups against
  * its older self instead of leaking across the eval wall). The stated
  * trade: two DIFFERENT urls colliding in the 63-bit space (birthday
  * bound ≈ N²/2⁶⁴ — ~0.005 expected collisions at 10⁹ urls, ~5000 at
  * 10¹²) cost one of two unrelated docs, never a correctness break
  * downstream.
  *
  * Identity (wide, `wideIdentity = true` — the 10¹²-url production
  * setting): `doc_id = md5(url)` as a 32-hex-char string, a 128-bit
  * identity (expected collisions at 10¹² urls ≈ N²/2¹²⁹ ≈ 10⁻¹⁵ —
  * effectively zero, so no doc is ever lost to id aliasing). Every
  * downstream identity operation — dedup stores' first-write-wins guard,
  * min-keeper rules, LSH pair canonicalization, label min-propagation —
  * is ordering/equality-based and therefore type-agnostic; the two
  * NUMERIC sites derive their keys from the id instead of being the id
  * ([[graft.queries.QualityQueries.withShardAssignment]] shards from the
  * split hash's hex digits; [[wallBucket]] hashes the digest for the
  * eval wall — both stay recrawl-stable because they remain pure
  * functions of the url). Cost: a 32-byte shuffle/store key instead of
  * 8 bytes. The driver-gate oracles all run narrow ids — unchanged. */
object WarcPipeline {

  /** The eval-wall bucket of a docs frame: `doc_id mod EvalMod` for the
    * narrow Long identity, `xxhash64(doc_id) & Max mod EvalMod` for the
    * wide string identity — in both cases a pure function of the url, so
    * a doc sits on the same wall side in EVERY batch that delivers it. */
  def wallBucket(df: DataFrame): org.apache.spark.sql.Column = {
    val id = col("doc_id")
    val n =
      if (df.schema("doc_id").dataType == org.apache.spark.sql.types.LongType) id
      else xxhash64(id).bitwiseAND(lit(Long.MaxValue))
    pmod(n, lit(graft.queries.QualityQueries.EvalMod))
  }

  /** The entity body of a response payload, as a decoded string. Real
    * Common-Crawl response records carry `Content-Type: application/http;
    * msgtype=response` — the payload embeds the HTTP status line and
    * headers BEFORE the html body, split at the first blank line
    * (`\r\n\r\n`). Extracting from the raw payload would fold header
    * bytes (Server, Set-Cookie, dates…) into quality scores and dedup
    * identities. Bare-content records (`text/html` etc.) pass through;
    * so does a blank-line-less `application/http` payload (headers-only
    * or non-conformant — better the whole payload than a dropped doc). */
  def httpBody(payload: org.apache.spark.sql.Column,
               contentType: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = decode(payload, "UTF-8")
    val pos = locate("\r\n\r\n", s)
    when(contentType.startsWith("application/http") && pos > 0,
      s.substr(pos + lit(4), length(s))).otherwise(s)
  }

  /** (doc_id, url, warc_epoch, text) from every response record under
    * `warcDir` — one task per archive, map-side only. `wideIdentity`
    * selects the 128-bit string identity (object doc above). */
  def ingest(spark: SparkSession, warcDir: String,
             wideIdentity: Boolean = false): DataFrame =
    WarcIO.read(spark, warcDir, "*.warc*")
      .where(col("warc_type") === "response")
      .select(
        (if (wideIdentity) md5(col("target_uri"))
         else xxhash64(col("target_uri")).bitwiseAND(lit(Long.MaxValue)))
          .as("doc_id"),
        col("target_uri").as("url"),
        unix_timestamp(col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX")
          .as("warc_epoch"),
        graft.ops.ExtractText.extractText(
          httpBody(col("payload"), col("content_type"))).as("text"))

  /** every ~[[graft.queries.QualityQueries.EvalMod]]-th ingested doc by id
    * (a deterministic held-out slice standing in for the caller's
    * benchmark suite when none is supplied). */
  def defaultEvalSlice(ingested: DataFrame): DataFrame =
    ingested.where(wallBucket(ingested) === 0)
      .select(col("doc_id"), col("text"))

  /** Daily-crawl faces: initialize the incremental pipeline from the
    * first dump, then append each day's dump with batch-id idempotence
    * (a redelivered dump appends nothing twice — [[TrainingDataJob]]'s
    * replay contracts). The eval WALL is the id-hash rule itself
    * (`doc_id % EvalMod == 0`): because the identity is the url hash, a
    * doc is on the eval side in EVERY batch that ever delivers it, so no
    * recrawl can migrate across the wall — the per-batch
    * [[defaultEvalSlice]] is globally consistent by construction. */
  def initFromDump(spark: SparkSession, warcDir: String,
                   lakeRoot: String, storeDir: String,
                   wideIdentity: Boolean = false): DataFrame = {
    val ing = ingest(spark, warcDir, wideIdentity)
      .select(col("doc_id"), col("text")).trackedCheckpoint
    try TrainingDataJob.initIncremental(spark, ing, defaultEvalSlice(ing),
      lakeRoot, storeDir)
    finally org.apache.spark.sql.GraftCheckpoints.release(ing)
  }

  def appendDump(spark: SparkSession, warcDir: String,
                 lakeRoot: String, storeDir: String,
                 batchId: Option[Long] = None,
                 wideIdentity: Boolean = false): DataFrame = {
    val ing = ingest(spark, warcDir, wideIdentity)
      .select(col("doc_id"), col("text")).trackedCheckpoint
    try TrainingDataJob.appendBatch(spark, ing, defaultEvalSlice(ing),
      lakeRoot, storeDir, batchId)
    finally org.apache.spark.sql.GraftCheckpoints.release(ing)
  }

  /** The whole path: parse the dump ONCE (checkpointed — the quality gate
    * and the decontamination eval slice both read the materialized parse,
    * so the dominant binaryFile+extract cost is never paid twice), split
    * off the eval slice, run the resumable pipeline into `storeDir`.
    * Returns the sharded survivors. */
  def runFromDump(spark: SparkSession, warcDir: String,
                  lakeRoot: String, storeDir: String,
                  evalDocs: Option[DataFrame] = None,
                  wideIdentity: Boolean = false): DataFrame = {
    val ingested = ingest(spark, warcDir, wideIdentity)
      .select(col("doc_id"), col("text")).trackedCheckpoint
    try {
      val eval = evalDocs.getOrElse(defaultEvalSlice(ingested))
      TrainingDataJob.run(spark, ingested, eval, lakeRoot, storeDir)
    } finally GraftCheckpoints.release(ingested)
  }
}
