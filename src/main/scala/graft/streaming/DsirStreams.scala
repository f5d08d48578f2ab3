package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.TextOps.words
import graft.queries.QualityQueries

/** Streaming / apply face of q80's DSIR selection — the production split
  * of importance resampling: the weight table is TRAINED once batch-side
  * ([[QualityQueries.dsirSelect]]'s weight rollup over the curated target
  * + a raw sample), then FROZEN and applied map-side to every future
  * document. At 100 TB the apply pass is the whole cost, and this face
  * makes it a pure stateless projection:
  *
  *  - the frozen weights are ≤[[QualityQueries.DsirBuckets]] longs — a
  *    literal array baked into the plan (the q65 Bloom-literal pattern:
  *    a scalar-bounded driver collect, never data rows), so scoring needs
  *    no join, no shuffle, and ZERO streaming state;
  *  - the per-doc score is one `aggregate(transform(words(text)))`
  *    expression over the same bucket derivation as training
  *    ([[QualityQueries.dsirBucket]] — single source of truth, the
  *    q69/q79 pattern), codegen-friendly and watermark-free;
  *  - a bucket never seen in training scores the add-one-smoothed neutral
  *    weight (ct=0, cr=0 ⇒ [[QualityQueries.DsirScale]]) — on the training
  *    corpus itself every bucket is seen, so streamed scores reproduce the
  *    batch query's exactly (spec-gated).
  */
object DsirStreams {

  /** Freeze a trained (b, w) weight frame into the dense apply array.
    * The collect is bounded by [[QualityQueries.DsirBuckets]] — a model
    * artifact, not data. Unseen buckets get the smoothed neutral weight. */
  def freeze(weights: DataFrame): Array[Long] = {
    val arr = Array.fill(QualityQueries.DsirBuckets)(QualityQueries.DsirScale)
    weights.select(col("b").cast("int"), col("w")).collect()
      .foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Train the weight table from a batch corpus with (doc_id, text,
    * source) and freeze it: one token pass (explode → partial-agg groupBy
    * → ≤B-row rollup), then the bounded collect. Unlike batch q80's
    * probe-bounded table, the frozen table keeps target-only buckets
    * (ct>0, cr=0) at their true smoothed weight (ct+1)·scale — a future
    * stream WILL probe buckets this corpus's raw half never did, and the
    * target-only ones are precisely the highest-signal features. */
  def trainWeights(corpus: DataFrame): Array[Long] =
    freeze(QualityQueries.dsirWeightsOf(
      QualityQueries.dsirBucketCountsOf(corpus), probedOnly = false))

  /** The per-doc scoring column: sum of frozen bucket weights over the
    * doc's tokens. element_at is 1-based; buckets are 0-based. */
  private def scoreCol(text: Column, frozen: Array[Long]): Column = {
    val w = array(frozen.map(lit): _*)
    aggregate(
      transform(words(text), tok =>
        element_at(w, QualityQueries.dsirBucket(tok).cast("int") + 1)),
      lit(0L), (acc, x) => acc + x)
  }

  /** Score a document frame (streaming OR batch) with frozen weights:
    * adds (score, n_tokens, score_per_kt) as a stateless map-side
    * projection — the columns a downstream gate thresholds on. The
    * normalized score matches the batch query's
    * `(score * 1000) DIV n_tokens` exactly. */
  def scored(docs: DataFrame, frozen: Array[Long]): DataFrame =
    docs.withColumn("score", scoreCol(col("text"), frozen))
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
      .withColumn("score_per_kt", expr("(score * 1000) DIV n_tokens"))
}
