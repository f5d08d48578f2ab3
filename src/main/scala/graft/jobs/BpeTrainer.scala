package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftCheckpoints
import org.apache.spark.sql.GraftCheckpoints.TrackedDataFrame
import org.apache.spark.sql.functions._

/** BPE tokenizer training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — the merge-learning
  * loop behind modern LLM tokenizers), distributed the way the algorithm
  * itself compresses: ONE corpus pass builds the distinct-word frequency
  * table, and every merge round runs over that compressed state
  * (|vocab| rows — ~10^8 at 100 TB against 10^12 docs), never the corpus.
  *
  * Round shape: one pair-count aggregate over the word table (explode of
  * [[graft.ops.TextOps.adjacentPairs]] weighted by word freq → partial-agg
  * groupBy), ONE driver row (the argmax pair via TakeOrdered limit(1) — a
  * scalar decision, the same bounded-collect class as PageRank's node
  * count), then a typed map applying the merge to the word table. The
  * sequential pair-replacement inside one word is genuinely imperative —
  * a typed map over the COMPRESSED state is the sanctioned vehicle; the
  * corpus itself is never mapped. State is locally checkpointed every 3rd
  * round with superseded-block release (the q74 PageRank pattern) so
  * lineage stays bounded; a production run would commit rounds as lake
  * snapshots instead.
  *
  * Determinism: ties break (pair freq desc, left asc, right asc) — a
  * total order, so the learned rules are identical under any
  * partitioning; spec-gated against an independent single-threaded
  * reference implementation on the paper's canonical corpus.
  */
object BpeTrainer {

  case class WordSyms(word: String, freq: Long, syms: Seq[String])
  case class MergeRule(round: Int, left: String, right: String, pairFreq: Long)

  /** End-of-word marker (the paper's `</w>`): keeps "est" in "newest"
    * distinct from "est" at a word end, so merges learn word-final units. */
  val EndMark = "</w>"

  /** Greedy left-to-right non-overlapping replacement of adjacent (l, r)
    * with the fused symbol — the paper's scan order ("a a a" under (a,a)
    * fuses the FIRST two: ["aa", "a"]). */
  private[jobs] def mergePair(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The one corpus pass: distinct-word frequencies, each word symbolized
    * as its characters + [[EndMark]]. */
  def initialWords(docs: DataFrame): DataFrame =
    docs.select(explode(graft.ops.TextOps.words(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", concat(
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        array(lit(EndMark))))

  /** Learn up to `rounds` merges; stops early when the best pair's
    * frequency falls under `minPairFreq`. Returns the rules in learned
    * order and the final symbolized word table. */
  def train(docs: DataFrame, rounds: Int,
            minPairFreq: Long = 2L): (Seq[MergeRule], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = initialWords(docs).trackedCheckpoint
    var prevCp: DataFrame = words
    val rules = Seq.newBuilder[MergeRule]
    var round = 1
    var go = true
    while (round <= rounds && go) {
      val top = words.select(col("freq"), explode(
          graft.ops.TextOps.adjacentPairs(col("syms"))(
            (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairFreq) go = false
      else {
        val (l, r, pf) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += MergeRule(round, l, r, pf)
        words = words.as[WordSyms]
          .map(w => w.copy(syms = mergePair(w.syms, l, r))).toDF()
        if (round % 3 == 0 || round == rounds) {
          words = words.trackedCheckpoint
          GraftCheckpoints.release(prevCp)
          prevCp = words
        }
        round += 1
      }
    }
    (rules.result(), words)
  }

  /** Tokenizer APPLY face: encoding a word = replaying the learned rules
    * in order (the BPE invariant — on any training word this reproduces
    * the trainer's final symbol sequence; spec-gated). */
  def encodeWord(word: String, rules: Seq[MergeRule]): Seq[String] = {
    var syms: Seq[String] =
      word.map(_.toString) :+ EndMark
    rules.foreach(m => syms = mergePair(syms, m.left, m.right))
    syms
  }
}
