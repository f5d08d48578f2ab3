package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sql.GraftUnary

/** Text-analysis / dedup operators for the web-pages payload — the
  * training-data-pipeline surface (builder prompt): exact dedup, MinHash
  * LSH, SimHash, language-ID heuristic, quality scoring, token counting.
  * Everything is a composition of codegen'd built-ins except simhash64
  * (a custom Expression). Column builders mirror ANSI-SQL oracles
  * exactly (integer arithmetic + md5, no locale-dependent ops). */
object TextOps {

  /** Whitespace token count: regex split (codegen'd built-in). Not
    * [[words]]: its oracle mirrors the `\\s+` regex, not single spaces. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** The one word tokenizer of every word-level text query: `text` split
    * on single spaces, the `string_split(text, ' ')` every oracle mirrors.
    * Each space separates two words, so double, leading and trailing
    * spaces yield empty-string words and `""` is one empty word; null text
    * is a null array. */
  def words(text: Column): Column = split(text, " ")

  /** Sliding `k`-word windows (stride 1) over the [[words]] of `d`'s
    * `text`: one row per COMPLETE window, so a doc with fewer than `k`
    * words (and null text) contributes nothing. Each row carries the
    * `keep` columns, the doc's `n_words`, the window's 1-based start `p`,
    * its words `w` and its text `gram` (the words joined by " "). One
    * Filter and one Generate; outputs a caller does not read are pruned
    * from the plan. */
  def kgrams(d: DataFrame, k: Int, keep: String*): DataFrame =
    windows(tokenized(d, keep).where(size(col(Words)) >= k), keep,
      s"sequence(1, size($Words) - ${k - 1})", col("p"), k)

  /** Fixed `w`-word blocks (stride `w`) over the [[words]] of `d`'s
    * `text`; the last block may be partial, so every word is in exactly
    * one block. Same output columns as [[kgrams]], `p` numbering blocks. */
  def blocks(d: DataFrame, w: Int, keep: String*): DataFrame =
    windows(tokenized(d, keep), keep,
      s"sequence(1, (size($Words) + ${w - 1}) div $w)", (col("p") - 1) * w + 1, w)

  private val Words = "_words"

  private def tokenized(d: DataFrame, keep: Seq[String]): DataFrame =
    d.select(keep.map(col) :+ words(col("text")).as(Words): _*)

  /** position-explode + `slice` — codegen'd end to end, where a
    * `transform(sequence, …)` lambda would build each doc's window array
    * through interpreted HOF evaluation (CodegenFallback). */
  private def windows(d: DataFrame, keep: Seq[String], starts: String,
                      from: Column, width: Int): DataFrame = {
    val carry = keep.map(col)
    d.select(carry ++ Seq(size(col(Words)).as("n_words"),
        explode(expr(starts)).as("p"), col(Words)): _*)
      .select(carry ++ Seq(col("n_words"), col("p"),
        slice(col(Words), from, lit(width)).as("w")): _*)
      .withColumn("gram", array_join(col("w"), " "))
  }

  /** Adjacent-pairs kernel of a doc-bounded array (q47's per-doc bigrams,
    * [[graft.jobs.BpeTrainer]]'s symbol pairs): zip_with of the two
    * shifted slices, so a 0/1-element array yields an EMPTY pair array.
    * The combiner shapes the per-pair output (string concat, struct, …). */
  def adjacentPairs(a: Column)(f: (Column, Column) => Column): Column =
    zip_with(
      org.apache.spark.sql.functions.slice(a, lit(1), size(a) - 1),
      org.apache.spark.sql.functions.slice(a, lit(2), size(a) - 1), f)

  /** Canonical form of a crawl URL (q69's normalization, shared with the
    * streaming dedup face): lowercase scheme + authority, strip the
    * scheme's OWN default port (:443 for https, :80 for http — ADVICE r3:
    * stripping :443 regardless of scheme canonicalized http://host:443/x,
    * a real distinct resource, onto http://host/x, while http://host:80/x
    * stayed distinct from http://host/x), the #fragment, `utm_*` tracking
    * params and trailing slashes. Pure codegen'd regexp built-ins — the
    * same column expression runs batch and streaming. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val rawAuth = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1))
    val auth = when(scheme === "https", regexp_replace(rawAuth, ":443$", ""))
      .when(scheme === "http", regexp_replace(rawAuth, ":80$", ""))
      .otherwise(rawAuth)
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    val q = regexp_replace(regexp_replace(
      regexp_extract(url, "\\?([^#]*)", 1),
      "(^|&)utm_[a-z_]+=[^&]*", ""), "^&", "")
    // scheme-less/malformed URLs (mailto:, android-app://-less relatives,
    // garbage) pass through UNCHANGED: normalizing them all to '://' would
    // make every malformed page a "duplicate" of the first one a streaming
    // dedup sees — silent data loss, not normalization
    when(regexp_extract(url, "^[A-Za-z]+://", 0) === "", url).otherwise(
      concat(scheme, lit("://"),
        auth, path,
        when(q =!= "", concat(lit("?"), q)).otherwise(lit(""))))
  }

  /** Occurrences of a literal substring via length arithmetic — exact in
    * any SQL dialect (no regex dialect drift). */
  def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / pat.length).cast("bigint")

  /** Language-ID by stopword-hit argmax — the n-gram/stopword heuristic.
    * Deterministic tie-break: first language in [[langScores]] order wins. */
  val langScores: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " que "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "pt" -> Seq(" de ", " que ", " uma "))

  def langScore(text: Column, lang: String): Column =
    langScores.find(_._1 == lang).get._2
      .map(p => occurrences(text, p)).reduce(_ + _)

  def langId(text: Column): Column = {
    val scores = langScores.map { case (l, _) => l -> langScore(text, l) }
    // strict argmax, ties to earlier entry: lang_i wins iff score_i > score_j
    // for all j<i and score_i >= score_j for all j>i
    val best = scores.zipWithIndex.foldLeft(lit("und")) { case (acc, ((l, s), i)) =>
      val beatsEarlier = scores.take(i).map(_._2).map(s > _).foldLeft(lit(true))(_ && _)
      val beatsLater = scores.drop(i + 1).map(_._2).map(s >= _).foldLeft(lit(true))(_ && _)
      when(beatsEarlier && beatsLater && s > 0, lit(l)).otherwise(acc)
    }
    best
  }

  /** Quality features (length/punct/stopword ratios) + a bucket label. */
  def punctCount(text: Column): Column =
    Seq(".", ",", "!", "?").map(p => occurrences(text, p)).reduce(_ + _)
  def stopwordCount(text: Column): Column =
    Seq(" the ", " a ", " of ", " and ").map(p => occurrences(text, p)).reduce(_ + _)
  def qualityBucket(nTokens: Column, nChars: Column, nStop: Column): Column =
    when(nTokens < 10, lit("too_short"))
      .when(nStop.cast("double") / nTokens.cast("double") > 0.2, lit("high"))
      .when(nStop > 0, lit("medium"))
      .otherwise(lit("low"))

  /** Exact-dup key. */
  def textHash(text: Column): Column = md5(text)

  // ---------------------------------------------------------------- MinHash
  // Production parameterization (VERDICT r1 #2): 128 permutations over
  // 8-char stride-1 shingles of the FULL text. Per shingle ONE md5 → 60-bit
  // base hash (15 hex nibbles, so it stays positive in signed 64-bit on
  // both engines) → hp = h60 mod P; permutation j is the universal hash
  // (A_j·hp + B_j) mod P with A_j,B_j derived from j by the same integer
  // arithmetic on both sides. A_j·hp < P² ≈ 10¹⁸ < 2⁶³ — overflow-free.
  val NumPerms = 128
  val ShingleWidth = 8
  val MinhashP = 1000000007L
  /** b×r banding: 32 bands × 4 rows; near-dup threshold = 90/128 matching
    * sigs (Jaccard ≈ 0.70 with collision prob 1-(1-s⁴)³² ≈ 1 at s=0.7). */
  val Bands = 32
  val BandRows = 4
  val MatchThreshold = 90

  /** Every algorithm constant of the signature pipeline in ONE token —
    * folded into stage-cache keys and lake stage names (the stage-key
    * invariant: changing a mirrored constant must invalidate the stage). */
  def minhashKey: String =
    s"p$NumPerms-s$ShingleWidth-q$MinhashP-b${Bands}x$BandRows-m$MatchThreshold"

  def permA(j: Int): Long = (j * graft.model.Pages.M1 + 7) % (MinhashP - 1) + 1
  def permB(j: Int): Long = (j * graft.model.Pages.M2 + graft.model.Pages.A2) % MinhashP

  /** band keys: array of 32 "s_{4k},..,s_{4k+3}" strings over the packed
    * signature array — the [[BandKeys]] primitive kernel. */
  def bandKeys(sigs: Column): Column = call_function("band_keys", sigs)

  /** matching-signature count between two packed signature arrays —
    * n_match/128 estimates Jaccard. The [[graft.sql.SigMatches]]
    * primitive kernel (optimization round): an integer COUNT, so the
    * compiled loop is bit-identical to the interpreted
    * aggregate(zip_with(…)) fold it replaced. */
  def sigMatches(a: Column, b: Column): Column =
    call_function("sig_matches", a, b)

  // ---- ANSI-SQL mirrors (DuckDB oracle) ----

  /** per-doc exploded shingle base hashes: SELECT doc_id, h FROM ... */
  def shingleHashSql(table: String): String =
    s"""SELECT doc_id, CAST(list_sum(list_transform(generate_series(1, 15), q ->
       |    CAST(strpos('0123456789abcdef', substr(hx, CAST(q AS INTEGER), 1)) - 1 AS BIGINT)
       |      * (CAST(1 AS BIGINT) << CAST(4 * (15 - q) AS INTEGER)))) AS BIGINT) % $MinhashP AS h
       |FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, GREATEST(length(text) - ${ShingleWidth - 1}, 1), 1),
       |    p -> md5(substr(text, CAST(p AS INTEGER), $ShingleWidth)))) AS hx
       |  FROM $table)""".stripMargin

  /** the 128-permutation table derived arithmetically from j. */
  def permsSql: String =
    s"""SELECT j, (j * ${graft.model.Pages.M1} + 7) % ${MinhashP - 1} + 1 AS a,
       |       (j * ${graft.model.Pages.M2} + ${graft.model.Pages.A2}) % $MinhashP AS b
       |FROM generate_series(0, ${NumPerms - 1}) t(j)""".stripMargin

  /** per-(doc, j) MinHash signatures: SELECT doc_id, j, sig FROM ... */
  def sigsSql(table: String): String =
    s"""SELECT doc_id, j, min((p.a * sh.h + p.b) % $MinhashP) AS sig
       |FROM (${shingleHashSql(table)}) sh
       |CROSS JOIN (${permsSql}) p
       |GROUP BY doc_id, j""".stripMargin

  /** ANSI-SQL mirror of [[SimHash64]] (q19 gains a real oracle — VERDICT
    * r1 #2): per-token md5 → 64-bit big-endian value decomposed nibble by
    * nibble from the hex string; per-bit vote sign; the signed 64-bit
    * reassembly keeps every intermediate inside BIGINT range
    * (S − b63·(2⁶³−1) − b63 ≡ two's-complement bit63). Emits
    * SELECT doc_id, simhash. */
  def simhashSql(table: String): String =
    s"""SELECT d.doc_id, CAST(COALESCE(s.sh, 0) AS BIGINT) AS simhash
       |FROM $table d LEFT JOIN (
       |  SELECT doc_id,
       |    (CAST(sum(CASE WHEN j = 63 THEN 0
       |                   ELSE bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) END) AS BIGINT)
       |     - CAST(max(CASE WHEN j = 63 THEN bit ELSE 0 END) AS BIGINT) * 9223372036854775807
       |     - CAST(max(CASE WHEN j = 63 THEN bit ELSE 0 END) AS BIGINT)) AS sh
       |  FROM (
       |    SELECT doc_id, j,
       |      CASE WHEN sum(CASE WHEN ((CAST(strpos('0123456789abcdef',
       |                     substr(hx, CAST(16 - j // 4 AS INTEGER), 1)) - 1 AS BIGINT)
       |                   // (CAST(1 AS BIGINT) << CAST(j % 4 AS INTEGER))) % 2) = 1
       |                THEN 1 ELSE -1 END) > 0
       |           THEN 1 ELSE 0 END AS bit
       |    FROM (SELECT doc_id, md5(tok) AS hx FROM (
       |            SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
       |                                 t -> t <> '')) AS tok
       |            FROM $table))
       |    CROSS JOIN generate_series(0, 63) g(j)
       |    GROUP BY doc_id, j)
       |  GROUP BY doc_id) s ON d.doc_id = s.doc_id""".stripMargin

  def occurrencesSql(textExpr: String, pat: String): String = {
    val esc = pat.replace("'", "''")
    s"CAST((length($textExpr) - length(replace($textExpr, '$esc', ''))) / ${pat.length} AS BIGINT)"
  }

  def langScoreSql(textExpr: String, lang: String): String =
    langScores.find(_._1 == lang).get._2
      .map(p => occurrencesSql(textExpr, p)).mkString("(", " + ", ")")

  def langIdSql(textExpr: String): String = {
    val scores = langScores.map { case (l, _) => l -> langScoreSql(textExpr, l) }
    scores.zipWithIndex.foldLeft("'und'") { case (acc, ((l, s), i)) =>
      val earlier = scores.take(i).map(o => s"$s > ${o._2}")
      val later = scores.drop(i + 1).map(o => s"$s >= ${o._2}")
      val conds = (earlier ++ later :+ s"$s > 0").mkString(" AND ")
      s"(CASE WHEN $conds THEN '$l' ELSE $acc END)"
    }
  }
}

/** minhash128(text): the packed 128-long MinHash signature array (see
  * TextOps MinHash section for the exact arithmetic mirrored by the SQL
  * oracle). One md5 per shingle, 128 multiply-mods per shingle — a single
  * custom Expression beats 128 separate higher-order-function columns by
  * hashing each shingle once. Character positions use SQL substring
  * semantics (`UTF8String.substringSQL(p, 8)`) so the DuckDB mirror is
  * exact on multi-byte text: one walk over the bytes records where each
  * character starts by UTF8String's own length rule
  * (`numBytesForFirstByte`: a lead byte claims its sequence length, any
  * other byte is one character), and each window is hashed in place from
  * those offsets, so the pass is linear in document length (a
  * `substringSQL` call walks from byte 0). A lead byte whose sequence runs
  * past the end of the text takes only the bytes that remain. */
case class MinHash128(child: Expression) extends GraftUnary {
  import TextOps._
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  private lazy val as: Array[Long] = Array.tabulate(NumPerms)(permA)
  private lazy val bs: Array[Long] = Array.tabulate(NumPerms)(permB)
  def compute(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    // starts(c) = byte offset of char c; starts(nChars) = end of text
    val starts = new Array[Int](n + 1)
    var nChars = 0
    var i = 0
    while (i < n) {
      starts(nChars) = i
      nChars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(nChars) = n
    val last = math.max(nChars - (ShingleWidth - 1), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = new Array[Byte](md.getDigestLength)
    val a = as
    val b = bs
    val sigs = Array.fill(NumPerms)(Long.MaxValue)
    var p = 0 // 0-based first char of the window
    while (p < last) {
      val from = starts(p)
      md.update(bytes, from, starts(math.min(p + ShingleWidth, nChars)) - from)
      md.digest(d, 0, d.length)
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
      val hp = (h >>> 4) % MinhashP // top 15 nibbles = 60 bits, positive
      var j = 0
      while (j < NumPerms) {
        val s = (a(j) * hp + b(j)) % MinhashP
        if (s < sigs(j)) sigs(j) = s
        j += 1
      }
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sigs)
  }
  override def prettyName: String = "minhash128"
}

/** band_keys(sigs): the LSH band keys of a packed signature array — for
  * band k the decimal values of elements 4k..4k+3 joined by ",", null
  * elements skipped (the `concat_ws` rule), so every key is byte-identical
  * to the `array(concat_ws(",", cast(element_at(sigs, i) as string)…))`
  * tree it replaces. That tree was ~450 static nodes per row; this is one
  * loop over Bands × BandRows. A signature shorter than Bands × BandRows
  * fails, like the ANSI `element_at` did: a short key would silently
  * change the candidate set. */
case class BandKeys(child: Expression) extends GraftUnary {
  import TextOps._
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"band_keys expects array<bigint>, got $t")
  }

  def compute(v: Any): Any = {
    val sigs = v.asInstanceOf[ArrayData]
    val n = sigs.numElements()
    if (n < Bands * BandRows)
      throw new IllegalArgumentException(
        s"band_keys expects a signature of at least ${Bands * BandRows} elements, got $n")
    val keys = new Array[Any](Bands)
    val sb = new java.lang.StringBuilder(BandRows * 11)
    var k = 0
    while (k < Bands) {
      sb.setLength(0)
      var r = 0
      while (r < BandRows) {
        val i = k * BandRows + r
        if (!sigs.isNullAt(i)) {
          if (sb.length > 0) sb.append(',')
          sb.append(sigs.getLong(i))
        }
        r += 1
      }
      keys(k) = UTF8String.fromString(sb.toString)
      k += 1
    }
    new GenericArrayData(keys)
  }
  override def prettyName: String = "band_keys"
}

/** simhash64(text): 64-bit SimHash over whitespace tokens; per-token hash =
  * first 8 bytes of md5 (big-endian). Custom Expression (no SQL-builtin
  * composition reaches bit-vote semantics cheaply). */
case class SimHash64(child: Expression) extends GraftUnary {
  override def dataType: DataType = LongType
  def compute(v: Any): Any = {
    val text = v.asInstanceOf[UTF8String].toString
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    text.split("\\s+").foreach { tok =>
      if (tok.nonEmpty) {
        val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }
  override def prettyName: String = "simhash64"
}

/** winnow_fp(text): winnowing document fingerprint (Schleimer, Wilkerson,
  * Aiken — "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003; builder prompt: "document fingerprinting (rolling hash)").
  * k=8 code-point grams hashed with a Rabin rolling hash (B=257,
  * P=1e9+7); each w=4 window selects its minimum hash (rightmost on
  * ties); output = distinct selections packed as (pos<<32 | hash), pos
  * 1-based, ascending — pure integer arithmetic, so the DuckDB oracle
  * reproduces every value exactly (mod-P arithmetic is order-free). */
case class WinnowFp(child: Expression) extends GraftUnary {
  import WinnowFp._
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  def compute(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val n = cps.length
    val m = n - K + 1 // number of k-grams
    if (m < W)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
    // rolling Rabin hashes h(0..m-1), 0-based here
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < K) { h = (h * B + cps(i)) % P; i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      h = ((h - cps(i - 1) * BK1 % P + P * K) * B + cps(i + K - 1)) % P
      hs(i) = h
      i += 1
    }
    // winnow: per window [t, t+W-1] pick min, rightmost tie; dedup by pos
    val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
    var t = 0
    while (t <= m - W) {
      var best = t
      var j = t + 1
      while (j < t + W) { if (hs(j) <= hs(best)) best = j; j += 1 }
      sel += best
      t += 1
    }
    val out = sel.toArray.sorted.map(p => ((p + 1).toLong << 32) | hs(p))
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
  override def prettyName: String = "winnow_fp"
}

object WinnowFp {
  val K = 8
  val W = 4
  val B = 257L
  val P = 1000000007L
  /** oracle fan-out ceiling (documents max length is ~600 at every SF). */
  val MaxDocChars = 4096
  /** B^(K-1) mod P */
  val BK1: Long = {
    var r = 1L
    for (_ <- 0 until K - 1) r = r * B % P
    r
  }

  /** per-doc fingerprint aggregate oracle: the same hashes/selections in
    * ANSI SQL (window min + rightmost-tie join), aggregated per doc. */
  def winnowSql(docsTable: String): String =
    s"""SELECT doc_id, count(*) AS n_fp,
       |  min(packed) AS min_fp, max(packed) AS max_fp,
       |  CAST(sum(packed) AS BIGINT) AS sum_fp
       |FROM (
       |  SELECT DISTINCT s.doc_id, s.selpos * 4294967296 + s.mn AS packed
       |  FROM (
       |    SELECT w.doc_id, w.t, w.mn, MAX(h2.pos) AS selpos
       |    FROM (
       |      SELECT doc_id, pos AS t, m,
       |             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                          ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS mn
       |      FROM (${hashesSql(docsTable)})
       |    ) w
       |    JOIN (${hashesSql(docsTable)}) h2
       |      ON h2.doc_id = w.doc_id AND h2.h = w.mn
       |     AND h2.pos BETWEEN w.t AND w.t + ${W - 1}
       |    WHERE w.t <= w.m - ${W - 1}
       |    GROUP BY w.doc_id, w.t, w.mn
       |  ) s
       |) GROUP BY doc_id""".stripMargin

  /** k-gram Rabin hashes, 1-based positions: h(pos) = Σ cp(pos+j)·B^(K-1-j)
    * mod P (order-free integer arithmetic ≡ the rolling update). */
  private def hashesSql(docsTable: String): String = {
    val pows = (0 until K).map { j =>
      var r = 1L
      for (_ <- 0 until K - 1 - j) r = r * B % P
      r
    }
    val terms = (0 until K).map(j =>
      s"(CAST(unicode(substr(text, i + $j, 1)) AS BIGINT) * ${pows(j)}) % $P")
      .mkString("(", " + ", s") % $P")
    // DuckDB's generate_series takes constants only (no lateral column
    // bounds): fan out to a fixed ceiling and filter to each doc's length.
    s"""SELECT doc_id, i AS pos, length(text) - ${K - 1} AS m, $terms AS h
       |FROM $docsTable CROSS JOIN generate_series(1, $MaxDocChars) g(i)
       |WHERE i <= length(text) - ${K - 1}""".stripMargin
  }
}

/** html → text extraction (BASELINE.json input_hint: "per-row invariant vs
  * the reference: byte-identical extracted text per url"). Deterministic
  * rule set expressible identically in Spark and ANSI/RE2 SQL:
  *  1. decode the html BINARY as UTF-8;
  *  2. drop <script>/<style> elements wholesale;
  *  3. strip every remaining tag `<[^>]*>`;
  *  4. unescape the five XML entities (&amp; LAST, so escaped escapes
  *     survive: "&amp;lt;" → "&lt;", not "<").
  * No whitespace normalization — byte identity means bytes. */
object ExtractText {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  def extract(html: Column): Column = extractText(decode(html, "UTF-8"))

  /** the tag-strip chain over an already-decoded string column (callers
    * that must pre-slice the payload — e.g. stripping embedded HTTP
    * headers — decode once and feed the slice here). */
  def extractText(s0: Column): Column = {
    val s1 = regexp_replace(s0, "(?s)<script[^>]*>.*?</script>", "")
    val s2 = regexp_replace(s1, "(?s)<style[^>]*>.*?</style>", "")
    val s3 = regexp_replace(s2, "<[^>]*>", "")
    val s4 = regexp_replace(s3, "&lt;", "<")
    val s5 = regexp_replace(s4, "&gt;", ">")
    val s6 = regexp_replace(s5, "&quot;", "\"")
    val s7 = regexp_replace(s6, "&#39;", "'")
    regexp_replace(s7, "&amp;", "&")
  }

  /** identical chain in DuckDB SQL over an html BLOB expression. */
  def extractSql(htmlExpr: String): String = {
    var s = s"decode($htmlExpr)"
    s = s"regexp_replace($s, '(?s)<script[^>]*>.*?</script>', '', 'g')"
    s = s"regexp_replace($s, '(?s)<style[^>]*>.*?</style>', '', 'g')"
    s = s"regexp_replace($s, '<[^>]*>', '', 'g')"
    s = s"regexp_replace($s, '&lt;', '<', 'g')"
    s = s"regexp_replace($s, '&gt;', '>', 'g')"
    s = s"regexp_replace($s, '&quot;', '\"', 'g')"
    s = s"regexp_replace($s, '&#39;', '''', 'g')"
    s"regexp_replace($s, '&amp;', '&', 'g')"
  }
}

/** nfc_normalize(text): Unicode canonical composition (NFC) via
  * java.text.Normalizer — text normalization ahead of dedup/tokenization so
  * visually-identical strings ("e"+U+0301 vs "é") hash identically. Both
  * this and DuckDB's nfc_normalize implement the same Unicode standard
  * algorithm, so the oracle checks byte identity of the normalized form. */
case class NfcNormalize(child: Expression) extends GraftUnary {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  def compute(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
  override def prettyName: String = "nfc_normalize"
}
