package graft.ops

import graft.sql.SparkTestBase
import graft.queries.QualityQueries
import org.apache.spark.sql.functions._

/** Planted-case semantics for the corpus-quality operators (q47–q50). The
  * fixture is written as a documents-shaped parquet dir so the queries run
  * through the same Pages.documentsPages entry the gate uses. */
class QualityQueriesSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_quality").toString
    import spark.implicits._
    Seq(
      // doc 0: heavy word + bigram repetition → both flags fire
      (0L, "a a a a a b", "en", "src0", 11L),
      // doc 1: all-distinct words, long enough that max_bigram=1 stays
      // under the 1/20 fraction (24 bigrams) → no flags
      (1L, "one two three four five six seven eight nine ten eleven twelve " +
        "w13 w14 w15 w16 w17 w18 w19 w20 w21 w22 w23 w24 w25", "en", "src0", 64L),
      // docs 2+3: share the 3-gram "x y z"; doc 4 fully novel
      (2L, "x y z p q r s t u v w a1 b1 c1 d1 e1 f1 g1 h1 i1", "en", "src1", 50L),
      (3L, "m n o x y z k l j h2 i2 j2 k2 l2 m2 n2 o2 p2 q2 r2", "en", "src1", 50L),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src2", 55L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("repetition flags fire exactly on the planted repetitive doc") {
    val r = QualityQueries.repetitionQuality(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getLong(1) == 6 && r(0L).getLong(3) == 5)   // n_words, max_word
    assert(r(0L).getBoolean(6) && r(0L).getBoolean(7))        // both flags
    assert(!r(1L).getBoolean(6) && !r(1L).getBoolean(7))
    assert(r(0L).getLong(4) == 5 && r(0L).getLong(5) == 4)   // "a a" ×4 of 5 bigrams
  }

  test("corpus 3-gram novelty: shared gram counts as dup on both docs") {
    val r = QualityQueries.corpusNgramNovelty(spark, dir).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(2L)._1 == 18 && r(2L)._3 == 1)  // 20 words → 18 grams, 1 dup ("x y z")
    assert(r(3L)._3 == 1)
    assert(r(4L)._3 == 0 && r(4L)._2 == r(4L)._1) // fully novel
  }

  test("corpus 3-gram novelty: docs of fewer than three words contribute no gram") {
    import spark.implicits._
    val texts = Seq(null, "", "one", "one two", "one  two", "a b c", "a b c d e", "x a b c")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = QualityQueries.corpusNgramNoveltyOf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // reference: every complete stride-1 window of the space-split words
    val grams = texts.zipWithIndex.flatMap { case (t, i) =>
      Option(t).toSeq.flatMap(_.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(g => i.toLong -> g.mkString(" ")))
    }
    val global = grams.groupBy(_._2).map { case (g, occ) => g -> occ.size }
    val want = grams.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, gs) =>
      (id, gs.size.toLong, gs.count(g => global(g._2) == 1).toLong,
        gs.count(g => global(g._2) > 1).toLong)
    }
    assert(want.map(_._1) === Seq(4L, 5L, 6L, 7L)) // "one  two" is three words
    assert(got === want)
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("parse_url recovers constructed host/path/query per tld") {
    val r = QualityQueries.urlParse(spark, dir).collect()
      .map(x => x.getString(0) -> x).toMap
    // doc_ids 0,3 → com; 1,4 → org; 2 → net
    assert(r("com").getLong(1) == 2 && r("org").getLong(1) == 2 && r("net").getLong(1) == 1)
    assert(r("net").getString(3) == "/a/2" && r("net").getString(4) == "ref=2")
    assert(r("com").getLong(2) == 2) // hosts h0 and h3
  }

  test("pii redaction counts and replaces the planted contact tail") {
    val r = QualityQueries.piiRedact(spark, dir).collect()
    assert(r.forall(x => x.getInt(1) == 1 && x.getInt(2) == 1))
    // byte-level check: redacting doc 1's tail yields the expected md5
    val exp = "one two three four five six seven eight nine ten eleven twelve " +
      "w13 w14 w15 w16 w17 w18 w19 w20 w21 w22 w23 w24 w25" +
      " contact <EMAIL> or <PHONE> now"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(exp.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.find(_.getLong(0) == 1L).get.getString(3) == md)
  }

  /** Span-dedup fixture: docs 10+11 share one exact 10-word run embedded at
    * different offsets inside otherwise-unique filler; doc 12 shares
    * nothing. With SpanK=8 the shared run yields 3 window starts per doc
    * (positions closer than 8) that must merge into ONE maximal span of
    * exactly 10 words. */
  private lazy val spanDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_span").toString
    import spark.implicits._
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val f = (p: String, n: Int) => (1 to n).map(i => s"$p$i").mkString(" ")
    Seq(
      (10L, s"${f("a", 6)} $shared ${f("b", 6)}", "en", "s", 0L),
      (11L, s"${f("c", 3)} $shared ${f("d", 9)}", "en", "s", 0L),
      (12L, f("e", 22), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("span dedup merges overlapping duplicated windows into one maximal span") {
    val r = QualityQueries.spanDedup(spark, spanDir).collect()
      .map(x => (x.getLong(0), (x.getLong(2), x.getLong(3), x.getInt(4)))).toMap
    // 10 shared words → window starts p, p+1, p+2 (3 windows of 8) → one
    // island → span_len = 10 on both docs; doc 12 absent entirely
    assert(r(10L) == ((1L, 10L, 10)) && r(11L) == ((1L, 10L, 10)))
    assert(!r.contains(12L))
  }

  test("decontamination flags exactly the train docs sharing a 5-gram with the eval slice") {
    val d = java.nio.file.Files.createTempDirectory("graft_decont").toString
    import spark.implicits._
    val leak = "l1 l2 l3 l4 l5"
    Seq(
      // doc 0 → eval slice (0 % 101 == 0)
      (0L, s"$leak e6 e7 e8 e9 e10", "en", "s", 0L),
      // doc 1 leaks the eval 5-gram; doc 2 is clean
      (1L, s"t1 t2 $leak t8 t9 t10", "en", "s", 0L),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "en", "s", 0L),
      // doc 202 → second eval doc (202 % 101 == 0), leaks nothing
      (202L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = QualityQueries.decontaminate(spark, d).collect()
    assert(r.length == 1 && r(0).getLong(0) == 1L)
    // doc 1 has 6 distinct 5-grams, exactly 1 contaminated, from 1 eval doc
    assert(r(0).getLong(1) == 6 && r(0).getLong(2) == 1 && r(0).getLong(3) == 1)
    // the benchmark-side report covers EVERY eval doc: 0 leaks via doc 1,
    // 202 is clean and still reported with zeros
    val rep = QualityQueries.contaminationReport(spark, d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(rep(0L)._1 == 1 && rep(0L)._2 == 1 && rep(0L)._3 == 1)
    // note: both eval docs carry the planted canary, so 202's grams
    // include canary grams shared with... no train doc (canary train
    // slice is doc_id % 53 == 7, absent here) → zeros
    assert(rep(202L) == ((0L, 0L, 0L)))

    // q65: the Bloom-prefiltered plan must reproduce q60 byte-for-byte
    // (the sketch only shrinks the refine-join input; false positives die
    // in the inner join) and actually probe through might_contain
    // the probe sits in the single-pass rollup plan (map-side, before the
    // doc_id aggregation); the final refine plan never re-touches the
    // corpus — that side is asserted by SinglePassPlanSpec
    assert(QualityQueries.bloomRollupOf(spark, d)
        .queryExecution.executedPlan.toString.contains("might_contain"),
      "Bloom probe missing from the rollup's physical plan")
    val bloom = QualityQueries.decontaminateBloom(spark, d)
    assert(bloom.collect().map(_.toSeq).toSeq === r.map(_.toSeq).toSeq)
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  /** Invariant sweep over a 200-doc corpus with a small vocabulary (lots of
    * natural n-gram repetition — the adversarial case for interval
    * arithmetic): structural properties that must hold for every doc. */
  test("span/decontamination/frequency invariants hold on a repetitive corpus") {
    val d = java.nio.file.Files.createTempDirectory("graft_inv").toString
    import spark.implicits._
    val vocab = Array("a", "b", "c", "d", "e", "f")
    def word(seed: Long): String = vocab(((seed * 2654435761L >>> 7) % 6).toInt.abs)
    (0L until 200L).map { id =>
      val n = 12 + (id % 30).toInt
      val text = (0 until n).map(j => word(id * 131 + j)).mkString(" ")
      (id, text, "en", "s", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val span = QualityQueries.spanDedup(spark, d).collect()
    assert(span.nonEmpty) // tiny vocab ⇒ duplicated windows must exist
    span.foreach { r =>
      val (nWords, nSpans, dupWords, maxSpan) =
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4))
      assert(nSpans >= 1 && maxSpan >= QualityQueries.SpanK,
        s"every span covers at least one window: $r")
      assert(dupWords <= nWords, s"union of spans fits the doc: $r")
      assert(maxSpan <= dupWords && dupWords <= nSpans * nWords, s"$r")
    }

    val dec = QualityQueries.decontaminate(spark, d).collect()
    val flagged = dec.map(_.getLong(0)).toSet
    dec.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1),
        s"hits bounded by gram count: $r")
      assert(r.getLong(3) >= 1, s"at least one eval doc matched: $r")
    }
    // planted canary: every doc_id % 53 == 7 train doc must be flagged
    (0L until 200L).filter(id => id % 53 == 7 && id % QualityQueries.EvalMod != 0)
      .foreach(id => assert(flagged.contains(id), s"canary doc $id unflagged"))

    val fq = QualityQueries.freqQuality(spark, d).collect()
    assert(fq.length == 200)
    fq.foreach { r =>
      val (n, sum, lo, hi) = (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
      assert(lo >= 1 && lo <= hi && sum >= n * lo && sum <= n * hi, s"$r")
    }
  }

  test("frequency buckets are the binary magnitude of global token counts") {
    val r = QualityQueries.freqQuality(spark, dir).collect()
      .map(x => (x.getLong(0), x)).toMap
    // doc 0 = "a a a a a b": 'a' appears 5× globally in `dir` docs 0 only?
    // 'a' occurs 5 times (doc 0) → bucket 3; 'b' once → bucket 1.
    assert(r(0L).getLong(1) == 6)                  // n_tokens
    assert(r(0L).getLong(2) == 5 * 3 + 1)          // freq_sum
    assert(r(0L).getInt(3) == 1 && r(0L).getInt(4) == 3)
    // doc 4 all-unique tokens appearing once each → every bucket 1
    assert(r(4L).getLong(2) == r(4L).getLong(1) && r(4L).getInt(4) == 1)
  }

  test("canonical-URL dedup collapses tracking/port/case/slash variants") {
    // dir has docs 0..4 → bases {0,0,1,1,2}: two full variant pairs plus a
    // singleton even-variant group.
    val rows = QualityQueries.urlCanonical(spark, dir).collect()
    assert(rows.length == 3)
    val byUrl = rows.map(r => r.getString(0) -> r).toMap
    byUrl.keys.foreach { u =>
      // normalization contract: no uppercase authority, default port,
      // fragment, utm param, or trailing slash survives
      assert(u == u.toLowerCase && !u.contains(":443") && !u.contains("#") &&
        !u.contains("utm_") && !u.endsWith("/"), u)
    }
    def epoch(id: Long): Long = 1704067200L + (id * 7919L) % 31536000L
    (0L to 1L).foreach { base =>
      val r = byUrl(s"https://www.example.com/page/$base?id=${base % 7}")
      assert(r.getLong(1) == 2, s"pair collapses: $r")             // n_variants
      val ids = Seq(2 * base, 2 * base + 1)
      assert(r.getLong(2) == ids.maxBy(epoch), s"keeper is newest: $r")
      assert(r.getLong(3) == ids.map(epoch).max && r.getLong(4) == ids.min)
    }
    val lone = byUrl("https://www.example.com/page/2?id=2")
    assert(lone.getLong(1) == 1 && lone.getLong(2) == 4L && lone.getLong(4) == 4L)
  }

  test("canonicalUrl passes scheme-less/malformed URLs through unchanged") {
    import spark.implicits._
    val in = Seq("mailto:a@b.com", "not a url", "/relative/path",
      "https://A.B:443/x/?utm_source=z&k=1#f").toDF("url")
    val out = in.select(graft.ops.TextOps.canonicalUrl(col("url")).as("c"))
      .as[String].collect()
    // malformed inputs keep their own identity (a constant '://' key would
    // make a streaming dedup drop every malformed page after the first)
    assert(out(0) == "mailto:a@b.com" && out(1) == "not a url" &&
      out(2) == "/relative/path")
    assert(out(3) == "https://a.b/x?k=1")
  }

  test("canonicalUrl strips only the scheme's OWN default port") {
    import spark.implicits._
    // ADVICE r3: http://host:443/x is a real, distinct resource — stripping
    // :443 regardless of scheme silently merged it with http://host/x;
    // conversely http's :80 default was never stripped
    val in = Seq("http://h.co:443/x", "http://h.co:80/x", "http://h.co/x",
      "https://h.co:80/x", "https://h.co:443/x", "ftp://h.co:443/x")
      .toDF("url")
    val out = in.select(graft.ops.TextOps.canonicalUrl(col("url")).as("c"))
      .as[String].collect()
    assert(out(0) == "http://h.co:443/x", "non-default port must survive")
    assert(out(1) == "http://h.co/x" && out(2) == "http://h.co/x",
      "http default :80 collapses onto the portless form")
    assert(out(3) == "https://h.co:80/x", "non-default port must survive")
    assert(out(4) == "https://h.co/x")
    assert(out(5) == "ftp://h.co:443/x", "unknown scheme strips nothing")
  }

  test("crawl diff classifies removed/changed/unchanged by content hash") {
    // docs 0..4: A drops ≡9 (mod 10) → none; B drops 0 and rewrites doc 3
    // (≡3 mod 7) → removed={0}, changed={3}, unchanged={1,2,4}, added=∅
    val rows = QualityQueries.crawlDiff(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("removed", "changed", "unchanged"))
    val rem = rows("removed")
    assert(rem.getLong(1) == 1 && rem.getLong(2) == 0 && rem.getLong(4) == 0)
    val chg = rows("changed")
    assert(chg.getLong(1) == 1 && chg.getLong(2) == 3 && chg.getLong(3) == 3)
    val same = rows("unchanged")
    assert(same.getLong(1) == 3 && same.getLong(2) == 1 &&
      same.getLong(3) == 4 && same.getLong(4) == 7)
  }

  test("quality classifier scores match an independent recomputation; map-side plan") {
    val df = QualityQueries.qualityClassifier(spark, dir)
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) =>
      val a = t.split(" ", -1)
      val stop = a.count(QualityQueries.StopWords.contains)
      val dist = a.distinct.length
      val dig = t.count(_.isDigit)
      val score = stop * 10000L / a.length * 2 + dist * 10000L / a.length * 3 -
        dig * 10000L / math.max(t.length, 1) * 5
      val r = rows(id)
      assert(r.getLong(1) == a.length && r.getLong(2) == stop &&
        r.getLong(3) == dist && r.getLong(4) == dig && r.getLong(5) == score, t)
      assert(r.getBoolean(6) == (score >= QualityQueries.KeepThresholdBp))
    }
    // scoring must be a pure projection: the ONLY exchange is the output
    // ordering — no aggregate/join shuffle anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(
      plan.split("== Initial Plan ==")(0)).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), plan.take(900))
  }

  test("robots rules: most specific prefix wins, no-rule hosts default allow") {
    // docs 0..4 → doc 1: h1.example.org /private/p1 → rule 2 (deny beats
    // the shorter '/' allow); doc 2: h2.example.net /private/open/q2 →
    // rule 4 deny; doc 4: h4.example.org path '/' — rule 6 '/a' does NOT
    // match → DEFAULT allow despite the host having a rule; docs 0,3: no
    // rules at all → default allow
    val rows = QualityQueries.robotsFilter(spark, dir).collect()
      .map(r => (r.getInt(0), r.getBoolean(1)) -> r).toMap
    assert(rows.keySet == Set((0, true), (2, false), (4, false)))
    val dflt = rows((0, true))
    assert(dflt.getLong(2) == 3 && dflt.getLong(3) == 0 && dflt.getLong(4) == 4 &&
      dflt.getLong(5) == 7) // docs 0, 3, 4
    assert(rows((2, false)).getLong(3) == 1 && rows((2, false)).getLong(2) == 1)
    assert(rows((4, false)).getLong(3) == 2 && rows((4, false)).getLong(2) == 1)
  }

  test("q82 line dedup: first corpus-wide block occurrence wins, text reassembles") {
    val w = QualityQueries.BlockW
    val d = java.nio.file.Files.createTempDirectory("graft_c4").toString
    import spark.implicits._
    def blk(tag: String, n: Int = w): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val A = blk("a"); val B = blk("b"); val C = blk("c")
    val D = blk("d", 5); val E = blk("e"); val F = blk("f", 10)
    Seq(
      (0L, s"$A $B", "en", "s0", 1L),  // the original: both blocks survive
      (1L, s"$A $C", "en", "s0", 1L),  // block A is doc 0's → only C kept
      (2L, s"$B $D", "en", "s0", 1L),  // block B is doc 0's → only D kept
      (3L, s"$E $E", "en", "s0", 1L),  // within-doc repeat → first E kept
      (4L, F, "en", "s0", 1L))         // unique partial block → unchanged
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val rows = QualityQueries.lineDedup(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(rows(0L) === ((2L, 2L, s"$A $B")))
    assert(rows(1L) === ((2L, 1L, C)))
    assert(rows(2L) === ((2L, 1L, D)))
    assert(rows(3L) === ((2L, 1L, E)))
    assert(rows(4L) === ((1L, 1L, F)))
    // defining property of the cleaned corpus: no surviving block repeats
    val blocks = rows.values.toSeq.filter(_._3.nonEmpty).map(_._3)
      .flatMap(t => Seq(A, B, C, D, E, F).filter(t.contains))
    assert(blocks.distinct.size === blocks.size,
      "a duplicated block survived dedup twice")
    // n_chars_clean is the exact cleaned length
    val chars = QualityQueries.lineDedup(spark, d).collect()
      .map(r => r.getLong(3) -> r.getString(4).length.toLong)
    assert(chars.forall(p => p._1 == p._2))
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("q83 LM fluency: smoothed bigram scores and percentile buckets, by hand") {
    val d = java.nio.file.Files.createTempDirectory("graft_lm").toString
    import spark.implicits._
    Seq(
      // target (src0): bigrams (a,b)×4, (b,a)×3; V = 2 distinct tokens
      (0L, "a b a b a b a b", "en", "src0", 1L),
      // fluent: s(a,b)=(4+1)e6/(4+2)=833333, s(b,a)=(3+1)e6/(3+2)=800000
      //         lm = (833333+833333+800000)/3 = 822222
      (10L, "a b a b", "en", "src5", 1L),
      // gibberish: every bigram unseen, contexts unseen → (0+1)e6/(0+2)
      (11L, "x y z", "en", "src5", 1L),
      // mixed: (833333 + (0+1)e6/(3+2)) / 2 = (833333+200000)/2 = 516666
      (12L, "a b x", "en", "src5", 1L),
      // single token: no bigrams — still labeled, explicitly 'tail',
      // and excluded from the percentile thresholds
      (13L, "solo", "en", "src5", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val rows = QualityQueries.lmFluency(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // N=3: t1 = score at cum≥1 = 500000, t2 = score at cum≥3 = 822222
    assert(rows(10L) === ((3L, 822222L, "head")))
    assert(rows(11L) === ((2L, 500000L, "middle"))) // 500000 ≥ t1 exactly
    assert(rows(12L) === ((2L, 516666L, "middle")))
    assert(rows(13L) === ((0L, 0L, "tail"))) // unscorable → explicit tail
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("q83 histogram thresholds reproduce ANSI percentile_disc on real data") {
    val out = QualityQueries.lmFluency(spark, "/root/testdata/sf0.001")
    out.createOrReplaceTempView("lm_out")
    val th = spark.sql(
      """SELECT CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY lm_score) AS BIGINT) AS t1,
        |       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY lm_score) AS BIGINT) AS t2
        |FROM lm_out""".stripMargin).collect()(0)
    val (t1, t2) = (th.getLong(0), th.getLong(1))
    val rows = out.collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val (s, b) = (r.getLong(2), r.getString(3))
      val expect = if (s >= t2) "head" else if (s >= t1) "middle" else "tail"
      assert(b === expect, s"doc ${r.getLong(0)} score $s bucketed $b, want $expect")
    }
    assert(rows.map(_.getString(3)).toSet === Set("head", "middle", "tail"))
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("domain blocklist matches any dot-boundary suffix of the host") {
    // hosts h0.example.com … h4.example.org: only doc 2 (h2.example.net)
    // has a blocklisted suffix — via the registrable-domain 'example.net',
    // NOT an exact-host entry, proving the suffix-chain expansion
    val rows = QualityQueries.domainBlocklist(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(0) == "example.net" && r.getLong(1) == 1 &&
      r.getLong(2) == 1 && r.getLong(3) == 2 && r.getLong(4) == 2)
  }
}
