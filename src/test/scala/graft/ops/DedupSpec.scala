package graft.ops

import graft.queries.TextQueries
import graft.sql.SparkTestBase
import org.apache.spark.sql.functions._

/** Production near-dup surface (VERDICT r1 next-round #1/#2):
  *  - MinHash 128-perm recall golden on planted near-duplicates
  *  - banded-LSH candidate volume stays O(N·bands), never O(N²)
  *  - min-propagation components recover planted clusters
  *  - SimHash Hamming-ball pigeonhole guarantee (dist ≤ 3 ⇒ found)
  *  - embedding LSH bucket cap bounds candidates on a skewed fixture */
class DedupSpec extends SparkTestBase with graft.queries.TempStageCleanup {
  import spark.implicits._

  /** words-of-nonsense corpus: cluster c has `dups` members differing in one
    * appended token (high Jaccard); plus `noise` unrelated docs. */
  private def corpus(clusters: Int, dups: Int, noise: Int): Seq[(Long, String)] = {
    // xor-shift mix — a plain multiply-mod reduces to an arithmetic
    // progression mod 997 and aliases word sets across seeds
    def words(seed: Long, n: Int): String =
      (0 until n).map { i =>
        val x = (seed * 1000003L + i) * 2654435761L
        s"w${java.lang.Long.remainderUnsigned(x ^ (x >>> 17), 997)}"
      }.mkString(" ")
    val dupDocs = for (c <- 0 until clusters; d <- 0 until dups) yield
      ((c.toLong * 100 + d), words(c + 1, 60) + s" tail$d")
    val noiseDocs = (0 until noise).map(i => (10000L + i, words(1000 + i, 60)))
    dupDocs ++ noiseDocs
  }

  test("minhash recall golden: planted near-dups all matched, noise all rejected") {
    val docs = corpus(clusters = 8, dups = 3, noise = 50).toDF("doc_id", "text")
    val pairs = TextQueries.pairsFromSigs(TextQueries.sigsOf(spark, docs))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected: all within-cluster pairs (61-token docs sharing 60 tokens)
    val expected = (for (c <- 0 until 8; i <- 0 until 3; j <- i + 1 until 3)
      yield (c.toLong * 100 + i, c.toLong * 100 + j)).toSet
    assert(pairs === expected)
  }

  test("banded LSH candidate volume is O(N·bands·bucket), not O(N²)") {
    // 200 unrelated docs: with 32 bands the candidate count must stay near
    // zero — an accidental O(N²) plan would produce ~19900 pairs.
    val docs = corpus(clusters = 0, dups = 0, noise = 200).toDF("doc_id", "text")
    val bands = TextQueries.bandRows(TextQueries.sigsOf(spark, docs))
    val cand = TextQueries.candidatePairs(bands, bands).count()
    assert(cand < 50, s"candidate pairs $cand — banding failed to separate noise")
  }

  test("q115 n_lsh: every LSH candidate pair survives the shingle-overlap joins") {
    // dedupEval counts n_lsh over shingleOverlapFrom's output, so a
    // candidate dropped there (a doc with no shingle row) would silently
    // undercount it
    // a fresh copy: every stage this suite builds belongs to a temp input
    val sf = documentsCopy("/root/testdata/sf0.001")
    val sigs = TextQueries.sigsDf(spark, sf)
    val cand = TextQueries.candidatePairs(TextQueries.bandRows(sigs), TextQueries.bandRows(sigs))
    val n = cand.count()
    assert(n > 0, "fixture must produce LSH candidates")
    assert(TextQueries.shingleOverlapFrom(spark, sf).count() === n)
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("min-propagation components: chain a-b-c collapses to one group") {
    // chain via shared text: doc0≈doc1≈doc2 (transitive near-dups)
    val base = (0 until 60).map(i => s"w$i")
    val docs = Seq(
      1L -> (base.mkString(" ") + " x1"),
      2L -> (base.mkString(" ") + " x2"),
      3L -> (base.mkString(" ") + " x3"),
      9L -> (0 until 60).map(i => s"z$i").mkString(" ")).toDF("doc_id", "text")
    val dir = tempInput("mhg").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val groups = graft.queries.TextQueries.minhashGroups(spark, dir).collect()
    assert(groups.length === 1)
    assert(groups.head.getLong(0) === 1L) // label = component min
    assert(groups.head.getLong(1) === 3L) // n members
  }

  test("simhash hamming-ball: dist<=3 pairs always share a 16-bit chunk (pigeonhole)") {
    val dir = tempInput("shn").toString
    // identical docs → dist 0; one-token-swap docs → small dist
    val base = (0 until 80).map(i => s"tok${i % 13}_$i").mkString(" ")
    Seq(1L -> base, 2L -> base, 3L -> (base + " extra extra2"),
        4L -> (0 until 80).map(i => s"other$i").mkString(" "))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = graft.queries.TextQueries.simhashNeardup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the identical pair (1,2) must be found with dist 0
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    // every reported pair respects the Hamming threshold
    assert(pairs.forall(_._3 <= 3))
  }

  test("embedding LSH bucket cap bounds the self-join on a skewed fixture") {
    import graft.queries.EmbQueries
    val dir = tempInput("emb").toString
    // 3000 IDENTICAL vectors (one mega-bucket in every table) + 50 distinct
    val hot = (0 until 3000).map(i => (i.toLong, Array.fill(EmbQueries.Dim)(1.0f)))
    val cold = (0 until 50).map { i =>
      (3000L + i, Array.tabulate(EmbQueries.Dim)(d => ((i * 31 + d * 7) % 19 - 9).toFloat))
    }
    (hot ++ cold).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // cap excludes the 3000-row bucket → candidate pairs stay tiny
    val cand = EmbQueries.bucketed(spark, dir)
    val a = cand.select(col("t"), col("bucket"), col("vec_id").as("a"))
    val b = cand.select(col("t"), col("bucket"), col("vec_id").as("b"))
    val n = a.join(b, Seq("t", "bucket")).where(col("a") < col("b")).count()
    // without the cap the hot bucket alone yields 3000*2999/2 ≈ 4.5M pairs
    assert(n < 20000, s"candidate pairs $n — bucket cap not effective")
    // bucketed() checkpoints internally — release per the harness contract
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("q77 histogram is exactly the size distribution of the group table") {
    val sf = "/root/testdata/sf0.001"
    val groups = graft.queries.TextQueries.minhashGroups(spark, sf).collect()
    val hist = graft.queries.TextQueries.dupGroupHistogram(spark, sf).collect()
    val bySz = groups.groupBy(_.getLong(1)).map { case (k, v) => k -> v.length.toLong }
    assert(hist.map(r => r.getLong(0) -> r.getLong(1)).toMap === bySz)
    // mass conservation: Σ sz·n_groups = labeled nodes
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum ===
      groups.map(_.getLong(1)).sum)
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }
}

/** winnowing fingerprint guarantees (Schleimer et al. 2003 §2: any match
  * of length ≥ w + k − 1 is caught by at least one shared fingerprint). */
class WinnowSpec extends SparkTestBase {
  import spark.implicits._

  private def fps(texts: (Long, String)*): Map[Long, Set[Long]] = {
    org.apache.spark.sql.GraftRegistrar.ensure(spark)
    texts.toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.call_function("winnow_fp",
          org.apache.spark.sql.functions.col("text")).as("fp"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
  }

  test("guarantee: shared substring of length ≥ k+w−1 shares a fingerprint HASH") {
    val common = "the quick brown fox jumps over the lazy dog near the river bank"
    val m = fps(
      1L -> s"AAAA unrelated prefix text $common ZZZZ suffix",
      2L -> s"totally different beginning here $common and another ending",
      3L -> "no overlap with anything else whatsoever in this one at all")
    def hashes(s: Set[Long]): Set[Long] = s.map(_ & 0xFFFFFFFFL) // drop pos
    assert((hashes(m(1L)) & hashes(m(2L))).nonEmpty) // common span detected
    // determinism
    val again = fps(1L -> s"AAAA unrelated prefix text $common ZZZZ suffix")
    assert(again(1L) === m(1L))
  }

  test("density: ~2/(w+1) of positions selected; short text → empty") {
    val text = (1 to 200).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    val m = fps(10L -> text, 11L -> "short")
    val n = m(10L).size
    val positions = 200 - graft.ops.WinnowFp.K + 1
    assert(n > positions / 8 && n < positions, s"selected $n of $positions")
    assert(m(11L).isEmpty) // len < k+w-1 → no fingerprints
  }
}
