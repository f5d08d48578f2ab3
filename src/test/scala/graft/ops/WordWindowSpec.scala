package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sql.SparkTestBase

/** The word tokenizer and the two word-window streams of [[TextOps]]
  * against a plain Scala reference over hostile texts, under compiled and
  * interpreted evaluation; and the source rule that keeps every other
  * module from re-deriving words or windows on its own. */
class WordWindowSpec extends SparkTestBase {

  private val hostile: Seq[String] = Seq(
    null, "", " ", "one", "one two", "a  b", " lead", "trail ", "  both  ",
    "héllo wörld ☃ 日本語 𝄞 clef", "x y z x y z x y z",
    (1 to 40).map(i => s"w${i % 7}").mkString(" "))

  private def seeded(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "the", "ünï", "日本", "😀", "", "x")
    (0 until n).map { _ =>
      (0 until r.nextInt(30)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    }
  }

  /** RDD-backed, so no optimizer rule folds the windows into literals. */
  private lazy val docs: DataFrame = {
    val texts = hostile ++ seeded(60, 17L)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 3), schema)
  }

  /** Spark's `split(text, " ")`: every space separates, empties kept. */
  private def refWords(t: String): Seq[String] = t.split(" ", -1).toSeq

  private def refKgrams(t: String, k: Int): Seq[(Long, Long, Seq[String])] =
    Option(t).toSeq.flatMap { s =>
      val a = refWords(s)
      (0 to a.length - k).map(i => (a.length.toLong, i + 1L, a.slice(i, i + k)))
    }

  private def refBlocks(t: String, w: Int): Seq[(Long, Long, Seq[String])] =
    Option(t).toSeq.flatMap { s =>
      val a = refWords(s)
      a.grouped(w).zipWithIndex.map { case (b, i) => (a.length.toLong, i + 1L, b) }.toSeq
    }

  private def rows(windows: DataFrame): Seq[(Long, Long, Long, Seq[String], String)] =
    windows.select(col("doc_id"), col("n_words"), col("p"), col("w"), col("gram"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
        r.getSeq[String](3), r.getString(4)))
      .sortBy(r => (r._1, r._3))

  private def expected(ref: String => Seq[(Long, Long, Seq[String])]) = {
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    texts.toSeq.flatMap { case (id, t) =>
      ref(t).map { case (n, p, w) => (id, n, p, w, w.mkString(" ")) }
    }
  }

  for ((mode, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
    test(s"kgrams and blocks equal the Scala reference ($mode)") {
      for (k <- Seq(1, 2, 3, 5, 8, 16)) {
        val got = withCodegen(mode, ws)(rows(TextOps.kgrams(docs, k, "doc_id")))
        val want = expected(refKgrams(_, k))
        assert(want.nonEmpty, s"k=$k")
        assert(got === want, s"kgrams k=$k")
      }
      for (w <- Seq(1, 2, 3, 5, 16)) {
        val got = withCodegen(mode, ws)(rows(TextOps.blocks(docs, w, "doc_id")))
        assert(got === expected(refBlocks(_, w)), s"blocks w=$w")
      }
    }
  }

  test("words: empties kept, null stays null") {
    val got = withCodegen("CODEGEN_ONLY", wholeStage = true) {
      docs.select(col("doc_id"), TextOps.words(col("text"))).collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    }
    hostile.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === Option(t).map(refWords), s"doc $i")
    }
  }

  /** `split(…, " ")` / `split(…, ' ')` as a function call, not a Scala
    * `String.split` and not DuckDB's `string_split`. */
  private val wordSplit = """(?<![\w.])split\(.*,\s*(" "|' ')\)""".r
  /** a position sequence over a word array's size. */
  private val wordWindow = """sequence\(.*size\((a|col\("a"\))\)""".r
  /** q81's one explode of unigrams AND bigrams (SinglePassPlanSpec gates
    * its plan): neither a k-gram nor a block window. */
  private val allowed = Set(
    """.select(explode(expr("sequence(1, 2 * size(a) - 1)")).as("p"), col("a"))""")

  test("words and word windows are built only in TextOps") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val textOps = root.resolve("scala/graft/ops/TextOps.scala")
    assert(files.contains(textOps))
    val hits = files.filter(_ != textOps).flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if wordSplit.findFirstIn(line).nonEmpty ||
            (wordWindow.findFirstIn(line).nonEmpty && !allowed(line.trim)) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"use TextOps.words / kgrams / blocks:\n${hits.mkString("\n")}")
    val ops = new String(Files.readAllBytes(textOps), "UTF-8")
    assert(wordSplit.findFirstIn(ops).nonEmpty, "the rule must match TextOps' own tokenizer")
  }
}
