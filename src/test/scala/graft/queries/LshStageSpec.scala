package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftCheckpoints, Row}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.sql.SparkTestBase

/** The staged banded-LSH candidates (`lsh_candidates`) and shingle sets
  * (`shingle_sets`): each equals a fresh computation, a rebuild reads back
  * the same rows, an empty candidate set still publishes its schema, and
  * the warm near-dup queries run no band explode and no band join. Every
  * test stages a fresh copy of the input, so its stages are built here
  * (and removed after the suite). */
class LshStageSpec extends SparkTestBase with TempStageCleanup {
  private val sf = "/root/testdata/sf0.001"

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def sets(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  test("the staged candidates equal a fresh band self-join over the staged sigs") {
    val in = documentsCopy(sf)
    val staged = TextQueries.lshCandidates(spark, in)
    assert(staged.schema.fieldNames.toSeq === Seq("a", "b"))
    val sigs = TextQueries.sigsDf(spark, in)
    val fresh = TextQueries.candidatePairs(TextQueries.bandRows(sigs), TextQueries.bandRows(sigs))
    val got = sorted(staged)
    assert(got.nonEmpty, "fixture must produce LSH candidates")
    assert(got === sorted(fresh))
  }

  test("the staged shingle sets equal the collect_set of the exploded shingles") {
    val in = documentsCopy(sf)
    val staged = sets(TextQueries.shingleSets(spark, in))
    val cand = TextQueries.lshCandidates(spark, in)
    val candDocs = cand.select(col("a").as("doc_id")).union(cand.select(col("b").as("doc_id")))
    val exploded = graft.model.Pages.documentsPages(spark, in)
      .join(candDocs.distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(expr("sequence(1, greatest(length(text) - 7, 1))")).as("p"), col("text"))
      .select(col("doc_id"),
        (conv(substring(md5(expr("substring(text, p, 8)")), 1, 15), 16, 10)
          .cast("bigint") % lit(graft.ops.TextOps.MinhashP)).as("h"))
    val want = sets(exploded.groupBy("doc_id").agg(collect_set(col("h"))))
    assert(staged.nonEmpty)
    assert(staged.keySet === want.keySet)
    staged.foreach { case (d, hs) =>
      assert(hs === hs.sorted, s"doc $d: the set is stored sorted")
      assert(hs.toSet === want(d).toSet && hs.size === want(d).size, s"doc $d")
    }
  }

  test("a second cold build in another input dir reads back identical rows") {
    val (in1, in2) = (documentsCopy(sf), documentsCopy(sf))
    def stages(in: String) =
      (sorted(TextQueries.lshCandidates(spark, in)), sorted(TextQueries.shingleOverlapFrom(spark, in)))
    val first = stages(in1)
    assert(TextQueries.lshCandidates(spark, in2).inputFiles.toSeq
      .intersect(TextQueries.lshCandidates(spark, in1).inputFiles.toSeq).isEmpty,
      "the two inputs must stage into different dirs")
    assert(stages(in2) === first)
    assert(sets(TextQueries.shingleSets(spark, in2)) === sets(TextQueries.shingleSets(spark, in1)))
  }

  test("an all-noise corpus publishes an empty (a, b) stage with its schema") {
    import spark.implicits._
    val dir = tempInput("lsh_noise").toString
    def words(seed: Long): String = (0 until 60).map { i =>
      val x = (seed * 1000003L + i) * 2654435761L
      s"w${java.lang.Long.remainderUnsigned(x ^ (x >>> 17), 997)}"
    }.mkString(" ")
    (0 until 20).map(i => (10000L + i, words(1000L + i))).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val sigs = TextQueries.sigsDf(spark, dir)
    assert(TextQueries.candidatePairs(TextQueries.bandRows(sigs), TextQueries.bandRows(sigs))
      .count() === 0, "the corpus must have no candidates")
    val cand = TextQueries.lshCandidates(spark, dir)
    assert(cand.count() === 0)
    assert(cand.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(cand.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType))
    assert(TextQueries.ngramJaccard(spark, dir).count() === 0)
    assert(TextQueries.minhashPairs(spark, dir).count() === 0)
    assert(TextQueries.shingleSets(spark, dir).count() === 0)
    assert(TextQueries.dedupEval(spark, dir).collect().length === 1)
  }

  test("warm q18/q46/q92/q115 run no Generate and no join on band") {
    val in = documentsCopy(sf)
    val queries = Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      "q18" -> TextQueries.minhashPairs, "q46" -> TextQueries.ngramJaccard,
      "q92" -> TextQueries.shingleContainment, "q115" -> TextQueries.dedupEval)
    queries.foreach { case (_, q) => q(spark, in).collect() } // the cold pass builds the stages
    GraftCheckpoints.releaseAll()
    queries.foreach { case (name, q) =>
      val df = q(spark, in)
      assert(df.collect().nonEmpty, name)
      val nodes = allPlanNodes(df.queryExecution.executedPlan)
      assert(nodes.count(_.isInstanceOf[GenerateExec]) === 0, s"$name: a Generate on the warm path")
      val bandJoins = nodes.collect {
        case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "band")) => j
      }
      assert(bandJoins.isEmpty, s"$name: a join on band on the warm path")
    }
    GraftCheckpoints.releaseAll()
  }

  test("in src/main only lshCandidates and pairsFromSigs call candidatePairs") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val defn = """\bdef\s+(\w+)""".r
    // (file, enclosing def) of every call: the nearest def above the line
    val callers = files.flatMap { (f: Path) =>
      val lines = Files.readAllLines(f).asScala.toSeq
      lines.indices.collect {
        case i if lines(i).contains("candidatePairs(") && !lines(i).contains("def candidatePairs(") &&
            !lines(i).trim.startsWith("*") && !lines(i).trim.startsWith("//") =>
          val owner = (i to 0 by -1).iterator.flatMap(j => defn.findFirstMatchIn(lines(j)))
            .map(_.group(1)).nextOption().getOrElse("?")
          (root.relativize(f).toString, owner)
      }
    }
    assert(callers.nonEmpty, "the rule must see the two callers")
    assert(callers.toSet === Set(
      "scala/graft/queries/TextQueries.scala" -> "lshCandidates",
      "scala/graft/queries/TextQueries.scala" -> "pairsFromSigs"),
      s"candidatePairs callers: $callers")
  }
}
