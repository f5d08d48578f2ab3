package graft.sql

import graft.model.Pages
import graft.sql.{functions => G}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Bucketing evidence (SURVEY.md §4 partitioning/shuffle): two layers
  * bucketed by the packed cell key join WITHOUT a shuffle — the co-located
  * cell-equi join that makes repeated layer×layer joins at 10^12 rows
  * affordable (bucket once, join many times). */
class BucketedJoinSpec extends SparkTestBase {

  test("bucketed cell tables join with zero Exchange") {
    val sf = "/root/testdata/sf0.001"
    val pages = Pages.volumePages(spark, sf)
      .select(col("pid"), col("lon"), col("lat"),
        G.st_tile(col("lon"), col("lat"), 8).as("cell"))
    val a = pages.where(pmod(col("pid"), lit(2)) === 0)
    val b = pages.where(pmod(col("pid"), lit(2)) === 1)
    spark.sql("DROP TABLE IF EXISTS cells_a")
    spark.sql("DROP TABLE IF EXISTS cells_b")
    a.write.bucketBy(8, "cell").sortBy("cell").saveAsTable("cells_a")
    b.write.bucketBy(8, "cell").sortBy("cell").saveAsTable("cells_b")

    val ta = spark.table("cells_a")
    val tb = spark.table("cells_b")
    // force a sort-merge join so the bucketing (not a broadcast) carries it
    val smjJoined = ta.hint("merge")
      .join(tb.withColumnRenamed("pid", "pid_b")
        .withColumnRenamed("lon", "lon_b").withColumnRenamed("lat", "lat_b"),
        "cell")
    // execute first so AQE finalizes the plan, then inspect it
    val got = smjJoined.count()
    val plan = smjJoined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(600))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(900)}")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      plan.take(900))
    // correctness: same pairs as the unbucketed join
    val expected = a.join(b.select(col("cell"), col("pid").as("pid_b")), "cell").count()
    assert(got === expected)
    spark.sql("DROP TABLE cells_a")
    spark.sql("DROP TABLE cells_b")
  }

  test("q40 PIP: cell-keyed join, broadcast or shuffled; no nested loop or salt") {
    val sf = "/root/testdata/sf0.001"
    // collect() executes THIS DataFrame's QueryExecution (count() would
    // build a separate one and leave this plan unfinalized)
    def run(): (Seq[org.apache.spark.sql.Row], Seq[SparkPlan]) = {
      val q = graft.queries.JoinQueries.shufflePip(spark, sf)
      val rows = q.collect().toSeq
      (rows, allPlanNodes(q.queryExecution.executedPlan))
    }
    val (rows, plan) = run()
    assert(rows.nonEmpty)
    assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), plan.head)
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size === 1 && bhj.head.leftKeys.size === 1, plan.head)
    // the cover's two range explodes only: no explode of a literal salt array
    val gens = plan.collect { case g: GenerateExec => g }
    assert(gens.size === 2 && gens.forall(!_.generator.children.exists(_.foldable)), plan.head)

    val (shuffledRows, shuffled) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(!shuffled.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), shuffled.head)
    assert(!shuffled.exists(_.isInstanceOf[BroadcastHashJoinExec]), shuffled.head)
    assert(shuffled.exists(p => p.isInstanceOf[ShuffledHashJoinExec] || p.isInstanceOf[SortMergeJoinExec]),
      shuffled.head)
    assert(shuffledRows === rows)
  }

  test("round-2 query plans: every join is keyed — no cartesian, no nested-loop") {
    // with the spatial joins of round 1 (q02, q32) and q62, which share
    // the cell-keyed SpatialJoin
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("q02_pip_join", "q32_anti_join", "q59_span_dedup", "q60_decontaminate",
        "q61_freq_quality", "q62_stream_enrich", "q63_percentiles", "q64_contamination_report")) {
      val q = graft.SparkEntry.queries(name)(spark, sf)
      q.collect() // executes this QueryExecution so AQE finalizes it
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name: ${plan.take(400)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: ${plan.take(400)}")
    }
  }
}
