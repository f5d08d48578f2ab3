package graft.ops

import graft.sql.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed running sum (q54's primitive): partition-offset cumsum must
  * equal the single-partition window cumsum while actually running over
  * multiple range partitions. */
class RunningSumSpec extends SparkTestBase {

  test("withRunningSum ≡ global window cumsum, across >1 partition") {
    val df = spark.range(10000).toDF("id")
      .withColumn("v", pmod(col("id") * 37L, lit(101L)))
      .repartition(8) // scrambled input placement
    val got = Ordinals.withRunningSum(df, "cum", col("v"), col("id"))
    // the cumsum window must be partition-LOCAL (keyed by the range-
    // partition id), never the global single-partition Window.orderBy
    // (AQE may still coalesce tiny shuffles, so partition count is not
    // the observable — the window spec is)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__ord_part"), plan.take(500))
    val exp = df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
      .sameElements(exp.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))))
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(Ordinals.withRunningSum(df, "cum", col("v"), col("id")).count() === 0)
  }

  test("withOrdinal ≡ global row_number, with NO window operator in the plan") {
    val df = spark.range(20000).toDF("id")
      .withColumn("k", pmod(col("id") * 131L, lit(7919L)))
      .repartition(16)
    val got = Ordinals.withOrdinal(df, "rn", col("k"), col("id"))
    // the ordinal is a projection over the persisted range-shuffled frame —
    // a Window here would mean a redundant hash exchange + sort
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    val exp = df.withColumn("rn",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
    assert(got.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      exp.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq)
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  test("range shuffle is evaluated ONCE across the offsets action and the window action (VERDICT r2 #3)") {
    val n = 5000L
    val acc = spark.sparkContext.longAccumulator("ord_input_rows")
    val bump = udf { (id: Long) => acc.add(1L); id % 101L }
    val df = spark.range(n).toDF("id").withColumn("v", bump(col("id")))

    // jobs triggered by the CALL itself: logically the range-boundary
    // sketch + the P-row offsets collect; under AQE each materialized
    // query stage surfaces as its own job, so the bound is loose — the
    // EXACT no-recompute observable is the accumulator below
    val (got, stats) = withJobStats(Ordinals.withOrdinal(df, "rn", col("v"), col("id")))
    val jobs = stats.jobs
    assert(jobs <= 6, s"withOrdinal call ran $jobs jobs")

    assert(got.count() === n)
    // one materialization = sketch pass + shuffle write over the same rows
    // (2n UDF evaluations); the pre-fix double evaluation was 4n — the
    // persisted frame must keep us strictly below that
    assert(acc.value < 3 * n,
      s"input evaluated ${acc.value} times for $n rows — range shuffle ran twice")
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }
}
