package graft.sql

import org.apache.spark.sql.{GraftRegistrar, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kernels whose `compute` returns null for some non-null inputs (vec_dot
  * on ragged or null-element arrays, jl_project / plane_dots on a wrong
  * length) must yield SQL NULL under whole-stage codegen exactly as they
  * do interpreted. The inputs come from an RDD-backed DataFrame, so no
  * optimizer rule folds the kernels into literals at plan time. */
class NullResultCodegenSpec extends SparkTestBase {

  private val dim = graft.queries.EmbQueries.Dim

  private def input = {
    def vec(n: Int, nullAt: Int = -1): Seq[java.lang.Double] =
      (0 until n).map(i => if (i == nullAt) null else java.lang.Double.valueOf(i % 7 - 3.0))
    val scale: Seq[java.lang.Double] = Seq.fill(dim)(java.lang.Double.valueOf(4.0))
    val rows = Seq(
      Row(0, vec(dim), vec(dim), scale),              // all kernels non-null
      Row(1, vec(dim), vec(dim - 1), scale),          // ragged → vec_dot null
      Row(2, vec(dim, nullAt = 5), vec(dim), scale),  // null element → all null
      Row(3, vec(dim - 1), vec(dim - 1), scale.tail)) // short → jl/plane null
    val arr = ArrayType(DoubleType, containsNull = true)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", arr), StructField("b", arr), StructField("s", arr)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def run(factoryMode: String, wholeStage: Boolean): Seq[Seq[Any]] = {
    GraftRegistrar.ensure(spark)
    withCodegen(factoryMode, wholeStage) {
      input.select(col("id"),
          call_function("vec_dot", col("a"), col("b")).as("dot"),
          call_function("jl_project", col("a"), col("s")).as("jl"),
          call_function("plane_dots", col("a"), lit(0), lit(3)).as("pd"))
        // downstream consumers of the (possibly null) arrays
        .withColumn("jl_norm", call_function("vec_dot", col("jl"), col("jl")))
        .withColumn("pd_n", size(col("pd")))
        .orderBy(col("id"))
        .collect().toSeq
        .map(r => r.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case v => v
        })
    }
  }

  test("vec_dot / jl_project / plane_dots null results: codegen ≡ interpreted") {
    val codegen = run("CODEGEN_ONLY", wholeStage = true)
    val interpreted = run("NO_CODEGEN", wholeStage = false)
    assert(codegen === interpreted)
    // id, dot, jl, pd, jl_norm, pd_n
    val nulls = codegen.map(r => Seq(1, 2, 3, 4).map(i => r(i) == null))
    assert(nulls === Seq(
      Seq(false, false, false, false),
      Seq(true, false, false, false),
      Seq(true, true, true, true),
      Seq(false, true, true, true)))
    assert(codegen.head(5) === 3) // three planes
  }
}
