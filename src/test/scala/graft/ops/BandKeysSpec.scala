package graft.ops

import org.apache.spark.sql.{Column, GraftRegistrar, Row}
import org.apache.spark.sql.catalyst.expressions.{ConcatWs, ElementAt}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.TextQueries
import graft.sql.SparkTestBase

/** The `band_keys` kernel against the expression tree it replaced: same
  * key strings for every signature the tree accepts, null elements
  * included, under compiled and interpreted evaluation. */
class BandKeysSpec extends SparkTestBase {
  import TextOps.{BandRows, Bands, NumPerms}

  /** The reference: the pre-kernel tree (`concat_ws` skips null elements). */
  private def tree(sigs: Column): Column =
    array((0 until Bands).map { k =>
      concat_ws(",", (0 until BandRows).map(r =>
        element_at(sigs, k * BandRows + r + 1).cast("string")): _*)
    }: _*)

  /** RDD-backed, so no optimizer rule folds either side into a literal. */
  private def signatures(rows: Seq[Seq[java.lang.Long]]) = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("sigs", ArrayType(LongType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (s, i) => Row(i, s) }, 3), schema)
  }

  private def seeded(n: Int, len: Int, seed: Long): Seq[Seq[java.lang.Long]] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { d =>
      (0 until len).map { _ =>
        r.nextInt(12) match {
          case 0 if d % 3 == 0 => null // a few null elements, some whole null bands
          case 1 => java.lang.Long.valueOf(-r.nextLong()) // sign and Long.MinValue-sized values
          case 2 => java.lang.Long.valueOf(r.nextInt(10).toLong)
          case _ => java.lang.Long.valueOf(r.nextLong() % TextOps.MinhashP)
        }
      }
    } :+ Seq.fill(len)(null) :+ Seq.fill(len)(java.lang.Long.valueOf(Long.MinValue))
  }

  test("band_keys ≡ the element_at/concat_ws tree, codegen and interpreted") {
    GraftRegistrar.ensure(spark)
    // 128-long signatures, plus longer ones (the tree reads the first 128)
    val df = signatures(seeded(200, NumPerms, 7L) ++ seeded(20, NumPerms + 5, 11L))
    for ((mode, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
      val got = withCodegen(mode, ws) {
        df.select(col("id"), TextOps.bandKeys(col("sigs")).as("kernel"), tree(col("sigs")).as("tree"))
          .collect()
      }
      assert(got.length === 224, mode)
      got.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2), s"$mode row ${r.getInt(0)}")
      }
      assert(got.exists(_.getSeq[String](1).contains("")), "a whole-null band keys as \"\"")
    }
  }

  test("band_keys: a null array yields null, a short array fails loudly") {
    GraftRegistrar.ensure(spark)
    val df = signatures(Seq(null, Seq.fill(NumPerms)(java.lang.Long.valueOf(1L))))
    for ((mode, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
      val out = withCodegen(mode, ws) {
        df.select(col("id"), TextOps.bandKeys(col("sigs"))).orderBy("id").collect()
      }
      assert(out(0).isNullAt(1), mode)
      assert(out(1).getSeq[String](1) === Seq.fill(Bands)("1,1,1,1"), mode)
      for (len <- Seq(0, 1, NumPerms - 1)) {
        val e = intercept[Exception] {
          withCodegen(mode, ws) {
            signatures(Seq(Seq.fill(len)(java.lang.Long.valueOf(3L))))
              .select(TextOps.bandKeys(col("sigs"))).collect()
          }
        }
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
        assert(!chain.exists(_.isInstanceOf[NullPointerException]), s"$mode len $len: $e")
        assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains(s"got $len")), s"$mode len $len: $e")
      }
    }
  }

  test("bandRows: one band_keys call in the Generate, no ConcatWs/ElementAt") {
    GraftRegistrar.ensure(spark)
    val sigs = seeded(10, NumPerms, 3L)
    val rows = TextQueries.bandRows(signatures(sigs).withColumnRenamed("id", "doc_id"))
    assert(rows.count() === sigs.length.toLong * Bands)
    val gens = allPlanNodes(rows.queryExecution.executedPlan).collect { case g: GenerateExec => g }
    assert(gens.length === 1)
    val exprs = gens.head.generator.collect { case e => e }
    assert(exprs.count(_.isInstanceOf[BandKeys]) === 1)
    assert(!exprs.exists(e => e.isInstanceOf[ConcatWs] || e.isInstanceOf[ElementAt]))
  }
}
