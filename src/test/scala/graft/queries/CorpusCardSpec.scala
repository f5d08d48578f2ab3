package graft.queries

import graft.sql.SparkTestBase

/** q89 corpus card: one map-side feature pass + one rollup exchange, and
  * the report recomputes from the per-doc q73 frame it aggregates. */
class CorpusCardSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("q89 report recomputes from the per-doc scores") {
    val card = QualityQueries.corpusCard(spark, sf).collect()
    assert(card.nonEmpty)
    val perDoc = QualityQueries.qualityClassifier(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "lang", "source"), "doc_id")
      .collect()
      .groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
    card.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val docs = perDoc(key)
      assert(r.getLong(2) == docs.length.toLong, s"$key n_docs")
      assert(r.getLong(3) == docs.map(_.getAs[Long]("n_words")).sum, s"$key n_tokens")
      val nKeep = docs.count(_.getAs[Boolean]("keep")).toLong
      assert(r.getLong(4) == nKeep, s"$key n_keep")
      assert(r.getLong(5) == docs.map(_.getAs[Long]("score")).sum, s"$key sum_score")
      assert(r.getLong(8) == nKeep * 10000L / docs.length, s"$key keep_bp")
    }
    assert(card.map(_.getLong(2)).sum ==
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("q89 plan: no explode, no join, one aggregation exchange") {
    val df = QualityQueries.corpusCard(spark, sf)
    val nodes = allPlanNodes(df.queryExecution.executedPlan)
    val names = nodes.map(_.nodeName)
    assert(!names.exists(_.contains("Generate")), "features must not explode")
    assert(!names.exists(_.contains("Join")), "report needs no join")
    val exchanges = names.count(_.contains("Exchange"))
    // one hash exchange for the rollup + one range exchange for the
    // gate's output ordering — nothing else
    assert(exchanges <= 2, s"expected ≤2 exchanges, got $exchanges in $names")
  }
}
