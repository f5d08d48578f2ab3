package graft.ops

import graft.sql.SparkTestBase

/** AS-OF join semantics on crafted events (q51's operator): latest view at
  * or BEFORE each click, per user; same-instant view matches (<=); clicks
  * with no prior view drop (inner as-of). */
class AsofJoinSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_asof").toString
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    Seq(
      (1L, at(10), 7L, "view", 0.0, "{}"),
      (2L, at(20), 7L, "view", 0.0, "{}"),
      (3L, at(20), 7L, "click", 0.0, "{}"),  // same instant as view 2 → matches it
      (4L, at(30), 7L, "click", 0.0, "{}"),  // latest prior view = 2, not 1
      (5L, at(5), 9L, "click", 0.0, "{}"),   // no prior view → dropped
      (6L, at(8), 9L, "view", 0.0, "{}"),
      (7L, at(9), 9L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("latest-prior semantics, same-instant match, unmatched clicks drop") {
    val r = graft.queries.JoinQueries.asofJoin(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getLong(3), x.getLong(5))).toMap
    assert(r.keySet === Set(3L, 4L, 7L))          // click 5 dropped
    assert(r(3L)._1 == 2L && r(3L)._2 == 0L)      // same-instant view, gap 0
    assert(r(4L)._1 == 2L && r(4L)._2 == 10000000L) // 10 s in micros
    assert(r(7L)._1 == 6L && r(7L)._2 == 1000000L)
  }
}
