package graft.queries

import graft.io.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Pages, PolygonLayer}
import graft.ops.SpatialJoin

/** Anti-join and range-join coverage (SURVEY.md §2.4 join taxonomy). */
object JoinQueries {

  /** pages NOT inside any polygon — the "outside all regions" filter: a
    * `left_anti` [[SpatialJoin]] against the broadcast z8 cover. */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame =
    SpatialJoin.pointsInPolygons(Pages.volumePages(spark, sfDir),
        PolygonLayer.toDF(spark), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("pid")).as("min_pid"))
      .orderBy(col("lang"))

  /** latitude bands (interval table) ⋈ pages on lat BETWEEN lo AND hi —
    * the non-equi range join; bands are half-open to keep it a partition. */
  val bands: Seq[(Int, Double, Double)] = Seq(
    (1, -90.0, -60.0), (2, -60.0, -30.0), (3, -30.0, 0.0),
    (4, 0.0, 30.0), (5, 30.0, 60.0), (6, 60.0, 90.0))

  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pages = Pages.volumePages(spark, sfDir)
    val bandDf = bands.toDF("band", "lo", "hi")
    pages.join(broadcast(bandDf),
        col("lat") >= col("lo") && col("lat") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), min(col("pid")).as("min_pid"),
        max(col("pid")).as("max_pid"))
      .orderBy(col("band"))
  }

  /** 20k deterministic boxes (off-lattice edges — no coordinate ties with
    * the micro-degree page lattice). The lat hash multiplier must be
    * independent of Pages.M2: both pages and boxes are 1-D lattices in
    * (lon,lat), and sharing the multiplier makes the two containment
    * conditions perfectly anti-correlated (measured: 0 joint matches out
    * of 211k lat-only + 101k lon-only at sf0.001). */
  val ShuffleLayerSize = 20000
  val LayerM2 = 2246822519L

  def shuffleLayer(spark: SparkSession): DataFrame =
    spark.range(ShuffleLayerSize)
      .withColumn("h1", pmod(col("id") * Pages.M1 + 17L, lit(Pages.P)))
      .withColumn("h2", pmod(col("id") * LayerM2 + 31L, lit(Pages.P)))
      .withColumn("cx", pmod(col("h1"), lit(350000000L)).cast("double") / 1e6 - 175.0)
      .withColumn("cy", pmod(col("h2"), lit(160000000L)).cast("double") / 1e6 - 80.0)
      .withColumn("w", lit(0.05) + pmod(col("h1"), lit(200000L)).cast("double") / 1e6)
      .select(col("id").as("poly_id"),
        (col("cx") - col("w") - 0.0000005).as("xmin"),
        (col("cy") - col("w") - 0.0000005).as("ymin"),
        (col("cx") + col("w") + 0.0000005).as("xmax"),
        (col("cy") + col("w") + 0.0000005).as("ymax"))

  /** The 20k-box spatial join under the oracle (VERDICT r1 #6): a
    * [[SpatialJoin]] with the exact box test. Its 33 636 z8 cover rows fit
    * the broadcast threshold: a `BroadcastHashJoin` on the cell, of the
    * smaller side; with broadcast off, a cell-keyed shuffle join. */
  def shufflePip(spark: SparkSession, sfDir: String): DataFrame =
    SpatialJoin.pointsInBoxes(Pages.volumePages(spark, sfDir), shuffleLayer(spark))
      .groupBy(col("poly_id"))
      .agg(count(lit(1)).as("n"), min(col("pid")).as("min_pid"),
        max(col("pid")).as("max_pid"))
      .orderBy(col("poly_id"))

  /** AS-OF join: each click matched to the LATEST view of the same user at
    * or before the click instant. The scale-correct distributed plan is NOT
    * a range join (whose candidate set is every earlier view): tag both
    * event kinds, ONE shuffle on user_id, sort within partition by
    * (ts, kind, id), and propagate the running last view via
    * last(..., ignoreNulls) over rows-unbounded-preceding — O(n log n) per
    * user partition, zero join. Views are pre-deduped to one per
    * (user_id, ts) (min event_id) so tie behavior is deterministic and
    * matches DuckDB's native ASOF JOIN, which the oracle uses — an
    * algorithm-independent cross-check. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Parquet.read(spark, s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → UTC instant
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("view_id"))
      .select(col("user_id"), col("ts"), col("view_id"),
        lit(0).as("kind"), lit(null).cast("long").as("click_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("view_id"),
        lit(1).as("kind"), col("event_id").as("click_id"))
    // kind orders a view BEFORE a click at the same instant (ASOF is <=);
    // `ord` is materialized so both last() share ONE window spec → a single
    // Window node after the user_id Exchange (one sort, not two)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("ord", coalesce(col("view_id"), col("click_id")))
      .select(col("*"),
        last(col("view_id"), ignoreNulls = true).over(w).as("m_view"),
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w).as("m_ts"))
      .where(col("kind") === 1 && col("m_view").isNotNull)
      .select(col("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        col("m_view").as("view_id"),
        unix_micros(col("m_ts")).as("view_us"),
        (unix_micros(col("ts")) - unix_micros(col("m_ts"))).as("gap_us"))
      .orderBy(col("click_id"))
  }
}

object JoinOracles {
  import Pages.PagesSql._

  val antiJoin: String = {
    val anyContains = PolygonLayer.polys.map { case (id, _) =>
      PolygonLayer.containsSql(id, "lon", "lat")
    }.mkString("(", " OR ", ")")
    s"""WITH pages AS (${volumeCte("lineitem")})
       |SELECT lang, count(*) AS n, min(pid) AS min_pid
       |FROM pages WHERE NOT $anyContains
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  val rangeJoin: String = {
    val bandRows = JoinQueries.bands
      .map { case (b, lo, hi) => s"($b, $lo, $hi)" }.mkString(", ")
    s"""WITH pages AS (${volumeCte("lineitem")})
       |SELECT band, count(*) AS n, min(pid) AS min_pid, max(pid) AS max_pid
       |FROM pages JOIN (VALUES $bandRows) AS bands(band, lo, hi)
       |  ON lat >= lo AND lat < hi
       |GROUP BY band ORDER BY band""".stripMargin
  }

  /** the cell-equi plan reduces to a plain box-containment join: the
    * closed z8 cover holds the cell of every point in the box, and each
    * (page, box) pair meets in exactly one cover row (the page's own). */
  val shufflePip: String =
    s"""WITH pages AS (${volumeCte("lineitem")}),
       |polys AS (
       |  SELECT id AS poly_id,
       |    cx - w - 0.0000005 AS xmin, cy - w - 0.0000005 AS ymin,
       |    cx + w + 0.0000005 AS xmax, cy + w + 0.0000005 AS ymax
       |  FROM (
       |    SELECT id,
       |      (h1 % 350000000)/1000000.0 - 175.0 AS cx,
       |      (h2 % 160000000)/1000000.0 - 80.0 AS cy,
       |      0.05 + (h1 % 200000)/1000000.0 AS w
       |    FROM (
       |      SELECT id, (id * ${Pages.M1} + 17) % ${Pages.P} AS h1,
       |             (id * ${JoinQueries.LayerM2} + 31) % ${Pages.P} AS h2
       |      FROM generate_series(0, ${JoinQueries.ShuffleLayerSize - 1}) t(id))))
       |SELECT poly_id, count(*) AS n, min(pid) AS min_pid, max(pid) AS max_pid
       |FROM pages JOIN polys
       |  ON lon >= xmin AND lon <= xmax AND lat >= ymin AND lat <= ymax
       |GROUP BY poly_id ORDER BY poly_id""".stripMargin

  /** DuckDB's NATIVE ASOF JOIN — a different algorithm (merge-scan) than
    * the Spark windowed propagation, so matching values cross-checks the
    * semantics, not the implementation. */
  val asofJoin: String =
    """WITH views AS (
      |  SELECT user_id, ts, min(event_id) AS view_id
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      |clicks AS (
      |  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.click_id, c.user_id,
      |       epoch_us(c.ts) AS click_us, v.view_id, epoch_us(v.ts) AS view_us,
      |       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      |FROM clicks c ASOF JOIN views v
      |  ON c.user_id = v.user_id AND v.ts <= c.ts
      |ORDER BY c.click_id""".stripMargin
}
