package graft.model

import graft.io.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession, GraftRegistrar}
import org.apache.spark.sql.functions._

/** The engine's input relation: a Common-Crawl-style `pages` table
  * (BASELINE.json input_hint: url, warc_ts, html, text, lang), derived
  * DETERMINISTICALLY from the driver-generated parquet (TESTDATA.md) so the
  * DuckDB oracle can reproduce every derived column with the same integer
  * arithmetic:
  *
  * - `fromDocuments`: the text-bearing slice (one page per documents row);
  *   `text` flows through byte-identical per url (the per-row invariant).
  * - `fromLineitem`: the volume slice (~600k rows at sf0.1) used by the
  *   geospatial jobs; geometry is attached as a hash-point
  *   (SURVEY.md §1.3), with a deterministic 10% hot-cell cluster
  *   (one z12 tile over Paris) to exercise the skew path, and a ~1/37
  *   minority of bbox-polygon pages for areal operators.
  *
  * All derivations are integer multiply/mod + one divide by 1e6 — exactly
  * replicable in ANSI SQL (see [[PagesSql]]).
  */
object Pages {

  /** Knuth multiplicative mixers — the same constants appear in the SQL
    * oracle strings below; keep in sync. */
  val M1 = 2654435761L
  val M2 = 40503L
  val A2 = 2654435769L
  val P = 1000000007L

  val Langs: Seq[String] = Seq("en", "es", "de", "fr", "pt")

  // Hot-cell cluster anchor (Paris), ~0.02° square ⊂ one z12 tile.
  val HotLon = 2.29
  val HotLat = 48.85

  /** Derivation-version token for STAGE-CACHE KEYS over pages-derived
    * tables (ADVICE r3: a key that omits a mirrored constant silently
    * serves stale staged bytes after a constant change without a manual
    * :vN bump, desynchronizing the gate from the oracle). Folds every
    * constant of the volumePages derivation; any change to a mirrored
    * constant changes this token and invalidates every derived stage. */
  val DerivationKey: String =
    s"$M1:$M2:$A2:$P:$HotLon:$HotLat:${Langs.mkString(",")}"

  /** documentsPages derivation constants — mirrored as literals in the
    * oracles (TextOracles.warcIngest, QualityOracles url/epoch CTEs);
    * change them ONLY together. [[DocDerivationKey]] folds them into every
    * stage that bakes these values into bytes (the stage-key invariant). */
  val DocUrlPrefix = "https://example.org/d/"
  val DocEpochBase = 1704067200L
  val DocEpochMul = 7919L
  val DocEpochMod = 31536000L

  val DocDerivationKey: String =
    s"u$DocUrlPrefix:e$DocEpochBase.$DocEpochMul.$DocEpochMod:html"

  def documentsPages(spark: SparkSession, sfDir: String): DataFrame = {
    GraftRegistrar.ensure(spark)
    Parquet.read(spark, s"$sfDir/documents.parquet")
      .withColumn("url", concat(lit(DocUrlPrefix), col("doc_id").cast("string")))
      .withColumn("warc_epoch",
        lit(DocEpochBase) + pmod(col("doc_id") * DocEpochMul, lit(DocEpochMod)))
      .withColumn("html", encode(concat(lit("<html>"), col("text"), lit("</html>")), "UTF-8"))
  }

  /** Volume pages with attached hash-point geometry (lon/lat as plain
    * double columns — the WKB form is derivable with st_point when an
    * operator needs it; keeping the hot path on primitive columns keeps
    * it codegen-tight and parquet-pruneable). */
  def volumePages(spark: SparkSession, sfDir: String): DataFrame = {
    GraftRegistrar.ensure(spark)
    Parquet.read(spark, s"$sfDir/lineitem.parquet")
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("pid"))
      .withColumn("h1", pmod(col("pid") * M1, lit(P)))
      .withColumn("h2", pmod(col("pid") * M2 + A2, lit(P)))
      .withColumn("is_hot", pmod(col("pid"), lit(10)) === 0)
      .withColumn("lon", when(col("is_hot"), lit(HotLon) + pmod(col("h1"), lit(20000L)).cast("double") / 1e6)
        .otherwise(pmod(col("h1"), lit(360000000L)).cast("double") / 1e6 - 180.0))
      .withColumn("lat", when(col("is_hot"), lit(HotLat) + pmod(col("h2"), lit(20000L)).cast("double") / 1e6)
        .otherwise(pmod(col("h2"), lit(170000000L)).cast("double") / 1e6 - 85.0))
      .withColumn("lang", element_at(
        array(Langs.map(lit): _*), (pmod(col("h1"), lit(5)) + 1).cast("int")))
      .withColumn("url", concat(lit("https://example.com/p/"), col("pid").cast("string")))
  }

  /** The ~1/37 minority of pages that carry a bbox polygon (areal ops).
    * Center coordinates are clamped away from the poles/antimeridian so
    * tile iteration never needs the clamp/wrap branches in the oracle. */
  def polygonPages(spark: SparkSession, sfDir: String): DataFrame = {
    volumePages(spark, sfDir)
      .where(pmod(col("pid"), lit(37)) === 0)
      .withColumn("lonc", greatest(least(col("lon"), lit(179.5)), lit(-179.5)))
      .withColumn("latc", greatest(least(col("lat"), lit(84.5)), lit(-84.5)))
      .withColumn("w", lit(0.01) + pmod(col("h1"), lit(100000L)).cast("double") / 1e6)
      .withColumn("xmin", col("lonc") - col("w"))
      .withColumn("ymin", col("latc") - col("w"))
      .withColumn("xmax", col("lonc") + col("w"))
      .withColumn("ymax", col("latc") + col("w"))
  }

  /** SQL fragments for the DuckDB oracle — single source of truth for the
    * same arithmetic as the DataFrame derivations above. */
  object PagesSql {
    /** volume pages as a CTE body over `lineitem` parquet (table name is
      * substituted by the Verify driver). */
    def volumeCte(lineitemTable: String): String =
      s"""SELECT pid, h1, h2, is_hot,
         |  CASE WHEN is_hot THEN $HotLon + (h1 % 20000)/1000000.0 ELSE (h1 % 360000000)/1000000.0 - 180.0 END AS lon,
         |  CASE WHEN is_hot THEN $HotLat + (h2 % 20000)/1000000.0 ELSE (h2 % 170000000)/1000000.0 - 85.0 END AS lat,
         |  CASE (h1 % 5) WHEN 0 THEN 'en' WHEN 1 THEN 'es' WHEN 2 THEN 'de' WHEN 3 THEN 'fr' ELSE 'pt' END AS lang
         |FROM (
         |  SELECT pid, (pid * $M1) % $P AS h1, (pid * $M2 + $A2) % $P AS h2,
         |         (pid % 10) = 0 AS is_hot
         |  FROM (SELECT l_orderkey * 8 + l_linenumber AS pid FROM $lineitemTable)
         |)""".stripMargin

    def polygonCte(lineitemTable: String): String =
      s"""SELECT pid, xminv - w AS xmin, yminv - w AS ymin, xminv + w AS xmax, yminv + w AS ymax FROM (
         |  SELECT pid,
         |    GREATEST(LEAST(lon, 179.5), -179.5) AS xminv,
         |    GREATEST(LEAST(lat, 84.5), -84.5) AS yminv,
         |    0.01 + (h1 % 100000)/1000000.0 AS w
         |  FROM (${volumeCte(lineitemTable)})
         |  WHERE pid % 37 = 0
         |)""".stripMargin

    /** mercantile tile x at zoom z for a lon expression (ANSI SQL; matches
      * Mercator.tileAt bit-for-bit modulo libm ulp). */
    def tileXSql(lon: String, z: Int): String = {
      val z2 = math.pow(2.0, z)
      s"""(CASE WHEN ($lon)/360.0 + 0.5 <= 0 THEN 0
         |      WHEN ($lon)/360.0 + 0.5 >= 1 THEN ${z2.toLong - 1}
         |      ELSE CAST(FLOOR((($lon)/360.0 + 0.5 + 1e-14) * $z2) AS BIGINT) END)""".stripMargin
    }

    def tileYSql(lat: String, z: Int): String = {
      val z2 = math.pow(2.0, z)
      val y = s"(0.5 - 0.25 * LN((1.0 + SIN(RADIANS($lat))) / (1.0 - SIN(RADIANS($lat)))) / PI())"
      s"""(CASE WHEN $y <= 0 THEN 0
         |      WHEN $y >= 1 THEN ${z2.toLong - 1}
         |      ELSE CAST(FLOOR(($y + 1e-14) * $z2) AS BIGINT) END)""".stripMargin
    }
  }
}

/** The broadcast polygon layer for the PIP join: fixed convex polygons with
  * half-micro-degree vertex offsets so no hash-point (a multiple of 1e-6)
  * ever lies exactly on an axis-aligned edge. poly 6 covers the injected
  * hot cell (skew exercise). */
object PolygonLayer {
  /** (id, vertices as (lon,lat), closed implicitly). All convex, CCW. */
  val polys: Seq[(Int, Seq[(Double, Double)])] = Seq(
    1 -> Seq((-120.0000005, 30.0000005), (-100.0000005, 30.0000005),
             (-100.0000005, 45.0000005), (-120.0000005, 45.0000005)),
    2 -> Seq((10.0000005, -60.0000005), (40.0000005, -60.0000005),
             (40.0000005, -35.0000005), (10.0000005, -35.0000005)),
    3 -> Seq((60.0000005, -10.0000005), (90.0000005, -25.0000005),
             (110.0000005, 5.0000005), (75.0000005, 20.0000005)),
    4 -> Seq((-60.0000005, 55.0000005), (-30.0000005, 50.0000005),
             (-20.0000005, 70.0000005), (-55.0000005, 75.0000005)),
    5 -> Seq((140.0000005, -45.0000005), (165.0000005, -48.0000005),
             (175.0000005, -30.0000005), (160.0000005, -20.0000005),
             (145.0000005, -25.0000005)),
    6 -> Seq((2.2000005, 48.8000005), (2.4000005, 48.8000005),
             (2.4000005, 48.9500005), (2.2000005, 48.9500005)))

  import graft.core.Geom
  def geom(id: Int): Geom.GPolygon =
    Geom.polygon(polys.find(_._1 == id).get._2: _*)
  def wkb(id: Int): Array[Byte] = Geom.toWkb(geom(id))

  /** Spark rows (poly_id, wkb, bbox, and the shell as packed coordinate
    * arrays xs/ys for the in-place st_contains_ring hot path). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    polys.map { case (id, vs) =>
      val g = Geom.polygon(vs: _*)
      val bb = g.bbox
      val shell = g.shell
      (id, Geom.toWkb(g), bb.xmin, bb.ymin, bb.xmax, bb.ymax,
        shell.map(_.x), shell.map(_.y))
    }.toDF("poly_id", "poly", "xmin", "ymin", "xmax", "ymax", "xs", "ys")
  }

  /** Half-plane containment predicate in ANSI SQL for a convex CCW polygon:
    * cross((v[i+1]-v[i]), (p-v[i])) > 0 for all edges. Strict > is safe:
    * vertices are off the 1e-6 lattice. */
  def containsSql(id: Int, lonExpr: String, latExpr: String): String = {
    val vs = polys.find(_._1 == id).get._2
    val edges = vs.indices.map { i =>
      val (x1, y1) = vs(i)
      val (x2, y2) = vs((i + 1) % vs.length)
      s"(($x2 - $x1) * (($latExpr) - $y1) - ($y2 - $y1) * (($lonExpr) - $x1)) > 0"
    }
    edges.mkString("(", " AND ", ")")
  }
}
