package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.core.{Geom, Mercator}
import graft.sql.SparkTestBase
import graft.sql.{functions => G}

/** [[SpatialJoin]] (z8 cell equi-join + exact refine) ≡ a nested-loop join
  * with the same refine, on seeded boxes, polygons and points that include
  * the cover's hard cases: east and south edges exactly on z8 tile
  * boundaries with points on them, tiny boxes, boxes wider than a tile,
  * boxes at ±85° latitude and ±180° longitude, and a hot cell holding 10 %
  * of the points. Checked with the cover broadcast (default settings) and
  * with broadcast off and low skew thresholds, where AQE splits the hot
  * cell's partition. */
class SpatialJoinSpec extends SparkTestBase {
  import spark.implicits._

  /** z8 tile width in degrees: 360 / 256, exact in binary and a multiple
    * of the 1e-6 point lattice. */
  private val TileDeg = 1.40625

  private def lattice(d: Double): Double = math.rint(d * 1e6) / 1e6

  private val boxRows: Seq[(Long, Double, Double, Double, Double)] = {
    val r = new java.util.Random(12)
    def u(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    def southEdge(row: Long): Double = Mercator.lngLatBounds(0, row, 8)._2
    val generic = (0 until 120).map { _ =>
      val (cx, cy, w, h) = (u(-170, 170), u(-80, 80), u(1e-4, 3.0), u(1e-4, 3.0))
      (cx - w, cy - h, cx + w, cy + h)
    }
    val eastOnTile = (0 until 40).map { _ =>
      val e = -180.0 + (40 + r.nextInt(180)) * TileDeg
      val s = u(-70, 70)
      (e - u(0.01, 4.0), s, e, s + u(0.01, 2.0))
    }
    val southOnTile = (0 until 40).map { _ =>
      val s = southEdge(20 + r.nextInt(216))
      val w = u(-170, 170)
      (w, s, w + u(0.01, 2.0), s + u(0.01, 3.0))
    }
    val tiny = (0 until 30).map { _ =>
      val (x, y) = (u(-179, 179), u(-84, 84))
      (x, y, x + 1e-5, y + 1e-5)
    }
    val edges = Seq(
      (170.0, 80.0, 180.0, 89.0), (-180.0, -89.0, -170.0, -80.0),
      (-180.0, 84.5, 180.0, 86.0), (179.99, -10.0, 180.0, 10.0),
      (-1.0, -85.06, 1.0, -85.0), (-180.0, -90.0, 180.0, 90.0))
    val hot = Seq((2.25, 48.80, 2.35, 48.90), (2.29, 48.85, 2.31, 48.87))
    (generic ++ eastOnTile ++ southOnTile ++ tiny ++ edges ++ hot).zipWithIndex
      .map { case ((x0, y0, x1, y1), i) => (i.toLong, x0, y0, x1, y1) }
  }

  private val pointRows: Seq[(Long, Double, Double)] = {
    val r = new java.util.Random(34)
    def u(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    val random = (0 until 14000).map(_ => (lattice(u(-180, 180)), lattice(u(-90, 90))))
    // on the edges and corners of every box, and just inside them
    val onEdges = boxRows.flatMap { case (_, x0, y0, x1, y1) =>
      val (mx, my) = ((x0 + x1) / 2, (y0 + y1) / 2)
      Seq((x1, my), (mx, y0), (x1, y0), (x0, y1), (x0, y0), (x1, y1), (mx, my))
    }
    val near = boxRows.flatMap { case (_, x0, y0, x1, y1) =>
      Seq.fill(6)((u(x0 - 0.5, x1 + 0.5), u(y0 - 0.5, y1 + 0.5)))
    }
    val base = random ++ onEdges ++ near
    val hot = (0 until base.size / 9).map(_ => (lattice(u(2.29, 2.31)), lattice(u(48.85, 48.87))))
    (base ++ hot).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
  }

  private def points: DataFrame = pointRows.toDF("pid", "lon", "lat").repartition(8)
  private def boxes: DataFrame = boxRows.toDF("box_id", "xmin", "ymin", "xmax", "ymax")

  /** one polygon per box: the box itself, its inscribed diamond, or the
    * triangle on its south-west half (bbox columns from the geometry). */
  private def polys: DataFrame = boxRows.map { case (id, x0, y0, x1, y1) =>
    val (mx, my) = ((x0 + x1) / 2, (y0 + y1) / 2)
    val g = (id % 3).toInt match {
      case 0 => Geom.polygon((x0, y0), (x1, y0), (x1, y1), (x0, y1))
      case 1 => Geom.polygon((mx, y0), (x1, my), (mx, y1), (x0, my))
      case _ => Geom.polygon((x0, y0), (x1, y0), (x0, y1))
    }
    val b = g.bbox
    (id, Geom.toWkb(g), b.xmin, b.ymin, b.xmax, b.ymax)
  }.toDF("box_id", "poly", "xmin", "ymin", "xmax", "ymax")

  private val inBox =
    col("lon") >= col("xmin") && col("lon") <= col("xmax") &&
      col("lat") >= col("ymin") && col("lat") <= col("ymax")

  /** collects `df` itself, so its own AQE plan is finalized */
  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getAs[Long]("pid"), r.getAs[Long]("box_id"))).sorted

  private def pids(df: DataFrame): Seq[Long] =
    df.collect().toSeq.map(_.getAs[Long]("pid")).sorted

  private def nodes(df: DataFrame) = allPlanNodes(df.queryExecution.executedPlan)

  /** every differential check of the join, returning the executed inner
    * box join for plan asserts. */
  private def checkAll(): DataFrame = {
    val nlBox = points.join(boxes, inBox)
    val cellBox = SpatialJoin.pointsInBoxes(points, boxes)
    val want = pairs(nlBox)
    assert(pairs(cellBox) === want)
    // the edge fixtures really are hit: points on east / south tile edges
    val onEdge = pointRows.count { case (_, lon, lat) =>
      boxRows.exists { case (_, x0, y0, x1, y1) =>
        (lon == x1 || lat == y0) && lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1 }
    }
    assert(onEdge > 400, s"only $onEdge edge points")

    val pip = inBox && G.st_contains_xy(col("poly"), col("lon"), col("lat"))
    val pipWant = pairs(points.join(polys, pip))
    assert(pipWant.nonEmpty)
    assert(pairs(SpatialJoin.pointsInPolygons(points, polys)) === pipWant)
    assert(pids(SpatialJoin.pointsInPolygons(points, polys, "left_anti")) ===
      pids(points.join(polys, pip, "left_anti")))
    assert(pids(SpatialJoin.pointsInBoxes(points, boxes, "left_anti")) ===
      pids(points.join(boxes, inBox, "left_anti")))
    cellBox
  }

  test("a point on a box's z8-aligned east or south edge joins the box") {
    val e = -180.0 + 130 * TileDeg                 // 2.8125: a z8 column edge
    val s = Mercator.lngLatBounds(0, 90, 8)._2     // a z8 row edge
    val box = Seq((1L, e - 0.5, 40.0, e, 41.0), (2L, 10.0, s, 10.5, s + 0.5))
      .toDF("box_id", "xmin", "ymin", "xmax", "ymax")
    val pts = Seq((1L, e, 40.5), (2L, 10.25, s), (3L, e, 40.0)).toDF("pid", "lon", "lat")
    assert(pts.select(G.tile_x(G.st_tile(col("lon"), col("lat"), 8))).as[Long].head() === 130L)
    assert(pairs(SpatialJoin.pointsInBoxes(pts, box)) === Seq(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("cell join ≡ nested-loop join; the default plan broadcasts the cover") {
    val joined = checkAll()
    val plan = nodes(joined)
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]), joined.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("with broadcast off, AQE splits the hot cell and the rows do not change") {
    withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      val joined = checkAll()
      val plan = nodes(joined)
      assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
      assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
      val skewSplit = plan.exists {
        case j: SortMergeJoinExec => j.isSkewJoin
        case j: ShuffledHashJoinExec => j.isSkewJoin
        case _ => false
      }
      assert(skewSplit, s"no skew split:\n${joined.queryExecution.executedPlan}")
    }
  }

  test("the hot cell holds a tenth of the points") {
    val cells = points.groupBy(G.st_tile(col("lon"), col("lat"), SpatialJoin.Zoom))
      .count().as[(Long, Long)].collect()
    assert(cells.map(_._2).max * 10 >= pointRows.size, cells.sortBy(-_._2).take(3).toSeq)
  }

  test("join output keeps the caller's columns and drops the keys") {
    assert(SpatialJoin.pointsInBoxes(points, boxes).columns.toSeq ===
      Seq("pid", "lon", "lat", "box_id", "xmin", "ymin", "xmax", "ymax"))
    assert(SpatialJoin.pointsInBoxes(points, boxes, "left_anti").columns.toSeq ===
      Seq("pid", "lon", "lat"))
  }

  /** the argument text of every `.join(` call in `src`: the span up to
    * its balancing parenthesis. */
  private def joinArgs(src: String): Seq[String] =
    "\\.join\\(".r.findAllMatchIn(src).map { m =>
      var (i, depth) = (m.end, 1)
      while (i < src.length && depth > 0) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      src.substring(m.end, i)
    }.toSeq

  test("only SpatialJoin joins on PIP, and no join is hinted or salted") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val pip = "st_contains_(xy|ring)".r
    val salt = """(?i)explode\(.*salt|salt.*explode\(""".r
    def hits(src: String): Seq[String] = {
      val code = src.linesIterator.filterNot { l =>
        val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
      }.toSeq
      joinArgs(src).filter(pip.findFirstIn(_).nonEmpty).map(a => s"PIP join: .join(${a.take(80)}") ++
        code.filter(_.toLowerCase.contains("shuffle_hash")).map(l => s"hint: ${l.trim}") ++
        code.filter(salt.findFirstIn(_).nonEmpty).map(l => s"salt: ${l.trim}")
    }
    def read(f: Path) = new String(Files.readAllBytes(f), "UTF-8")
    val module = root.resolve("scala/graft/ops/SpatialJoin.scala")
    val bench = root.resolve("scala/graft/Bench.scala")
    assert(files.contains(module) && files.contains(bench))
    val found = files.filterNot(Set(module, bench)).flatMap(f => hits(read(f)).map(h => s"$f: $h"))
    assert(found.isEmpty, s"route point-in-polygon joins through SpatialJoin:\n${found.mkString("\n")}")
    // the rules bite: Bench's PIP join, and a salted cell join
    assert(hits(read(bench)).exists(_.startsWith("PIP join")), "the rule must see Bench's PIP join")
    val salted =
      """pages.join(polyCells
        |  .withColumn("salt", explode(array((0 until 8).map(s => lit(s)): _*)))
        |  .hint("shuffle_hash"), Seq("cell8", "salt"))
        |  .join(polys, G.st_contains_xy(col("poly"), col("lon"), col("lat")))""".stripMargin
    assert(hits(salted).map(_.takeWhile(_ != ':')).toSet === Set("PIP join", "hint", "salt"))
  }
}
