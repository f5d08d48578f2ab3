package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Mercator.TileId
import graft.sql.{functions => G}

/** The one spatial join of points (`lon`, `lat`) with boxes or polygons
  * (`xmin`, `ymin`, `xmax`, `ymax`) for every point-in-polygon caller
  * (SURVEY.md §2.4). A point is keyed by its z8 cell `st_tile(lon, lat, 8)`,
  * a box by every z8 cell of its CLOSED bbox cover, `st_tile(xmin, ymax, 8)`
  * to `st_tile(xmax, ymin, 8)`: `st_tile` is monotone in lon and in lat, so
  * a point on a bbox edge lands in the cover too. The sides meet in a plain
  * equi-join on the key with the exact refine as its condition, no hint and
  * no salt: Spark broadcasts the cover when it fits
  * `spark.sql.autoBroadcastJoinThreshold`, else shuffles both sides on the
  * cell and AQE's skew-join split spreads a hot cell. Other column names
  * must not clash between the sides. */
object SpatialJoin {

  val Zoom = 8
  private val PointKey = "_cell8"
  private val CoverKey = "_cover8"

  /** each point with every box that holds it, edges included; `joinType`
    * is `inner`, or `left_anti` for the points in no box. */
  def pointsInBoxes(points: DataFrame, boxes: DataFrame, joinType: String = "inner"): DataFrame =
    cellJoin(points, boxes, inBox, joinType)

  /** each point with every polygon (`poly` WKB plus its bbox) whose
    * ray-cast `st_contains_xy` holds. */
  def pointsInPolygons(points: DataFrame, polys: DataFrame, joinType: String = "inner"): DataFrame =
    cellJoin(points, polys,
      inBox && G.st_contains_xy(col("poly"), col("lon"), col("lat")), joinType)

  private def inBox: Column =
    col("lon") >= col("xmin") && col("lon") <= col("xmax") &&
      col("lat") >= col("ymin") && col("lat") <= col("ymax")

  private def cellJoin(points: DataFrame, boxes: DataFrame, refine: Column, joinType: String) =
    points.withColumn(PointKey, G.st_tile(col("lon"), col("lat"), Zoom))
      .join(cover(boxes), col(PointKey) === col(CoverKey) && refine, joinType)
      .drop(PointKey, CoverKey)

  /** one row per (box, cell of its closed cover), the cell packed as
    * `TileId.pack(x, y, Zoom)` like `st_tile`'s. */
  private def cover(boxes: DataFrame): DataFrame = {
    val nw = G.st_tile(col("xmin"), col("ymax"), Zoom)
    val se = G.st_tile(col("xmax"), col("ymin"), Zoom)
    boxes
      .withColumn("_x", explode(sequence(G.tile_x(nw), G.tile_x(se))))
      .withColumn("_y", explode(sequence(G.tile_y(nw), G.tile_y(se))))
      .withColumn(CoverKey, lit(TileId.pack(0L, 0L, Zoom)) + shiftleft(col("_x"), 29) + col("_y"))
      .drop("_x", "_y")
  }
}
