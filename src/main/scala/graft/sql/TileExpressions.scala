package graft.sql

import graft.core.{Geom, Mercator}
import graft.core.Mercator.TileId
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Catalyst expressions for the XYZ Web-Mercator cell index (SURVEY.md §2.3;
  * reference: `/root/reference/telluric/vectors.py:522-538` tiles(),
  * `constants.py:25-29` resolution table, `vectors.py:349-357` from_xyz).
  *
  * The packed cell key `(z<<58)|(x<<29)|y` is the join/partition key of the
  * engine — a plain LongType so every built-in Spark optimization
  * (hash partitioning, AQE skew split, bucketing, min/max pruning) applies.
  */

/** st_tile(lon, lat, z) → packed cell id (LongType). Hot-path: pure math,
  * the generated code calls `computePrim` ([[GraftKernel]]). */
case class StTile(first: Expression, second: Expression, third: Expression)
    extends GraftTernary {
  override def dataType: DataType = LongType
  def compute(lon: Any, lat: Any, z: Any): Any =
    computePrim(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      z.asInstanceOf[Int])
  /** primitive-signature entry point (no autoboxing in generated code). */
  def computePrim(lon: Double, lat: Double, z: Int): Long =
    Mercator.tileAtPacked(lon, lat, z)
  override def prettyName: String = "st_tile"
}

/** tile_x/tile_y/tile_z accessors over the packed key. */
case class TileX(child: Expression) extends GraftUnary {
  override def dataType: DataType = LongType
  def compute(v: Any): Any = (v.asInstanceOf[Long] >> 29) & ((1L << 29) - 1)
  override def prettyName: String = "tile_x"
}
case class TileY(child: Expression) extends GraftUnary {
  override def dataType: DataType = LongType
  def compute(v: Any): Any = v.asInstanceOf[Long] & ((1L << 29) - 1)
  override def prettyName: String = "tile_y"
}
case class TileZ(child: Expression) extends GraftUnary {
  override def dataType: DataType = IntegerType
  def compute(v: Any): Any = (v.asInstanceOf[Long] >> 58).toInt
  override def prettyName: String = "tile_z"
}

/** tile_parent(cell, dz) — coarser-zoom ancestor (overview pyramid walk,
  * util/raster_utils.py:17-25 factors). A `dz` outside `[0, z]` has no
  * ancestor and throws `IllegalArgumentException`. */
case class TileParent(left: Expression, right: Expression) extends GraftBinary {
  override def dataType: DataType = LongType
  def compute(cell: Any, dz: Any): Any = {
    val t = TileId.unpack(cell.asInstanceOf[Long])
    val d = dz.asInstanceOf[Int]
    require(d >= 0 && d <= t.z, s"tile_parent: dz $d outside [0, ${t.z}] for a z${t.z} cell")
    TileId.pack(t.x >> d, t.y >> d, t.z - d)
  }
  override def prettyName: String = "tile_parent"
}

/** tile_bounds_3857(cell) → struct(left,bottom,right,top) meters
  * (GeoVector.from_xyz, vectors.py:349-357 / mercantile.xy_bounds). */
case class TileBounds3857(child: Expression) extends GraftUnary {
  override def dataType: DataType = StructType(Seq(
    StructField("left", DoubleType, nullable = false),
    StructField("bottom", DoubleType, nullable = false),
    StructField("right", DoubleType, nullable = false),
    StructField("top", DoubleType, nullable = false)))
  def compute(v: Any): Any = {
    val t = TileId.unpack(v.asInstanceOf[Long])
    val b = Mercator.xyBounds(t.x, t.y, t.z)
    InternalRow(b.left, b.bottom, b.right, b.top)
  }
  override def prettyName: String = "tile_bounds_3857"
}

/** tile_geom(cell) → WKB rectangle of the tile's WGS84 bounds. */
case class TileGeom(child: Expression) extends GraftUnary {
  override def dataType: DataType = BinaryType
  def compute(v: Any): Any = {
    val t = TileId.unpack(v.asInstanceOf[Long])
    val (w, s, e, n) = Mercator.lngLatBounds(t.x, t.y, t.z)
    Geom.toWkb(Geom.polygonFromBounds(w, s, e, n))
  }
  override def prettyName: String = "tile_geom"
}

/** mercator_res(z) — meters/pixel (constants.py:25-29, bit-equal). */
case class MercatorRes(child: Expression) extends GraftUnary {
  override def dataType: DataType = DoubleType
  def compute(v: Any): Any = Mercator.resolution(v.asInstanceOf[Int])
  override def prettyName: String = "mercator_res"
}

/** st_morton(x, y) — Z-order interleave for write locality (SURVEY.md §4). */
case class StMorton(left: Expression, right: Expression) extends GraftBinary {
  override def dataType: DataType = LongType
  def compute(a: Any, b: Any): Any = Mercator.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def prettyName: String = "st_morton"
}

/** tiles_for(geom_wkb, zooms) — Generator exploding a geometry's bbox into
  * intersecting slippy tiles at each zoom, mercantile order (x outer,
  * y inner) — the batched cell encoding of the north rule. One row per
  * tile: (cell LONG, x LONG, y LONG, z INT). */
case class TilesFor(left: Expression, right: Expression)
    extends BinaryExpression with Generator with CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("z", IntegerType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val wkb = left.eval(input)
    val zoomsRaw = right.eval(input)
    if (wkb == null || zoomsRaw == null) return Nil
    val zooms = zoomsRaw.asInstanceOf[ArrayData].toIntArray().toSeq
    val bb = Geom.fromWkb(wkb.asInstanceOf[Array[Byte]]).bbox
    if (bb.xmin.isNaN) return Nil
    Mercator.tilesFor(bb.xmin, bb.ymin, bb.xmax, bb.ymax, zooms)
      .map(t => InternalRow(t.packed, t.x, t.y, t.z))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "tiles_for"
}

/** cell_ring(cell, r) — Generator for neighbor cells at Chebyshev rings
  * 0..r (kNN candidate expansion, SURVEY.md §2.4). Emits (cell, ring). */
case class CellRing(left: Expression, right: Expression)
    extends BinaryExpression with Generator with CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("ring", IntegerType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val cellRaw = left.eval(input)
    val rRaw = right.eval(input)
    if (cellRaw == null || rRaw == null) return Nil
    val t = TileId.unpack(cellRaw.asInstanceOf[Long])
    val rMax = rRaw.asInstanceOf[Int]
    (0 to rMax).flatMap(r => Mercator.ring(t, r).map(n => InternalRow(n.packed, r)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cell_ring"
}

/** grid_cells(geom, nx, ny) — N×M rectangular grid over a roi's bounds
  * (generate_tile_coordinates, vectors.py:99-127; linspace bounds, row-major
  * y-outer x-inner order — golden order at tests/test_geovector.py:312-325).
  * Emits (i INT, xmin, ymin, xmax, ymax DOUBLE, geom BINARY). */
case class GridCells(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Generator with CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false),
    StructField("cell_geom", BinaryType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val wkb = first.eval(input)
    val nxRaw = second.eval(input)
    val nyRaw = third.eval(input)
    if (wkb == null || nxRaw == null || nyRaw == null) return Nil
    val bb = Geom.fromWkb(wkb.asInstanceOf[Array[Byte]]).bbox
    val nx = nxRaw.asInstanceOf[Int]
    val ny = nyRaw.asInstanceOf[Int]
    // numpy.linspace semantics: n+1 evenly spaced edges incl. both ends
    def linspace(a: Double, b: Double, n: Int): Array[Double] =
      Array.tabulate(n + 1)(i => if (i == n) b else a + (b - a) * i / n)
    val xs = linspace(bb.xmin, bb.xmax, nx)
    val ys = linspace(bb.ymin, bb.ymax, ny)
    for {
      iy <- 0 until ny
      ix <- 0 until nx
    } yield {
      val (x0, x1) = (xs(ix), xs(ix + 1))
      val (y0, y1) = (ys(iy), ys(iy + 1))
      InternalRow(iy * nx + ix, x0, y0, x1, y1,
        Geom.toWkb(Geom.polygonFromBounds(x0, y0, x1, y1)))
    }
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
  override def prettyName: String = "grid_cells"
}
