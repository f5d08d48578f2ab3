package graft.raster

import graft.core.Geom
import graft.core.Geom.{Geometry, GPoint, GPolygon, GMultiPolygon, GCollection}

/** Affine transform, rasterio/affine-library convention:
  * x = a*col + b*row + c ; y = d*col + e*row + f
  * (`/root/reference/telluric/rasterization.py:43` builds
  * translation(minx,maxy)*scale(rx,-ry)). */
final case class Affine(a: Double, b: Double, c: Double,
                        d: Double, e: Double, f: Double) {
  def apply(colF: Double, rowF: Double): (Double, Double) =
    (a * colF + b * rowF + c, d * colF + e * rowF + f)
  /** inverse (for world→pixel, georaster.py:1760-1769 to_raster). */
  def inverse: Affine = {
    val det = a * e - b * d
    require(det != 0.0, "TransformNotInvertible")
    val (ia, ib, id_, ie) = (e / det, -b / det, -d / det, a / det)
    Affine(ia, ib, -(ia * c + ib * f), id_, ie, -(id_ * c + ie * f))
  }
  def scaled(sx: Double, sy: Double): Affine =
    Affine(a * sx, b * sy, c, d * sx, e * sy, f)
  /** resolution = sqrt(|det|) (georaster.py:582-583). */
  def resolution: Double = math.sqrt(math.abs(a * e - b * d))
  def toSeq: Seq[Double] = Seq(a, b, c, d, e, f)
}
object Affine {
  def translation(x: Double, y: Double): Affine = Affine(1, 0, x, 0, 1, y)
  def scale(sx: Double, sy: Double): Affine = Affine(sx, 0, 0, 0, sy, 0)
  /** translation(minx,maxy) * scale(rx,-ry) — the raster_data grid. */
  def northUp(minx: Double, maxy: Double, rx: Double, ry: Double): Affine =
    Affine(rx, 0, minx, 0, -ry, maxy)
}

/** Pixel dtypes (georaster.py:72-80) with rasterio's get_minimum_dtype rule
  * (rasterization.py:53-54). */
object Dtypes {
  val Ranges: Map[String, (Double, Double)] = Map(
    "uint8" -> (0d, 255d),
    "uint16" -> (0d, 65535d),
    "uint32" -> (0d, 4294967295d),
    "int8" -> (-128d, 127d),
    "int16" -> (-32768d, 32767d),
    "int32" -> (-2147483648d, 2147483647d),
    "float32" -> (-3.4028235e38, 3.4028235e38),
    "float64" -> (Double.MinValue, Double.MaxValue))

  def isInteger(dtype: String): Boolean = !dtype.startsWith("float")
  def max(dtype: String): Double = Ranges(dtype)._2
  def min(dtype: String): Double = Ranges(dtype)._1

  /** rasterio.dtypes.get_minimum_dtype for scalar values. */
  def getMinimumDtype(v: Double): String = {
    if (v == math.floor(v) && !v.isInfinite) {
      if (v >= 0) {
        if (v <= 255) "uint8" else if (v <= 65535) "uint16"
        else if (v <= 4294967295d) "uint32" else "float64"
      } else {
        if (v >= -32768) "int16" else if (v >= -2147483648d) "int32" else "float64"
      }
    } else "float32"
  }

  def clampToDtype(v: Double, dtype: String): Double = {
    val (lo, hi) = Ranges(dtype)
    val c = math.min(math.max(v, lo), hi)
    if (isInteger(dtype)) math.rint(c) else c
  }
}

/** ScaleError (rasterization.py:20-21): too coarse / too fine contracts. */
class ScaleError(msg: String) extends IllegalArgumentException(msg)

/** In-memory masked multiband raster — the kernel unit of the tile-relation
  * (one chunk = one MRaster). Pixel layout image(band)(row*width+col);
  * mask(row*width+col)=true ⇒ nodata (np.ma convention, one shared mask per
  * raster as rasterio enforces on save, georaster.py:962-969). */
final case class MRaster(
    image: Array[Array[Double]],
    mask: Array[Boolean],
    width: Int,
    height: Int,
    affine: Affine,
    crs: Int,
    bandNames: Seq[String],
    dtype: String,
    nodata: Option[Double]) {

  def numBands: Int = image.length
  def resolution: Double = affine.resolution

  def get(band: Int, col: Int, row: Int): Double = image(band)(row * width + col)
  def masked(col: Int, row: Int): Boolean = mask(row * width + col)

  /** world-space footprint rectangle (georaster.py:1735-1751). */
  def footprint: GPolygon = {
    val (x0, y0) = affine(0, 0)
    val (x1, y1) = affine(width.toDouble, height.toDouble)
    Geom.polygonFromBounds(math.min(x0, x1), math.min(y0, y1),
      math.max(x0, x1), math.max(y0, y1))
  }

  def numPixels: Long = width.toLong * height * numBands
  def numPixelsNodata: Long = mask.count(identity).toLong * numBands
  def numPixelsData: Long = numPixels - numPixelsNodata

  /** per-band stats over unmasked pixels (georaster.py:1773-1800). */
  def bandStats(band: Int): (Double, Double, Double, Long) = {
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var sum = 0.0; var n = 0L
    var i = 0
    while (i < mask.length) {
      if (!mask(i)) {
        val v = image(band)(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v; n += 1
      }
      i += 1
    }
    (mn, mx, sum, n)
  }

  /** Histogram: 256 bins for uint8, 65536 for uint16; other dtypes raise
    * (georaster.py:1802-1815). */
  def histogram(band: Int): Array[Long] = {
    val bins = dtype match {
      case "uint8" => 256
      case "uint16" => 65536
      case other => throw new IllegalArgumentException(
        s"histogram supported only for uint8/uint16, got $other")
    }
    val h = new Array[Long](bins)
    var i = 0
    while (i < mask.length) {
      if (!mask(i)) h(image(band)(i).toInt) += 1
      i += 1
    }
    h
  }

  /** astype with range stretch (georaster.py:1116-1195, rules verbatim). */
  def astype(dstType: String,
             inRange: Either[String, (Double, Double)] = Left("dtype"),
             outRange: Either[String, (Double, Double)] = Left("dtype"),
             clipNegative: Boolean = false): MRaster = {
    val srcType = dtype
    val inR = if (!Dtypes.isInteger(srcType) && inRange == Left("dtype")) Left("image") else inRange
    if (!Dtypes.isInteger(dstType) && outRange == Left("dtype"))
      throw new IllegalArgumentException(
        "out_range 'dtype' is supported only for integer type")
    if (dstType == srcType && inR == Left("dtype") && outRange == Left("dtype")) return this

    val (omin0, omax) = outRange match {
      case Left("dtype") => (Dtypes.min(dstType), Dtypes.max(dstType))
      case Right((lo, hi)) => (lo, hi)
      case _ => sys.error("bad out_range")
    }
    val omin = if (clipNegative && omin0 < 0) 0.0 else omin0
    val (imin, imax) = inR match {
      case Left("dtype") => (Dtypes.min(srcType), Dtypes.max(srcType))
      case Left("image") =>
        val stats = (0 until numBands).map(bandStats)
        (stats.map(_._1).min, stats.map(_._2).max)
      case Right((lo, hi)) => (lo, hi)
      case _ => sys.error("bad in_range")
    }
    val gain = if (imin == imax) 0.0 else (omax - omin) / (imax - imin)
    val out = image.map(_.map { v =>
      val s = gain * (v - imin) + omin
      val c = math.min(math.max(s, omin), omax)
      if (Dtypes.isInteger(dstType)) c.toLong.toDouble else c
    })
    copy(image = out, dtype = dstType)
  }

  /** colorize: single band through a value→(r,g,b) LUT (georaster.py:2093-2146). */
  def colorize(lut: Double => (Int, Int, Int)): MRaster = {
    require(numBands == 1, "colorize expects a single band")
    val r = new Array[Double](width * height)
    val g = new Array[Double](width * height)
    val b = new Array[Double](width * height)
    var i = 0
    while (i < mask.length) {
      if (!mask(i)) {
        val (rr, gg, bb) = lut(image(0)(i))
        r(i) = rr; g(i) = gg; b(i) = bb
      }
      i += 1
    }
    MRaster(Array(r, g, b), mask.clone(), width, height, affine, crs,
      Seq("red", "green", "blue"), "uint8", nodata)
  }

  /** world↔pixel (georaster.py:1760-1769). */
  def toRaster(x: Double, y: Double): (Double, Double) = {
    val inv = affine.inverse
    val (cf, rf) = (inv.a * x + inv.b * y + inv.c, inv.d * x + inv.e * y + inv.f)
    (cf, rf)
  }

  /** pixel values at a world point (georaster.py:1094-1105): floor of the
    * fractional pixel index. */
  def getAtPoint(x: Double, y: Double): Option[Seq[Double]] = {
    val (cf, rf) = toRaster(x, y)
    val (c, r) = (math.floor(cf).toInt, math.floor(rf).toInt)
    if (c < 0 || c >= width || r < 0 || r >= height || masked(c, r)) None
    else Some((0 until numBands).map(b => get(b, c, r)))
  }
}

object MRaster {
  def filled(width: Int, height: Int, value: Double, bands: Seq[String],
             affine: Affine, crs: Int, dtype: String, nodata: Option[Double],
             allMasked: Boolean = false): MRaster =
    MRaster(Array.fill(bands.size)(Array.fill(width * height)(value)),
      Array.fill(width * height)(allMasked), width, height, affine, crs,
      bands, dtype, nodata)
}

/** Window math with rasterio's rounding contract
  * (georaster.py:1216-1249 _window/_vector_to_raster_bounds). */
object Windows {
  final case class Window(colOff: Double, rowOff: Double, width: Double, height: Double)

  /** python round(x, 3) — HALF_EVEN at 3 decimals. */
  def pyRound3(x: Double): Double =
    BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** rasterio windows.from_bounds on a north-up affine. */
  def fromBounds(left: Double, bottom: Double, right: Double, top: Double,
                 affine: Affine): Window = {
    val inv = affine.inverse
    def px(x: Double, y: Double): (Double, Double) =
      (inv.a * x + inv.b * y + inv.c, inv.d * x + inv.e * y + inv.f)
    val (c0, r0) = px(left, top)
    val (c1, r1) = px(right, bottom)
    Window(c0, r0, c1 - c0, r1 - r0)
  }

  /** round_offsets(pixel_precision=3, op=floor) then round_shape(op=ceil)
    * — georaster.py:1223-1225 exactly. */
  def rounded(w: Window): Window =
    Window(math.floor(pyRound3(w.colOff)), math.floor(pyRound3(w.rowOff)),
      math.ceil(pyRound3(w.width)), math.ceil(pyRound3(w.height)))

  /** _vector_to_raster_bounds clamped variant (georaster.py:1228-1249). */
  def vectorToRasterBounds(bounds: (Double, Double, Double, Double),
                           affine: Affine, rasterW: Int, rasterH: Int,
                           boundless: Boolean): Window = {
    val w0 = rounded(fromBounds(bounds._1, bounds._2, bounds._3, bounds._4, affine))
    val (xmin, ymin, xmax, ymax) =
      (w0.colOff, w0.rowOff, w0.colOff + w0.width, w0.rowOff + w0.height)
    if (boundless) Window(xmin, ymin, xmax - xmin, ymax - ymin)
    else {
      val left = math.max(0.0, xmin)
      val bottom = math.max(0.0, ymin)
      val right = math.min(rasterW.toDouble, xmax)
      val top = math.min(rasterH.toDouble, ymax)
      Window(left, bottom, right - left, top - bottom)
    }
  }
}

/** rasterize (rasterization.py:24-100, rules verbatim; burn kernel =
  * pixel-center-in-polygon ray-cast — GDAL's default polygon fill rule). */
object Rasterize {
  val NodataValue = 0.0
  val FillValue = 1.0
  /** pixel budget standing in for the MemoryError→"too fine" contract. */
  val MaxPixels: Long = 512L * 1024 * 1024

  def rasterData(bounds: Option[(Double, Double, Double, Double)],
                 destResolution: (Double, Double),
                 shape: Option[(Int, Int)],
                 ulCorner: Option[(Double, Double)]): (Int, Int, Affine) = {
    val (rx, ry) = destResolution
    bounds match {
      case Some((minx, miny, maxx, maxy)) =>
        val sxD = math.rint((maxx - minx) / rx)
        val syD = math.rint((maxy - miny) / ry)
        if (sxD * syD > MaxPixels.toDouble)
          throw new ScaleError("Scale is too fine, increase it for a smaller image")
        (sxD.toInt, syD.toInt, Affine.northUp(minx, maxy, rx, ry))
      case None =>
        (shape, ulCorner) match {
          case (Some((sx, sy)), Some((minx, maxy))) =>
            (sx, sy, Affine.northUp(minx, maxy, rx, ry))
          case _ => throw new IllegalArgumentException(
            "Either bounds or shape + ul_corner must be specified")
        }
    }
  }

  def rasterize(shapes: Seq[Geometry],
                crs: Int,
                bounds: Option[(Double, Double, Double, Double)],
                destResolution: (Double, Double),
                fillValue: Option[Double] = None,
                bandNames: Seq[String] = Seq("1"),
                dtypeOpt: Option[String] = None,
                shape: Option[(Int, Int)] = None,
                ulCorner: Option[(Double, Double)] = None): MRaster = {
    val fill = fillValue.getOrElse(FillValue)
    val dtype = dtypeOpt.getOrElse(Dtypes.getMinimumDtype(fill))
    var nodata = NodataValue
    val (sx, sy, affine) = rasterData(bounds, destResolution, shape, ulCorner)
    if (fill == nodata) {
      nodata = if (Dtypes.isInteger(dtype)) Dtypes.max(dtype) - nodata
               else Dtypes.max(dtype) - nodata
    }
    if (sx == 0 || sy == 0)
      throw new ScaleError("Scale is too coarse, decrease it for a bigger image")
    if (sx.toLong * sy > MaxPixels)
      throw new ScaleError("Scale is too fine, increase it for a smaller image")

    if (shapes.isEmpty) {
      // all-nodata image, fully masked via nodata (rasterization.py:85-86)
      val r = MRaster.filled(sx, sy, nodata, bandNames, affine, crs, dtype, Some(nodata))
      r.copy(mask = Array.fill(sx * sy)(true))
    } else {
      val data = Array.fill(sx * sy)(nodata)
      shapes.foreach(g => burn(g, data, sx, sy, affine, fill))
      val mask = data.map(_ == nodata)
      MRaster(Array.fill(bandNames.size)(data.clone()), mask, sx, sy, affine,
        crs, bandNames, dtype, Some(nodata))
    }
  }

  /** burn one geometry: polygons by pixel-center test, points by containing
    * pixel (GDAL rasterize default semantics). */
  private def burn(g: Geometry, data: Array[Double], sx: Int, sy: Int,
                   affine: Affine, fill: Double): Unit = g match {
    case GPoint(x, y) =>
      val inv = affine.inverse
      val c = math.floor(inv.a * x + inv.b * y + inv.c).toInt
      val r = math.floor(inv.d * x + inv.e * y + inv.f).toInt
      if (c >= 0 && c < sx && r >= 0 && r < sy) data(r * sx + c) = fill
    case p: GPolygon => burnPolygon(p, data, sx, sy, affine, fill)
    case m: GMultiPolygon => m.polys.foreach(burnPolygon(_, data, sx, sy, affine, fill))
    case c: GCollection => c.geoms.foreach(burn(_, data, sx, sy, affine, fill))
    case other =>
      // lines/multipoints arrive polygonized in the reference pipeline
      // (collections.py:265-267); burn vertices as points for completeness.
      Geom.transform(other, (x, y) => { burn(GPoint(x, y), data, sx, sy, affine, fill); (x, y) })
  }

  private def burnPolygon(p: GPolygon, data: Array[Double], sx: Int, sy: Int,
                          affine: Affine, fill: Double): Unit = {
    if (p.isEmpty) return
    val bb = p.bbox
    val inv = affine.inverse
    // pixel range covering the bbox (north-up affine assumed: e < 0)
    val cMin = math.max(0, math.floor(inv.a * bb.xmin + inv.c).toInt)
    val cMax = math.min(sx - 1, math.ceil(inv.a * bb.xmax + inv.c).toInt)
    val rMin = math.max(0, math.floor(inv.e * bb.ymax + inv.f).toInt)
    val rMax = math.min(sy - 1, math.ceil(inv.e * bb.ymin + inv.f).toInt)
    var r = rMin
    while (r <= rMax) {
      val (_, yc) = affine(0.5, r + 0.5)
      var c = cMin
      while (c <= cMax) {
        val (xc, _) = affine(c + 0.5, r + 0.5)
        if (Geom.polygonContains(xc, yc, p)) data(r * sx + c) = fill
        c += 1
      }
      r += 1
    }
  }
}
