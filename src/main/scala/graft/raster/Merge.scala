package graft.raster

import graft.core.Mercator

/** merge_all / merge_two semantics (georaster.py:95-450), ported rule-for-
  * rule: band strategies LEFT_ALL/INTERSECTION/UNION over an insertion-
  * ordered band set, pixel strategies FIRST (ordered first-non-masked wins)
  * and INDEX (source ordinal per pixel), nearest regrid of `other` onto the
  * target grid. */
object Merge {

  sealed trait MergeStrategy
  case object LeftAll extends MergeStrategy
  case object Intersection extends MergeStrategy
  case object Union extends MergeStrategy

  sealed trait PixelStrategy
  case object First extends PixelStrategy
  case object Index extends PixelStrategy

  /** _fill_pixels (georaster.py:322-365): write other's pixels only where
    * one is masked and other is not; single shared mask per raster. */
  def fillPixels(one: MRaster, other: MRaster): MRaster = {
    require(one.bandNames == other.bandNames,
      "rasters have no bands in common, use another merge strategy")
    val n = one.width * one.height
    val outMask = one.mask.clone()
    val out = one.image.map(_.clone())
    var i = 0
    while (i < n) {
      if (one.mask(i) && !other.mask(i)) {
        var b = 0
        while (b < out.length) { out(b)(i) = other.image(b)(i); b += 1 }
        outMask(i) = false
      }
      i += 1
    }
    one.copy(image = out, mask = outMask)
  }

  /** _stack_bands (georaster.py:368-398): band concat; mask = OR of the two
    * first-band masks, shared across all bands. */
  def stackBands(one: MRaster, other: MRaster): MRaster = {
    require(one.bandNames.intersect(other.bandNames).isEmpty,
      "rasters have the same bands, use another merge strategy")
    val mask = one.mask.zip(other.mask).map { case (a, b) => a || b }
    one.copy(image = one.image ++ other.image, mask = mask,
      bandNames = one.bandNames ++ other.bandNames)
  }

  /** nearest-neighbor regrid of `other` onto `target`'s grid (the
    * Resampling.nearest path of _prepare_other_raster /_reproject;
    * same-CRS only — cross-CRS golden parity is out of reference-test
    * scope for merge). Returns None when footprints are disjoint
    * (georaster.py:291-319). */
  def prepareOther(target: MRaster, other: MRaster): Option[MRaster] = {
    require(target.crs == other.crs, "merge regrid requires matching CRS here")
    if (target.affine == other.affine && target.width == other.width &&
        target.height == other.height) return Some(other)
    if (!target.footprint.bbox.intersects(other.footprint.bbox)) return None
    val inv = other.affine.inverse
    val n = target.width * target.height
    val img = Array.fill(other.numBands)(new Array[Double](n))
    val mask = Array.fill(n)(true)
    var r = 0
    while (r < target.height) {
      var c = 0
      while (c < target.width) {
        val (x, y) = target.affine(c + 0.5, r + 0.5)
        val sc = math.floor(inv.a * x + inv.b * y + inv.c).toInt
        val sr = math.floor(inv.d * x + inv.e * y + inv.f).toInt
        if (sc >= 0 && sc < other.width && sr >= 0 && sr < other.height &&
            !other.masked(sc, sr)) {
          val i = r * target.width + c
          var b = 0
          while (b < other.numBands) { img(b)(i) = other.get(b, sc, sr); b += 1 }
          mask(i) = false
        }
        c += 1
      }
      r += 1
    }
    Some(other.copy(image = img, mask = mask, width = target.width,
      height = target.height, affine = target.affine))
  }

  /** merge_all (georaster.py:131-184). `roi` = (minx,miny,maxx,maxy) in the
    * target CRS; resolution defaults to the first raster's. */
  def mergeAll(rasters: Seq[MRaster],
               roi: (Double, Double, Double, Double),
               destResolution: Option[(Double, Double)] = None,
               mergeStrategy: MergeStrategy = Union,
               pixelStrategy: PixelStrategy = First,
               crs: Option[Int] = None): MRaster = {
    val first = rasters.head
    val res = destResolution.getOrElse((first.resolution, first.resolution))
    val (sx, sy, affine) = Rasterize.rasterData(Some(roi), res, None, None)
    if (sx == 0 || sy == 0)
      throw new ScaleError("Scale is too coarse, decrease it for a bigger image")
    val empty = MRaster.filled(sx, sy, 0.0, first.bandNames, affine,
      crs.getOrElse(first.crs), first.dtype, first.nodata, allMasked = true)
    mergeOnGrid(empty, rasters, mergeStrategy, pixelStrategy)
  }

  /** merge onto an exact pre-built target grid (merge_two preserves `one`'s
    * affine/shape verbatim — georaster.py:401-450 one.copy_with — rather
    * than re-deriving a grid from footprint+resolution, which diverges for
    * non-square-pixel rasters; ADVICE.md r1). */
  def mergeOnGrid(empty: MRaster, rasters: Seq[MRaster],
                  mergeStrategy: MergeStrategy,
                  pixelStrategy: PixelStrategy): MRaster = {
    val first = rasters.head

    // band-set computation over insertion-ordered names (IndexedSet parity)
    var allBands = first.bandNames.toVector
    val projected = rasters.map { r =>
      val p = prepareOther(empty, r)
      p.foreach { pr =>
        mergeStrategy match {
          case Intersection => allBands = allBands.filter(pr.bandNames.contains)
          case Union => allBands = allBands ++ pr.bandNames.filterNot(allBands.contains)
          case LeftAll =>
        }
      }
      p
    }

    val pixelApplied: Seq[MRaster] = pixelStrategy match {
      case First => projected.flatten
      case Index => projected.zipWithIndex.collect { case (Some(r), ii) =>
        r.copy(image = r.image.map(_.map(_ => ii.toDouble)))
      }
    }

    // explode to single bands restricted to allBands, preserving order
    val singles = pixelApplied.flatMap { r =>
      r.bandNames.zipWithIndex.collect {
        case (bn, bi) if allBands.contains(bn) =>
          r.copy(image = Array(r.image(bi)), bandNames = Seq(bn))
      }
    }
    if (allBands.isEmpty || singles.isEmpty)
      throw new IllegalArgumentException(
        "result contains no bands, use another merge strategy")

    // _merge_common_bands: per band in first-seen order, ordered fill
    val seen = singles.map(_.bandNames.head).distinct
    val merged = seen.map { bn =>
      singles.filter(_.bandNames.head == bn).reduce(fillPixels)
    }
    val stacked = merged.reduce(stackBands)
    empty.copy(image = stacked.image, mask = stacked.mask,
      bandNames = stacked.bandNames)
  }

  /** merge_two (georaster.py:401-450): silent=true → return `one` when
    * disjoint, else raise. */
  def mergeTwo(one: MRaster, other: MRaster,
               mergeStrategy: MergeStrategy = Union,
               silent: Boolean = false,
               pixelStrategy: PixelStrategy = First): MRaster = {
    prepareOther(one, other) match {
      case None if silent => one
      case None => throw new IllegalArgumentException("rasters do not intersect")
      case Some(_) =>
        // target grid is exactly `one`'s grid (affine+shape), not a
        // rasterData re-derivation — preserves non-square/rotated pixels.
        val empty = one.copy(
          image = Array.fill(one.numBands)(new Array[Double](one.width * one.height)),
          mask = Array.fill(one.width * one.height)(true))
        mergeOnGrid(empty, Seq(one, other), mergeStrategy, pixelStrategy)
    }
  }
}

/** get_tile / get_window for WEB_MERCATOR rasters — the precise-window path
  * (georaster.py:2013-2036, 2038-2065). The cross-CRS path (crop+warp with
  * cubic_spline) is served by the closed-form reproject + this same window
  * code; cubic parity is documented approximate (SURVEY.md §2.10 risk 3). */
object TileServe {

  /** fully-masked 256² tile with the canonical affine when the tile misses
    * the footprint (georaster.py:2058-2065). */
  def emptyTile(raster: MRaster, x: Long, y: Long, z: Int): MRaster = {
    val b = Mercator.xyBounds(x, y, z)
    val res = Mercator.resolution(z)
    MRaster.filled(256, 256, 0.0, raster.bandNames,
      Affine(res, 0.0, b.left, 0.0, -res, b.top), 3857, raster.dtype,
      raster.nodata, allMasked = true)
  }

  def getTile(raster: MRaster, x: Long, y: Long, z: Int): MRaster = {
    require(raster.crs == 3857, "getTile precise path expects EPSG:3857")
    val bnd = Mercator.xyBounds(x, y, z)
    val fp = raster.footprint.bbox
    if (!fp.intersects(graft.core.Geom.BBox(bnd.left, bnd.bottom, bnd.right, bnd.top)))
      return emptyTile(raster, x, y, z)
    // window BEFORE rounding drives the affine (georaster.py:2030-2036)
    val w = Windows.fromBounds(bnd.left, bnd.bottom, bnd.right, bnd.top, raster.affine)
    val ratio = Mercator.resolution(z) / raster.resolution
    val winAffine = Affine(
      raster.affine.a, raster.affine.b,
      raster.affine.c + raster.affine.a * w.colOff + raster.affine.b * w.rowOff,
      raster.affine.d, raster.affine.e,
      raster.affine.f + raster.affine.d * w.colOff + raster.affine.e * w.rowOff)
      .scaled(ratio, ratio)
    val rw = Windows.Window(math.round(w.colOff).toDouble, math.round(w.rowOff).toDouble,
      math.round(w.width).toDouble, math.round(w.height).toDouble)
    getWindow(raster, rw, 256, 256, winAffine)
  }

  /** boundless windowed read with nearest out_shape resampling
    * (georaster.py:1945-2011 get_window, Resampling.nearest decimation). */
  def getWindow(raster: MRaster, w: Windows.Window, xsize: Int, ysize: Int,
                outAffine: Affine): MRaster = {
    val n = xsize * ysize
    val img = Array.fill(raster.numBands)(new Array[Double](n))
    val mask = Array.fill(n)(true)
    var r = 0
    while (r < ysize) {
      // nearest source row for this output row (decimation)
      val sr = math.floor(w.rowOff + (r + 0.5) * w.height / ysize).toInt
      var c = 0
      while (c < xsize) {
        val sc = math.floor(w.colOff + (c + 0.5) * w.width / xsize).toInt
        if (sc >= 0 && sc < raster.width && sr >= 0 && sr < raster.height &&
            !raster.masked(sc, sr)) {
          val i = r * xsize + c
          var b = 0
          while (b < raster.numBands) { img(b)(i) = raster.get(b, sc, sr); b += 1 }
          mask(i) = false
        }
        c += 1
      }
      r += 1
    }
    raster.copy(image = img, mask = mask, width = xsize, height = ysize,
      affine = outAffine)
  }
}
