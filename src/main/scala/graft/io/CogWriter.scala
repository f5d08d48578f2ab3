package graft.io

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import graft.raster.{MRaster, Reproject, Resample, RasterArtifact}

/** Single-file Cloud-Optimized GeoTIFF writer — `save_cloud_optimized`
  * parity (georaster.py:1923-1943; layout contract = the checks of the
  * GDAL validator the reference vendors,
  * tests/util/validate_cloud_optimized_geotiff.py, ported to
  * [[CogValidator]]):
  *
  *  - classic little-endian TIFF, main IFD at byte 8;
  *  - 256² Deflate tiles (tags 322/323/324/325) for the main image and
  *    every overview;
  *  - overview IFDs (NewSubfileType 254 = 1) chained after the main IFD in
  *    DESCENDING size order, all IFDs and their external values written
  *    before any pixel data;
  *  - internal per-dataset mask IFDs (NewSubfileType = 4 full-res,
  *    5 per overview; 1-bit, PhotometricInterpretation = 4 —
  *    GDAL_TIFF_INTERNAL_MASK layout, bit 1 = valid) carrying
  *    `MRaster.mask` and its overview downsamples;
  *  - pixel data ordered smallest-overview → … → largest-overview → main
  *    image LAST (mask tiles first), so a range reader fetching the head
  *    of the file gets every IFD plus the low-resolution pyramid;
  *  - overview factors follow `_calc_overviews_factors`
  *    (util/raster_utils.py) via [[RasterArtifact.overviewFactors]];
  *    overview resampling = cubic (this engine's documented default for
  *    the reference's gauss).
  *
  * `GeoTiffIO.read(write(r)) ≡ r` on the main image incl. the mask. */
object CogWriter {

  val BlockSize = 256

  /** 1-bit mask tile, MSB-first fill order, bit 1 = VALID (GDAL mask). */
  private def maskTile(r: MRaster, tx: Int, ty: Int, tw: Int, th: Int): Array[Byte] = {
    val rowBytes = (tw + 7) / 8
    val raw = new Array[Byte](rowBytes * th)
    var row = 0
    while (row < th) {
      val gy = ty * th + row
      var c = 0
      while (c < tw) {
        val gx = tx * tw + c
        val valid = gx < r.width && gy < r.height && !r.mask(gy * r.width + gx)
        if (valid)
          raw(row * rowBytes + (c >> 3)) =
            (raw(row * rowBytes + (c >> 3)) | (0x80 >> (c & 7))).toByte
        c += 1
      }
      row += 1
    }
    Tiff.deflate(raw)
  }

  def write(r: MRaster, path: String, blocksize: Int = BlockSize): Unit =
    writeLayout(r, path, blocksize, cogDataOrder = true)

  /** test hook: `cogDataOrder = false` writes the SAME IFDs but puts the
    * main image's data FIRST — a structurally valid TIFF that violates the
    * COG data-ordering contract, proving the validator's ordering checks
    * are not vacuous. */
  private[io] def writeLayout(r: MRaster, path: String, blocksize: Int,
                              cogDataOrder: Boolean): Unit = {
    val tw = blocksize
    val th = blocksize

    // overview pyramid, cubic-resampled, DESCENDING size
    val factors = RasterArtifact.overviewFactors(r, blocksize)
    val overviews = factors.map { f =>
      Reproject.reproject(r,
        dimensions = Some(((r.width + f - 1) / f, (r.height + f - 1) / f)),
        resampling = Resample.Cubic)
    }

    def tilesOf(lvl: MRaster)(tile: (Int, Int) => Array[Byte]): Seq[Array[Byte]] = {
      val ta = (lvl.width + tw - 1) / tw
      val td = (lvl.height + th - 1) / th
      (0 until td).flatMap(ty => (0 until ta).map(tx => tile(tx, ty)))
    }
    // dims, Deflate, tile size. Dims as LONG (TIFF allows SHORT or LONG):
    // a pyramided raster routinely exceeds 65535 px and a SHORT would
    // silently wrap
    def tileEntries(lvl: MRaster): Seq[Tiff.Entry] = Seq(
      Tiff.longs(256, lvl.width.toLong),
      Tiff.longs(257, lvl.height.toLong),
      Tiff.shorts(259, 8),
      Tiff.shorts(322, tw),
      Tiff.shorts(323, th))

    def imageIfd(lvl: MRaster, isOverview: Boolean): Tiff.Ifd = Tiff.Ifd(
      (if (isOverview) Seq(Tiff.longs(254, 1L)) else Tiff.geoEntries(r)) ++
        tileEntries(lvl) ++ Tiff.sampleEntries(lvl),
      tilesOf(lvl)((tx, ty) => Tiff.deflate(Tiff.chunky(lvl, tx * tw, ty * th, tw, th))),
      tiled = true)
    // subfileType 4 = mask of the full-res image; 5 = FILETYPE_REDUCEDIMAGE
    // | FILETYPE_MASK — mask of an overview (GDAL internal-mask layout)
    def maskIfd(lvl: MRaster, subfileType: Long): Tiff.Ifd = Tiff.Ifd(
      Seq(Tiff.longs(254, subfileType),
        Tiff.shorts(258, 1),
        Tiff.shorts(262, 4),
        Tiff.shorts(277, 1),
        Tiff.shorts(284, 1),
        Tiff.shorts(339, 1)) ++ tileEntries(lvl),
      tilesOf(lvl)((tx, ty) => maskTile(lvl, tx, ty, tw, th)),
      tiled = true)

    // chain order = main, overviews (descending), full-res mask, overview
    // masks (the GDAL internal-mask IFD layout)
    val nOvr = overviews.length
    val ifds: Seq[Tiff.Ifd] =
      (imageIfd(r, isOverview = false) +: overviews.map(imageIfd(_, isOverview = true))) ++
        (maskIfd(r, 4L) +: overviews.map(maskIfd(_, 5L)))

    // layout: [header][IFD blocks in chain order][all mask data]
    //         [smallest-ovr data]…[largest-ovr data][main data]
    // data write order by IFD index: masks first, then overviews reversed
    // (smallest first), then main (index 0) LAST
    val dataOrder: Seq[Int] =
      if (cogDataOrder) (nOvr + 1 until ifds.length) ++ (nOvr to 1 by -1) ++ Seq(0)
      else Seq(0) ++ (nOvr + 1 until ifds.length) ++ (nOvr to 1 by -1)
    Tiff.write(path, ifds, dataOrder)
  }
}

/** Scala port of the structural checks in the GDAL COG validator the
  * reference vendors (tests/util/validate_cloud_optimized_geotiff.py):
  * returns the error list (empty = valid). Reads only IFD metadata. */
object CogValidator {

  /** (NewSubfileType, width, height) per chained IFD — spec hook for
    * asserting the main/overview/mask IFD inventory. A truncated or
    * corrupt file throws IllegalArgumentException. */
  def ifdSummary(path: String): Seq[(Long, Int, Int)] =
    chainOf(Tiff.open(Files.readAllBytes(Paths.get(path))))
      .map(i => (i.subfileType, i.width, i.height))

  /** A file that is not a TIFF, or whose IFDs are truncated or corrupt,
    * yields that one error. */
  def validate(path: String): Seq[String] =
    try check(Tiff.open(Files.readAllBytes(Paths.get(path))))
    catch { case e: IllegalArgumentException => Seq(e.getMessage) }

  private final case class IfdInfo(offset: Long, subfileType: Long, width: Int,
                                   height: Int, tiled: Boolean, firstBlock: Long,
                                   next: Long)

  private def chainOf(buf: ByteBuffer): Vector[IfdInfo] =
    Tiff.ifdChain(buf).map { d =>
      def one(t: Int): Long = Tiff.first(buf, d.tags, t, 0L)
      IfdInfo(d.offset, one(254), one(256).toInt, one(257).toInt, d.tags.contains(322),
        d.tags.get(324).orElse(d.tags.get(273))
          .flatMap(Tiff.values(buf, _).headOption).getOrElse(-1L),
        d.next)
    }.toVector

  private def check(buf: ByteBuffer): Seq[String] = {
    val errors = Seq.newBuilder[String]
    val mainIfdOffset = buf.getInt(4) & 0xFFFFFFFFL
    if (mainIfdOffset != 8)
      errors += s"The offset of the main IFD should be 8 for ClassicTIFF. It is $mainIfdOffset instead"

    val chain = chainOf(buf)
    if (chain.isEmpty) return Seq("no IFD found")
    // the chain walk stops where a next-IFD pointer revisits an IFD
    if (chain.last.next != 0)
      errors += s"The IFD chain loops: the IFD at ${chain.last.offset} points back to ${chain.last.next}"

    val main = chain.head
    // masks (bit 4 of NewSubfileType) are excluded from overview ordering,
    // exactly as the GDAL validator walks band overviews only
    val overviews = chain.tail.filter(i => (i.subfileType & 4L) == 0L)

    if (main.width >= 512 || main.height >= 512) {
      if (!main.tiled)
        errors += "The file is greater than 512xH or Wx512, but is not tiled"
      if (overviews.isEmpty)
        errors += "The file is greater than 512xH or Wx512, but has no overviews"
    }

    // overviews by descending size; IFD offsets strictly increasing
    overviews.zipWithIndex.foreach { case (ovr, i) =>
      val prev = if (i == 0) main else overviews(i - 1)
      if (ovr.width > prev.width || ovr.height > prev.height)
        errors += (if (i == 0) "First overview has larger dimension than main band"
        else s"Overview of index $i has larger dimension than overview of index ${i - 1}")
      if (!ovr.tiled) errors += s"Overview of index $i is not tiled"
      if (ovr.offset < prev.offset)
        errors += s"The offset of the IFD for overview of index $i is ${ovr.offset}, " +
          s"whereas it should be greater than the previous one at ${prev.offset}"
    }

    // imagery starts with the smallest overview and ends with the main image
    val dataOffsets = main.firstBlock +: overviews.map(_.firstBlock)
    val lastIfdOffset = (main +: overviews).map(_.offset).max
    if (dataOffsets.last < lastIfdOffset)
      errors += (if (overviews.nonEmpty)
        "The offset of the first block of the smallest overview should be after its IFD"
      else "The offset of the first block of the image should be after its IFD")
    (dataOffsets.length - 2 to 1 by -1).foreach { i =>
      if (dataOffsets(i) < dataOffsets(i + 1))
        errors += s"The offset of the first block of overview of index ${i - 1} " +
          s"should be after the one of the overview of index $i"
    }
    if (dataOffsets.length >= 2 && dataOffsets(0) < dataOffsets(1))
      errors += "The offset of the first block of the main resolution image " +
        s"should be after the one of the overview of index ${overviews.length - 1}"

    errors.result()
  }
}
