package graft.io

import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.file.{Files, Paths}

import graft.raster.{Affine, MRaster}

/** GeoTIFF reader — GeoRaster2.open on real raster files
  * (`/root/reference/telluric/georaster.py:655-685` open;
  * `util/raster_utils.py` tags). Pure-JVM baseline-TIFF decode from the
  * public specs (TIFF 6.0, GeoTIFF 1.1 / OGC 19-008r4); the IFD parse is
  * [[Tiff]]'s:
  *
  *  - geo-referencing: ModelPixelScale (33550) + ModelTiepoint (33922) →
  *    north-up affine; GeoKeyDirectory (34735) → EPSG (ProjectedCSType 3072
  *    falling back to GeographicType 2048);
  *  - pixels: strip or tile organization, chunky (planar=1) or planar (2),
  *    compression 1 (none) and 8/32946 (Deflate, java.util.zip) decoded
  *    natively with horizontal-predictor (tag 317=2) support; anything else
  *    falls back to the JDK's ImageIO TIFF plugin (LZW/PackBits/JPEG);
  *  - dtype from BitsPerSample × SampleFormat; GDAL_NODATA (42113) parsed
  *    and applied as the mask (all-bands-equal-nodata ⇒ masked — the
  *    dataset-mask semantics GeoRaster2.open produces);
  *  - GDAL band-name metadata (42112 `<Item name="band_names">`) honored.
  *
  * Scale posture: a GeoTIFF is an unsplittable artifact read on the driver
  * or one task (like the reference's single-process open); the distributed
  * form is `RasterRelation`/`RasterArtifact` chunk tables this raster feeds.
  */
object GeoTiffIO {

  /** One IFD entry as [[Tiff]] parses it: `data` holds its value bytes. */
  final case class Tag(ttype: Int, count: Int, valueOffset: Long, data: Array[Byte])

  /** Open a GeoTIFF. A truncated or structurally-corrupt file fails with
    * IllegalArgumentException naming the file — the reader's internals
    * index the mapped bytes directly (hot decode loops), so the error
    * contract is enforced at this boundary rather than per access. */
  def read(path: String, bandNames: Seq[String] = Nil): MRaster =
    try readImpl(path, bandNames)
    catch {
      case e @ (_: IndexOutOfBoundsException | _: BufferUnderflowException |
                _: NegativeArraySizeException) =>
        throw new IllegalArgumentException(
          s"truncated or corrupt TIFF '$path' (${e.getClass.getSimpleName}" +
            s" while decoding)", e)
    }

  private def readImpl(path: String, bandNames: Seq[String]): MRaster = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val buf = Tiff.open(bytes)
    val chain = Tiff.ifdChain(buf)
    require(chain.hasNext, "no IFD found")
    val tags = chain.next().tags

    def short1(t: Int, dflt: Long = -1): Long = Tiff.first(buf, tags, t, dflt)
    val w = short1(256).toInt
    val h = short1(257).toInt
    val spp = short1(277, 1).toInt
    val bits = tags.get(258).map(v => Tiff.values(buf, v)).getOrElse(Seq(8L))
    val sampleFmt = tags.get(339).map(v => Tiff.values(buf, v)).getOrElse(Seq(1L))
    val compression = short1(259, 1).toInt
    val planar = short1(284, 1).toInt
    val predictor = short1(317, 1).toInt

    val dtype = Tiff.dtypeOf(sampleFmt.head.toInt, bits.head.toInt)
    val bytesPerSample = bits.head.toInt / 8

    // ---- pixels
    val image = Array.fill(spp)(new Array[Double](w * h))
    val decodedNatively = compression match {
      case 1 | 8 | 32946 =>
        decodeStripsOrTiles(buf, bytes, tags, w, h, spp, bytesPerSample,
          dtype, compression, planar, predictor, image)
        true
      case _ => false
    }
    if (!decodedNatively) decodeViaImageIO(path, bytes, w, h, spp, image)

    // ---- geo-referencing
    val affine = Tiff.affineOf(buf, tags)
      .getOrElse(Affine.northUp(0, h, 1, 1)) // ungeoreferenced: pixel grid
    val crs = Tiff.epsgOf(buf, tags).getOrElse(0)
    val nodata = tags.get(42113).map(v => Tiff.asciiValue(v).trim).filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)

    // mask: an internal per-dataset mask IFD (GDAL_TIFF_INTERNAL_MASK — a
    // chained IFD with NewSubfileType bit 4, 1-bit samples, bit 1 = valid;
    // the COG writer emits one) takes precedence; otherwise the
    // all-bands-equal-nodata heuristic
    val mask = internalMask(buf, bytes, chain, w, h).getOrElse {
      val m = new Array[Boolean](w * h)
      nodata.foreach { nd =>
        var i = 0
        while (i < w * h) {
          var allNd = true
          var b = 0
          while (allNd && b < spp) { allNd = image(b)(i) == nd; b += 1 }
          m(i) = allNd
          i += 1
        }
      }
      m
    }

    val names =
      if (bandNames.nonEmpty) { require(bandNames.length == spp); bandNames }
      else gdalBandNames(tags).getOrElse((0 until spp).map(_.toString))
    MRaster(image, mask, w, h, affine, crs, names, dtype, nodata)
  }

  // ------------------------------------------------------------- internals

  /** Geo-referencing tags only, from a TIFF that may carry no image data at
    * all — the GeoJP2 convention (a JP2 `uuid` box holding a DEGENERATE
    * GeoTIFF whose sole purpose is ModelPixelScale/ModelTiepoint/GeoKeys;
    * the image tags describe a 1×1 dummy). [[Jp2Decoder]] feeds that
    * embedded TIFF here; `readImpl` would choke on the missing strips. */
  private[io] def geoFromTiffBytes(tiff: Array[Byte]): (Option[Affine], Option[Int]) = {
    val buf = Tiff.open(tiff)
    val chain = Tiff.ifdChain(buf)
    require(chain.hasNext, "embedded GeoJP2 payload has no IFD")
    val tags = chain.next().tags
    (Tiff.affineOf(buf, tags), Tiff.epsgOf(buf, tags))
  }

  /** Decode the full-resolution internal mask IFD if one is chained after
    * the main IFD (`rest`): returns masked-flags (true = INVALID; the
    * on-disk bit is 1 = valid). */
  private def internalMask(buf: ByteBuffer, bytes: Array[Byte],
                           rest: Iterator[Tiff.Dir], w: Int, h: Int): Option[Array[Boolean]] = {
    while (rest.hasNext) {
      val tags = rest.next().tags
      def one(t: Int, dflt: Long = 0L): Long = Tiff.first(buf, tags, t, dflt)
      val sub = one(254)
      // only codecs this reader decodes natively (none / Deflate) — a
      // foreign LZW/PackBits mask IFD falls through to the nodata
      // heuristic instead of crashing the open
      val maskComp = one(259, 1).toInt
      if ((sub & 4L) != 0L && one(256).toInt == w && one(257).toInt == h &&
        tags.contains(322) && one(258, 1) == 1L &&
        (maskComp == 1 || maskComp == 8 || maskComp == 32946)) {
        val tw = one(322).toInt
        val th = one(323).toInt
        val offs = Tiff.values(buf, tags(324))
        val lens = Tiff.values(buf, tags(325))
        val comp = one(259, 1).toInt
        val rowBytes = (tw + 7) / 8
        val tilesAcross = (w + tw - 1) / tw
        val m = Array.fill(w * h)(true)
        offs.indices.foreach { ti =>
          val raw = java.util.Arrays.copyOfRange(
            bytes, offs(ti).toInt, (offs(ti) + lens(ti)).toInt)
          val seg = if (comp == 1) raw else Tiff.inflate(raw, rowBytes * th)
          val tx = (ti % tilesAcross) * tw
          val ty = (ti / tilesAcross) * th
          var r = 0
          while (r < th && ty + r < h) {
            var c = 0
            while (c < tw && tx + c < w) {
              val bit = (seg(r * rowBytes + (c >> 3)) >> (7 - (c & 7))) & 1
              m((ty + r) * w + (tx + c)) = bit == 0
              c += 1
            }
            r += 1
          }
        }
        return Some(m)
      }
    }
    None
  }

  private def gdalBandNames(tags: Map[Int, Tag]): Option[Seq[String]] =
    tags.get(42112).map(Tiff.asciiValue).flatMap { xml =>
      val m = """name="band_names"[^>]*>\[(.*?)\]""".r.findFirstMatchIn(xml)
      m.map(_.group(1).split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq)
    }

  private def decodeStripsOrTiles(buf: ByteBuffer, bytes: Array[Byte],
      tags: Map[Int, Tag], w: Int, h: Int, spp: Int, bps: Int, dtype: String,
      compression: Int, planar: Int, predictor: Int,
      image: Array[Array[Double]]): Unit = {

    def segment(off: Long, len: Long, expected: Int): Array[Byte] = {
      val raw = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
      if (compression == 1) raw else Tiff.inflate(raw, expected)
    }

    def sampleAt(seg: Array[Byte], idx: Int): Double = {
      val b = ByteBuffer.wrap(seg).order(buf.order())
      dtype match {
        case "uint8" => (seg(idx) & 0xFF).toDouble
        case "uint16" => (b.getShort(2 * idx) & 0xFFFF).toDouble
        case "uint32" => (b.getInt(4 * idx) & 0xFFFFFFFFL).toDouble
        case "int16" => b.getShort(2 * idx).toDouble
        case "int32" => b.getInt(4 * idx).toDouble
        case "float32" => b.getFloat(4 * idx).toDouble
        case "float64" => b.getDouble(8 * idx)
      }
    }

    def undoPredictor(seg: Array[Byte], rowBytes: Int, samplesPerPixel: Int): Unit =
      if (predictor == 2 && bps == 1) {
        var r = 0
        while (r * rowBytes < seg.length) {
          val base = r * rowBytes
          var i = samplesPerPixel
          while (i < rowBytes && base + i < seg.length) {
            seg(base + i) = (seg(base + i) + seg(base + i - samplesPerPixel)).toByte
            i += 1
          }
          r += 1
        }
      }

    if (tags.contains(322)) {
      // tiled layout
      val tw = Tiff.values(buf, tags(322)).head.toInt
      val th = Tiff.values(buf, tags(323)).head.toInt
      val offs = Tiff.values(buf, tags(324))
      val lens = Tiff.values(buf, tags(325))
      val tilesAcross = (w + tw - 1) / tw
      val tilesDown = (h + th - 1) / th
      val tilesPerBand = tilesAcross * tilesDown
      offs.indices.foreach { ti =>
        val bandBase = if (planar == 2) ti / tilesPerBand else 0
        val t = if (planar == 2) ti % tilesPerBand else ti
        val tx = (t % tilesAcross) * tw
        val ty = (t / tilesAcross) * th
        val sppSeg = if (planar == 2) 1 else spp
        val expect = tw * th * sppSeg * bps
        val seg = segment(offs(ti), lens(ti), expect)
        undoPredictor(seg, tw * sppSeg * bps, sppSeg)
        var r = 0
        while (r < th && ty + r < h) {
          var c = 0
          while (c < tw && tx + c < w) {
            val dst = (ty + r) * w + (tx + c)
            var s = 0
            while (s < sppSeg) {
              image(bandBase + s)(dst) = sampleAt(seg, (r * tw + c) * sppSeg + s)
              s += 1
            }
            c += 1
          }
          r += 1
        }
      }
    } else {
      val rowsPerStrip = tags.get(278).map(t => Tiff.values(buf, t).head.toInt).getOrElse(h)
      val offs = Tiff.values(buf, tags(273))
      val lens = Tiff.values(buf, tags(279))
      val stripsPerBand = (h + rowsPerStrip - 1) / rowsPerStrip
      offs.indices.foreach { si =>
        val bandBase = if (planar == 2) si / stripsPerBand else 0
        val strip = if (planar == 2) si % stripsPerBand else si
        val y0 = strip * rowsPerStrip
        val rows = math.min(rowsPerStrip, h - y0)
        val sppSeg = if (planar == 2) 1 else spp
        val expect = rows * w * sppSeg * bps
        val seg = segment(offs(si), lens(si), expect)
        undoPredictor(seg, w * sppSeg * bps, sppSeg)
        var r = 0
        while (r < rows) {
          var c = 0
          while (c < w) {
            val dst = (y0 + r) * w + c
            var s = 0
            while (s < sppSeg) {
              image(bandBase + s)(dst) = sampleAt(seg, (r * w + c) * sppSeg + s)
              s += 1
            }
            c += 1
          }
          r += 1
        }
      }
    }
  }

  /** fallback pixel decode via the JDK TIFF ImageIO plugin (LZW, PackBits,
    * JPEG-in-TIFF). Geo tags still come from the manual IFD parse. The
    * plugin reports a truncated strip as an IOException (EOFException,
    * IIOException); only that call is guarded, so a missing file's
    * NoSuchFileException from `readImpl` still surfaces as itself. */
  private def decodeViaImageIO(path: String, bytes: Array[Byte], w: Int, h: Int,
                               spp: Int, image: Array[Array[Double]]): Unit = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"truncated or corrupt TIFF '$path' (${e.getClass.getSimpleName}" +
              s" while decoding)", e)
      }
    require(img != null, "unsupported TIFF compression (no JDK codec)")
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = 0
        while (s < spp) {
          image(s)(y * w + x) = raster.getSampleDouble(x, y, s)
          s += 1
        }
        x += 1
      }
      y += 1
    }
  }
}
