package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.io.GeoTiffIO.Tag
import graft.raster.{Affine, MRaster}

/** The TIFF container (TIFF 6.0, GeoTIFF 1.1 / OGC 19-008r4), shared by
  * [[GeoTiffWriter]], [[CogWriter]], [[CogValidator]] and [[GeoTiffIO]]:
  * tag encoders, the dtype ↔ (SampleFormat, BitsPerSample) table, chunky
  * sample packing, Deflate, the georeferencing entries, the IFD serializer
  * and the IFD reader. Those files keep only their codecs, layouts and
  * checks. */
private[io] object Tiff {

  // ---------------------------------------------------------------- entries

  /** One IFD entry: `payload` is its value bytes, little-endian. */
  final case class Entry(tag: Int, ttype: Int, count: Int, payload: Array[Byte])

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  def shorts(tag: Int, vs: Int*): Entry = {
    val b = le(2 * vs.length); vs.foreach(v => b.putShort(v.toShort))
    Entry(tag, 3, vs.length, b.array())
  }
  def longs(tag: Int, vs: Long*): Entry = {
    val b = le(4 * vs.length); vs.foreach(v => b.putInt(v.toInt))
    Entry(tag, 4, vs.length, b.array())
  }
  def dbls(tag: Int, vs: Double*): Entry = {
    val b = le(8 * vs.length); vs.foreach(b.putDouble)
    Entry(tag, 12, vs.length, b.array())
  }
  /** ASCII values end in NUL, which the count includes (TIFF 6.0 §2). */
  def ascii(tag: Int, s: String): Entry = {
    val b = (s + "\u0000").getBytes("ISO-8859-1")
    Entry(tag, 2, b.length, b)
  }

  // ---------------------------------------------------------------- samples

  private val SampleTypes: Seq[(String, (Int, Int))] = Seq(
    "uint8" -> ((1, 8)), "uint16" -> ((1, 16)), "uint32" -> ((1, 32)),
    "int16" -> ((2, 16)), "int32" -> ((2, 32)),
    "float32" -> ((3, 32)), "float64" -> ((3, 64)))

  /** (SampleFormat, BitsPerSample) of a dtype. */
  def sampleType(dtype: String): (Int, Int) =
    SampleTypes.collectFirst { case (`dtype`, t) => t }
      .getOrElse(throw new IllegalArgumentException(s"cannot write dtype $dtype"))

  def dtypeOf(sampleFormat: Int, bits: Int): String =
    SampleTypes.collectFirst { case (d, t) if t == ((sampleFormat, bits)) => d }
      .getOrElse(throw new IllegalArgumentException(
        s"unsupported sample format $sampleFormat/$bits bits"))

  /** BitsPerSample, PhotometricInterpretation, SamplesPerPixel,
    * PlanarConfiguration (chunky) and SampleFormat of `r`. */
  def sampleEntries(r: MRaster): Seq[Entry] = {
    val (sampleFormat, bps) = sampleType(r.dtype)
    val spp = r.numBands
    Seq(shorts(258, Seq.fill(spp)(bps): _*),
      shorts(262, if (spp >= 3) 2 else 1),
      shorts(277, spp),
      shorts(284, 1),
      shorts(339, Seq.fill(spp)(sampleFormat): _*))
  }

  /** Chunky-interleaved little-endian samples of the `w`×`h` window at
    * (`x0`, `y0`); pixels outside the raster are 0. */
  def chunky(r: MRaster, x0: Int, y0: Int, w: Int, h: Int): Array[Byte] = {
    val spp = r.numBands
    val bytesPerSample = sampleType(r.dtype)._2 / 8
    val out = le(w * h * spp * bytesPerSample)
    var row = 0
    while (row < h) {
      val gy = y0 + row
      var c = 0
      while (c < w) {
        val gx = x0 + c
        val inside = gx < r.width && gy < r.height
        var s = 0
        while (s < spp) {
          val v = if (inside) r.image(s)(gy * r.width + gx) else 0.0
          val at = ((row * w + c) * spp + s) * bytesPerSample
          r.dtype match {
            case "uint8" => out.put(at, v.toInt.toByte)
            case "uint16" | "int16" => out.putShort(at, v.toInt.toShort)
            case "uint32" | "int32" => out.putInt(at, v.toLong.toInt)
            case "float32" => out.putFloat(at, v.toFloat)
            case "float64" => out.putDouble(at, v)
          }
          s += 1
        }
        c += 1
      }
      row += 1
    }
    out.array()
  }

  // ---------------------------------------------------------------- Deflate

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var got = 0
    try {
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(out, got, expected - got)
        // a truncated Deflate stream yields 0 with the inflater starving
        // for input — without this check the loop spins forever (a
        // truncated Deflate COG hung the reader this way)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new IllegalArgumentException(
            s"Deflate stream ended prematurely: got $got of $expected bytes")
        got += n
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(
          s"corrupt Deflate stream after $got of $expected bytes", e)
    } finally inf.end()
    out
  }

  // ------------------------------------------------------- georeferencing

  /** ModelPixelScale, ModelTiepoint, GeoKeyDirectory (EPSG), GDALMetadata
    * band names and GDAL_NODATA of `r`. */
  def geoEntries(r: MRaster): Seq[Entry] = {
    // GeoKeys: model type (1=projected / 2=geographic), raster type = area,
    // EPSG in 3072 (projected) or 2048 (geographic)
    val geographic = r.crs == 4326
    val geoKeys = Seq(
      1, 1, 0, 3, // version, rev, minor, numKeys
      1024, 0, 1, if (geographic) 2 else 1,
      1025, 0, 1, 1,
      if (geographic) 2048 else 3072, 0, 1, r.crs)
    val bandNamesXml =
      "<GDALMetadata>\n  <Item name=\"band_names\" domain=\"rastile\">[" +
        r.bandNames.mkString(", ") + "]</Item>\n</GDALMetadata>\n"
    Seq(dbls(33550, r.affine.a, -r.affine.e, 0.0),
      dbls(33922, 0, 0, 0, r.affine.c, r.affine.f, 0),
      shorts(34735, geoKeys: _*),
      ascii(42112, bandNamesXml)) ++
      r.nodata.map(nd => ascii(42113,
        if (nd == nd.toLong) nd.toLong.toString else nd.toString))
  }

  // ---------------------------------------------------------------- writing

  /** One IFD to write: its entries in any order, and its data blocks —
    * strips (`tiled = false`) or tiles. The serializer adds the block
    * offset and byte-count entries (273/279 or 324/325). */
  final case class Ifd(entries: Seq[Entry], blocks: Seq[Array[Byte]], tiled: Boolean)

  /** Write a classic little-endian TIFF: the header, every IFD in chain
    * order with its external values word-aligned behind it, then the data
    * blocks of the IFDs in `dataOrder`. */
  def write(path: String, ifds: Seq[Ifd], dataOrder: Seq[Int]): Unit = {
    def sorted(ifd: Ifd, offsets: Seq[Long]): Seq[Entry] = {
      val (offTag, lenTag) = if (ifd.tiled) (324, 325) else (273, 279)
      (ifd.entries :+ longs(offTag, offsets: _*) :+
        longs(lenTag, ifd.blocks.map(_.length.toLong): _*)).sortBy(_.tag)
    }
    def padded(len: Int): Int = len + (len & 1)
    // block size = entry table + next pointer + external values; the
    // offset values do not change it
    val ifdOffsets = ifds.scanLeft(8) { (off, ifd) =>
      val es = sorted(ifd, ifd.blocks.map(_ => 0L))
      off + 2 + 12 * es.length + 4 + es.map(_.payload.length).filter(_ > 4).map(padded).sum
    }
    var cursor = ifdOffsets.last.toLong
    val blockOffsets: Map[Int, Seq[Long]] = dataOrder.map { idx =>
      idx -> ifds(idx).blocks.map { b => val o = cursor; cursor += b.length; o }
    }.toMap
    require(cursor < Int.MaxValue.toLong,
      s"TIFF would be $cursor bytes — classic TIFF offsets are 32-bit; " +
        "shard the raster (RasterArtifact) or reduce it before writing " +
        "(BigTIFF is out of scope)")

    val out = le(cursor.toInt)
    out.put(0, 'I'.toByte); out.put(1, 'I'.toByte)
    out.putShort(2, 42); out.putInt(4, 8)
    ifds.zipWithIndex.foreach { case (ifd, idx) =>
      val es = sorted(ifd, blockOffsets(idx))
      val base = ifdOffsets(idx)
      out.putShort(base, es.length.toShort)
      var ext = base + 2 + 12 * es.length + 4
      es.zipWithIndex.foreach { case (e, i) =>
        val at = base + 2 + 12 * i
        out.putShort(at, e.tag.toShort)
        out.putShort(at + 2, e.ttype.toShort)
        out.putInt(at + 4, e.count)
        if (e.payload.length <= 4) out.put(at + 8, e.payload)
        else {
          out.putInt(at + 8, ext)
          out.put(ext, e.payload)
          ext += padded(e.payload.length)
        }
      }
      out.putInt(base + 2 + 12 * es.length, if (idx + 1 < ifds.length) ifdOffsets(idx + 1) else 0)
      ifd.blocks.zip(blockOffsets(idx)).foreach { case (b, o) => out.put(o.toInt, b) }
    }
    Files.write(Paths.get(path), out.array())
  }

  // ---------------------------------------------------------------- reading

  /** The file behind a buffer in its byte order, after checking the
    * byte-order mark and the classic-TIFF magic 42. */
  def open(bytes: Array[Byte]): ByteBuffer = {
    require(bytes.length >= 8, "not a TIFF (shorter than the 8-byte header)")
    val order =
      if (bytes(0) == 'I' && bytes(1) == 'I') ByteOrder.LITTLE_ENDIAN
      else if (bytes(0) == 'M' && bytes(1) == 'M') ByteOrder.BIG_ENDIAN
      else throw new IllegalArgumentException("not a TIFF (bad byte-order mark)")
    val buf = ByteBuffer.wrap(bytes).order(order)
    require(buf.getShort(2) == 42, "not a classic TIFF (bad magic)")
    buf
  }

  /** One parsed IFD: its offset, its entries and its next-IFD pointer. */
  final case class Dir(offset: Long, tags: Map[Int, Tag], next: Long)

  /** The IFD at `off`. Throws IllegalArgumentException when the IFD or
    * one of its values lies outside the file. */
  private def readIfd(buf: ByteBuffer, off: Long): Dir = {
    val end = buf.limit().toLong
    require(off + 2 <= end, s"IFD offset $off is outside the file ($end bytes)")
    val n = buf.getShort(off.toInt) & 0xFFFF
    require(off + 2 + 12L * n + 4 <= end, s"IFD at $off runs past the end of the file")
    def slice(at: Long, len: Int): Array[Byte] = {
      val d = new Array[Byte](len)
      buf.get(at.toInt, d)
      d
    }
    val tags = (0 until n).map { i =>
      val e = off.toInt + 2 + 12 * i
      val tag = buf.getShort(e) & 0xFFFF
      val ttype = buf.getShort(e + 2) & 0xFFFF
      val count = buf.getInt(e + 4)
      val size = typeSize(ttype) * (count & 0xFFFFFFFFL)
      val valueOffset = buf.getInt(e + 8) & 0xFFFFFFFFL
      val data =
        if (size <= 4) slice(e + 8, 4)
        else {
          require(valueOffset + size <= end,
            s"value of tag $tag ($size bytes at $valueOffset) runs past the end of the file")
          slice(valueOffset, size.toInt)
        }
      tag -> Tag(ttype, count, valueOffset, data)
    }.toMap
    Dir(off, tags, buf.getInt(off.toInt + 2 + 12 * n) & 0xFFFFFFFFL)
  }

  /** The IFD chain from the header's first IFD, read lazily. It ends after
    * an IFD whose next pointer is 0 or points back into the chain; in the
    * second case the last IFD's `next` is non-zero. */
  def ifdChain(buf: ByteBuffer): Iterator[Dir] = new Iterator[Dir] {
    private val seen = scala.collection.mutable.Set.empty[Long]
    private var off = buf.getInt(4) & 0xFFFFFFFFL
    def hasNext: Boolean = off != 0 && !seen(off)
    def next(): Dir = {
      if (!hasNext) throw new NoSuchElementException("end of the IFD chain")
      seen += off
      val d = readIfd(buf, off)
      off = d.next
      d
    }
  }

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1
    case 3 | 8 => 2
    case 4 | 9 | 11 => 4
    case 5 | 10 | 12 => 8
    case _ => 4
  }

  /** BYTE, SHORT or LONG values. */
  def values(buf: ByteBuffer, t: Tag): Seq[Long] = {
    val b = ByteBuffer.wrap(t.data).order(buf.order())
    t.ttype match {
      case 1 => (0 until t.count).map(i => (t.data(i) & 0xFF).toLong)
      case 3 => (0 until t.count).map(i => (b.getShort(2 * i) & 0xFFFF).toLong)
      case 4 => (0 until t.count).map(i => b.getInt(4 * i) & 0xFFFFFFFFL)
      case _ => throw new IllegalArgumentException(s"unexpected tag type ${t.ttype}")
    }
  }

  /** The first value of tag `t`, or `dflt` when the tag is absent or empty. */
  def first(buf: ByteBuffer, tags: Map[Int, Tag], t: Int, dflt: Long): Long =
    tags.get(t).flatMap(v => values(buf, v).headOption).getOrElse(dflt)

  private def doubleValues(buf: ByteBuffer, t: Tag): Seq[Double] = {
    val b = ByteBuffer.wrap(t.data).order(buf.order())
    (0 until t.count).map(i => b.getDouble(8 * i))
  }

  def asciiValue(t: Tag): String =
    new String(t.data.takeWhile(_ != 0), "ISO-8859-1")

  /** North-up affine from ModelPixelScale (33550) + ModelTiepoint (33922). */
  def affineOf(buf: ByteBuffer, tags: Map[Int, Tag]): Option[Affine] =
    (tags.get(33550), tags.get(33922)) match {
      case (Some(sc), Some(tp)) =>
        val s = doubleValues(buf, sc)
        val t = doubleValues(buf, tp)
        // tiepoint (i, j, k, X, Y, Z): world origin shifted by the pixel anchor
        Some(Affine(s(0), 0.0, t(3) - t(0) * s(0), 0.0, -s(1), t(4) + t(1) * s(1)))
      case _ => None
    }

  /** GeoKeyDirectory (34735): header (4 shorts) + keys of 4 shorts
    * (keyId, location, count, value). EPSG: ProjectedCSType 3072 wins,
    * else GeographicType 2048. */
  def epsgOf(buf: ByteBuffer, tags: Map[Int, Tag]): Option[Int] =
    tags.get(34735).map(t => values(buf, t)).flatMap { keys =>
      val entries = keys.drop(4).grouped(4).collect {
        case Seq(id, loc, _, v) if loc == 0 => id.toInt -> v.toInt
      }.toMap
      entries.get(3072).filter(v => v > 0 && v != 32767)
        .orElse(entries.get(2048).filter(v => v > 0 && v != 32767))
    }
}
