package graft.io

import java.nio.file.{Files, Paths}

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.raster.{Affine, MRaster}

/** GeoTiffIO against the reference's OWN raster fixtures — the files
  * telluric's GeoRaster2.open reads through rasterio
  * (`/root/reference/tests/test_georaster.py:290,772,806`). Pixel goldens
  * extracted by direct strip-byte indexing of the uncompressed fixture. */
class GeoTiffSpec extends AnyFunSuite with TimeLimits {

  private val refRaster = "/root/reference/tests/data/raster"
  private implicit val signaler: Signaler = ThreadSignaler

  /** 3-band raster, every 11th pixel nodata. Band names "ra, g, b" put
    * GDAL_NODATA at an odd offset when external values are not padded. */
  private def synth(w: Int, h: Int, dtype: String, nodata: Option[Double]): MRaster = {
    val nd = nodata.isDefined
    val shift = if (dtype == "int16") 100 else 0 // signed samples too
    val img = Array.tabulate(3)(b => Array.tabulate(w * h) { i =>
      if (nd && i % 11 == 0) nodata.get else ((i * 7 + b * 13) % 200 - shift).toDouble
    })
    MRaster(img, Array.tabulate(w * h)(i => nd && i % 11 == 0), w, h,
      Affine.northUp(12.5, 41.0, 0.001, 0.001), 3857, Seq("ra", "g", "b"), dtype, nodata)
  }

  /** (entry position, tag, type, count, value field) of every entry in
    * every IFD of a little-endian TIFF, walked without the reader. */
  private def rawEntries(bytes: Array[Byte]): Seq[(Int, Int, Int, Long, Long)] = {
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = u16(o) | (u16(o + 2).toLong << 16)
    Iterator.iterate(u32(4).toInt)(off => u32(off + 2 + 12 * u16(off)).toInt)
      .takeWhile(_ != 0).take(64).toSeq
      .flatMap(off => (0 until u16(off)).map { i =>
        val e = off + 2 + 12 * i
        (e, u16(e), u16(e + 2), u32(e + 4), u32(e + 8))
      })
  }

  test("rgb.tif: dims, dtype, CRS, affine, nodata, GDAL band names") {
    val r = GeoTiffIO.read(s"$refRaster/rgb.tif")
    assert(r.width === 100 && r.height === 100 && r.numBands === 3)
    assert(r.dtype === "uint8")
    assert(r.crs === 3857) // "WGS 84 / Pseudo-Mercator" GeoKey
    assert(math.abs(r.affine.a - 76.43702828517598) < 1e-9)
    assert(math.abs(r.affine.e + 76.4370282851769) < 1e-9)
    assert(math.abs(r.affine.c + 6574807.424977721) < 1e-6)
    assert(math.abs(r.affine.f + 4070118.8821290657) < 1e-6)
    assert(r.nodata === Some(0.0))
    assert(r.bandNames === Seq("0", "1", "2")) // GDALMetadata band_names
  }

  test("rgb.tif: pixel goldens (direct strip-byte extraction) and band sums") {
    val r = GeoTiffIO.read(s"$refRaster/rgb.tif")
    def px(x: Int, y: Int): (Int, Int, Int) = {
      val i = y * 100 + x
      (r.image(0)(i).toInt, r.image(1)(i).toInt, r.image(2)(i).toInt)
    }
    assert(px(0, 0) === ((81, 117, 73)))
    assert(px(50, 50) === ((55, 95, 57)))
    assert(px(99, 99) === ((151, 127, 122)))
    assert(r.image(0).sum.toLong === 849781L)
    assert(r.image(1).sum.toLong === 1032681L)
    assert(r.image(2).sum.toLong === 754367L)
    // nodata=0 but no pixel is (0,0,0) → nothing masked
    assert(!r.mask.exists(identity))
  }

  test("overlap fixtures: multi-strip RGB rasters parse with consistent grids") {
    val r1 = GeoTiffIO.read(s"$refRaster/overlap1.tif")
    val r2 = GeoTiffIO.read(s"$refRaster/overlap2.tif")
    assert(r1.width === 843 && r1.height === 801 && r1.numBands === 3)
    assert(r2.width === 713 && r2.height === 881 && r2.numBands === 3)
    assert(r1.crs === r2.crs)
    // near-same-resolution pair (the merge suite's premise)
    assert(math.abs(r1.affine.a - r2.affine.a) / r1.affine.a < 1e-3)
    // real image content, not zeros
    assert(r1.image(0).count(_ != 0.0) > 100000)
  }

  test("write→read round-trip: pixels, affine, crs, nodata, band names survive") {
    val dir = java.nio.file.Files.createTempDirectory("gt").toString
    val src = GeoTiffIO.read(s"$refRaster/rgb.tif")
    GeoTiffWriter.write(src, s"$dir/copy.tif")
    val back = GeoTiffIO.read(s"$dir/copy.tif")
    assert(back.width === src.width && back.height === src.height)
    assert(back.dtype === src.dtype && back.crs === src.crs)
    assert(back.bandNames === src.bandNames)
    assert(back.nodata === src.nodata)
    assert(math.abs(back.affine.a - src.affine.a) < 1e-9)
    assert(math.abs(back.affine.c - src.affine.c) < 1e-6)
    (0 until 3).foreach(b => assert(back.image(b).sameElements(src.image(b))))
    // and a float32 single-band raster with nodata mask
    val f = graft.raster.MRaster(
      Array(Array.tabulate(12)(_ * 1.5)), Array.fill(12)(false), 4, 3,
      graft.raster.Affine.northUp(10, 20, 0.5, 0.5), 4326, Seq("z"), "float32", Some(-1.0))
    GeoTiffWriter.write(f, s"$dir/f32.tif")
    val fb = GeoTiffIO.read(s"$dir/f32.tif")
    assert(fb.dtype === "float32" && fb.crs === 4326 && fb.nodata === Some(-1.0))
    assert(fb.image(0).toSeq === f.image(0).toSeq)
  }

  test("deflate-compressed write round-trips and actually compresses") {
    val dir = java.nio.file.Files.createTempDirectory("gtz").toString
    val src = GeoTiffIO.read(s"$refRaster/rgb.tif")
    GeoTiffWriter.write(src, s"$dir/z.tif", compression = "deflate")
    GeoTiffWriter.write(src, s"$dir/raw.tif")
    val zb = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/z.tif"))
    val rb = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/raw.tif"))
    assert(zb < rb, s"deflate ($zb) should be smaller than raw ($rb)")
    val back = GeoTiffIO.read(s"$dir/z.tif")
    assert(back.dtype === src.dtype && back.crs === src.crs &&
      back.nodata === src.nodata && back.bandNames === src.bandNames)
    (0 until src.numBands).foreach(b =>
      assert(back.image(b).sameElements(src.image(b))))
    intercept[IllegalArgumentException] {
      GeoTiffWriter.write(src, s"$dir/x.tif", compression = "zstd")
    }
  }

  test("jpeg-compressed write (tag 259 = 7) round-trips within lossy tolerance") {
    val dir = java.nio.file.Files.createTempDirectory("gtj").toString
    val src0 = GeoTiffIO.read(s"$refRaster/rgb.tif")
    val src = src0.copy(nodata = None)
    GeoTiffWriter.write(src, s"$dir/j.tif", compression = "jpeg")
    // on-disk contract: compression tag is 7 (new-style JPEG) and the
    // photographic fixture actually compresses vs raw
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/j.tif"))
    def u16(off: Int) = ((bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8))
    def u32(off: Int) = (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
      ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    val ifd = u32(4).toInt
    val comp = (0 until u16(ifd)).map(i => ifd + 2 + 12 * i)
      .find(at => u16(at) == 259).map(at => u16(at + 8))
    assert(comp === Some(7), "compression tag must be new-style JPEG")
    assert(bytes.length < 100 * 100 * 3, "photographic RGB must compress")
    // read-back through the ImageIO fallback: geometry/georef exact,
    // pixels tolerance-parity (JPEG is lossy — chroma subsampling bounds
    // the 3-band error; the same posture as GDAL's jpeg profile)
    val back = GeoTiffIO.read(s"$dir/j.tif")
    assert(back.width === src.width && back.height === src.height &&
      back.numBands === 3 && back.dtype === "uint8" && back.crs === src.crs)
    assert(back.bandNames === src.bandNames)
    assert(math.abs(back.affine.a - src.affine.a) < 1e-9)
    assert(math.abs(back.affine.c - src.affine.c) < 1e-6)
    (0 until 3).foreach { b =>
      val errs = back.image(b).zip(src.image(b)).map { case (x, y) => math.abs(x - y) }
      assert(errs.max <= 48.0, s"band $b max err ${errs.max}")
      assert(errs.sum / errs.length <= 6.0, s"band $b mean err")
    }
    // single-band luma path is near-lossless at max quality
    val g = src.copy(image = Array(src.image(0)), bandNames = List("g"))
    GeoTiffWriter.write(g, s"$dir/g.tif", compression = "jpeg")
    val gb = GeoTiffIO.read(s"$dir/g.tif")
    assert(gb.numBands === 1)
    val gerrs = gb.image(0).zip(g.image(0)).map { case (x, y) => math.abs(x - y) }
    assert(gerrs.max <= 2.0 && gerrs.sum / gerrs.length <= 0.3)
    // error contracts: lossy jpeg refuses nodata sentinels and non-uint8
    intercept[IllegalArgumentException] {
      GeoTiffWriter.write(src0, s"$dir/nd.tif", compression = "jpeg") // nodata
    }
    val f32 = src.copy(dtype = "float32", nodata = None)
    intercept[IllegalArgumentException] {
      GeoTiffWriter.write(f32, s"$dir/f.tif", compression = "jpeg")
    }
  }

  test("packbits-compressed write round-trips through the ImageIO decode path") {
    val dir = java.nio.file.Files.createTempDirectory("gtpb").toString
    val src = GeoTiffIO.read(s"$refRaster/rgb.tif")
    GeoTiffWriter.write(src, s"$dir/p.tif", compression = "packbits")
    val back = GeoTiffIO.read(s"$dir/p.tif")
    assert(back.dtype === src.dtype && back.nodata === src.nodata)
    (0 until src.numBands).foreach(b =>
      assert(back.image(b).sameElements(src.image(b))))
    // run-heavy raster: alternating 200-byte runs → must compress hard
    val n = 64 * 1024
    val runs = Array.tabulate(n)(i => if ((i / 200) % 2 == 0) 7.0 else 250.0)
    val flat = src.copy(image = Array(runs), width = 256, height = 256,
      dtype = "uint8", bandNames = List("r"), nodata = None,
      mask = Array.fill(n)(true))
    GeoTiffWriter.write(flat, s"$dir/runs.tif", compression = "packbits")
    GeoTiffWriter.write(flat, s"$dir/runs_raw.tif")
    val pb = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/runs.tif"))
    val rb = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/runs_raw.tif"))
    assert(pb * 10 < rb, s"packbits ($pb) should crush runs vs raw ($rb)")
    assert(GeoTiffIO.read(s"$dir/runs.tif").image(0).sameElements(flat.image(0)))
  }

  test("lzw-compressed write round-trips through the ImageIO decode path") {
    val dir = java.nio.file.Files.createTempDirectory("gtlzw").toString
    val src = GeoTiffIO.read(s"$refRaster/rgb.tif")
    GeoTiffWriter.write(src, s"$dir/l.tif", compression = "lzw")
    val back = GeoTiffIO.read(s"$dir/l.tif")
    assert(back.dtype === src.dtype && back.crs === src.crs &&
      back.nodata === src.nodata && back.bandNames === src.bandNames)
    (0 until src.numBands).foreach(b =>
      assert(back.image(b).sameElements(src.image(b))))
    // exercise the table-flush path: >64 KB of high-entropy (but
    // deterministic) bytes forces multiple 4094-entry resets
    val n = 128 * 1024
    val noisy = Array.tabulate(n)(i => ((i * 2654435761L >>> 13) & 0xffL).toDouble)
    val big = src.copy(image = Array(noisy), width = 512, height = 256,
      dtype = "uint8", bandNames = List("noise"), nodata = None,
      mask = Array.fill(n)(true))
    GeoTiffWriter.write(big, s"$dir/big.tif", compression = "lzw")
    val bigBack = GeoTiffIO.read(s"$dir/big.tif")
    assert(bigBack.image(0).sameElements(big.image(0)))
    // size win belongs on data LZW is FOR (smooth rasters — the predictor
    // turns a gradient into constant differences); the photographic
    // rgb.tif above only checks fidelity
    val grad = big.copy(image = Array(Array.tabulate(n)(i => ((i % 512) / 3).toDouble)))
    GeoTiffWriter.write(grad, s"$dir/grad.tif", compression = "lzw")
    GeoTiffWriter.write(grad, s"$dir/grad_raw.tif")
    val lb = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/grad.tif"))
    val rb = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/grad_raw.tif"))
    assert(lb * 5 < rb, s"lzw ($lb) should be ≥5× smaller than raw ($rb) on a gradient")
    assert(GeoTiffIO.read(s"$dir/grad.tif").image(0).sameElements(grad.image(0)))
  }

  test("lzw + packbits survive adversarial byte patterns (run/literal boundary cases)") {
    val dir = java.nio.file.Files.createTempDirectory("gtadv").toString
    val affine = graft.raster.Affine(1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
    def raster(bytes: Array[Int], w: Int): graft.raster.MRaster = {
      val h = bytes.length / w
      graft.raster.MRaster(Array(bytes.map(_.toDouble)),
        Array.fill(bytes.length)(true), w, h, affine, 4326, List("b"), "uint8", None)
    }
    val patterns: Seq[(String, Array[Int], Int)] = Seq(
      ("one-pixel", Array(7), 1),
      ("single-row-127run", Array.fill(127)(9), 127),
      ("single-row-128run", Array.fill(128)(9), 128),
      ("single-row-129run", Array.fill(129)(9), 129),
      ("literal-127", (0 until 127).map(i => i % 251).toArray, 127),
      ("literal-128", (0 until 128).map(i => i % 251).toArray, 128),
      ("literal-129", (0 until 129).map(i => i % 251).toArray, 129),
      ("alternating", (0 until 256).map(i => i % 2 * 255).toArray, 64),
      ("run-literal-run", (Array.fill(130)(5) ++ (0 until 7).map(i => i * 31 % 256) ++ Array.fill(3)(200)), 70),
      ("two-runs-2", Array(1, 1, 2, 2), 4),
      ("trailing-2run", (0 until 6).toArray ++ Array(9, 9), 8),
      ("pseudo-random", (0 until 4096).map(i => ((i * 2654435761L >>> 11) & 0xff).toInt).toArray, 64))
    for ((name, bytes, w) <- patterns; codec <- Seq("lzw", "packbits")) {
      if (bytes.length % w == 0) {
        val r = raster(bytes, w)
        val p = s"$dir/${name}_$codec.tif"
        GeoTiffWriter.write(r, p, compression = codec)
        val back = GeoTiffIO.read(p)
        assert(back.image(0).sameElements(r.image(0)), s"$name/$codec mismatch")
      }
    }
  }

  test("RasterOpen dispatch: non-georeferenced PNG with caller affine (test_georaster.py:155-162)") {
    // the reference opens no_georef.png with explicit crs/affine kwargs
    val affine = graft.raster.Affine(10.0, 0.0, -6425941.63996855,
      0.0, -10.0, -3169315.69478084)
    val r = RasterOpen.open(s"$refRaster/no_georef.png",
      crs = 3857, affine = Some(affine))
    assert(r.width === 1243 && r.height === 3217)
    assert(r.crs === 3857)
    assert(r.affine === affine)
    // dispatch to the tif codec under the same entry point
    val t = RasterOpen.open(s"$refRaster/rgb.tif")
    assert(t.width === 100 && t.crs === 3857)
    // .jp2 dispatches to the round-5 decoder (Jp2DecodeSpec owns the
    // pixel/georef assertions): same scene, same grid, same CRS
    val j = RasterOpen.open(s"$refRaster/rgb.jp2")
    assert(j.width === 100 && j.height === 100 && j.crs === 3857)
  }

  test("opened fixture feeds the engine: footprint + get_tile path") {
    val r = GeoTiffIO.read(s"$refRaster/rgb.tif")
    val bb = r.footprint.bbox
    assert(bb.xmax - bb.xmin > 7000) // 100 px × 76.4 m
    // crop a 10×10 pixel window through the standard ops path
    val win = graft.raster.RasterOps.pixelSlice(r, 0, 0, 10, 10)
    assert(win.width === 10 && win.height === 10)
    assert(win.image(0)(0) === 81.0)
  }

  test("every prefix of rgb.tif parses or throws the boundary IllegalArgumentException") {
    // pre-round-4, 3500+ sampled prefixes crashed with raw index errors;
    // the read() boundary now owns the truncated/corrupt contract
    val full = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refRaster/rgb.tif"))
    val tmp = java.nio.file.Files.createTempFile("trunc", ".tif")
    var parsed = 0
    for (n <- 0 until full.length by 13) {
      java.nio.file.Files.write(tmp, full.take(n))
      try { GeoTiffIO.read(tmp.toString); parsed += 1 }
      catch { case _: IllegalArgumentException => () } // the contract
      // any other exception type fails the test
    }
    assert(parsed > 0, "no prefix parsed — sweep is vacuous") // full file at least
  }

  test("every codec round-trips a synthesized raster (offline twin of the rgb.tif round trips)") {
    val dir = Files.createTempDirectory("gtcodec")
    val i16 = synth(37, 23, "int16", Some(-9999.0))
    for (c <- Seq("none", "deflate", "lzw", "packbits")) {
      val p = s"$dir/$c.tif"
      GeoTiffWriter.write(i16, p, c)
      val back = GeoTiffIO.read(p)
      assert(back.dtype === "int16" && back.crs === 3857 && back.nodata === Some(-9999.0), c)
      assert(back.bandNames === i16.bandNames && back.affine === i16.affine, c)
      (0 until 3).foreach(b => assert(back.image(b).sameElements(i16.image(b)), s"$c band $b"))
      assert(back.mask.sameElements(i16.mask), c)
    }
    // JPEG is lossy: a smooth ramp, checked within tolerance
    val u8 = synth(37, 23, "uint8", None).copy(image = Array.tabulate(3)(b =>
      Array.tabulate(37 * 23)(i => (i % 37 * 4 + i / 37 * 3 + b * 10).toDouble)))
    GeoTiffWriter.write(u8, s"$dir/jpeg.tif", "jpeg")
    val jb = GeoTiffIO.read(s"$dir/jpeg.tif")
    assert(jb.numBands === 3 && jb.affine === u8.affine && jb.bandNames === u8.bandNames)
    (0 until 3).foreach { b =>
      val errs = jb.image(b).zip(u8.image(b)).map { case (x, y) => math.abs(x - y) }
      assert(errs.sum / errs.length <= 6.0, s"jpeg band $b mean error")
    }
  }

  test("both writers: ASCII values end in NUL, external values start on even offsets") {
    val dir = Files.createTempDirectory("gtconf")
    val i16 = synth(37, 23, "int16", Some(-9999.0))
    val strips = Seq("none", "deflate", "lzw", "packbits").map { c =>
      val p = s"$dir/i16_$c.tif"; GeoTiffWriter.write(i16, p, c); p
    }
    val jpeg = s"$dir/u8_jpeg.tif"
    GeoTiffWriter.write(synth(37, 23, "uint8", None), jpeg, "jpeg")
    val cog = s"$dir/cog.tif"
    CogWriter.write(i16, cog, 16) // main + 2 overviews + 3 mask IFDs
    val typeSize = Map(2 -> 1, 3 -> 2, 4 -> 4, 12 -> 8)
    for (p <- strips :+ jpeg :+ cog) {
      val bytes = Files.readAllBytes(Paths.get(p))
      val entries = rawEntries(bytes)
      assert(entries.exists(_._3 == 2), s"$p has no ASCII value")
      entries.foreach { case (e, tag, ttype, count, value) =>
        val external = typeSize(ttype) * count > 4
        if (external) assert(value % 2 == 0, s"$p: tag $tag value at odd offset $value")
        if (ttype == 2) {
          val last = ((if (external) value else e + 8L) + count - 1).toInt
          assert(bytes(last) == 0, s"$p: ASCII tag $tag ends in byte ${bytes(last)}, not NUL")
        }
      }
    }
  }

  test("every prefix of a synthesized GeoTIFF and COG parses or fails the contract") {
    // offline twin of the rgb.tif prefix sweep: read and ifdSummary throw
    // IllegalArgumentException, validate returns errors
    val dir = Files.createTempDirectory("gtprefix")
    val r = synth(19, 13, "int16", Some(-9999.0))
    // lzw/packbits/jpeg decode through ImageIO, whose truncation errors are
    // IOExceptions; JPEG is lossy, so its full file is not compared
    val files = Seq("none", "deflate", "lzw", "packbits").map { c =>
      val p = s"$dir/strip_$c.tif"; GeoTiffWriter.write(r, p, c); p
    } :+ { val p = s"$dir/cog.tif"; CogWriter.write(r, p, 8); p }
    val jpeg = s"$dir/strip_jpeg.tif"
    GeoTiffWriter.write(synth(19, 13, "uint8", None), jpeg, "jpeg")
    val tmp = s"$dir/prefix.tif"
    for (src <- files :+ jpeg) {
      val full = Files.readAllBytes(Paths.get(src))
      if (src != jpeg) assert(GeoTiffIO.read(src).image(0).sameElements(r.image(0)), src)
      assert(CogValidator.ifdSummary(src).length === (if (src.endsWith("cog.tif")) 6 else 1))
      for (n <- 0 until full.length) {
        Files.write(Paths.get(tmp), full.take(n))
        val parsed =
          try { CogValidator.ifdSummary(tmp); true }
          catch { case _: IllegalArgumentException => false }
        try GeoTiffIO.read(tmp)
        catch { case _: IllegalArgumentException => () }
        if (!parsed)
          assert(CogValidator.validate(tmp).nonEmpty, s"$src cut at $n: unreadable IFDs, no error")
      }
    }
  }

  test("a self-looping next-IFD offset is reported by validate and ends every chain walk") {
    val p = Files.createTempDirectory("gtloop").resolve("loop.tif")
    GeoTiffWriter.write(synth(19, 13, "int16", Some(-9999.0)), p.toString)
    val bytes = Files.readAllBytes(p)
    val n = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(8 + 2 + 12 * n, 8) // the only IFD's next pointer → itself
    Files.write(p, bytes)
    failAfter(20.seconds) {
      val errors = CogValidator.validate(p.toString)
      assert(errors.exists(_.contains("loops")), errors)
      assert(CogValidator.ifdSummary(p.toString).length === 1)
      assert(GeoTiffIO.read(p.toString).width === 19)
    }
  }

  test("truncated DEFLATE tif fails the contract instead of hanging the inflater") {
    // rgb.tif is uncompressed, so the prefix sweep above never reaches the
    // inflate loop; a starved Inflater used to return 0 forever (hang
    // caught by the round-4 review drive on a truncated Deflate COG)
    val src = GeoTiffIO.read(s"$refRaster/rgb.tif")
    val tmp = java.nio.file.Files.createTempFile("defl", ".tif")
    GeoTiffWriter.write(src, tmp.toString, compression = "deflate")
    val full = java.nio.file.Files.readAllBytes(tmp)
    val cut = java.nio.file.Files.createTempFile("deflcut", ".tif")
    for (n <- Seq(full.length / 4, full.length / 2, full.length - 64)) {
      java.nio.file.Files.write(cut, full.take(n))
      try GeoTiffIO.read(cut.toString)
      catch { case _: IllegalArgumentException => () } // contract; no hang
    }
  }
}
