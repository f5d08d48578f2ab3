package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.raster.{Affine, MRaster}

/** Offline twins of the reference-fixture VrtSpec mosaics: two seeded,
  * overlapping GeoTIFFs written with [[GeoTiffWriter]] and mosaicked with
  * [[VrtIO.write]] / [[VrtIO.read]], so the mosaic rules are checked
  * pixel for pixel without the reference checkout. */
class VrtOfflineSpec extends AnyFunSuite {

  /** A seeded 3-band uint8 raster on a 10 m EPSG:3857 grid with its
    * top-left corner at (x0, y0); pixel values 1..255, and the pixels
    * `holes` picks set to the nodata value 0 in every band (masked). */
  private def seeded(seed: Long, x0: Double, y0: Double, w: Int, h: Int,
                     holes: (Int, Int) => Boolean): MRaster = {
    val r = new scala.util.Random(seed)
    val mask = Array.tabulate(w * h)(i => holes(i % w, i / w))
    val image = Array.fill(3)(Array.tabulate(w * h)(i => if (mask(i)) 0.0 else 1.0 + r.nextInt(255)))
    MRaster(image, mask, w, h, Affine.northUp(x0, y0, 10, 10), 3857,
      Seq("red", "green", "blue"), "uint8", Some(0.0))
  }

  /** Both members written as GeoTIFFs into a fresh dir and read back. */
  private def members(): (String, MRaster, MRaster) = {
    val dir = java.nio.file.Files.createTempDirectory("vrt_offline").toString
    // r1: x 1000..1400, y 1700..2000; r2: x 1200..1500, y 1500..1900.
    // r2 has masked pixels inside the overlap and in its own region.
    val r1 = seeded(11L, 1000, 2000, 40, 30, (x, y) => x == 3 && y == 4)
    val r2 = seeded(12L, 1200, 1900, 30, 40, (x, y) => (x + 2 * y) % 7 == 0)
    GeoTiffWriter.write(r1, s"$dir/one.tif")
    GeoTiffWriter.write(r2, s"$dir/two.tif")
    (dir, GeoTiffIO.read(s"$dir/one.tif"), GeoTiffIO.read(s"$dir/two.tif"))
  }

  test("a two-member mosaic: union extent, member pixels, masked corners, later member on top") {
    val (dir, r1, r2) = members()
    assert(r1.mask.count(identity) === 1 && r2.mask.count(identity) > 0, "nodata survives the tif")
    VrtIO.write(Seq("one.tif" -> r1, "two.tif" -> r2), s"$dir/mosaic.vrt")
    val m = VrtIO.read(s"$dir/mosaic.vrt", fn => s"$dir/$fn")
    // union extent: x 1000..1500, y 1500..2000 at 10 m
    assert(m.width === 50 && m.height === 50 && m.numBands === 3)
    assert(m.crs === 3857 && m.dtype === "uint8")
    assert(m.affine === Affine.northUp(1000, 2000, 10, 10))
    // r1 sits at mosaic pixel (0, 0), r2 at (20, 10). VrtIO paints members
    // in list order and a masked source pixel does not paint, so a pixel
    // shows r2 where r2 has data, else r1 where r1 has data, else stays
    // masked (boundless).
    def at(r: MRaster, ox: Int, oy: Int, x: Int, y: Int): Option[Int] = {
      val (sx, sy) = (x - ox, y - oy)
      if (sx < 0 || sy < 0 || sx >= r.width || sy >= r.height || r.mask(sy * r.width + sx)) None
      else Some(sy * r.width + sx)
    }
    var (fromR1, fromR2, masked, r1UnderR2Hole) = (0, 0, 0, 0)
    for (y <- 0 until 50; x <- 0 until 50) {
      val i = y * 50 + x
      (at(r2, 20, 10, x, y), at(r1, 0, 0, x, y)) match {
        case (Some(s), _) =>
          fromR2 += 1
          assert(!m.mask(i), s"($x, $y)")
          (0 until 3).foreach(b => assert(m.image(b)(i) === r2.image(b)(s), s"band $b at ($x, $y)"))
        case (None, Some(s)) =>
          fromR1 += 1
          if (x >= 20 && y >= 10) r1UnderR2Hole += 1
          assert(!m.mask(i), s"($x, $y)")
          (0 until 3).foreach(b => assert(m.image(b)(i) === r1.image(b)(s), s"band $b at ($x, $y)"))
        case (None, None) =>
          masked += 1
          assert(m.mask(i), s"($x, $y) must stay masked")
      }
    }
    // every rule above was exercised: each member's exclusive region, the
    // overlap (where r2 wins), r1 showing through r2's holes, and the two
    // boundless corners (x ≥ 40, y < 10 and x < 20, y ≥ 30)
    assert(fromR1 > 20 * 30 && fromR2 > 30 * 30 && r1UnderR2Hole > 0)
    assert(m.mask(5 * 50 + 45) && m.mask(45 * 50 + 5))
    assert(masked === 10 * 10 + 20 * 20 + 1 + r2.mask.count(identity) - r1UnderR2Hole)
  }

  test("a multiraster of one member is identical to the member") {
    val (dir, r1, _) = members()
    val m = VrtIO.multiRaster(Seq("one.tif" -> r1), fn => s"$dir/$fn")
    assert(m.width === r1.width && m.height === r1.height && m.numBands === r1.numBands)
    assert(m.crs === r1.crs && m.dtype === r1.dtype)
    assert(m.bandNames === r1.bandNames)
    assert(m.affine === r1.affine)
    (0 until r1.numBands).foreach(b => assert(m.image(b).sameElements(r1.image(b)), s"band $b"))
    assert(m.mask.sameElements(r1.mask))
  }
}
