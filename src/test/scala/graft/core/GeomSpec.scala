package graft.core

import org.scalatest.funsuite.AnyFunSuite
import Geom._

class GeomSpec extends AnyFunSuite {

  private val unitSquare = Geom.polygonFromBounds(0, 0, 1, 1)

  test("ray-cast PIP: interior/exterior/holes") {
    assert(Geom.polygonContains(0.5, 0.5, unitSquare))
    assert(!Geom.polygonContains(1.5, 0.5, unitSquare))
    assert(!Geom.polygonContains(-0.1, -0.1, unitSquare))
    val withHole = GPolygon(Array(
      unitSquare.shell,
      Array(Pt(0.25, 0.25), Pt(0.25, 0.75), Pt(0.75, 0.75), Pt(0.75, 0.25), Pt(0.25, 0.25))))
    assert(!Geom.polygonContains(0.5, 0.5, withHole))
    assert(Geom.polygonContains(0.1, 0.1, withHole))
  }

  test("PIP on convex pentagon matches half-plane test") {
    val pent = Geom.polygon((0, 0), (2, -1), (4, 0), (3, 3), (1, 3))
    val shell = pent.shell
    def halfPlane(px: Double, py: Double): Boolean = {
      // convex, CCW? compute orientation per edge with consistent sign
      var sign = 0
      var ok = true
      var i = 0
      while (i < shell.length - 1 && ok) {
        val cross = (shell(i + 1).x - shell(i).x) * (py - shell(i).y) -
          (shell(i + 1).y - shell(i).y) * (px - shell(i).x)
        val s = if (cross > 0) 1 else if (cross < 0) -1 else 0
        if (s != 0) {
          if (sign == 0) sign = s
          else if (s != sign) ok = false
        }
        i += 1
      }
      ok
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5000) {
      val px = rnd.nextDouble() * 6 - 1
      val py = rnd.nextDouble() * 6 - 2
      assert(Geom.polygonContains(px, py, pent) === halfPlane(px, py), s"($px,$py)")
    }
  }

  test("WKB round-trip all types") {
    val geoms: Seq[Geometry] = Seq(
      GPoint(1.5, -2.25),
      GMultiPoint(Array(Pt(0, 0), Pt(1, 1))),
      GLineString(Array(Pt(0, 0), Pt(2, 3), Pt(5, 5))),
      GMultiLineString(Array(Array(Pt(0, 0), Pt(1, 1)), Array(Pt(2, 2), Pt(3, 3)))),
      unitSquare,
      GMultiPolygon(Array(unitSquare, Geom.polygonFromBounds(2, 2, 3, 3))),
      GCollection(Array(GPoint(9, 9), unitSquare)))
    for (g <- geoms) {
      val wkb = Geom.toWkb(g)
      assert(Geom.toWkb(Geom.fromWkb(wkb)) sameElements wkb)
    }
  }

  test("WKB counts are checked against the bytes left before sizing anything") {
    def wkb(ints: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(1 + 4 * ints.size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte)
      ints.foreach(b.putInt)
      b.array()
    }
    def rejects(bytes: Array[Byte], count: Int) = {
      val e = intercept[IllegalArgumentException](Geom.fromWkb(bytes))
      assert(e.getMessage.contains(s"count of $count "), e.getMessage)
    }
    rejects(wkb(2, Int.MaxValue), Int.MaxValue) // 9-byte LineString, 2^31-1 points
    rejects(wkb(3, -1), -1)                     // negative ring count: no empty polygon
    rejects(wkb(3, 1, 2), 2)                    // a ring of 2 points in 0 bytes
    rejects(wkb(4, 2, 1), 2)                    // 2 points need ≥ 42 bytes
    rejects(wkb(6, 1000000000), 1000000000)
    rejects(wkb(7, Int.MaxValue), Int.MaxValue)
    // exact-size inputs still parse
    assert(Geom.fromWkb(wkb(2, 0)).isEmpty)
    assert(Geom.fromWkb(wkb(3, 0)).isEmpty)
  }

  test("WKB interop with JTS") {
    val jtsReader = new org.locationtech.jts.io.WKBReader()
    val g = unitSquare
    val jts = jtsReader.read(Geom.toWkb(g))
    assert(jts.getGeometryType === "Polygon")
    assert(jts.getArea === 1.0)
    val jtsWriter = new org.locationtech.jts.io.WKBWriter(2, 2) // little-endian
    val back = Geom.fromWkb(jtsWriter.write(jts))
    assert(back.isInstanceOf[GPolygon])
    assert(Geom.planarArea(back) === 1.0)
  }

  test("GeoJSON round-trip (vectors.py:295-309 semantics)") {
    val g = Geom.polygon((109.61, 40.86), (109.62, 40.86), (109.62, 40.87))
    val js = Geom.toGeoJson(g)
    assert(js.contains("\"Polygon\""))
    val back = Geom.fromGeoJson(js).asInstanceOf[GPolygon]
    assert(back.shell.length === g.shell.length)
    assert(back.shell(0) === g.shell(0))
    val p = Geom.fromGeoJson("""{"type":"Point","coordinates":[1.25, -3.5]}""")
    assert(p === GPoint(1.25, -3.5))
    val mp = Geom.fromGeoJson(
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]]]}""")
    assert(mp.isInstanceOf[GMultiPolygon])
  }

  test("reproject 4326<->3857 round-trip, unsupported CRS errors") {
    val g = GPoint(109.6153, 40.8655)
    val m = Geom.reproject(g, 4326, 3857).asInstanceOf[GPoint]
    val back = Geom.reproject(m, 3857, 4326).asInstanceOf[GPoint]
    assert(math.abs(back.x - g.x) < 1e-9)
    assert(math.abs(back.y - g.y) < 1e-9)
    assert(Geom.reproject(g, 4326, 4326) eq g)
    intercept[IllegalArgumentException](Geom.reproject(g, 4326, 32633))
  }

  test("Eckert IV area ~ true spherical area (vectors.py:424-428)") {
    // 1-degree square at the equator: true WGS84-sphere-ish area ~ 12364 km^2.
    val sq = Geom.polygonFromBounds(0, 0, 1, 1)
    val a = Geom.areaEckertIV(sq) / 1e6 // km^2
    assert(a > 12000 && a < 12500, s"area=$a km2")
    // empty polygon area == 0.0 (vectors.py:427)
    assert(Geom.areaEckertIV(GPolygon(Array.empty)) === 0.0)
    // equal-area property: same square at lat 60 has ~half the lon extent area
    val hi = Geom.polygonFromBounds(0, 59.5, 1, 60.5)
    val ratio = Geom.areaEckertIV(hi) / Geom.areaEckertIV(sq)
    assert(ratio > 0.45 && ratio < 0.55, s"ratio=$ratio")
  }

  test("planar area with holes") {
    val withHole = GPolygon(Array(
      Geom.polygonFromBounds(0, 0, 4, 4).shell,
      Geom.polygonFromBounds(1, 1, 2, 2).shell))
    assert(Geom.planarArea(withHole) === 15.0)
  }

  test("bbox and contains") {
    val bb = unitSquare.bbox
    assert(bb === BBox(0, 0, 1, 1))
    assert(bb.contains(0.5, 0.5) && !bb.contains(1.1, 0.5))
    assert(bb.intersects(BBox(0.5, 0.5, 2, 2)) && !bb.intersects(BBox(2, 2, 3, 3)))
  }
}
