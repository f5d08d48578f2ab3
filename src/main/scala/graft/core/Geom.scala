package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Lightweight geometry kernel for the hot path.
  *
  * The reference (telluric) models one geometry + CRS per value
  * (`/root/reference/telluric/vectors.py:271-292`). Here the hot-path
  * geometry ops — point-in-polygon (ray casting), envelope, closed-form
  * 4326↔3857 reprojection, equal-area (Eckert IV) area — are implemented
  * from scratch so the join/tiling path does not allocate JTS objects.
  * Exact constructive ops (union, buffer, convex hull, simplify) delegate
  * to JTS (jts-core ships with Spark's jars) in `graft.sql`.
  *
  * Wire format is standard little-endian WKB (ISO), so values interop with
  * JTS's WKBReader/WKBWriter and any external tool.
  */
object Geom {

  final case class Pt(x: Double, y: Double)

  final case class BBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double) {
    def union(o: BBox): BBox =
      BBox(math.min(xmin, o.xmin), math.min(ymin, o.ymin),
           math.max(xmax, o.xmax), math.max(ymax, o.ymax))
    def contains(x: Double, y: Double): Boolean =
      x >= xmin && x <= xmax && y >= ymin && y <= ymax
    def intersects(o: BBox): Boolean =
      xmin <= o.xmax && xmax >= o.xmin && ymin <= o.ymax && ymax >= o.ymin
  }

  /** Geometry ADT — the subset telluric round-trips through GeoJSON
    * (vectors.py:438-451); LinearRing is normalized to Polygon there, so it
    * never appears on the wire. */
  sealed trait Geometry {
    def bbox: BBox
    def isEmpty: Boolean
  }
  final case class GPoint(x: Double, y: Double) extends Geometry {
    def bbox: BBox = BBox(x, y, x, y)
    def isEmpty: Boolean = x.isNaN
  }
  final case class GMultiPoint(pts: Array[Pt]) extends Geometry {
    def bbox: BBox = bboxOf(pts)
    def isEmpty: Boolean = pts.isEmpty
  }
  final case class GLineString(pts: Array[Pt]) extends Geometry {
    def bbox: BBox = bboxOf(pts)
    def isEmpty: Boolean = pts.isEmpty
  }
  final case class GMultiLineString(lines: Array[Array[Pt]]) extends Geometry {
    def bbox: BBox = lines.map(bboxOf).reduceOption(_ union _).getOrElse(EmptyBBox)
    def isEmpty: Boolean = lines.isEmpty
  }
  /** rings(0) = exterior shell, rest = holes; rings closed (first==last).
    * bbox cached: PIP tests it per candidate row. */
  final case class GPolygon(rings: Array[Array[Pt]]) extends Geometry {
    def shell: Array[Pt] = rings(0)
    lazy val bbox: BBox = if (rings.isEmpty) EmptyBBox else bboxOf(rings(0))
    def isEmpty: Boolean = rings.isEmpty || rings(0).isEmpty
  }
  final case class GMultiPolygon(polys: Array[GPolygon]) extends Geometry {
    def bbox: BBox = polys.map(_.bbox).reduceOption(_ union _).getOrElse(EmptyBBox)
    def isEmpty: Boolean = polys.isEmpty
  }
  final case class GCollection(geoms: Array[Geometry]) extends Geometry {
    def bbox: BBox = geoms.map(_.bbox).reduceOption(_ union _).getOrElse(EmptyBBox)
    def isEmpty: Boolean = geoms.isEmpty
  }

  val EmptyBBox: BBox = BBox(Double.NaN, Double.NaN, Double.NaN, Double.NaN)

  private def bboxOf(pts: Array[Pt]): BBox = {
    if (pts.isEmpty) return EmptyBBox
    var xmin = pts(0).x; var xmax = pts(0).x
    var ymin = pts(0).y; var ymax = pts(0).y
    var i = 1
    while (i < pts.length) {
      val p = pts(i)
      if (p.x < xmin) xmin = p.x
      if (p.x > xmax) xmax = p.x
      if (p.y < ymin) ymin = p.y
      if (p.y > ymax) ymax = p.y
      i += 1
    }
    BBox(xmin, ymin, xmax, ymax)
  }

  // ---------------------------------------------------------------- PIP

  /** Ray-casting point-in-ring (crossing number), boundary-inclusive on
    * horizontal hits via the standard half-open rule. Branch-light loop on
    * packed coordinates — this is the hot inner loop of the PIP join
    * (BASELINE.json north_rule "ray-casting point-in-polygon join"). */
  def rayCastInRing(px: Double, py: Double, ring: Array[Pt]): Boolean = {
    var inside = false
    var i = 0
    var j = ring.length - 1
    while (i < ring.length) {
      val yi = ring(i).y; val yj = ring(j).y
      if ((yi > py) != (yj > py)) {
        val xi = ring(i).x; val xj = ring(j).x
        val xCross = (xj - xi) * (py - yi) / (yj - yi) + xi
        if (px < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  def polygonContains(px: Double, py: Double, poly: GPolygon): Boolean = {
    if (poly.isEmpty) return false
    val bb = poly.bbox
    if (!bb.contains(px, py)) return false
    if (!rayCastInRing(px, py, poly.shell)) return false
    var i = 1
    while (i < poly.rings.length) {
      if (rayCastInRing(px, py, poly.rings(i))) return false
      i += 1
    }
    true
  }

  def contains(px: Double, py: Double, g: Geometry): Boolean = g match {
    case p: GPolygon      => polygonContains(px, py, p)
    case m: GMultiPolygon => m.polys.exists(polygonContains(px, py, _))
    case GPoint(x, y)     => x == px && y == py
    case c: GCollection   => c.geoms.exists(contains(px, py, _))
    case _                => false
  }

  // ------------------------------------------------------------ measures

  /** Shoelace signed area of a ring in the ring's plane units. */
  def signedRingArea(ring: Array[Pt]): Double = {
    var s = 0.0
    var i = 0
    val n = ring.length
    while (i < n - 1) {
      s += ring(i).x * ring(i + 1).y - ring(i + 1).x * ring(i).y
      i += 1
    }
    s / 2.0
  }

  def planarArea(g: Geometry): Double = g match {
    case p: GPolygon =>
      if (p.isEmpty) 0.0
      else math.abs(signedRingArea(p.shell)) -
        p.rings.drop(1).map(r => math.abs(signedRingArea(r))).sum
    case m: GMultiPolygon => m.polys.map(planarArea).sum
    case c: GCollection   => c.geoms.map(planarArea).sum
    case _                => 0.0
  }

  /** Equal-area (Eckert IV) area in m², matching telluric's `area`
    * (vectors.py:424-428: reproject to +proj=eck4 then take planar area).
    * Eckert IV forward is the published closed form with Newton iteration
    * for theta. Empty geometry → 0.0 (vectors.py:427). */
  def areaEckertIV(g: Geometry): Double = transform(g, eck4Forward) match {
    case gg => planarArea(gg)
  }

  /** Eckert IV forward on the WGS84 authalic sphere. lon/lat degrees → x/y
    * meters. Public formula: x = 2/sqrt(pi(4+pi)) * R * lam * (1+cos th),
    * y = 2 sqrt(pi/(4+pi)) R sin th, with (th + sin th cos th + 2 sin th)
    * = (2 + pi/2) sin phi. */
  def eck4Forward(lon: Double, lat: Double): (Double, Double) = {
    val lam = math.toRadians(lon)
    val phi = math.toRadians(lat)
    val cTarget = (2.0 + math.Pi / 2.0) * math.sin(phi)
    var th = phi / 2.0
    var i = 0
    while (i < 10) {
      val f = th + math.sin(th) * math.cos(th) + 2.0 * math.sin(th) - cTarget
      val fp = 1.0 + math.cos(th) * math.cos(th) - math.sin(th) * math.sin(th) +
        2.0 * math.cos(th)
      val d = f / fp
      th -= d
      if (math.abs(d) < 1e-14) i = 10 else i += 1
    }
    val a = 6378137.0 // proj uses the ellipsoid's semimajor for +proj=eck4 +ellps=WGS84 (spherical formulas on a)
    val x = (2.0 / math.sqrt(math.Pi * (4.0 + math.Pi))) * a * lam * (1.0 + math.cos(th))
    val y = 2.0 * math.sqrt(math.Pi / (4.0 + math.Pi)) * a * math.sin(th)
    (x, y)
  }

  /** Apply a coordinate transform to every vertex. */
  def transform(g: Geometry, f: (Double, Double) => (Double, Double)): Geometry = {
    def tp(p: Pt): Pt = { val (x, y) = f(p.x, p.y); Pt(x, y) }
    g match {
      case GPoint(x, y)          => val (a, b) = f(x, y); GPoint(a, b)
      case GMultiPoint(ps)       => GMultiPoint(ps.map(tp))
      case GLineString(ps)       => GLineString(ps.map(tp))
      case GMultiLineString(ls)  => GMultiLineString(ls.map(_.map(tp)))
      case GPolygon(rs)          => GPolygon(rs.map(_.map(tp)))
      case GMultiPolygon(ps)     => GMultiPolygon(ps.map(p => GPolygon(p.rings.map(_.map(tp)))))
      case GCollection(gs)       => GCollection(gs.map(transform(_, f)))
    }
  }

  /** 4326 → 3857 closed form (exact; matches PROJ/mercantile.xy). */
  def to3857(g: Geometry): Geometry = transform(g, Mercator.lngLatToMeters)
  /** 3857 → 4326 closed form. */
  def to4326(g: Geometry): Geometry = transform(g, Mercator.metersToLngLat)

  /** SRID-dispatching transform for the supported CRS set (telluric's
    * working set: 4326, 3857 — constants.py:6-13). */
  def reproject(g: Geometry, srcSrid: Int, dstSrid: Int): Geometry =
    (srcSrid, dstSrid) match {
      case (a, b) if a == b => g
      case (4326, 3857)     => to3857(g)
      case (3857, 4326)     => to4326(g)
      case _ => throw new IllegalArgumentException(
        s"unsupported CRS transform $srcSrid->$dstSrid (supported: 4326<->3857)")
    }

  // ---------------------------------------------------------------- WKB

  private val PointT = 1
  private val LineT = 2
  private val PolyT = 3
  private val MPointT = 4
  private val MLineT = 5
  private val MPolyT = 6
  private val CollT = 7

  def toWkb(g: Geometry): Array[Byte] = {
    val buf = ByteBuffer.allocate(wkbSize(g)).order(ByteOrder.LITTLE_ENDIAN)
    writeWkb(g, buf)
    buf.array()
  }

  private def wkbSize(g: Geometry): Int = g match {
    case _: GPoint            => 21
    case GMultiPoint(ps)      => 9 + 21 * ps.length
    case GLineString(ps)      => 9 + 16 * ps.length
    case GMultiLineString(ls) => 9 + ls.map(l => 9 + 16 * l.length).sum
    case GPolygon(rs)         => 9 + rs.map(r => 4 + 16 * r.length).sum
    case GMultiPolygon(ps)    => 9 + ps.map(wkbSize).sum
    case GCollection(gs)      => 9 + gs.map(wkbSize).sum
  }

  private def writeWkb(g: Geometry, buf: ByteBuffer): Unit = {
    buf.put(1.toByte) // little-endian
    g match {
      case GPoint(x, y) =>
        buf.putInt(PointT); buf.putDouble(x); buf.putDouble(y)
      case GMultiPoint(ps) =>
        buf.putInt(MPointT); buf.putInt(ps.length)
        ps.foreach(p => writeWkb(GPoint(p.x, p.y), buf))
      case GLineString(ps) =>
        buf.putInt(LineT); buf.putInt(ps.length)
        ps.foreach(p => { buf.putDouble(p.x); buf.putDouble(p.y) })
      case GMultiLineString(ls) =>
        buf.putInt(MLineT); buf.putInt(ls.length)
        ls.foreach(l => writeWkb(GLineString(l), buf))
      case GPolygon(rs) =>
        buf.putInt(PolyT); buf.putInt(rs.length)
        rs.foreach { r =>
          buf.putInt(r.length)
          r.foreach(p => { buf.putDouble(p.x); buf.putDouble(p.y) })
        }
      case GMultiPolygon(ps) =>
        buf.putInt(MPolyT); buf.putInt(ps.length)
        ps.foreach(writeWkb(_, buf))
      case GCollection(gs) =>
        buf.putInt(CollT); buf.putInt(gs.length)
        gs.foreach(writeWkb(_, buf))
    }
  }

  def fromWkb(bytes: Array[Byte]): Geometry = {
    val buf = ByteBuffer.wrap(bytes)
    readWkb(buf)
  }

  private def readWkb(buf: ByteBuffer): Geometry = {
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val rawType = buf.getInt
    val gType = rawType % 1000 // tolerate EWKB-ish Z flags
    gType match {
      case PointT => GPoint(buf.getDouble, buf.getDouble)
      case LineT  => GLineString(readPts(buf))
      case PolyT =>
        val n = readCount(buf, 4, "rings")
        GPolygon(Array.fill(n)(readPts(buf)))
      case MPointT =>
        val n = readCount(buf, 21, "points")
        GMultiPoint(Array.fill(n) {
          readWkb(buf) match { case GPoint(x, y) => Pt(x, y); case _ => sys.error("bad wkb") }
        })
      case MLineT =>
        val n = readCount(buf, 9, "linestrings")
        GMultiLineString(Array.fill(n) {
          readWkb(buf) match { case GLineString(p) => p; case _ => sys.error("bad wkb") }
        })
      case MPolyT =>
        val n = readCount(buf, 9, "polygons")
        GMultiPolygon(Array.fill(n) {
          readWkb(buf) match { case p: GPolygon => p; case _ => sys.error("bad wkb") }
        })
      case CollT =>
        val n = readCount(buf, 9, "geometries")
        GCollection(Array.fill(n)(readWkb(buf)))
      case t => sys.error(s"unsupported wkb type $t")
    }
  }

  /** A WKB element count, checked before anything is sized from it: each
    * of the `n` elements takes at least `minBytes` of what is left, so a
    * negative or oversized count throws instead of yielding an empty
    * geometry or an array the JVM cannot allocate. */
  private def readCount(buf: ByteBuffer, minBytes: Int, what: String): Int = {
    val n = buf.getInt
    if (n < 0 || n > buf.remaining / minBytes)
      throw new IllegalArgumentException(
        s"bad wkb: count of $n $what with ${buf.remaining} bytes left")
    n
  }

  private def readPts(buf: ByteBuffer): Array[Pt] = {
    val n = readCount(buf, 16, "points")
    val out = new Array[Pt](n)
    var i = 0
    while (i < n) { out(i) = Pt(buf.getDouble, buf.getDouble); i += 1 }
    out
  }

  // ------------------------------------------------------------- GeoJSON

  /** Minimal GeoJSON geometry writer (vectors.py:295-309 to_geojson). */
  def toGeoJson(g: Geometry): String = {
    def coords(p: Pt): String = s"[${p.x},${p.y}]"
    def ring(r: Array[Pt]): String = r.map(coords).mkString("[", ",", "]")
    g match {
      case GPoint(x, y) => s"""{"type":"Point","coordinates":[$x,$y]}"""
      case GMultiPoint(ps) =>
        s"""{"type":"MultiPoint","coordinates":${ps.map(coords).mkString("[", ",", "]")}}"""
      case GLineString(ps) =>
        s"""{"type":"LineString","coordinates":${ring(ps)}}"""
      case GMultiLineString(ls) =>
        s"""{"type":"MultiLineString","coordinates":${ls.map(ring).mkString("[", ",", "]")}}"""
      case GPolygon(rs) =>
        s"""{"type":"Polygon","coordinates":${rs.map(ring).mkString("[", ",", "]")}}"""
      case GMultiPolygon(ps) =>
        s"""{"type":"MultiPolygon","coordinates":${ps.map(p => p.rings.map(ring).mkString("[", ",", "]")).mkString("[", ",", "]")}}"""
      case GCollection(gs) =>
        s"""{"type":"GeometryCollection","geometries":${gs.map(toGeoJson).mkString("[", ",", "]")}}"""
    }
  }

  /** Minimal GeoJSON geometry parser (no external JSON lib; the grammar of
    * geometry objects is tiny and regular). LinearRing inputs are not a
    * GeoJSON type — telluric normalizes them to Polygon before writing
    * (vectors.py:438-443), so parsing Polygon covers them. */
  def fromGeoJson(s: String): Geometry = {
    val t = """"type"\s*:\s*"(\w+)"""".r.findFirstMatchIn(s)
      .getOrElse(sys.error("no type")).group(1)
    val coordStart = s.indexOf(if (t == "GeometryCollection") "\"geometries\"" else "\"coordinates\"")
    val arr = s.indexOf('[', coordStart)
    def parseNested(idx0: Int): (Any, Int) = {
      var i = idx0 + 1
      val items = ArrayBuffer[Any]()
      while (s.charAt(i) != ']') {
        s.charAt(i) match {
          case '[' =>
            val (v, ni) = parseNested(i); items += v; i = ni
          case ',' | ' ' | '\n' | '\t' | '\r' => i += 1
          case _ =>
            var j = i
            while (j < s.length && ",]".indexOf(s.charAt(j)) < 0) j += 1
            items += s.substring(i, j).trim.toDouble
            i = j
        }
      }
      (items.toSeq, i + 1)
    }
    def asPt(v: Any): Pt = v match {
      case Seq(x: Double, y: Double, _*) => Pt(x, y)
      case _ => sys.error("bad coordinates")
    }
    def asRing(v: Any): Array[Pt] = v match {
      case s: Seq[_] => s.map(asPt).toArray
      case _ => sys.error("bad ring")
    }
    if (t == "GeometryCollection") {
      // split member objects at depth 1 of the geometries array
      val inner = ArrayBuffer[String]()
      var depth = 0; var start = -1; var i = arr
      while (i < s.length && (depth > 0 || s.charAt(i) != ']' || start >= 0)) {
        s.charAt(i) match {
          case '{' => if (depth == 0) start = i; depth += 1
          case '}' => depth -= 1; if (depth == 0) { inner += s.substring(start, i + 1); start = -1 }
          case ']' if depth == 0 => i = s.length
          case _ =>
        }
        i += 1
      }
      return GCollection(inner.map(fromGeoJson).toArray)
    }
    val (v, _) = parseNested(arr)
    (t, v) match {
      case ("Point", _)           => val p = asPt(v); GPoint(p.x, p.y)
      case ("MultiPoint", s: Seq[_])      => GMultiPoint(s.map(asPt).toArray)
      case ("LineString", s: Seq[_])      => GLineString(s.map(asPt).toArray)
      case ("MultiLineString", s: Seq[_]) => GMultiLineString(s.map(asRing).toArray)
      case ("Polygon", s: Seq[_])         => GPolygon(s.map(asRing).toArray)
      case ("MultiPolygon", s: Seq[_]) =>
        GMultiPolygon(s.map { p => GPolygon(asRings(p)) }.toArray)
      case _ => sys.error(s"unsupported geojson type $t")
    }
  }

  private def asRings(v: Any): Array[Array[Pt]] = v match {
    case s: Seq[_] => s.map {
      case r: Seq[_] => r.map {
        case Seq(x: Double, y: Double, _*) => Pt(x, y)
        case _ => sys.error("bad pt")
      }.toArray
      case _ => sys.error("bad ring")
    }.toArray
    case _ => sys.error("bad rings")
  }

  // ------------------------------------------------------------ builders

  def polygonFromBounds(xmin: Double, ymin: Double, xmax: Double, ymax: Double): GPolygon =
    GPolygon(Array(Array(Pt(xmin, ymin), Pt(xmin, ymax), Pt(xmax, ymax),
                         Pt(xmax, ymin), Pt(xmin, ymin))))

  def polygon(shell: (Double, Double)*): GPolygon = {
    val pts = shell.map { case (x, y) => Pt(x, y) }.toArray
    val closed = if (pts.nonEmpty && pts.head != pts.last) pts :+ pts.head else pts
    GPolygon(Array(closed))
  }
}
