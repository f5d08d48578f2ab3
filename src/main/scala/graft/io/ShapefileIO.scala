package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.Geom
import graft.core.Geom._

/** ESRI Shapefile codec — the reference's second vector format
  * (`/root/reference/telluric/collections.py:25-29` driver map:
  * `.shp → 'ESRI Shapefile'`), implemented pure-JVM from the public format
  * spec (ESRI Shapefile Technical Description, 1998) with no GDAL/fiona
  * dependency.
  *
  * Scale posture: a shapefile is a NON-SPLITTABLE artifact hard-capped at
  * 2 GB by its 32-bit word offsets — at 100 TB it is always the small
  * (layer / broadcast) side of a plan, never the probe side. The codec is
  * therefore deliberately driver-side: read → DataFrame (then broadcast by
  * the join planner), collect → write. Big data lives in parquet.
  *
  * Supported shapes: Null(0), Point(1), PolyLine(3), Polygon(5),
  * MultiPoint(8) — the 2-D types fiona exposes for the reference's own
  * test fixtures. Z/M variants raise (the reference's data model is 2-D;
  * `vectors.py` has_z is accessor-only).
  *
  * Polygon ring semantics (spec p.8, matching shapely/fiona's reading):
  * clockwise rings (negative shoelace) are shells, counter-clockwise rings
  * are holes, each hole assigned to the shell that contains its first
  * vertex. One shell → Polygon, several → MultiPolygon. On write, shells
  * are emitted CW and holes CCW.
  *
  * DBF (dBase III) field mapping:
  *   C → StringType (latin-1, trimmed; empty → null)
  *   N dec=0 len≤18 → LongType, else DoubleType; all-'*' overflow → null
  *   F → DoubleType
  *   L → BooleanType ('T','t','Y','y' true; '?',' ' null)
  *   D → DateType (yyyyMMdd; blank → null) — feeding the same fiona-schema
  *       date semantics as SchemaRules.transformProperties.
  */
object ShapefileIO {

  // ------------------------------------------------------------- reading

  final case class DbfField(name: String, ftype: Char, len: Int, dec: Int)

  /** read a shapefile (path with or without .shp) into a DataFrame with a
    * WKB `geom` column followed by the DBF property columns. */
  def read(spark: SparkSession, path: String, geomCol: String = "geom"): DataFrame = {
    val prefix = if (path.endsWith(".shp")) path.dropRight(4) else path
    val geoms = readShp(prefix)
    val (fields, props) = readDbf(prefix)
    require(props.isEmpty || props.length == geoms.length,
      s"shp has ${geoms.length} records but dbf has ${props.length}")
    val schema = StructType(
      StructField(geomCol, BinaryType, nullable = true) +:
        fields.map(f => StructField(f.name, sparkType(f), nullable = true)))
    val rows: Seq[Row] = geoms.indices.map { i =>
      val g = geoms(i).map(Geom.toWkb).orNull
      val vs = if (props.isEmpty) Seq.empty else props(i)
      Row.fromSeq(g +: vs)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  private def sparkType(f: DbfField): DataType = f.ftype match {
    case 'C' => StringType
    case 'N' => if (f.dec == 0 && f.len <= 18) LongType else DoubleType
    case 'F' => DoubleType
    case 'L' => BooleanType
    case 'D' => DateType
    case other => throw new IllegalArgumentException(s"unsupported dbf field type '$other'")
  }

  /** geometry stream of the .shp; None = null shape. Uses the .shx index
    * when present (authoritative record offsets), else a sequential walk.
    * Truncated/corrupt .shp|.shx fails with IllegalArgumentException
    * naming the file — the decode loops index the mapped bytes directly,
    * so the error contract is enforced at this boundary (same posture as
    * [[GeoTiffIO.read]]). */
  def readShp(prefix: String): IndexedSeq[Option[Geom.Geometry]] =
    try readShpImpl(prefix)
    catch {
      case e @ (_: IndexOutOfBoundsException |
                _: java.nio.BufferUnderflowException |
                _: NegativeArraySizeException) =>
        throw new IllegalArgumentException(
          s"truncated or corrupt shapefile '$prefix.shp' " +
            s"(${e.getClass.getSimpleName} while decoding)", e)
    }

  private def readShpImpl(prefix: String): IndexedSeq[Option[Geom.Geometry]] = {
    val shp = ByteBuffer.wrap(Files.readAllBytes(Paths.get(prefix + ".shp")))
    val shxPath = Paths.get(prefix + ".shx")
    val offsets: IndexedSeq[Int] =
      if (Files.exists(shxPath)) {
        val shx = ByteBuffer.wrap(Files.readAllBytes(shxPath))
        shx.order(ByteOrder.BIG_ENDIAN)
        val n = (shx.capacity() - 100) / 8
        (0 until n).map(i => shx.getInt(100 + 8 * i) * 2)
      } else {
        val b = scala.collection.mutable.ArrayBuffer.empty[Int]
        shp.order(ByteOrder.BIG_ENDIAN)
        val fileLen = shp.getInt(24) * 2
        var off = 100
        while (off + 8 <= fileLen) {
          b += off
          off += 8 + shp.getInt(off + 4) * 2
        }
        b.toIndexedSeq
      }
    offsets.map(o => parseShape(shp, o + 8))
  }

  private def parseShape(buf: ByteBuffer, at: Int): Option[Geom.Geometry] = {
    val le = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    le.position(at)
    le.getInt match {
      case 0 => None
      case 1 => Some(GPoint(le.getDouble, le.getDouble))
      case 8 => // MultiPoint: bbox(32) + numPoints + points
        le.position(at + 36)
        val n = le.getInt
        Some(GMultiPoint(Array.fill(n)(Pt(le.getDouble, le.getDouble))))
      case 3 => // PolyLine: bbox + numParts + numPoints + parts[] + points[]
        val parts = readParts(le, at)
        if (parts.length == 1) Some(GLineString(parts(0)))
        else Some(GMultiLineString(parts))
      case 5 =>
        Some(assemblePolygon(readParts(le, at)))
      case z @ (11 | 13 | 15 | 18 | 21 | 23 | 25 | 28) =>
        throw new IllegalArgumentException(s"Z/M shape type $z not supported (2-D data model)")
      case other =>
        throw new IllegalArgumentException(s"unknown shape type $other")
    }
  }

  private def readParts(le: ByteBuffer, at: Int): Array[Array[Pt]] = {
    le.position(at + 36)
    val nParts = le.getInt
    val nPts = le.getInt
    val starts = Array.fill(nParts)(le.getInt)
    val pts = Array.fill(nPts)(Pt(le.getDouble, le.getDouble))
    Array.tabulate(nParts) { i =>
      val s = starts(i)
      val e = if (i + 1 < nParts) starts(i + 1) else nPts
      pts.slice(s, e)
    }
  }

  /** shoelace ×2; positive = CCW in math orientation. */
  private def signedArea2(ring: Array[Pt]): Double = {
    var a = 0.0
    var i = 0
    while (i < ring.length - 1) {
      a += ring(i).x * ring(i + 1).y - ring(i + 1).x * ring(i).y
      i += 1
    }
    a
  }

  private def assemblePolygon(rings: Array[Array[Pt]]): Geom.Geometry = {
    val (shells, holes) = rings.partition(signedArea2(_) < 0) // CW = shell
    if (shells.isEmpty) // degenerate: treat all rings as shells (QGIS-lenient)
      return if (rings.length == 1) GPolygon(rings)
      else GMultiPolygon(rings.map(r => GPolygon(Array(r))))
    if (shells.length == 1) GPolygon(shells ++ holes)
    else {
      val polys = shells.map(s => (s, scala.collection.mutable.ArrayBuffer.empty[Array[Pt]]))
      holes.foreach { h =>
        val p = h(0)
        polys.find { case (s, _) => Geom.rayCastInRing(p.x, p.y, s) }
          .orElse(Some(polys.head))
          .foreach(_._2 += h)
      }
      GMultiPolygon(polys.map { case (s, hs) => GPolygon(s +: hs.toArray) })
    }
  }

  /** DBF → (fields, rows of parsed values). Deleted records ('*') skipped.
    * Same boundary error contract as [[readShp]] for the .dbf side. */
  def readDbf(prefix: String): (Seq[DbfField], IndexedSeq[Seq[Any]]) =
    try readDbfImpl(prefix)
    catch {
      case e @ (_: IndexOutOfBoundsException |
                _: java.nio.BufferUnderflowException |
                _: NegativeArraySizeException) =>
        throw new IllegalArgumentException(
          s"truncated or corrupt dBase file '$prefix.dbf' " +
            s"(${e.getClass.getSimpleName} while decoding)", e)
    }

  private def readDbfImpl(prefix: String): (Seq[DbfField], IndexedSeq[Seq[Any]]) = {
    val p = Paths.get(prefix + ".dbf")
    if (!Files.exists(p)) return (Seq.empty, IndexedSeq.empty)
    val b = Files.readAllBytes(p)
    val le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val nRec = le.getInt(4)
    val headLen = le.getShort(8).toInt
    val recLen = le.getShort(10).toInt
    val fields = scala.collection.mutable.ArrayBuffer.empty[DbfField]
    var off = 32
    while (b(off) != 0x0d) {
      val name = new String(b, off, 11, "ISO-8859-1").takeWhile(_ != '\u0000').trim
      fields += DbfField(name, b(off + 11).toChar, b(off + 16) & 0xff, b(off + 17) & 0xff)
      off += 32
    }
    val rows = (0 until nRec).flatMap { i =>
      val ro = headLen + i.toLong * recLen
      if (ro + recLen > b.length || b(ro.toInt) == '*') None
      else {
        var fp = ro.toInt + 1
        Some(fields.toSeq.map { f =>
          val raw = new String(b, fp, f.len, "ISO-8859-1")
          fp += f.len
          parseDbfValue(raw, f)
        })
      }
    }
    (fields.toSeq, rows)
  }

  private def parseDbfValue(raw: String, f: DbfField): Any = {
    val s = raw.trim
    f.ftype match {
      case 'C' => if (s.isEmpty) null else s
      case 'N' | 'F' =>
        if (s.isEmpty || s.forall(_ == '*')) null // '*'-fill = dBase overflow
        else if (f.ftype == 'N' && f.dec == 0 && f.len <= 18) s.toLong
        else s.toDouble
      case 'L' => s.headOption match {
        case Some(c) if "TtYy".contains(c) => true
        case Some(c) if "FfNn".contains(c) => false
        case _ => null
      }
      case 'D' =>
        if (s.length != 8) null
        else java.sql.Date.valueOf(
          s"${s.substring(0, 4)}-${s.substring(4, 6)}-${s.substring(6, 8)}")
      case _ => null
    }
  }

  // ------------------------------------------------------------- writing

  /** write df (WKB geomCol + simple property columns) as prefix.shp/.shx/
    * .dbf. All geometries must share one shapefile family (the format's
    * own constraint — and the reference's homogeneity rule,
    * collections.py:455-460). */
  def write(df: DataFrame, prefix: String, geomCol: String = "geom"): Unit = {
    val propFields = df.schema.fields.filterNot(_.name == geomCol)
    val gi = df.schema.fieldIndex(geomCol)
    val rows = df.collect()
    val geoms = rows.map { r =>
      if (r.isNullAt(gi)) None else Some(Geom.fromWkb(r.getAs[Array[Byte]](gi)))
    }

    // ---- dbf
    val dbfDefs = propFields.map { f =>
      f.dataType match {
        case StringType =>
          val maxLen = rows.iterator.map { r =>
            val i = df.schema.fieldIndex(f.name)
            if (r.isNullAt(i)) 0 else r.get(i).toString.getBytes("ISO-8859-1").length
          }.maxOption.getOrElse(0)
          DbfField(f.name.take(10), 'C', math.min(math.max(maxLen, 1), 254), 0)
        case LongType | IntegerType | ShortType | ByteType => DbfField(f.name.take(10), 'N', 18, 0)
        case DoubleType | FloatType => DbfField(f.name.take(10), 'N', 19, 11)
        case BooleanType => DbfField(f.name.take(10), 'L', 1, 0)
        case DateType => DbfField(f.name.take(10), 'D', 8, 0)
        case t => throw new IllegalArgumentException(s"dbf cannot carry ${f.name}: $t")
      }
    }
    writeDbf(prefix, dbfDefs.toSeq, rows.map { r =>
      propFields.indices.map { k =>
        val i = df.schema.fieldIndex(propFields(k).name)
        if (r.isNullAt(i)) null else r.get(i)
      }
    }.toIndexedSeq)

    // ---- shp + shx
    val shapeType = geoms.flatten.headOption match {
      case Some(_: GPoint) => 1
      case Some(_: GMultiPoint) => 8
      case Some(_: GLineString) | Some(_: GMultiLineString) => 3
      case Some(_: GPolygon) | Some(_: GMultiPolygon) => 5
      case _ => 0
    }
    val contents = geoms.map(g => shapeContent(g, shapeType))
    val fileWords = 50 + contents.map(c => 4 + c.length / 2).sum
    val shp = ByteBuffer.allocate(fileWords * 2).order(ByteOrder.BIG_ENDIAN)
    val shx = ByteBuffer.allocate(100 + 8 * contents.length).order(ByteOrder.BIG_ENDIAN)
    val bb = geoms.flatten.map(_.bbox).reduceOption(_ union _)
      .getOrElse(Geom.BBox(0, 0, 0, 0))
    def header(buf: ByteBuffer, words: Int): Unit = {
      buf.putInt(0, 9994); buf.putInt(24, words)
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(28, 1000); buf.putInt(32, shapeType)
      buf.putDouble(36, bb.xmin); buf.putDouble(44, bb.ymin)
      buf.putDouble(52, bb.xmax); buf.putDouble(60, bb.ymax)
      buf.order(ByteOrder.BIG_ENDIAN)
    }
    header(shp, fileWords)
    header(shx, (100 + 8 * contents.length) / 2)
    var pos = 100
    contents.zipWithIndex.foreach { case (c, i) =>
      shx.putInt(100 + 8 * i, pos / 2)
      shx.putInt(104 + 8 * i, c.length / 2)
      shp.putInt(pos, i + 1); shp.putInt(pos + 4, c.length / 2)
      System.arraycopy(c, 0, shp.array(), pos + 8, c.length)
      pos += 8 + c.length
    }
    Files.write(Paths.get(prefix + ".shp"), shp.array())
    Files.write(Paths.get(prefix + ".shx"), shx.array())
  }

  /** record content bytes (shape type + body), little-endian. */
  private def shapeContent(g: Option[Geom.Geometry], declared: Int): Array[Byte] = g match {
    case None => le(4) { b => b.putInt(0) }.array()
    case Some(GPoint(x, y)) => le(20) { b => b.putInt(1); b.putDouble(x); b.putDouble(y) }.array()
    case Some(GMultiPoint(pts)) =>
      le(40 + 16 * pts.length) { b =>
        b.putInt(8); putBBox(b, Geom.GMultiPoint(pts).bbox); b.putInt(pts.length)
        pts.foreach(p => { b.putDouble(p.x); b.putDouble(p.y) })
      }.array()
    case Some(GLineString(pts)) => partsContent(3, Array(pts))
    case Some(GMultiLineString(ls)) => partsContent(3, ls)
    case Some(p: GPolygon) => partsContent(5, orientedRings(Array(p)))
    case Some(GMultiPolygon(ps)) => partsContent(5, orientedRings(ps))
    case Some(other) =>
      throw new IllegalArgumentException(s"shapefile cannot carry ${other.getClass.getSimpleName}")
  }

  /** shells CW, holes CCW (spec p.8). */
  private def orientedRings(ps: Array[GPolygon]): Array[Array[Pt]] =
    ps.flatMap { p =>
      p.rings.zipWithIndex.map { case (r, i) =>
        val ccw = signedArea2(r) > 0
        if ((i == 0 && ccw) || (i > 0 && !ccw)) r.reverse else r
      }
    }

  private def partsContent(t: Int, parts: Array[Array[Pt]]): Array[Byte] = {
    val nPts = parts.map(_.length).sum
    val size = 44 + 4 * parts.length + 16 * nPts
    le(size) { b =>
      b.putInt(t)
      val bb = parts.flatten.foldLeft(Geom.EmptyBBox) { (acc, p) =>
        if (acc.xmin.isNaN) Geom.BBox(p.x, p.y, p.x, p.y)
        else Geom.BBox(math.min(acc.xmin, p.x), math.min(acc.ymin, p.y),
          math.max(acc.xmax, p.x), math.max(acc.ymax, p.y))
      }
      putBBox(b, bb)
      b.putInt(parts.length); b.putInt(nPts)
      var s = 0
      parts.foreach { p => b.putInt(s); s += p.length }
      parts.foreach(_.foreach(p => { b.putDouble(p.x); b.putDouble(p.y) }))
    }.array()
  }

  private def putBBox(b: ByteBuffer, bb: Geom.BBox): Unit = {
    b.putDouble(bb.xmin); b.putDouble(bb.ymin); b.putDouble(bb.xmax); b.putDouble(bb.ymax)
  }

  private def le(size: Int)(f: ByteBuffer => Unit): ByteBuffer = {
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    f(b)
    b
  }

  private def writeDbf(prefix: String, fields: Seq[DbfField], rows: IndexedSeq[Seq[Any]]): Unit = {
    val recLen = 1 + fields.map(_.len).sum
    val headLen = 32 + 32 * fields.length + 1
    val out = ByteBuffer.allocate(headLen + recLen * rows.length + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(0, 0x03.toByte)
    out.put(1, 95.toByte); out.put(2, 7.toByte); out.put(3, 26.toByte) // yymmdd
    out.putInt(4, rows.length)
    out.putShort(8, headLen.toShort)
    out.putShort(10, recLen.toShort)
    fields.zipWithIndex.foreach { case (f, i) =>
      val off = 32 + 32 * i
      val nm = f.name.getBytes("ISO-8859-1")
      System.arraycopy(nm, 0, out.array(), off, math.min(nm.length, 11))
      out.put(off + 11, f.ftype.toByte)
      out.put(off + 16, f.len.toByte)
      out.put(off + 17, f.dec.toByte)
    }
    out.put(headLen - 1, 0x0d.toByte)
    rows.zipWithIndex.foreach { case (vals, ri) =>
      var p = headLen + ri * recLen
      out.put(p, ' '.toByte); p += 1
      fields.zip(vals).foreach { case (f, v) =>
        val s = formatDbf(v, f)
        val bytes = s.getBytes("ISO-8859-1")
        System.arraycopy(bytes, 0, out.array(), p, f.len)
        p += f.len
      }
    }
    out.put(out.capacity() - 1, 0x1a.toByte) // EOF
    Files.write(Paths.get(prefix + ".dbf"), out.array())
  }

  private def formatDbf(v: Any, f: DbfField): String = {
    val s = (v, f.ftype) match {
      case (null, 'C') => ""
      case (null, _) => ""
      case (x, 'C') => x.toString.take(f.len)
      case (x: Long, 'N') => x.toString
      case (x: Int, 'N') => x.toString
      case (x: Short, 'N') => x.toString
      case (x: Byte, 'N') => x.toString
      case (x: Double, 'N') => fitNumeric(f"$x%.11f", f.len)
      case (x: Float, 'N') => fitNumeric(f"${x.toDouble}%.11f", f.len)
      case (x: Boolean, 'L') => if (x) "T" else "F"
      case (d: java.sql.Date, 'D') => d.toString.replace("-", "")
      case (x, t) => throw new IllegalArgumentException(s"cannot format $x as dbf '$t'")
    }
    if (f.ftype == 'C') s.padTo(f.len, ' ')
    else s.reverse.padTo(f.len, ' ').reverse.take(f.len) // right-justify
  }

  /** fixed-width numeric fit: drop decimal digits from the right; if even
    * the integer part overflows, '*'-fill (the dBase overflow convention —
    * read back as null, same as the reference fixtures' test_id.dbf). */
  private def fitNumeric(s: String, len: Int): String =
    if (s.length <= len) s
    else if (s.indexOf('.') > len) "*" * len
    else s.take(len)
}
