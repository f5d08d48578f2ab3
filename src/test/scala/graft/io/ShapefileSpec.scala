package graft.io

import graft.core.Geom
import graft.core.Geom._
import graft.sql.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ShapefileIO against the reference's OWN test fixtures
  * (`/root/reference/tests/data/vector/…` — the files telluric's
  * FileCollection.open('x.shp') reads through fiona,
  * `collections.py:25-29, 524-543`), plus write→read round-trips. */
class ShapefileSpec extends SparkTestBase {
  import spark.implicits._

  private val refVec = "/root/reference/tests/data/vector"

  test("reference point fixture: test_id.shp (1 point; dbf '*'-overflow N → null)") {
    val df = ShapefileIO.read(spark, s"$refVec/test_id.shp")
    assert(df.count() === 1)
    assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ===
      Seq("geom" -> BinaryType, "id" -> LongType))
    val r = df.collect()(0)
    val g = Geom.fromWkb(r.getAs[Array[Byte]](0))
    assert(g === GPoint(743.0, -556.0))
    assert(r.isNullAt(1)) // id column is '**********' (dBase overflow)
  }

  test("reference polygon fixture: barrios.shp (53 polygons, C/F/N fields, holes)") {
    val df = ShapefileIO.read(spark, s"$refVec/bsas_barrios/barrios")
    assert(df.count() === 53)
    assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ===
      Seq("geom" -> BinaryType, "BARRIO" -> StringType, "COMUNA" -> DoubleType,
        "PERIMETRO" -> DoubleType, "AREA" -> DoubleType))
    val rows = df.collect()
    val r0 = rows(0)
    assert(r0.getString(1) === "CHACARITA")
    assert(r0.getDouble(2) === 15.0) // F-type exponent form '1.5e+001'
    assert(math.abs(r0.getDouble(4) - 3118100.9723964538) < 1e-6)
    // shoelace area of the decoded shell matches the layer's own AREA field
    val g0 = Geom.fromWkb(r0.getAs[Array[Byte]](0)).asInstanceOf[GPolygon]
    val shoelace = math.abs(signedArea2(g0.shell)) / 2
    assert(math.abs(shoelace - r0.getDouble(4)) < 1.0)
    // PUERTO MADERO is the one multipart record: 1 CW shell + 4 CCW holes
    // (the diques) → a single polygon with 4 interior rings
    val pm = rows.find(_.getString(1) == "PUERTO MADERO").get
    val gpm = Geom.fromWkb(pm.getAs[Array[Byte]](0)).asInstanceOf[GPolygon]
    assert(gpm.rings.length === 5)
    // holes lie inside the shell
    gpm.rings.drop(1).foreach { h =>
      assert(Geom.rayCastInRing(h(0).x, h(0).y, gpm.shell))
    }
    // total vertex count matches the .shp (19968 over 57 rings)
    val totalPts = rows.map(r =>
      Geom.fromWkb(r.getAs[Array[Byte]](0)).asInstanceOf[GPolygon]
        .rings.map(_.length).sum).sum
    assert(totalPts === 19968)
  }

  private def signedArea2(ring: Array[Pt]): Double =
    (0 until ring.length - 1).map(i =>
      ring(i).x * ring(i + 1).y - ring(i + 1).x * ring(i).y).sum

  test("write→read round-trip: points with every dbf-typed property") {
    val dir = java.nio.file.Files.createTempDirectory("shp").toString
    val df = Seq(
      (Geom.toWkb(GPoint(2.5, 48.75)), "alpha", 42L, 3.25, true,
        java.sql.Date.valueOf("2024-03-05")),
      (Geom.toWkb(GPoint(-120.0, -33.5)), "béta", -7L, -0.125, false,
        java.sql.Date.valueOf("1999-12-31")))
      .toDF("geom", "name", "n", "x", "flag", "d")
    ShapefileIO.write(df, s"$dir/pts")
    val back = ShapefileIO.read(spark, s"$dir/pts")
    assert(back.schema.fields.map(_.dataType).toSeq ===
      Seq(BinaryType, StringType, LongType, DoubleType, BooleanType, DateType))
    val rows = back.orderBy(desc("n")).collect()
    assert(Geom.fromWkb(rows(0).getAs[Array[Byte]](0)) === GPoint(2.5, 48.75))
    assert(rows(0).getString(1) === "alpha" && rows(0).getLong(2) === 42L)
    assert(rows(0).getDouble(3) === 3.25 && rows(0).getBoolean(4))
    assert(rows(0).getDate(5).toString === "2024-03-05")
    assert(rows(1).getString(1) === "béta") // latin-1 survives
    assert(rows(1).getDate(5).toString === "1999-12-31")
  }

  test("write→read round-trip: polygon with hole keeps ring structure; nulls survive") {
    val dir = java.nio.file.Files.createTempDirectory("shp").toString
    val shell = Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10), Pt(0, 0))
    val hole = Array(Pt(4, 4), Pt(6, 4), Pt(6, 6), Pt(4, 6), Pt(4, 4))
    val poly = GPolygon(Array(shell, hole))
    val df = Seq(
      (Geom.toWkb(poly), "withhole"),
      (null.asInstanceOf[Array[Byte]], null.asInstanceOf[String]))
      .toDF("geom", "tag")
    ShapefileIO.write(df, s"$dir/polys")
    val back = ShapefileIO.read(spark, s"$dir/polys").collect()
    val g = Geom.fromWkb(back(0).getAs[Array[Byte]](0)).asInstanceOf[GPolygon]
    assert(g.rings.length === 2)
    assert(math.abs(math.abs(signedArea2(g.shell)) / 2 - 100.0) < 1e-9)
    assert(math.abs(math.abs(signedArea2(g.rings(1))) / 2 - 4.0) < 1e-9)
    // interior point semantics preserved: in shell, not in (shell−hole)
    assert(Geom.polygonContains(2.0, 2.0, g))
    assert(!Geom.polygonContains(5.0, 5.0, g)) // inside the hole
    assert(back(1).isNullAt(0) && back(1).isNullAt(1)) // null shape + null prop
  }

  test("reference fixture re-encode: read barrios, write, read — stable") {
    val dir = java.nio.file.Files.createTempDirectory("shp").toString
    val df = ShapefileIO.read(spark, s"$refVec/bsas_barrios/barrios")
    ShapefileIO.write(df, s"$dir/barrios2")
    val back = ShapefileIO.read(spark, s"$dir/barrios2")
    assert(back.count() === 53)
    val a = df.select("BARRIO", "AREA").orderBy("BARRIO").collect()
    val b = back.select("BARRIO", "AREA").orderBy("BARRIO").collect()
    a.zip(b).foreach { case (x, y) =>
      assert(x.getString(0) === y.getString(0))
      assert(math.abs(x.getDouble(1) - y.getDouble(1)) < 1e-4)
    }
    // geometry survives: per-row ring counts and |areas| match
    val ga = df.select("BARRIO", "geom").orderBy("BARRIO").collect()
    val gb = back.select("BARRIO", "geom").orderBy("BARRIO").collect()
    ga.zip(gb).foreach { case (x, y) =>
      val gx = Geom.fromWkb(x.getAs[Array[Byte]](1)).asInstanceOf[GPolygon]
      val gy = Geom.fromWkb(y.getAs[Array[Byte]](1)).asInstanceOf[GPolygon]
      assert(gx.rings.length === gy.rings.length)
      assert(math.abs(math.abs(signedArea2(gx.shell)) - math.abs(signedArea2(gy.shell))) < 1e-6)
    }
  }

  test("truncated .shp/.dbf fail with the boundary contract, never an index crash") {
    import java.nio.file.{Files, Paths}
    val src = s"$refVec/bsas_barrios/barrios"
    val shp = Files.readAllBytes(Paths.get(src + ".shp"))
    val shx = Files.readAllBytes(Paths.get(src + ".shx"))
    val dbf = Files.readAllBytes(Paths.get(src + ".dbf"))
    val dir = Files.createTempDirectory("trunc").toString
    val pre = s"$dir/t"
    // truncated .shp with the intact .shx (its offsets point past the
    // data — the pre-round-4 reader crashed with raw index errors)
    Files.write(Paths.get(pre + ".shx"), shx)
    for (n <- 0 until shp.length by 997) {
      Files.write(Paths.get(pre + ".shp"), shp.take(n))
      try ShapefileIO.readShp(pre)
      catch { case _: IllegalArgumentException => () } // the contract
    }
    // truncated .dbf (field-descriptor walk + record slicing)
    for (n <- 0 until dbf.length by 499) {
      Files.write(Paths.get(pre + ".dbf"), dbf.take(n))
      try ShapefileIO.readDbf(pre)
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("truncated synthesized .shp/.dbf fail with the boundary contract (offline twin)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("trunc_synth").toString
    def sq(x0: Double, y0: Double, d: Double) =
      Array(Pt(x0, y0), Pt(x0 + d, y0), Pt(x0 + d, y0 + d), Pt(x0, y0 + d), Pt(x0, y0))
    val multi = GMultiPolygon(Array(
      GPolygon(Array(sq(0, 0, 10), sq(4, 4, 2))), GPolygon(Array(sq(20, 0, 5)))))
    val polys = Seq(
      (Geom.toWkb(multi), "two-part", 7L, 1.5),
      (Geom.toWkb(GPolygon(Array(sq(-8, -8, 3)))), "single", -3L, -0.25),
      (null.asInstanceOf[Array[Byte]], null.asInstanceOf[String], 0L, 0.0))
      .toDF("geom", "name", "n", "x")
    val pts = Seq((Geom.toWkb(GPoint(2.5, 48.75)), "a"), (Geom.toWkb(GPoint(-1.0, 3.0)), "b"))
      .toDF("geom", "name")
    ShapefileIO.write(polys, s"$dir/polys")
    ShapefileIO.write(pts, s"$dir/pts")
    ShapefileIO.readShp(s"$dir/polys")(0) match {
      case Some(GMultiPolygon(ps)) => assert(ps.map(_.rings.length).toSeq === Seq(2, 1))
      case g => fail(s"the two-part polygon read back as $g")
    }
    assert(ShapefileIO.readDbf(s"$dir/pts")._2.length === 2)
    val pre = s"$dir/t"
    for (src <- Seq(s"$dir/polys", s"$dir/pts")) {
      val shp = Files.readAllBytes(Paths.get(src + ".shp"))
      val dbf = Files.readAllBytes(Paths.get(src + ".dbf"))
      // truncated .shp with the intact .shx (its offsets point past the data)
      Files.write(Paths.get(pre + ".shx"), Files.readAllBytes(Paths.get(src + ".shx")))
      for (n <- 0 until shp.length) {
        Files.write(Paths.get(pre + ".shp"), shp.take(n))
        try ShapefileIO.readShp(pre)
        catch { case _: IllegalArgumentException => () } // the contract
      }
      // truncated .dbf (field-descriptor walk + record slicing)
      for (n <- 0 until dbf.length) {
        Files.write(Paths.get(pre + ".dbf"), dbf.take(n))
        try ShapefileIO.readDbf(pre)
        catch { case _: IllegalArgumentException => () }
      }
    }
  }
}
