package graft.sql

import graft.core.{Geom, Mercator}
import org.apache.spark.sql.{AnalysisException, GraftRegistrar, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, BoundReference, Expression,
  Generator, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.functions.{call_function, col, lit, size}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-driven sweep over the registered function surface — the analogue
  * of the reference's parametrized delegated-op sweeps
  * (tests/test_geovector.py:254-309, tests/test_features.py:74-147): every
  * function in [[GraftFunctions.all]] must resolve through the session
  * extensions and evaluate on a representative input without throwing, and
  * on seeded hostile rows (nulls, null elements, ragged arrays, empty
  * strings, malformed WKB/GeoJSON/WKT, NaN, out-of-range ints) give the
  * same result compiled and interpreted, or fail with the same exception
  * class — never an NPE or an `Error`. */
class RegistrySweepSpec extends SparkTestBase {
  import RegistrySweepSpec._

  private val poly = Geom.toWkb(Geom.polygonFromBounds(0, 0, 2, 2))
  private val poly2 = Geom.toWkb(Geom.polygonFromBounds(1, 1, 3, 3))
  private val point = Geom.toWkb(Geom.GPoint(1.0, 1.0))

  /** name → representative argument expressions (SQL text). */
  private val samples: Map[String, String] = {
    def b(wkb: Array[Byte]) = "X'" + wkb.map(x => f"$x%02X").mkString + "'"
    val g = b(poly)
    val g2 = b(poly2)
    val p = b(point)
    Map(
      "st_point" -> "st_point(1.0d, 2.0d)",
      "st_makebbox" -> "st_makebbox(0d, 0d, 1d, 1d)",
      "st_geomfromgeojson" -> """st_geomfromgeojson('{"type":"Point","coordinates":[1,2]}')""",
      "st_asgeojson" -> s"st_asgeojson($g)",
      "st_geomfromtext" -> "st_geomfromtext('POINT (1 2)')",
      "st_astext" -> s"st_astext($g)",
      "st_x" -> s"st_x($p)", "st_y" -> s"st_y($p)",
      "st_xmin" -> s"st_xmin($g)", "st_ymin" -> s"st_ymin($g)",
      "st_xmax" -> s"st_xmax($g)", "st_ymax" -> s"st_ymax($g)",
      "st_area" -> s"st_area($g)", "st_area_eck4" -> s"st_area_eck4($g)",
      "st_isempty" -> s"st_isempty($g)", "st_isvalid" -> s"st_isvalid($g)",
      "st_issimple" -> s"st_issimple($g)",
      "st_boundary" -> s"st_boundary($g)", "st_centroid" -> s"st_centroid($g)",
      "st_convexhull" -> s"st_convexhull($g)", "st_envelope" -> s"st_envelope($g)",
      "st_buffer" -> s"st_buffer($g, 0.5d)",
      "st_simplify" -> s"st_simplify($g, 0.1d)",
      "st_transform" -> s"st_transform($g, 4326, 3857)",
      "st_contains" -> s"st_contains($g, $p)",
      "st_contains_xy" -> s"st_contains_xy($g, 1.0d, 1.0d)",
      "st_contains_ring" -> "st_contains_ring(array(0d,0d,2d,2d,0d), array(0d,2d,2d,0d,0d), 1.0d, 1.0d)",
      "st_within" -> s"st_within($p, $g)",
      "st_intersects" -> s"st_intersects($g, $g2)",
      "st_disjoint" -> s"st_disjoint($g, $g2)",
      "st_equals" -> s"st_equals($g, $g)",
      "st_touches" -> s"st_touches($g, $g2)",
      "st_crosses" -> s"st_crosses($g, $g2)",
      "st_overlaps" -> s"st_overlaps($g, $g2)",
      "st_covers" -> s"st_covers($g, $p)",
      "st_equals_exact" -> s"st_equals_exact($g, $g, 0.0d)",
      "st_almost_equals" -> s"st_almost_equals($g, $g, 6)",
      "st_relate" -> s"st_relate($g, $g2)",
      "st_has_z" -> s"st_has_z($g)",
      "st_is_closed" -> s"st_is_closed(st_exterior($g))",
      "st_is_ring" -> s"st_is_ring(st_exterior($g))",
      "st_exterior" -> s"st_exterior($g)",
      "st_interiors" -> s"st_interiors($g)",
      "st_coords" -> s"st_coords(st_exterior($g))",
      "st_xy" -> s"st_xy($p)",
      "st_intersection" -> s"st_intersection($g, $g2)",
      "st_union" -> s"st_union($g, $g2)",
      "st_difference" -> s"st_difference($g, $g2)",
      "st_symdifference" -> s"st_symdifference($g, $g2)",
      "st_distance" -> s"st_distance($p, $g2)",
      "st_tile" -> "st_tile(1.0d, 2.0d, 12)",
      "tile_x" -> "tile_x(st_tile(1.0d, 2.0d, 12))",
      "tile_y" -> "tile_y(st_tile(1.0d, 2.0d, 12))",
      "tile_z" -> "tile_z(st_tile(1.0d, 2.0d, 12))",
      "tile_parent" -> "tile_parent(st_tile(1.0d, 2.0d, 12), 2)",
      "tile_bounds_3857" -> "tile_bounds_3857(st_tile(1.0d, 2.0d, 12))",
      "tile_geom" -> "tile_geom(st_tile(1.0d, 2.0d, 12))",
      "mercator_res" -> "mercator_res(12)",
      "st_morton" -> "st_morton(3L, 5L)",
      "tiles_for" -> s"tiles_for($g, array(4, 5))",
      "cell_ring" -> "cell_ring(st_tile(1.0d, 2.0d, 6), 1)",
      "grid_cells" -> s"grid_cells($g, 2, 2)",
      "vec_dot" ->
        ("vec_dot(transform(sequence(1, 64), i -> cast(i as double)), " +
          "transform(sequence(1, 64), i -> cast(i as double)))"),
      "plane_dots" ->
        "plane_dots(transform(sequence(1, 64), i -> cast(i as double)), 0, 4)",
      "jl_project" ->
        ("jl_project(transform(sequence(1, 64), i -> cast(i as double)), " +
          "transform(sequence(1, 64), i -> cast(64 as double)))"),
      "sig_matches" ->
        "sig_matches(array(1L, 2L, 3L), array(1L, 9L, 3L))",
      "simhash64" -> "simhash64('hello world of tiles')",
      "minhash128" -> "minhash128('hello world of tiles and shingles')",
      "band_keys" -> "band_keys(minhash128('hello world of tiles and shingles'))",
      "winnow_fp" -> "winnow_fp('hello world of tiles and shingles')",
      "nfc_normalize" -> "nfc_normalize('é Å')",
      "tile_to_png" -> "tile_to_png(array(array(1.0d, 2.0d)), array(false, false), 2, 1)",
      "st_envelope_agg" -> s"st_envelope_agg($g)",
      "st_union_agg" -> s"st_union_agg($g)",
      "bloom_filter_agg" -> "bloom_filter_agg(xxhash64('probe'))",
      "cm_sketch_agg" -> "cm_sketch_agg('probe term')",
      // cm_est demands a FOLDABLE sketch (a plan literal): the zero grid
      "cm_est" -> ("cm_est('probe term', X'" +
        "00" * (CmSketch.Depth * CmSketch.Width * 8) + "')"),
      "might_contain" ->
        ("might_contain((SELECT bloom_filter_agg(xxhash64(CAST(id AS STRING))) " +
          "FROM range(10)), xxhash64('5'))"))
  }

  test("every registered function resolves and evaluates") {
    val names = GraftFunctions.all.map(_._1)
    val missing = names.filterNot(samples.contains)
    assert(missing.isEmpty, s"no sample input for: $missing")
    for (name <- names) {
      val expr = samples(name)
      val isAgg = name.endsWith("_agg")
      val isGen = Generators.contains(name)
      val sql =
        if (isAgg) s"SELECT $expr FROM (SELECT 1)"
        else s"SELECT $expr"
      val rows = spark.sql(sql).collect()
      assert(rows.nonEmpty, name)
      if (!isGen) assert(rows.head.get(0) != null, s"$name returned null")
    }
  }

  test("every scalar function propagates null input to null output") {
    // nullIntolerant contract over the unary geometry accessors
    for (fn <- Seq("st_x", "st_area", "st_envelope", "st_isempty", "st_asgeojson")) {
      val r = spark.sql(s"SELECT $fn(CAST(NULL AS BINARY)) IS NULL").collect().head
      assert(r.getBoolean(0), fn)
    }
  }

  /** hostile inputs: `tile_parent` with a `dz` outside `[0, z]` fails
    * loudly (no key with a negative zoom, no shift by `dz & 63`), compiled
    * and interpreted alike. The inputs come from `range`, not literals, so
    * the call is evaluated by the tasks, not folded by the optimizer. */
  for ((mode, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
    test(s"tile_parent rejects dz outside [0, z] ($mode)") {
      def parent(dz: Int) = withCodegen(mode, ws) {
        spark.range(1).select(graft.sql.functions.tile_parent(
          graft.sql.functions.st_tile(col("id") + 1.0, col("id") + 2.0, 12),
          (col("id") + dz).cast("int"))).head().getLong(0)
      }
      assert(parent(12) === Mercator.TileId.pack(0, 0, 0))
      assert(parent(4) === Mercator.tileAtPacked(1.0, 2.0, 8))
      for (dz <- Seq(13, -1, 64)) {
        val e = intercept[Exception](parent(dz))
        assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(s"dz $dz outside [0, 12]")), s"dz $dz: $e")
      }
    }
  }

  test("every registered function has hostile-row signatures") {
    val names = GraftFunctions.all.map(_._1)
    assert(names.filterNot(signatures.contains).isEmpty)
    assert(signatures.keySet.diff(names.toSet).isEmpty)
  }

  test("a wrong argument count fails analysis, naming the function") {
    val builders = GraftFunctions.all.toMap
    // every registered function takes 1 to 4 arguments
    for ((name, build) <- GraftFunctions.all; n <- Seq(0, 5)) {
      val e = intercept[AnalysisException](build(Seq.fill(n)(Literal(1.0))))
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", name)
      assert(e.getMessage.contains(s"`$name`") &&
        e.getMessage.contains(s"actual number is $n"), e.getMessage)
    }
    def sqlError(q: String) = intercept[AnalysisException](spark.sql(q)).getMessage
    assert(sqlError("SELECT st_x(st_point(1d, 2d), 42)")
      .contains("`st_x` requires 1 parameters but the actual number is 2"))
    assert(sqlError("SELECT st_makebbox(0d, 0d, 1d)")
      .contains("`st_makebbox` requires 4 parameters but the actual number is 3"))
    assert(sqlError("SELECT st_buffer(st_point(1d, 2d), 1d, 1, 7)")
      .contains("`st_buffer` requires [2, 3] parameters but the actual number is 4"))
    // the two- and three-argument forms of st_buffer still build
    val g = Literal(point)
    assert(builders("st_buffer")(Seq(g, Literal(1.0))).isInstanceOf[StBuffer])
    assert(builders("st_buffer")(Seq(g, Literal(1.0), Literal(2))).isInstanceOf[StBuffer])
  }

  test("no scalar kernel falls back from codegen") {
    for ((name, build) <- GraftFunctions.all; sig <- signatures(name).take(1)) {
      build(sig.zipWithIndex.map { case (a, i) => a.child(i, a.values.head) }) match {
        case _: Generator => assert(Generators.contains(name), name)
        case ae: AggregateExpression => // evaluated by the aggregate operator, not as a row kernel
          assert(ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]], name)
        case e: BloomFilterMightContain => assert(!e.isInstanceOf[CodegenFallback], name)
        case e =>
          assert(e.isInstanceOf[GraftKernel], name)
          assert(e.find(_.isInstanceOf[CodegenFallback]).isEmpty, name)
      }
    }
  }

  test("the hot spatial kernels compile to an unboxed computePrim call") {
    for (name <- Seq("st_tile", "st_contains_xy", "st_contains_ring")) {
      val sig = signatures(name).head
      for (nullable <- Seq(true, false)) {
        val e = GraftFunctions.all.toMap.apply(name)(sig.zipWithIndex.map { case (a, i) =>
          BoundReference(i, a.t, nullable) })
        val code = e.genCode(new CodegenContext).code.toString
        assert(code.contains(".computePrim("), s"$name: $code")
        assert(!code.contains(".compute("), s"$name: $code")
        assert(!code.contains("java.lang.") && !code.contains("valueOf"), s"$name: $code")
        assert(code.contains("isNull") === nullable, s"$name nullable=$nullable: $code")
      }
    }
  }

  test("hostile rows: every scalar function compiled ≡ interpreted") {
    val problems = for {
      (name, build) <- GraftFunctions.all
      (sig, s) <- signatures(name).zipWithIndex
      if !Generators.contains(name) && !Aggregates.contains(name)
      problem <- compareScalar(name, build, sig, seed = name.hashCode + s)
    } yield problem
    assert(problems.isEmpty, problems.take(40).mkString("\n", "\n", ""))
  }

  test("hostile rows: generators and aggregates fail loudly, never NPE") {
    val problems = for {
      (name, build) <- GraftFunctions.all
      if Generators.contains(name) || Aggregates.contains(name)
      sig <- signatures(name)
      row <- hostileRows(sig, name.hashCode)
      problem <- {
        val e = build(sig.zipWithIndex.map { case (a, i) => a.child(i, row(i)) })
        val input = unsafeRow(sig, row)
        outcome(evalRowsOf(e, input)) match {
          case Left(t) if badFailure(t) => Some(s"$name ${show(row)}: $t")
          case _ => None
        }
      }
    } yield problem
    assert(problems.isEmpty, problems.take(40).mkString("\n", "\n", ""))
  }

  test("hostile rows: generators and aggregates through plans, both modes") {
    val problems = for {
      (name, _) <- GraftFunctions.all
      if Generators.contains(name) || Aggregates.contains(name)
      sig = signatures(name).head
      problem <- {
        val df = frame(sig, hostileRows(sig, name.hashCode))
        val args = sig.indices.map(i => col(s"a$i"))
        def run(mode: String, ws: Boolean) = outcome(withCodegen(mode, ws) {
          val q = if (Aggregates.contains(name))
              df.groupBy(col("id")).agg(call_function(name, args: _*).as("v"))
            else df.select(col("id"), call_function(name, args: _*))
          q.collect().toSeq.map(r => normalize(r)).sortBy(_.toString)
        })
        val (c, i) = (run("CODEGEN_ONLY", ws = true), run("NO_CODEGEN", ws = false))
        mismatch(name, "plan", c, i)
      }
    } yield problem
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  /** Kernels whose `compute` returns null for some non-null inputs
    * (vec_dot on ragged or null-element arrays, jl_project / plane_dots on
    * a wrong length) yield SQL NULL under whole-stage codegen exactly as
    * interpreted, and so do their downstream consumers. The inputs come
    * from an RDD-backed DataFrame, so no rule folds the kernels. */
  test("null-result kernels in whole-stage plans") {
    val dim = graft.queries.EmbQueries.Dim
    def vec(n: Int, nullAt: Int = -1): Seq[java.lang.Double] =
      (0 until n).map(i => if (i == nullAt) null else java.lang.Double.valueOf(i % 7 - 3.0))
    val scale: Seq[java.lang.Double] = Seq.fill(dim)(java.lang.Double.valueOf(4.0))
    val rows = Seq(
      Row(0, vec(dim), vec(dim), scale),              // all kernels non-null
      Row(1, vec(dim), vec(dim - 1), scale),          // ragged → vec_dot null
      Row(2, vec(dim, nullAt = 5), vec(dim), scale),  // null element → all null
      Row(3, vec(dim - 1), vec(dim - 1), scale.tail)) // short → jl/plane null
    val arr = ArrayType(DoubleType, containsNull = true)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", arr), StructField("b", arr), StructField("s", arr)))
    val input = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    GraftRegistrar.ensure(spark)
    def run(mode: String, ws: Boolean) = withCodegen(mode, ws) {
      input.select(col("id"),
          call_function("vec_dot", col("a"), col("b")).as("dot"),
          call_function("jl_project", col("a"), col("s")).as("jl"),
          call_function("plane_dots", col("a"), lit(0), lit(3)).as("pd"))
        .withColumn("jl_norm", call_function("vec_dot", col("jl"), col("jl")))
        .withColumn("pd_n", size(col("pd")))
        .orderBy(col("id"))
        .collect().toSeq.map(_.toSeq.map(normalize))
    }
    val codegen = run("CODEGEN_ONLY", ws = true)
    assert(codegen === run("NO_CODEGEN", ws = false))
    // id, dot, jl, pd, jl_norm, pd_n
    val nulls = codegen.map(r => Seq(1, 2, 3, 4).map(i => r(i) == null))
    assert(nulls === Seq(
      Seq(false, false, false, false),
      Seq(true, false, false, false),
      Seq(true, true, true, true),
      Seq(false, true, true, true)))
    assert(codegen.head(5) === 3) // three planes
  }

  /** the rows of `sig` grouped by their literal arguments: each group is
    * one expression, evaluated interpreted (`eval`) and through a generated
    * unsafe projection, with nullable and (on null-free rows) non-nullable
    * bound children. */
  private def compareScalar(name: String, build: Seq[Expression] => Expression,
                            sig: Seq[Arg], seed: Int): Seq[String] = {
    val lits = sig.indices.filter(sig(_).literal)
    hostileRows(sig, seed).groupBy(r => lits.map(r)).toSeq.flatMap { case (_, rows) =>
      Seq(true, false).flatMap { nullable =>
        val use = if (nullable) rows
          else rows.filter(r => sig.indices.forall(i => sig(i).literal || r(i) != null))
        if (use.isEmpty) Nil
        else {
          val e = build(sig.zipWithIndex.map { case (a, i) =>
            a.child(i, use.head(i), nullable) })
          val check = e.checkInputDataTypes()
          if (check.isFailure) Seq(s"$name: $check")
          else {
            val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
            val proj = GenerateUnsafeProjection.generate(Seq(e), false)
            use.flatMap { row =>
              val input = unsafeRow(sig, row)
              val interpreted = outcome(toScala(e.eval(input)))
              val compiled = outcome {
                val out = proj(input)
                if (out.isNullAt(0)) null else toScala(out.get(0, e.dataType))
              }
              mismatch(name, show(row), compiled, interpreted)
            }
          }
        }
      }
    }
  }
}

object RegistrySweepSpec {
  val Generators = Set("tiles_for", "cell_ring", "grid_cells")
  val Aggregates = Set("st_envelope_agg", "st_union_agg", "cm_sketch_agg", "bloom_filter_agg")

  /** One argument position: its type and its hostile values (Scala
    * values; the first is a valid one, and null is added to every
    * non-literal position). A `literal` position is a plan literal, as
    * the kernel demands (plane_dots' planes, cm_est's sketch). */
  final case class Arg(t: DataType, values: Seq[Any], literal: Boolean = false) {
    def child(i: Int, v: Any, nullable: Boolean = true): Expression =
      if (literal) Literal.create(v, t) else BoundReference(i, t, nullable)
  }

  private def le(ints: Int*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(1 + 4 * ints.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte)
    ints.foreach(b.putInt)
    b.array()
  }
  private val polyWkb = Geom.toWkb(Geom.polygonFromBounds(0, 0, 2, 2))
  /** a LineString claiming Int.MaxValue points in 9 bytes */
  val HugeLineWkb: Array[Byte] = le(2, Int.MaxValue)
  private val geoms: Seq[Any] = {
    val r = new scala.util.Random(17)
    Seq(polyWkb,
      Geom.toWkb(Geom.polygonFromBounds(1, 1, 3, 3)),
      Geom.toWkb(Geom.GPoint(1.0, 1.0)),
      Geom.toWkb(Geom.GLineString(Array(Geom.Pt(0, 0), Geom.Pt(1, 1), Geom.Pt(2, 0)))),
      Geom.toWkb(Geom.GLineString(Array(Geom.Pt(0, 0), Geom.Pt(1, 0), Geom.Pt(1, 1), Geom.Pt(0, 0)))),
      Geom.toWkb(Geom.GPolygon(Array(Geom.polygonFromBounds(0, 0, 4, 4).shell,
        Geom.polygonFromBounds(1, 1, 2, 2).shell.reverse))),
      Geom.toWkb(Geom.GMultiPolygon(Array(Geom.polygonFromBounds(0, 0, 1, 1),
        Geom.polygonFromBounds(2, 2, 3, 3)))),
      Geom.toWkb(Geom.GCollection(Array(Geom.GPoint(1, 2),
        Geom.GLineString(Array(Geom.Pt(0, 0), Geom.Pt(1, 1)))))),
      Geom.toWkb(Geom.GPoint(Double.NaN, Double.NaN)),
      Array.emptyByteArray,
      Array[Byte](1),
      polyWkb.take(20),                   // truncated
      le(99, 0, 0, 0, 0),                 // unknown type code
      HugeLineWkb,
      le(3, -1),                          // polygon with -1 rings
      le(6, 1000000000),                  // multipolygon claiming 10^9 parts
      le(7, Int.MaxValue),                // collection claiming 2^31-1 members
      Array.fill[Byte](13)(0xFF.toByte),
      Array.tabulate[Byte](33)(i => if (i == 0) 1 else r.nextInt(256).toByte))
  }
  private val doubles: Seq[Any] =
    Seq(1.0, 0.0, -1.5, 200.0, 1e308, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  private val ints: Seq[Any] = Seq(12, 0, 1, -1, 31, 64, Int.MaxValue, Int.MinValue)
  private val cell = Mercator.tileAtPacked(1.0, 2.0, 12)
  private val longs: Seq[Any] = Seq(cell, 0L, -1L, Long.MaxValue, Long.MinValue,
    Mercator.TileId.pack(0, 0, 28))
  private val texts: Seq[Any] = Seq("hello world of tiles and shingles", "", " ", "\t\n ",
    "é Å", "\u0000", "x" * 2000,
    UTF8String.fromBytes(Array[Byte](0xFF.toByte, 0xC3.toByte, 'a', 0xE2.toByte)))
  private val geojson: Seq[Any] = Seq("""{"type":"Point","coordinates":[1,2]}""",
    """{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,0]]]}""",
    "", "{}", "not json", """{"type":"Point"}""", """{"type":"Point","coordinates":[1]}""",
    """{"type":"Polygon","coordinates":[[[0,0],[1,0]""",
    """{"type":"GeometryCollection","geometries":[""",
    """{"type":"Weird","coordinates":[1,2]}""")
  private val wkt: Seq[Any] = Seq("POINT (1 2)", "POLYGON ((0 0, 2 0, 2 2, 0 0))", "",
    "POINT (1", "LINESTRING EMPTY", "POLYGON ((0 0, 1 0, 0 0))", "garbage")
  private val dim = graft.queries.EmbQueries.Dim
  private def dvec(n: Int, nullAt: Int = -1, nanAt: Int = -1): Seq[Any] =
    (0 until n).map(i =>
      if (i == nullAt) null else if (i == nanAt) Double.NaN else (i % 7 - 3.0))
  private val vecs: Seq[Any] =
    Seq(dvec(dim), dvec(dim - 1), dvec(3), Nil, dvec(dim, nullAt = 5), dvec(dim, nanAt = 2))
  private val scales: Seq[Any] = Seq(Seq.fill(dim)(4.0), Seq.fill(dim)(0.0), Seq.fill(3)(4.0),
    dvec(dim, nullAt = 0))
  private val lvecs: Seq[Any] = Seq((1L to dim.toLong).toSeq, (1L to 3L).toSeq, Nil,
    (0 until dim).map(i => if (i == 9) null else i.toLong))
  private val sigs: Seq[Any] = Seq((0 until 128).map(i => i * 7919L), (0 until 127).map(_.toLong),
    Seq(1L, 2L, 3L), Nil, (0 until 128).map(i => if (i % 5 == 0) null else i.toLong))
  private val ringXs: Seq[Any] = Seq(Seq(0.0, 0.0, 2.0, 2.0, 0.0), Seq(0.0, 2.0, 2.0, 0.0),
    Nil, Seq(0.0, null, 2.0, 2.0, 0.0), Seq(0.0, Double.NaN, 2.0, 2.0, 0.0))
  private val ringYs: Seq[Any] = Seq(Seq(0.0, 2.0, 2.0, 0.0, 0.0), Seq(0.0, 2.0, 2.0),
    Nil, Seq(0.0, 2.0, null, 0.0, 0.0))
  private val bands: Seq[Any] = Seq(Seq(Seq(1.0, 2.0)), Seq(Seq(1.0, 2.0), Seq(3.0, 4.0),
    Seq(5.0, 6.0)), Nil, Seq(null), Seq(Seq(1.0)), Seq(Seq(null, 2.0)))
  private val masks: Seq[Any] = Seq(Seq(false, false), Seq(true, null), Nil, Seq(false))
  private val pixels: Seq[Any] = Seq(2, 1, 0, -1, 65536, Int.MaxValue, Int.MinValue)
  private val zoomLists: Seq[Any] = Seq(Seq(4, 5), Nil, Seq(null), Seq(-1), Seq(0))
  private val sketch = Array.fill[Byte](CmSketch.Depth * CmSketch.Width * 8)(0)
  private val bloom: Array[Byte] = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(100)
    (0L until 10L).foreach(f.putLong)
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  private val G = Arg(BinaryType, geoms)
  private val D = Arg(DoubleType, doubles)
  private val I = Arg(IntegerType, ints)
  private val L = Arg(LongType, longs)
  private val S = Arg(StringType, texts)
  private val DArr = ArrayType(DoubleType, containsNull = true)
  private val LArr = ArrayType(LongType, containsNull = true)
  private def of(args: Arg*): Seq[Seq[Arg]] = Seq(args)

  /** name → the argument signatures its hostile rows are drawn from. */
  val signatures: Map[String, Seq[Seq[Arg]]] = Map(
    "st_point" -> of(D, D),
    "st_makebbox" -> of(D, D, D, D),
    "st_geomfromgeojson" -> of(Arg(StringType, geojson)),
    "st_asgeojson" -> of(G),
    "st_geomfromtext" -> of(Arg(StringType, wkt)),
    "st_astext" -> of(G),
    "st_buffer" -> Seq(Seq(G, Arg(DoubleType, Seq(0.5, 0.0, -0.5, Double.NaN))),
      Seq(G, Arg(DoubleType, Seq(0.5, -0.5)), I)),
    "st_simplify" -> of(G, Arg(DoubleType, Seq(0.1, 0.0, -1.0, Double.NaN))),
    "st_transform" -> of(G, Arg(IntegerType, Seq(4326, 3857, 0, -1)),
      Arg(IntegerType, Seq(3857, 4326, Int.MaxValue))),
    "st_contains_xy" -> of(G, D, D),
    "st_contains_ring" -> of(Arg(DArr, ringXs), Arg(DArr, ringYs), D, D),
    "st_equals_exact" -> of(G, G, D),
    "st_almost_equals" -> of(G, G, I),
    "st_tile" -> of(D, D, I),
    "tile_parent" -> of(L, I),
    "st_morton" -> of(L, L),
    "tiles_for" -> of(G, Arg(ArrayType(IntegerType, containsNull = true), zoomLists)),
    "cell_ring" -> of(L, Arg(IntegerType, Seq(1, 0, -1))),
    "grid_cells" -> of(G, Arg(IntegerType, Seq(2, 0, -1)), Arg(IntegerType, Seq(2, 1, -1))),
    "vec_dot" -> Seq(Seq(Arg(DArr, vecs), Arg(DArr, vecs)), Seq(Arg(LArr, lvecs), Arg(LArr, lvecs))),
    "plane_dots" -> of(Arg(DArr, vecs), Arg(IntegerType, Seq(0, -1, Int.MaxValue), literal = true),
      Arg(IntegerType, Seq(3, 0, -1), literal = true)),
    "jl_project" -> of(Arg(DArr, vecs), Arg(DArr, scales)),
    "sig_matches" -> of(Arg(LArr, sigs), Arg(LArr, sigs)),
    "band_keys" -> of(Arg(LArr, sigs)),
    "bloom_filter_agg" -> of(L),
    "might_contain" -> of(Arg(BinaryType, Seq(bloom), literal = true), L),
    "cm_sketch_agg" -> of(S),
    "cm_est" -> of(S, Arg(BinaryType, Seq(sketch, Array.emptyByteArray, Array[Byte](1, 2, 3)),
      literal = true)),
    "tile_to_png" -> of(Arg(ArrayType(DArr, containsNull = true), bands),
      Arg(ArrayType(BooleanType, containsNull = true), masks),
      Arg(IntegerType, pixels), Arg(IntegerType, Seq(1, 2, 0, -1, 65536)))
  ) ++ Seq("st_x", "st_y", "st_xmin", "st_ymin", "st_xmax", "st_ymax", "st_area",
      "st_area_eck4", "st_isempty", "st_isvalid", "st_issimple", "st_boundary", "st_centroid",
      "st_convexhull", "st_envelope", "st_has_z", "st_is_closed", "st_is_ring", "st_exterior",
      "st_interiors", "st_coords", "st_xy", "st_envelope_agg", "st_union_agg")
    .map(_ -> of(G)) ++
    Seq("st_contains", "st_within", "st_intersects", "st_disjoint", "st_equals", "st_touches",
      "st_crosses", "st_overlaps", "st_covers", "st_relate", "st_intersection", "st_union",
      "st_difference", "st_symdifference", "st_distance").map(_ -> of(G, G)) ++
    Seq("tile_x", "tile_y", "tile_z", "tile_bounds_3857", "tile_geom").map(_ -> of(L)) ++
    Seq("mercator_res").map(_ -> of(I)) ++
    Seq("simhash64", "minhash128", "winnow_fp", "nfc_normalize").map(_ -> of(S))

  /** the all-valid row, then each position through each of its values
    * (null included) with the others valid, then seeded random mixes. */
  def hostileRows(sig: Seq[Arg], seed: Int): Seq[Seq[Any]] = {
    def pool(a: Arg) = if (a.literal) a.values else a.values :+ null
    val base = sig.map(_.values.head)
    val single = for ((a, i) <- sig.zipWithIndex; v <- pool(a).tail) yield base.updated(i, v)
    val r = new scala.util.Random(seed)
    val mixed = Seq.fill(16)(sig.map { a => val p = pool(a); p(r.nextInt(p.size)) })
    (base +: single) ++ mixed
  }

  def unsafeRow(sig: Seq[Arg], row: Seq[Any]): InternalRow =
    UnsafeProjection.create(sig.map(_.t).toArray)(
      new GenericInternalRow(row.map(CatalystTypeConverters.convertToCatalyst).toArray)).copy()

  /** an RDD-backed frame (nothing for the optimizer to fold) of `rows`
    * with an `id` column and arguments `a0…`. */
  def frame(sig: Seq[Arg], rows: Seq[Seq[Any]]): org.apache.spark.sql.DataFrame = {
    val spark = SparkTestBase.session
    val schema = StructType(StructField("id", IntegerType) +:
      sig.zipWithIndex.map { case (a, i) => StructField(s"a$i", a.t) })
    val external = rows.zipWithIndex.map { case (r, id) =>
      Row.fromSeq(id +: r.zip(sig).map { case (v, a) =>
        CatalystTypeConverters.convertToScala(CatalystTypeConverters.convertToCatalyst(v), a.t)
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(external, 1), schema)
  }

  /** the rows a generator emits, or an aggregate's value over one row
    * (through a partial buffer's serialize/deserialize and merge, as the
    * aggregate operator runs it). */
  def evalRowsOf(e: Expression, input: InternalRow): Any = e match {
    case g: Generator =>
      val toScala = CatalystTypeConverters.createToScalaConverter(g.elementSchema)
      g.eval(input).iterator.map(toScala).toList
    case ae: AggregateExpression =>
      val f = ae.aggregateFunction.asInstanceOf[TypedImperativeAggregate[Any]]
      val partial = f.update(f.createAggregationBuffer(), input)
      val merged = f.merge(f.createAggregationBuffer(), f.deserialize(f.serialize(partial)))
      normalize(f.eval(merged))
  }

  def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** an NPE or an Error anywhere in the chain is a crash, not a loud failure */
  def badFailure(t: Throwable): Boolean =
    causes(t).exists(c => c.isInstanceOf[NullPointerException] || c.isInstanceOf[Error])

  def outcome(v: => Any): Either[Throwable, Any] =
    try Right(normalize(v)) catch { case t: Throwable => Left(t) }

  def mismatch(name: String, row: String, compiled: Either[Throwable, Any],
               interpreted: Either[Throwable, Any]): Option[String] =
    (compiled, interpreted) match {
      case (Left(c), _) if badFailure(c) => Some(s"$name $row: compiled $c")
      case (_, Left(i)) if badFailure(i) => Some(s"$name $row: interpreted $i")
      case (Left(c), Left(i)) =>
        if (causes(c).last.getClass == causes(i).last.getClass) None
        else Some(s"$name $row: compiled $c vs interpreted $i")
      case (Right(c), Right(i)) =>
        if (c == i) None else Some(s"$name $row: compiled $c vs interpreted $i")
      case (c, i) => Some(s"$name $row: compiled $c vs interpreted $i")
    }

  /** comparable form: byte arrays and rows as lists, doubles as bits (NaN == NaN) */
  def normalize(v: Any): Any = v match {
    case b: Array[Byte] => b.toList
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case s: scala.collection.Seq[_] => s.map(normalize).toList
    case r: Row => r.toSeq.map(normalize).toList
    case other => other
  }

  def show(row: Seq[Any]): String = row.map {
    case b: Array[Byte] => b.take(12).map(x => f"$x%02X").mkString("X'", "", if (b.length > 12) "…'" else "'")
    case s: scala.collection.Seq[_] => s.take(6).mkString("[", ",", if (s.size > 6) ",…]" else "]")
    case s: String if s.length > 24 => s.take(24) + "…"
    case v => String.valueOf(v)
  }.mkString("(", ", ", ")")
}
