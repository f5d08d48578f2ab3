package graft.sql

import graft.core.{Geom, Mercator}

/** Table-driven sweep over the registered function surface — the analogue
  * of the reference's parametrized delegated-op sweeps
  * (tests/test_geovector.py:254-309, tests/test_features.py:74-147): every
  * function in [[GraftFunctions.all]] must resolve through the session
  * extensions and evaluate on a representative input without throwing. */
class RegistrySweepSpec extends SparkTestBase {

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
      "nfc_normalize" -> "nfc_normalize('é Å')",
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
      val isGen = Set("tiles_for", "cell_ring", "grid_cells").contains(name)
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
      import org.apache.spark.sql.functions.col
      def parent(dz: Int) = withCodegen(mode, ws) {
        spark.range(1).select(graft.sql.functions.tile_parent(
          graft.sql.functions.st_tile(col("id") + 1.0, col("id") + 2.0, 12),
          (col("id") + dz).cast("int"))).head().getLong(0)
      }
      assert(parent(12) === Mercator.TileId.pack(0, 0, 0))
      assert(parent(4) === Mercator.tileAtPacked(1.0, 2.0, 8))
      for (dz <- Seq(13, -1, 64)) {
        val e = intercept[Exception](parent(dz))
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(s"dz $dz outside [0, 12]")), s"dz $dz: $e")
      }
    }
  }
}
