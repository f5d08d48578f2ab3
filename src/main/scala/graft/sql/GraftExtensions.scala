package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** SparkSessionExtensions registering the engine's function surface.
  * Activate with `.config("spark.sql.extensions", "graft.sql.GraftExtensions")`
  * or use [[GraftSession.builder]]. All functions are then available both to
  * SQL text and to the typed API via `functions.call_function`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.sql", name),
        builder))
    }
    // spatial predicate → bbox range conjuncts → parquet row-group skipping
    ext.injectOptimizerRule(_ => SpatialFilterPushdown)
  }
}

object GraftFunctions {
  private def agg(f: Expression => AggregateFunction)(args: Seq[Expression]): Expression =
    f(args.head).toAggregateExpression()

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // constructors / codecs
    "st_point" -> (a => StPoint(a(0), a(1))),
    "st_makebbox" -> (a => StMakeBBox(a)),
    "st_geomfromgeojson" -> (a => StGeomFromGeoJson(a.head)),
    "st_asgeojson" -> (a => StAsGeoJson(a.head)),
    "st_geomfromtext" -> (a => StGeomFromText(a.head)),
    "st_astext" -> (a => StAsText(a.head)),
    // accessors
    "st_x" -> (a => StX(a.head)),
    "st_y" -> (a => StY(a.head)),
    "st_xmin" -> (a => StXMin(a.head)),
    "st_ymin" -> (a => StYMin(a.head)),
    "st_xmax" -> (a => StXMax(a.head)),
    "st_ymax" -> (a => StYMax(a.head)),
    "st_area" -> (a => StArea(a.head)),
    "st_area_eck4" -> (a => StAreaEck4(a.head)),
    "st_isempty" -> (a => StIsEmpty(a.head)),
    "st_isvalid" -> (a => StIsValid(a.head)),
    "st_issimple" -> (a => StIsSimple(a.head)),
    // unary constructive
    "st_boundary" -> (a => StBoundary(a.head)),
    "st_centroid" -> (a => StCentroid(a.head)),
    "st_convexhull" -> (a => StConvexHull(a.head)),
    "st_envelope" -> (a => StEnvelope(a.head)),
    "st_buffer" -> (a => StBuffer(a(0), a(1),
      if (a.size > 2) a(2) else org.apache.spark.sql.catalyst.expressions.Literal(1))),
    "st_simplify" -> (a => StSimplify(a(0), a(1))),
    "st_transform" -> (a => StTransform(a(0), a(1), a(2))),
    // binary predicates
    "st_contains" -> (a => StContains(a(0), a(1))),
    "st_contains_xy" -> (a => StContainsXY(a(0), a(1), a(2))),
    "st_contains_ring" -> (a => StContainsRing(a(0), a(1), a(2), a(3))),
    "st_within" -> (a => StWithin(a(0), a(1))),
    "st_intersects" -> (a => StIntersects(a(0), a(1))),
    "st_disjoint" -> (a => StDisjoint(a(0), a(1))),
    "st_equals" -> (a => StEquals(a(0), a(1))),
    "st_touches" -> (a => StTouches(a(0), a(1))),
    "st_crosses" -> (a => StCrosses(a(0), a(1))),
    "st_overlaps" -> (a => StOverlaps(a(0), a(1))),
    "st_covers" -> (a => StCovers(a(0), a(1))),
    "st_equals_exact" -> (a => StEqualsExact(a(0), a(1), a(2))),
    "st_almost_equals" -> (a => StAlmostEquals(a(0), a(1), a(2))),
    "st_relate" -> (a => StRelate(a(0), a(1))),
    // remaining unary predicates + accessors (vectors.py:45-80)
    "st_has_z" -> (a => StHasZ(a.head)),
    "st_is_closed" -> (a => StIsClosed(a.head)),
    "st_is_ring" -> (a => StIsRing(a.head)),
    "st_exterior" -> (a => StExterior(a.head)),
    "st_interiors" -> (a => StInteriors(a.head)),
    "st_coords" -> (a => StCoords(a.head)),
    "st_xy" -> (a => StXY(a.head)),
    // binary constructive
    "st_intersection" -> (a => StIntersection(a(0), a(1))),
    "st_union" -> (a => StUnion(a(0), a(1))),
    "st_difference" -> (a => StDifference(a(0), a(1))),
    "st_symdifference" -> (a => StSymDifference(a(0), a(1))),
    "st_distance" -> (a => StDistance(a(0), a(1))),
    // cell index
    "st_tile" -> (a => StTile(a(0), a(1), a(2))),
    "tile_x" -> (a => TileX(a.head)),
    "tile_y" -> (a => TileY(a.head)),
    "tile_z" -> (a => TileZ(a.head)),
    "tile_parent" -> (a => TileParent(a(0), a(1))),
    "tile_bounds_3857" -> (a => TileBounds3857(a.head)),
    "tile_geom" -> (a => TileGeom(a.head)),
    "mercator_res" -> (a => MercatorRes(a.head)),
    "st_morton" -> (a => StMorton(a(0), a(1))),
    // generators
    "tiles_for" -> (a => TilesFor(a(0), a(1))),
    "cell_ring" -> (a => CellRing(a(0), a(1))),
    "grid_cells" -> (a => GridCells(a(0), a(1), a(2))),
    // vector kernels (primitive-loop dot products — see VecExpressions)
    "vec_dot" -> (a => VecDot(a(0), a(1))),
    "plane_dots" -> (a => PlaneDots(a(0), a(1), a(2))),
    "jl_project" -> (a => JlProject(a(0), a(1))),
    "sig_matches" -> (a => SigMatches(a(0), a(1))),
    // text
    "simhash64" -> (a => graft.ops.SimHash64(a.head)),
    "minhash128" -> (a => graft.ops.MinHash128(a.head)),
    "band_keys" -> (a => graft.ops.BandKeys(a.head)),
    "winnow_fp" -> (a => graft.ops.WinnowFp(a.head)),
    "nfc_normalize" -> (a => graft.ops.NfcNormalize(a.head)),
    // Spark ships Bloom sketches only as INTERNAL expressions (used by its
    // own runtime row-level filtering); surfacing them gives the q65
    // decontamination pre-filter a codegen'd probe instead of a UDF
    "bloom_filter_agg" -> (a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(a.head)
        .toAggregateExpression()),
    "might_contain" -> (a =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(a(0), a(1))),
    // Count-Min sketch (q84 threshold heavy hitters): constant-size
    // mergeable aggregate + never-undercounting literal probe
    "cm_sketch_agg" -> agg(CountMinAgg(_)) _,
    "cm_est" -> (a => CmEst(a(0), a(1))),
    // raster serving
    "tile_to_png" -> (a => graft.raster.TileToPng(a(0), a(1), a(2), a(3))),
    // aggregates
    "st_envelope_agg" -> agg(EnvelopeAgg(_)) _,
    "st_union_agg" -> agg(UnionAgg(_)) _,
  )
}

/** Session factory with the engine's scale-oriented defaults. */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
}
