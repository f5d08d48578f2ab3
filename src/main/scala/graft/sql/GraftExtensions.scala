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
  private type Builder = Seq[Expression] => Expression

  /** `name` → its builder, which first checks the argument count against
    * `arities`: a wrong count fails analysis with Spark's WRONG_NUM_ARGS
    * error naming the function and the counts it takes. */
  private def checked(name: String, arities: Int*)(build: Builder): (String, Builder) =
    name -> { args =>
      if (!arities.contains(args.size))
        throw org.apache.spark.sql.GraftRegistrar.wrongNumArgs(name, arities, args.size)
      build(args)
    }
  private def f1(name: String)(b: Expression => Expression) =
    checked(name, 1)(a => b(a(0)))
  private def f2(name: String)(b: (Expression, Expression) => Expression) =
    checked(name, 2)(a => b(a(0), a(1)))
  private def f3(name: String)(b: (Expression, Expression, Expression) => Expression) =
    checked(name, 3)(a => b(a(0), a(1), a(2)))
  private def f4(name: String)(b: (Expression, Expression, Expression, Expression) => Expression) =
    checked(name, 4)(a => b(a(0), a(1), a(2), a(3)))
  private def agg(name: String)(f: Expression => AggregateFunction) =
    f1(name)(f(_).toAggregateExpression())

  val all: Seq[(String, Builder)] = Seq(
    // constructors / codecs
    f2("st_point")(StPoint),
    f4("st_makebbox")(StMakeBBox),
    f1("st_geomfromgeojson")(StGeomFromGeoJson),
    f1("st_asgeojson")(StAsGeoJson),
    f1("st_geomfromtext")(StGeomFromText),
    f1("st_astext")(StAsText),
    // accessors
    f1("st_x")(StX),
    f1("st_y")(StY),
    f1("st_xmin")(StXMin),
    f1("st_ymin")(StYMin),
    f1("st_xmax")(StXMax),
    f1("st_ymax")(StYMax),
    f1("st_area")(StArea),
    f1("st_area_eck4")(StAreaEck4),
    f1("st_isempty")(StIsEmpty),
    f1("st_isvalid")(StIsValid),
    f1("st_issimple")(StIsSimple),
    // unary constructive
    f1("st_boundary")(StBoundary),
    f1("st_centroid")(StCentroid),
    f1("st_convexhull")(StConvexHull),
    f1("st_envelope")(StEnvelope),
    checked("st_buffer", 2, 3)(a => StBuffer(a(0), a(1),
      if (a.size > 2) a(2) else org.apache.spark.sql.catalyst.expressions.Literal(1))),
    f2("st_simplify")(StSimplify),
    f3("st_transform")(StTransform),
    // binary predicates
    f2("st_contains")(StContains),
    f3("st_contains_xy")(StContainsXY),
    f4("st_contains_ring")(StContainsRing),
    f2("st_within")(StWithin),
    f2("st_intersects")(StIntersects),
    f2("st_disjoint")(StDisjoint),
    f2("st_equals")(StEquals),
    f2("st_touches")(StTouches),
    f2("st_crosses")(StCrosses),
    f2("st_overlaps")(StOverlaps),
    f2("st_covers")(StCovers),
    f3("st_equals_exact")(StEqualsExact),
    f3("st_almost_equals")(StAlmostEquals),
    f2("st_relate")(StRelate),
    // remaining unary predicates + accessors (vectors.py:45-80)
    f1("st_has_z")(StHasZ),
    f1("st_is_closed")(StIsClosed),
    f1("st_is_ring")(StIsRing),
    f1("st_exterior")(StExterior),
    f1("st_interiors")(StInteriors),
    f1("st_coords")(StCoords),
    f1("st_xy")(StXY),
    // binary constructive
    f2("st_intersection")(StIntersection),
    f2("st_union")(StUnion),
    f2("st_difference")(StDifference),
    f2("st_symdifference")(StSymDifference),
    f2("st_distance")(StDistance),
    // cell index
    f3("st_tile")(StTile),
    f1("tile_x")(TileX),
    f1("tile_y")(TileY),
    f1("tile_z")(TileZ),
    f2("tile_parent")(TileParent),
    f1("tile_bounds_3857")(TileBounds3857),
    f1("tile_geom")(TileGeom),
    f1("mercator_res")(MercatorRes),
    f2("st_morton")(StMorton),
    // generators
    f2("tiles_for")(TilesFor),
    f2("cell_ring")(CellRing),
    f3("grid_cells")(GridCells),
    // vector kernels (primitive-loop dot products — see VecExpressions)
    f2("vec_dot")(VecDot),
    f3("plane_dots")(PlaneDots),
    f2("jl_project")(JlProject),
    f2("sig_matches")(SigMatches),
    // text
    f1("simhash64")(graft.ops.SimHash64),
    f1("minhash128")(graft.ops.MinHash128),
    f1("band_keys")(graft.ops.BandKeys),
    f1("winnow_fp")(graft.ops.WinnowFp(_)),
    f1("nfc_normalize")(graft.ops.NfcNormalize),
    // Spark ships Bloom sketches only as INTERNAL expressions (used by its
    // own runtime row-level filtering); surfacing them gives the q65
    // decontamination pre-filter a codegen'd probe instead of a UDF
    f1("bloom_filter_agg")(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(_)
        .toAggregateExpression()),
    f2("might_contain")(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain),
    // Count-Min sketch (q84 threshold heavy hitters): constant-size
    // mergeable aggregate + never-undercounting literal probe
    agg("cm_sketch_agg")(CountMinAgg(_)),
    f2("cm_est")(CmEst),
    // raster serving
    f4("tile_to_png")(graft.raster.TileToPng),
    // aggregates
    agg("st_envelope_agg")(EnvelopeAgg(_)),
    agg("st_union_agg")(UnionAgg(_)),
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
