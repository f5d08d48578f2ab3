package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sql.{functions => G}

/** telluric's BaseCollection/FeatureCollection operator surface
  * (`/root/reference/telluric/collections.py:59-364`) re-expressed as
  * relational combinators over a DataFrame with a WKB `geom` column.
  *
  * Where the reference is order-sensitive (stable `sort`, first-seen group
  * order in `groupby`, `collections.py:158-208`), the combinators carry an
  * explicit `row_idx` ordinal — Spark has no implicit input order at scale,
  * so order becomes data, which is exactly how the semantics survive a
  * shuffle. */
class FeatureCollection(val df: DataFrame, val geomCol: String = "geom") {
  import FeatureCollection._

  private def geom: Column = col(geomCol)

  /** filter(intersects): spatial selection vs a probe geometry —
    * `overlaps ∨ intersects` with prepared-geometry semantics
    * (collections.py:138-156). Broadcast-literal fast path. */
  def filterIntersects(probeWkb: Array[Byte]): FeatureCollection =
    wrap(df.where(G.st_intersects(geom, lit(probeWkb)) ||
      G.st_overlaps(geom, lit(probeWkb))))

  /** Cell-indexed variant of filterIntersects — the
    * `Filter(ST_Intersects(g, lit)) → cell ∈ cells(probe) + refine`
    * rewrite (SURVEY.md §4): at a trillion rows the IN-list on the packed
    * cell column prunes partitions/row groups via parquet min-max stats
    * BEFORE the exact geometry test runs. Requires (or computes) a cell
    * column at `zoom`. Result ≡ filterIntersects (metamorphic-tested). */
  def filterIntersectsIndexed(probeWkb: Array[Byte], zoom: Int,
                              cellCol: String = "cell"): FeatureCollection = {
    val bb = graft.core.Geom.fromWkb(probeWkb).bbox
    val cells = graft.core.Mercator
      .tilesFor(bb.xmin, bb.ymin, bb.xmax, bb.ymax, Seq(zoom)).map(_.packed)
    // probe cover is a contiguous tile rectangle; pre-filter = rectangle
    // overlap between it and the FEATURE BBOX tile range — sound for every
    // geometry type (ADVICE r1: a polygon's min-corner cell alone can lie
    // outside the probe cover while the polygon still intersects).
    val tids = cells.map(graft.core.Mercator.TileId.unpack)
    val (pxmin, pxmax) = (tids.map(_.x).min, tids.map(_.x).max)
    val (pymin, pymax) = (tids.map(_.y).min, tids.map(_.y).max)
    // tile y grows downward: feature y-range = [ty(ymax) .. ty(ymin)]
    val ftxmin = G.tile_x(G.st_tile(G.st_xmin(geom), G.st_ymax(geom), lit(zoom)))
    val ftymin = G.tile_y(G.st_tile(G.st_xmin(geom), G.st_ymax(geom), lit(zoom)))
    val ftxmax = G.tile_x(G.st_tile(G.st_xmax(geom), G.st_ymin(geom), lit(zoom)))
    val ftymax = G.tile_y(G.st_tile(G.st_xmax(geom), G.st_ymin(geom), lit(zoom)))
    val coarse =
      if (df.columns.contains(cellCol))
        // precomputed single-cell index: valid ONLY as a point-feature
        // index; range predicates prune parquet row groups via min-max
        G.tile_x(col(cellCol)).between(pxmin, pxmax) &&
          G.tile_y(col(cellCol)).between(pymin, pymax)
      else
        ftxmax >= pxmin && ftxmin <= pxmax && ftymax >= pymin && ftymin <= pymax
    wrap(df
      .where(coarse)
      .where(G.st_intersects(geom, lit(probeWkb)) ||
        G.st_overlaps(geom, lit(probeWkb))))
  }

  /** assets attachment (features.py:287-336): named raster references as a
    * map<string, struct<href,bands,type,product>> column. */
  def withAsset(name: String, href: String, bands: Seq[String],
                assetType: String, product: String): FeatureCollection = {
    val entry = struct(lit(href).as("href"),
      array(bands.map(lit): _*).as("bands"),
      lit(assetType).as("type"), lit(product).as("product"))
    val m = map(lit(name), entry)
    wrap(
      if (df.columns.contains("assets"))
        // copy_with merge semantics: new keys override (features.py:262-280)
        df.withColumn("assets", map_concat(
          map_filter(col("assets"), (k, _) => k =!= name), m))
      else df.withColumn("assets", m))
  }

  /** stable sort by property (collections.py:158-177): secondary key on
    * row_idx when present preserves Python's stable-sort contract. */
  def sortBy(prop: String, desc: Boolean = false): FeatureCollection = {
    val key = if (desc) col(prop).desc else col(prop).asc
    val keys = if (df.columns.contains(RowIdx)) Seq(key, col(RowIdx).asc) else Seq(key)
    wrap(df.orderBy(keys: _*))
  }

  /** apply(**kwargs): add/overwrite property columns
    * (collections.py:342-364); new keys append at the end. */
  def applyProps(props: (String, Column)*): FeatureCollection =
    wrap(props.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) })

  /** map(f): typed feature→feature transform (collections.py:222-226). */
  def mapRows(f: DataFrame => DataFrame): FeatureCollection = wrap(f(df))

  /** fc + other (collections.py:73-80): schema-union concat; properties
    * missing on one side become null (the save-time fill-in of
    * collections.py:489-496). */
  def concat(other: FeatureCollection): FeatureCollection =
    wrap(df.unionByName(other.df, allowMissingColumns = true))

  /** fc[a:b] slicing (collections.py:405-408) — distributed ordinal over
    * the order carried by row_idx (no single-partition window). */
  def slice(start: Int, end: Int): FeatureCollection = {
    require(df.columns.contains(RowIdx), "slice needs a row_idx ordinal")
    wrap(Ordinals.withOrdinal(df, "__rn", col(RowIdx))
      .where(col("__rn") > start && col("__rn") <= end)
      .drop("__rn"))
  }

  /** dissolve(by, agg): per-group cascaded union + property aggregation
    * (collections.py:210-220). */
  def dissolve(by: String, aggExprs: (String, Column)*): DataFrame =
    df.groupBy(col(by))
      .agg(G.st_union_agg(geom).as(geomCol),
        aggExprs.map { case (n, c) => c.as(n) }: _*)

  /** groupby(by).agg — first-seen group order is reconstructible via
    * min(row_idx) (collections.py:179-208). */
  def groupbyAgg(by: String, aggExprs: (String, Column)*): DataFrame = {
    val base = df.groupBy(col(by))
    val aggs = aggExprs.map { case (n, c) => c.as(n) } ++
      (if (df.columns.contains(RowIdx)) Seq(min(col(RowIdx)).as("first_seen")) else Nil)
    base.agg(aggs.head, aggs.tail: _*)
  }

  /** HAVING-style group filter (collections.py:639-650): keep whole groups
    * whose aggregate passes, then semi-join members back. */
  def groupbyFilter(by: String, aggCond: Column): FeatureCollection = {
    val keep = df.groupBy(col(by)).agg(count(lit(1)).as("__n"))
      .where(aggCond).select(col(by))
    wrap(df.join(keep, Seq(by), "left_semi"))
  }

  /** Collection-level accessors (collections.py:87-116). */
  def isEmptyCollection: Boolean = df.isEmpty
  def envelope: Array[Byte] =
    df.agg(G.st_envelope_agg(geom)).collect().head.getAs[Array[Byte]](0)
  def cascadedUnion: Array[Byte] =
    df.agg(G.st_union_agg(geom)).collect().head.getAs[Array[Byte]](0)
  def convexHull: Array[Byte] =
    df.agg(G.st_convexhull(G.st_union_agg(geom))).collect().head.getAs[Array[Byte]](0)

  /** save: parquet sink with geometry as WKB (GeoJSON text via
    * st_asgeojson for interop sinks) — collections.py:312-335. */
  def save(path: String): Unit = df.write.mode("overwrite").parquet(path)

  private def wrap(d: DataFrame): FeatureCollection = new FeatureCollection(d, geomCol)
}

object FeatureCollection {
  val RowIdx = "row_idx"

  /** Attach the ordinal that makes order-sensitive reference semantics
    * shuffle-safe — distributed (range-repartition + partition offsets),
    * never a single-partition window. `orderCol` must be a total order. */
  def withRowIdx(df: DataFrame, orderCol: String): DataFrame =
    Ordinals.withOrdinal(df, RowIdx, col(orderCol))
}
