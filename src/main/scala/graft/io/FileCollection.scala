package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField}

/** FileCollection.open — the extension-dispatched entry point of the
  * reference (`/root/reference/telluric/collections.py:25-29` DRIVERS map,
  * `:524-543` open): `.json`/`.geojson` → GeoJSON, `.shp` → ESRI
  * Shapefile; everything else raises. The graft adds `.parquet` (the scale
  * format the engine's own save() produces) and `.geojsonl` (the
  * splittable newline-delimited GeoJSON the reference reads through the
  * same GeoJSON driver).
  *
  * save() dispatches the same way, closing the open(save(fc)) ≡ fc
  * round-trip for every driver. */
object FileCollection {

  def open(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".shp")) ShapefileIO.read(spark, path)
    else if (lower.endsWith(".json") || lower.endsWith(".geojson"))
      GeoJsonIO.readFeatureCollection(spark, path)
    else if (lower.endsWith(".geojsonl") || lower.endsWith(".ndjson"))
      GeoJsonIO.readFeatureLines(spark, path)
    else if (lower.endsWith(".parquet")) Parquet.read(spark, path)
    else throw new IllegalArgumentException(
      s"unknown collection format for '$path' (expected .shp/.json/.geojson/.geojsonl/.parquet)")
  }

  def save(df: DataFrame, path: String, geomCol: String = "geom"): Unit = {
    val lower = path.toLowerCase
    if (lower.endsWith(".shp")) ShapefileIO.write(df, path.dropRight(4), geomCol)
    else if (lower.endsWith(".json") || lower.endsWith(".geojson") ||
      lower.endsWith(".geojsonl") || lower.endsWith(".ndjson"))
      GeoJsonIO.writeFeatureLines(df, path, geomCol)
    else if (lower.endsWith(".parquet")) df.write.mode("overwrite").parquet(path)
    else throw new IllegalArgumentException(
      s"unknown collection format for '$path'")
  }

  /** FeatureCollection.validate parity (collections.py:387-397): the
    * reference validates by a TRIAL WRITE to an in-memory shapefile —
    * schema errors surface as write errors. Same here: map every property
    * column through the shapefile field mapper and require homogeneous
    * geometry; throws FeatureCollectionIOError on the same failure classes
    * (unmappable property type, mixed geometry types). */
  def validate(df: DataFrame, geomCol: String = "geom"): Unit = {
    import graft.ops.SchemaRules.FeatureCollectionIOError
    df.schema.fields.filterNot(_.name == geomCol).foreach { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => ()
        case t => throw new FeatureCollectionIOError(
          s"property '${f.name}' of type $t has no shapefile field mapping")
      }
    }
    df.schema.find(_.name == geomCol) match {
      case Some(StructField(_, BinaryType, _, _)) =>
        graft.ops.SchemaRules.requireHomogeneousGeometry(df, geomCol)
        ()
      case other => throw new FeatureCollectionIOError(
        s"geometry column '$geomCol' missing or not WKB binary: $other")
    }
  }
}
