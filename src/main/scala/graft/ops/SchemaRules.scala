package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Schema inference/validation semantics of the reference
  * (collections.py:418-471): property types come from the first feature
  * that has the key, later nulls upgrade silently, conflicting non-null
  * types raise; geometry type must be homogeneous across the collection.
  * Spark infers schemas at read time, so these rules apply when merging
  * heterogeneous collections or validating before save. */
object SchemaRules {

  class FeatureCollectionIOError(msg: String) extends RuntimeException(msg)

  /** _compute_properties parity: first-seen type wins, None upgrades,
    * conflicts error (collections.py:425-449). */
  def unifyPropertyType(name: String, observed: Seq[Option[DataType]]): Option[DataType] =
    observed.foldLeft(Option.empty[DataType]) {
      case (None, t) => t
      case (Some(a), Some(b)) if a != b =>
        throw new FeatureCollectionIOError(
          s"property '$name' has conflicting types: $a vs $b")
      case (acc, _) => acc
    }

  /** schema merge across two collections with the same rules. */
  def mergeSchemas(a: Seq[(String, DataType)], b: Seq[(String, DataType)]): Seq[(String, DataType)] = {
    val bm = b.toMap
    val merged = a.map { case (n, t) =>
      bm.get(n).foreach { bt =>
        if (bt != t) throw new FeatureCollectionIOError(
          s"property '$n' has conflicting types: $t vs $bt")
      }
      (n, t)
    }
    merged ++ b.filterNot { case (n, _) => a.exists(_._1 == n) }
  }

  /** transform_properties parity (features.py:22-44): fiona-schema-driven
    * coercion of string property columns on feature read. Type map:
    * `date` → DateType, `datetime` → TimestampType (the ISO-8601 subset of
    * dateutil's leniency — what the reference's own save path emits,
    * features.py:57-59), `time` → seconds-of-day IntegerType (Spark 4.1
    * ships TimeType but gates it off at runtime [UNSUPPORTED_TIME_TYPE];
    * a seconds ordinal carries the same arithmetic and orders identically).
    * Nulls pass through (reference: `if prop_value is None: continue`);
    * schema names absent from the frame and non-temporal types are
    * untouched. */
  def transformProperties(df: DataFrame, schema: Seq[(String, String)]): DataFrame =
    schema.foldLeft(df) { case (d, (name, tpe)) =>
      if (!d.columns.contains(name)) d
      else tpe match {
        case "date"     => d.withColumn(name, to_date(col(name)))
        case "datetime" => d.withColumn(name, to_timestamp(col(name)))
        case "time"     =>
          val ts = to_timestamp(concat(lit("1970-01-01 "), col(name)))
          d.withColumn(name,
            (hour(ts) * 3600 + minute(ts) * 60 + second(ts)).cast("int"))
        case _ => d
      }
    }

  /** serialize_properties parity for datetimes (features.py:47-65):
    * Python's `isoformat()` — 'T' separator, microseconds printed only
    * when nonzero. */
  def isoSerialize(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .when(pmod(unix_micros(c), lit(1000000L)) === 0L,
        date_format(c, "yyyy-MM-dd'T'HH:mm:ss"))
      .otherwise(date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))

  /** geometry homogeneity (collections.py:455-460): all WKB type codes in
    * the geom column must match; returns the single type code. */
  def requireHomogeneousGeometry(df: DataFrame, geomCol: String = "geom"): Int = {
    // WKB little-endian: byte 0 = order, bytes 1-4 = type code
    val types = df.select(col(geomCol))
      .where(col(geomCol).isNotNull)
      .select(expr(s"CAST(conv(hex(substring($geomCol, 2, 1)), 16, 10) AS INT)").as("t"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (types.length > 1)
      throw new FeatureCollectionIOError(
        s"collection has heterogeneous geometry types: ${types.mkString(",")}")
    types.headOption.getOrElse(0)
  }
}
