package graft.queries

import graft.io.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Pages
import graft.ops.MultimodalOps

/** Streaming-shaped, multimodal, and JSON-property queries. */
object StreamQueries {

  /** 15-minute tumbling windows per event_type — the batch face of
    * EventStream.windowedCounts (unified batch/stream semantics). Money
    * kept integral (cents) so the oracle compares exactly. */
  def eventWindows(spark: SparkSession, sfDir: String): DataFrame =
    Parquet.read(spark, s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_cents"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("win_start"), col("event_type"))

  /** multimodal plumbing at query level: html payload → frame rows →
    * per-doc frame stats (the decode/feature kernels are spec-tested;
    * here the oracle checks the batch shape arithmetic). */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Pages.documentsPages(spark, sfDir)
      .select(col("doc_id"), col("html").as("payload"))
    MultimodalOps.frameSample(pages, stride = 32)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("frame_len")).as("total_len"),
        min(col("frame_len")).as("min_frame_len"))
      .orderBy(col("doc_id"))
  }

  /** JSON property access over the events props column
    * (features.py:144-151 property access, via JSON at scale). */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Parquet.read(spark, s"$sfDir/events.parquet")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_event"),
        max(col("k")).as("max_k"))
      .orderBy(col("k_mod"))

  /** Batch face of the stream-stream INTERVAL join (the same
    * StatefulStreams.intervalJoin function runs both; its streaming face is
    * spec-driven against this result): per click, the views of the same
    * user in the trailing 10-minute window, aggregated. */
  def intervalJoinCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Parquet.read(spark, s"$sfDir/events.parquet")
    graft.streaming.StatefulStreams.intervalJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "view"))
      .groupBy(col("click_id"), col("user_id"))
      .agg(count(lit(1)).as("n_views"), min(col("view_id")).as("min_view"),
        max(col("view_id")).as("max_view"))
      .orderBy(col("click_id"))
  }

  /** Batch face of the stream-static spatial enrichment (q62): the same
    * GeoStreams.spatialEnrich call that runs under readStream — pages ×
    * broadcast polygon layer, hourly per-polygon windows. Event time is
    * derived deterministically from pid so every SF covers a full day. */
  def streamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = graft.model.Pages.volumePages(spark, sfDir)
      .withColumn("epoch", lit(1704067200L) + pmod(col("pid") * 37L, lit(86400L)))
    graft.streaming.GeoStreams.spatialEnrich(
        pages, graft.model.PolygonLayer.toDF(spark))
      .orderBy(col("win_start"), col("poly_id"))
  }
}

object StreamOracles {
  val eventWindows: String =
    """SELECT win_start, event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM (
      |  SELECT (epoch_us(ts) // 900000000) * 900 AS win_start, event_type, value
      |  FROM events
      |) GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin

  val multimodalFrames: String =
    """SELECT doc_id,
      |       CAST(CEIL(CAST(blen AS DOUBLE) / 32.0) AS BIGINT) AS n_frames,
      |       CAST(blen AS BIGINT) AS total_len,
      |       CAST(CASE WHEN blen % 32 = 0 THEN 32 ELSE blen % 32 END AS INTEGER) AS min_frame_len
      |FROM (
      |  SELECT doc_id, octet_length(encode('<html>' || text || '</html>')) AS blen
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  val jsonProps: String =
    """SELECT CAST(k % 10 AS INTEGER) AS k_mod, count(*) AS n,
      |       min(event_id) AS min_event, CAST(max(k) AS INTEGER) AS max_k
      |FROM (
      |  SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events
      |) GROUP BY 1 ORDER BY k_mod""".stripMargin

  val intervalJoinCounts: String =
    """WITH clicks AS (
      |  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view')
      |SELECT c.click_id, c.user_id, count(*) AS n_views,
      |       min(v.view_id) AS min_view, max(v.view_id) AS max_view
      |FROM clicks c JOIN views v
      |  ON v.user_id = c.user_id
      | AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
      |GROUP BY c.click_id, c.user_id ORDER BY c.click_id""".stripMargin

  val streamEnrich: String = {
    import graft.model.{Pages, PolygonLayer}
    val perPoly = PolygonLayer.polys.map { case (id, _) =>
      s"""SELECT (epoch // 3600) * 3600 AS win_start, $id AS poly_id,
         |       count(*) AS n,
         |       CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
         |FROM pe WHERE ${PolygonLayer.containsSql(id, "lon", "lat")}
         |GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pages AS (${Pages.PagesSql.volumeCte("lineitem")}),
       |pe AS (SELECT *, 1704067200 + (CAST(pid AS BIGINT) * 37) % 86400 AS epoch FROM pages)
       |SELECT * FROM (
       |$perPoly
       |) ORDER BY win_start, poly_id""".stripMargin
  }
}
