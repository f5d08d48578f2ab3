package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.SpatialJoin
import graft.sql.{functions => G}

/** Streaming faces of the spatial operators: the same declarative plans the
  * batch engine runs, fed by `readStream` sources. */
object GeoStreams {

  /** Stream-static spatial ENRICHMENT: a (possibly streaming) pages frame
    * carrying point geometry (`lon`/`lat` doubles, `epoch` seconds,
    * `is_hot`) joins the polygon layer through [[SpatialJoin]] — the q02
    * join — and rolls up per-polygon counts over tumbling event-time windows.
    *
    * Scale/state story: the stream-static inner join is STATELESS (the
    * layer's z8 cover is broadcast once per trigger while it fits the
    * broadcast threshold, and the stream side never shuffles before the
    * join); the only stateful operator is the windowed aggregation, bounded
    * by the watermark horizon × |polys| — the canonical "geofenced live
    * counts" topology at any executor count. The same call runs in batch
    * (watermark is a no-op there), which is the oracle-gated face (q62). */
  def spatialEnrich(pages: DataFrame, polys: DataFrame,
                    win: String = "1 hour",
                    watermarkDelay: String = "1 minute"): DataFrame = {
    val p = pages
      .withColumn("ts", timestamp_seconds(col("epoch")))
      .withWatermark("ts", watermarkDelay)
    SpatialJoin.pointsInPolygons(p, polys)
      .groupBy(window(col("ts"), win).as("w"), col("poly_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_hot"), 1L).otherwise(0L)).as("n_hot"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("poly_id"), col("n"), col("n_hot"))
  }

  /** Streaming TILE rollup — the live-map face: per (event-time window,
    * z-cell) page counts, the streamed twin of the q01 batch census.
    * Stateless until the windowed aggregation (one map-side `st_tile`
    * projection — codegen'd, no join); state is bounded by the watermark
    * horizon × |active cells in the horizon|, and the packed LongType cell
    * key hash-partitions the aggregation evenly at any executor count.
    * The same call runs in batch (watermark no-op), which is how the spec
    * proves streamed ≡ batch counts. */
  def tileCounts(pages: DataFrame, zoom: Int = 12,
                 win: String = "1 hour",
                 watermarkDelay: String = "1 minute"): DataFrame =
    pages
      .withColumn("ts", timestamp_seconds(col("epoch")))
      .withWatermark("ts", watermarkDelay)
      .withColumn("cell", G.st_tile(col("lon"), col("lat"), lit(zoom)))
      .groupBy(window(col("ts"), win).as("w"), col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_hot"), 1L).otherwise(0L)).as("n_hot"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("cell"), col("n"), col("n_hot"))
}
