package graft.streaming

import graft.io.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface (builder prompt; the reference itself has
  * no streams — SURVEY.md §2.11): windowed event aggregation with
  * watermarking over the events table schema, runnable incrementally
  * (Trigger.AvailableNow) against a parquet directory, with checkpointing
  * so restarts resume from the last committed offset — the streaming
  * sibling of the lake's batch resume. */
object EventStream {

  /** 15-minute tumbling window counts per event_type with a 30-minute
    * watermark. The same transformation applies to a batch DataFrame
    * (Spark's unified semantics) — see q29's batch oracle. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** run incrementally into a parquet sink — checkpoint-recoverable: a
    * restart on the same checkpoint emits nothing new until new input files
    * arrive (the streaming sibling of LakeTable stage resume). */
  def runAvailableNowToParquet(spark: SparkSession, inputDir: String,
                               outDir: String, checkpointDir: String): StreamingQuery = {
    val schema = Parquet.read(spark, inputDir).schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    windowedCounts(stream)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** run incrementally over a parquet dir into an in-memory sink. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
                      checkpointDir: String, queryName: String): StreamingQuery = {
    val schema = Parquet.read(spark, inputDir).schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    windowedCounts(stream)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
