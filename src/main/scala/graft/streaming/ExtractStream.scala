package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.extract.{Extractor, Page}

/**
 * Structured-Streaming face of the engine. The extractor is a stateless
 * per-row function (SURVEY.md §1.2), so the batch pipeline lifts to
 * `readStream → map(extract) → writeStream` unchanged; exactly-once comes
 * from the checkpointed file source + idempotent parquet sink. A second
 * query demonstrates watermarked tumbling-window metrics (late data
 * dropped past the watermark) for continuous crawl monitoring.
 */
object ExtractStream {

  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Continuous extraction: new page files → extracted parquet. */
  def extractQuery(spark: SparkSession, pagesDir: String, outDir: String,
                   checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(PageSchema)
      .option("maxFilesPerTrigger", 64) // bounded micro-batches at scale
      .parquet(pagesDir)
      .select(col("url"), col("warc_ts"), col("html"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("lang"), lit("")).as("lang"))
      .as[Page]

    pages.map(Extractor.extract)
      .toDF()
      .withColumn("warc_day", to_date(col("warc_ts")))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("warc_day")
      .trigger(trigger)
      .start()
  }

  /**
   * Continuous ingest-dedup: each micro-batch runs the SAME ingest-dedup
   * step as the batch job's --dedup-index (ExtractJob.dedupIngest) —
   * dedup against the persisted MinHash-LSH corpus index, near-dup pairs
   * appended to `dupesPath`, batch joined to the index as the next
   * ingest. The source is extractQuery's EXTRACTED output directory, not
   * raw pages — extraction (the expensive stage) runs once in
   * extractQuery and this query only streams its (url, extracted_text)
   * columns, so chaining the two queries never parses a page twice.
   * foreachBatch is the standard shape for per-batch side effects
   * against an external store. Index growth is exactly-once per url: a
   * replayed batch anti-joins out against the index's seen urls (no
   * ingest number burned); the `dupesPath` report is at-least-once
   * across crash replays — distinct() on read (ExtractJob.dedupIngest
   * scaladoc has the full crash-window analysis).
   */
  def dedupIngestQuery(spark: SparkSession, extractedDir: String,
                       indexPath: String, dupesPath: String,
                       checkpointDir: String,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val extractedSchema =
      org.apache.spark.sql.Encoders.product[graft.extract.Extracted].schema
    spark.readStream
      .schema(extractedSchema)
      .option("maxFilesPerTrigger", 64)
      .parquet(extractedDir)
      .where(col("status") === "ok")
      .select(col("url"), col("extracted_text"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.job.ExtractJob.dedupIngest(spark, batch, indexPath, dupesPath)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /**
   * Continuous corpus profiling: the --profile-sketches leg lifted to
   * streaming. Each micro-batch builds the Sketch.corpusProfile tables
   * from the BATCH ROWS ALONE and folds them into the persisted per-day
   * tables via the associative merges (Sketch.fold: register-max for
   * hll_tokens, counter-add for len_hist) — O(batch) per trigger. A crawl day arriving across T
   * triggers costs T batch-sized folds, never T re-scans of the day's
   * earlier files (the r5 recompute-the-day shape was O(triggers × day)).
   * Replay idempotence comes from the per-day high-water mark each fold
   * persists inside the sketch table itself (a replayed batch id is
   * ≤ the mark and no-ops for already-folded days — counter-add would
   * double-count exactly that replay without it; see Sketch.fold).
   * Chain off extractQuery's output directory (as dedupIngestQuery).
   */
  def profileSketchQuery(spark: SparkSession, extractedDir: String,
                         sketchPath: String, checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val extractedSchema =
      org.apache.spark.sql.Encoders.product[graft.extract.Extracted].schema
    spark.readStream
      .schema(extractedSchema)
      .option("maxFilesPerTrigger", 64)
      .parquet(extractedDir)
      .where(col("status") === "ok")
      .select(to_date(col("warc_ts")).cast("string").as("warc_day"),
        col("extracted_text"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.pipeline.{Mat, Sketch}
        // one batch materialization feeds every sketch build
        val rows = Mat.small(batch.where(col("warc_day").isNotNull))
        if (!rows.isEmpty)
          Sketch.corpusProfile(rows).foreach { t =>
            Sketch.fold(spark, t.family, t.groupCols, t.sketch, t.params,
              s"$sketchPath/${t.name}", batchId)
          }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Watermarked tumbling-window extraction metrics (1h windows, 2h
    * allowed lateness). */
  def metricsQuery(spark: SparkSession, pagesDir: String, outDir: String,
                   checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(PageSchema)
      .parquet(pagesDir)
      .select(col("url"), col("warc_ts"), col("html"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("lang"), lit("")).as("lang"))
      .as[Page]

    pages.map(Extractor.extract)
      .withWatermark("warc_ts", "2 hours")
      .groupBy(window(col("warc_ts"), "1 hour"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("ok_docs"),
        sum(col("metrics.bytes_in")).as("bytes_in"),
        sum(col("metrics.bytes_out")).as("bytes_out"))
      .select(col("window.start").as("window_start"), col("docs"),
        col("ok_docs"), col("bytes_in"), col("bytes_out"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()
  }
}
