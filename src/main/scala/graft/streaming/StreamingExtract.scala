package graft.streaming

import graft.core.{Extractor, PageRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming front of the extraction pipeline.
  *
  * The reference has no streaming (SURVEY §2.11); its incremental story is
  * DVC stage memoization. At Common-Crawl scale the natural incremental
  * shape is: new WARC/pages partitions land → micro-batch extract → append
  * to the extracted table. The batch path's narrow map is reused verbatim
  * (same Extractor, same byte-identity contract); checkpointing gives the
  * same exactly-once resume semantics as SnapshotStore gives the batch job.
  */
object StreamingExtract {

  final case class StreamedDoc(
      url: String, text: String, nPages: Int, extractor: String,
      usedFallback: Boolean, warcTs: java.sql.Timestamp)

  /** The streaming transform: works on any streaming Dataset[PageRow]
    * (file source, Kafka-decoded rows, MemoryStream in tests). Narrow —
    * no state, no shuffle. */
  def extractStream(spark: SparkSession, pages: Dataset[PageRow]): Dataset[StreamedDoc] = {
    import spark.implicits._
    pages.mapPartitions(_.map { row =>
      // text-only: StreamedDoc carries no image payloads, so none are inflated
      val d = Extractor.extract(row, decodeImages = false)
      StreamedDoc(d.url, d.text, d.nPages, d.extractor, d.usedFallback, row.warc_ts)
    })
  }

  /** Event-time throughput metrics: docs per extractor per 1-minute window
    * of warc_ts, with a 2-minute watermark for late fetches. */
  def rateMetrics(extracted: Dataset[StreamedDoc]): DataFrame =
    extracted.toDF()
      .withWatermark("warcTs", "2 minutes")
      .groupBy(window(col("warcTs"), "1 minute"), col("extractor"))
      .agg(count(lit(1)).as("docs"), sum(when(col("usedFallback"), 1L).otherwise(0L)).as("fallbacks"))

  /** Streaming exact dedup over the page stream: first-seen wins per
    * (payload hash, length) — the streaming face of Dedup.exact. State is
    * the dedup key set, bounded by the event-time watermark: a duplicate
    * arriving within `horizon` of its original is dropped, later ones
    * (beyond state expiry) pass through — the standard watermark/state
    * tradeoff for unbounded streams. Only the 16-byte key enters state,
    * never the text (same scale rule as the batch op). */
  def dedupStream(spark: SparkSession, pages: Dataset[PageRow],
      horizon: String = "10 minutes"): Dataset[PageRow] = {
    import spark.implicits._
    pages
      .withColumn("dedup_hash", xxhash64(coalesce(col("html"), lit(Array.emptyByteArray)),
        coalesce(col("text"), lit(""))))
      .withColumn("dedup_len",
        length(coalesce(col("text"), lit(""))) + octet_length(coalesce(col("html"), lit(Array.emptyByteArray))))
      .withWatermark("warc_ts", horizon)
      .dropDuplicatesWithinWatermark("dedup_hash", "dedup_len")
      .drop("dedup_hash", "dedup_len")
      .as[PageRow]
  }

  /** File-source job: watch a directory of pages parquet, append extracted
    * parquet exactly-once via checkpoint. */
  def run(spark: SparkSession, sourceDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(sourceDir)
      .as[PageRow]
    extractStream(spark, pages).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
