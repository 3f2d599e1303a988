package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming facade over the same ingest transform as the batch
  * path (SURVEY §2.8, M5). The reference is a *scheduled micro-batch*
  * system — cron + instant queries, no watermarks; late/lost data is
  * handled by the repair tool, not by stream semantics. We keep that
  * fidelity: `foreachBatch` pushes each micro-batch through the batch
  * transform and lands it idempotently in the partitioned fact table
  * (per-batch dynamic partition overwrite keyed on collect_date/query_id
  * ≈ the reference's check-then-insert, W2's per-transaction atomicity).
  *
  * An optional watermarking hook is provided for true event-time
  * deployments, but daily-batch fidelity comes first (SURVEY §2.8).
  */
object StreamingIngest {

  /** Run a streaming frame of raw events through `transform` and append
    * each micro-batch to the fact table. The writer is idempotent per
    * (collect_date, query_id) partition under dynamic overwrite, so a
    * replayed micro-batch converges instead of duplicating.
    */
  def start(
      events: DataFrame, // streaming frame with the events schema
      transform: DataFrame => DataFrame, // batch ingest transform
      factPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = events.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    events.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ingest.EventsIngest.writeFactTable(transform(batch), factPath, "overwrite")
      }
      .start()
  }

  /** Event-time variant for live deployments: watermark + dedup on the
    * natural record identity before the same idempotent sink. Kept thin
    * on purpose — repair IS the late-data story in the reference design.
    */
  def withDedup(events: DataFrame, watermarkCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicates(keys :+ watermarkCol)

  /** Watermarked tumbling-window aggregation — the event-time analogue of
    * the reference's cron-driven daily buckets (its densest documented
    * recipe is a 1-minute cron over a 5-minute range; this is the same
    * cadence without the cron). Late data beyond the watermark is dropped
    * by the engine and picked up by repair, matching the reference's
    * manual late-data story.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermarkDelay: String,
      valueCol: String = "value"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration).as("win"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("vsum"))
      .select(col("win.start").as("window_start"), col(keyCol), col("n"), col("vsum"))
}
