package graft.streaming

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the reference's simulated realtime
  * path (SURVEY §2.10): the reference re-snapshots one session per `@daily`
  * run via delete-then-insert (`/root/reference/dags/open_f1_realtime.py:
  * 221-246`) and resolves duplicates downstream with last-write-wins windows.
  * Here the same semantics run as a true stream:
  *
  *   - watermark + `dropDuplicatesWithinWatermark` replaces the W1
  *     latest-record dedup at ingest time;
  *   - windowed aggregation with watermark covers the tumbling-window
  *     analytics (batch twin: q18_hourly_agg);
  *   - `foreachBatch` + [[Sinks.replaceByKey]] reproduces the session-replace
  *     upsert (S6) with per-partition atomicity.
  */
object EventsStream {

  /** Tumbling-window count/sum with late-data handling. `outputMode(append)`
    * emits a window only once its watermark passes — the streaming-correct
    * version of the reference's "recompute the whole session daily".
    */
  def hourlyAgg(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Ingest-time dedup on the event key within the watermark horizon —
    * streaming W1.
    */
  def dedupedStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Micro-batch upsert: each batch replaces the user partitions it touches —
    * streaming S6 (session-replace), keyed on `user_id`.
    */
  def sessionReplaceSink(events: DataFrame, path: String,
                         checkpoint: String): StreamingQuery =
    AvailableNow.start(events, checkpoint) { (batch, _) =>
      Sinks.replaceByKey(batch, path, "user_id")
    }

  /** File-source stream over a directory of parquet events (micro-batch
    * reading, used by the specs to drive the above synchronously).
    */
  def readEventsStream(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
}
