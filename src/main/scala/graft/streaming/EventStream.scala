package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twins of the batch event operators (SURVEY §2.10 extension:
  * watermarked windowed aggregation; sessions are [[SessionStateOps]]). Input: a
  * streaming DataFrame with `ts: timestamp`, `user_id`, `event_type`,
  * `value`. The same column pipeline serves both `readStream` (with
  * watermark-bounded state) and batch DataFrames. */
object EventStream {

  /** Tumbling 1-hour windows, 2-hour watermark: late events beyond the
    * watermark are dropped, state is bounded — the 100 TB-stream analogue
    * of Sessionize.hourlyWindows. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour windows on a 30-minute slide, 2-hour watermark: each
    * event lands in window/slide = 2 overlapping windows (fan-out happens
    * inside the codegen'd `window()` generator, map-side) — the streaming
    * analogue of Sessionize.slidingWindows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
}
