package graft.operators

import graft.core.Entry
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Event-time operators over the `events` table in batch mode — tumbling,
  * sliding, and session windows. These share the exact window functions with
  * the Structured Streaming surface (graft.streaming.StreamingOps); running
  * them in batch keeps them DuckDB-oracle-checkable (SURVEY.md §2.2
  * streaming row), and the streaming twins are asserted equal to these in
  * ScalaTest.
  */
object EventTime {

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast("double")

  // ---------------------------------------------------------------- q23
  /** Tumbling 1-hour windows per event type. */
  def q23TumblingWindow(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))
      .orderBy(col("ws"), col("event_type"))

  val q23Oracle: String =
    """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
       CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total
       FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""

  // ---------------------------------------------------------------- q24
  /** Sliding windows (1 hour long, every 30 minutes): each event lands in two
    * windows. The oracle reproduces Spark's window assignment by unioning the
    * two 30-minute-aligned starts covering each event.
    */
  def q24SlidingWindow(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("n"), col("total"))
      .orderBy(col("ws"))

  val q24Oracle: String =
    """WITH assigned AS (
         SELECT make_timestamp(CAST(floor(epoch_ms(ts) / 1800000) AS BIGINT) * 1800000000) AS ws, value FROM events
         UNION ALL
         SELECT make_timestamp((CAST(floor(epoch_ms(ts) / 1800000) AS BIGINT) - 1) * 1800000000) AS ws, value FROM events)
       SELECT ws, count(*) AS n, CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total
       FROM assigned GROUP BY ws ORDER BY ws"""

  // ---------------------------------------------------------------- q25
  /** Session windows with a 30-minute inactivity gap (Spark's session_window
    * in batch mode). Sessions merge while the next event starts strictly
    * before previous-event-time + gap, so the oracle opens a new session at
    * gap >= 30 minutes.
    */
  def q25SessionWindow(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total"))
      .orderBy(col("user_id"), col("session_start"))

  val q25Oracle: String =
    """WITH g AS (
         SELECT user_id, ts, value, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, ts, value,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM g)
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
         CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total
       FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  val entries: Seq[Entry] = Seq(
    Entry("q23_event_tumbling_window", q23TumblingWindow, q23Oracle),
    Entry("q24_event_sliding_window", q24SlidingWindow, q24Oracle),
    Entry("q25_event_session_window", q25SessionWindow, q25Oracle))
}
