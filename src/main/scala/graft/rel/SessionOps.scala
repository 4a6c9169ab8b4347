package graft.rel

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SINGLE-SOURCED sessionization primitive (the TextOps.duckTokensCte
  * pattern): every consumer of "a session" — q_events_sessionize,
  * q_concurrency, q_stream_session and its oracle — shares ONE
  * boundary rule so the definitions cannot drift. The rule is
  * `gap >= GapUs` starts a new session; a `>` rule here and `>=` there
  * once coexisted and diverged on exact-boundary gaps. Spark's native
  * `session_window` merges windows that merely touch (an event exactly
  * one gap after the last joins its session), so q_stream_session's
  * `EventsStream.sessionCounts` passes it a gap of `GapUs − 1` µs.
  */
object SessionOps {

  /** 30-minute inactivity gap, microseconds. */
  val GapUs: Long = 1800L * 1000000L

  /** One row per session: (user_id, sid, s, e, n_events). */
  def sessions(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_sess",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) >= GapUs,
          1).otherwise(0))
      .withColumn("sid", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n_events"))
  }

  /** DuckDB twin of [[sessions]]: CTE chain ending in
    * `sess(user_id, sid, s, e, n_events)`.
    */
  val duckSessionsCte: String =
    s"""ordered AS (
       |  SELECT user_id, ts,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events
       |), marks AS (
       |  SELECT user_id, ts, rn,
       |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= $GapUs
       |      THEN 1 ELSE 0 END AS new_sess
       |  FROM ordered
       |), numbered AS (
       |  SELECT user_id, ts,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM marks
       |), sess AS (
       |  SELECT user_id, sid, min(ts) AS s, max(ts) AS e,
       |    COUNT(*) AS n_events
       |  FROM numbered GROUP BY user_id, sid
       |)""".stripMargin
}
