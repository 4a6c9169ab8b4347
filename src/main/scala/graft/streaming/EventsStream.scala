package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table (SURVEY.md §2.9).
  *
  * The reference is purely offline, so streaming is an engine extension:
  * the SAME aggregation plans as graft.rel.EventQueries run unchanged on
  * an unbounded source — that is the point of the DataFrame formulation.
  * [[tumblingCounts]] / [[sessionCounts]] accept either a batch or a
  * streaming events DataFrame; EventsStreamSpec asserts the streaming
  * results equal the batch results on the same rows.
  *
  * 100 TB / production shape: event-time windows + watermark bound state;
  * the shuffle keys (window, event_type) / (user_id) match the batch
  * plans; [[cappedIntervalJoin]] shows `flatMapGroupsWithState` for a
  * bounded-state operator the built-in stream-stream join can't express.
  */
object EventsStream {

  /** Event schema template; `ts` is patched to the STORED type at read
    * time — the driver has shipped it as nanos-since-epoch int64 and as
    * timestamp[us] NTZ across rounds, and a streaming source's
    * user-supplied schema is trusted blindly (declaring LongType over a
    * micros column silently reads micros-as-long → every timestamp
    * 1000× compressed — the round-6 q_events_stream/q_stream_join
    * failure). So sniff the batch footer first, never assume.
    */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming scan of the events directory — the streaming twin of
    * Tables.events (same normalization to a µs TimestampType).
    */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one batch footer read resolves the stored ts encoding (cheap:
    // schema only, no data scan)
    val storedTs = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    // the driver ships events as a single parquet FILE; the streaming
    // file source wants a directory, so scan sfDir with a glob filter
    val raw = spark.readStream.schema(rawSchema(storedTs))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    storedTs match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Execute a streaming aggregation over the bounded events source with
    * Trigger.AvailableNow and return the final result — a real streaming
    * run (file source → watermarked stateful agg → sink) whose output is
    * bit-comparable to the batch plan, which is how the driver's DuckDB
    * oracle verifies it (q_events_stream).
    */
  def runBounded(agg: DataFrame, name: String,
      rocksDbState: Boolean = false,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val spark = agg.sparkSession
    // State-store backend is a SCALE dial, not a semantics choice: the
    // default in-memory HDFSBackedStateStore keeps every key version on
    // the executor heap — fine into the millions of keys and fastest at
    // bench scale — while a 100 TB ingest (billions of live keys per
    // watermark window) needs RocksDB, which spills to local disk with
    // bounded memory. `rocksDbState = true` opts a query in; results are
    // identical either way (EventsStreamSpec proves the dedup relation
    // equal under both providers — measured 15s vs 42s at 100× local,
    // the crossover is state-exceeds-heap, not data size). The conf is
    // read at query start, so set-around-start scopes it to this query.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    if (rocksDbState) spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // stage line per streaming run (r14): the streaming queries were
      // the last bench tails with no stages entry — artifact-only
      // attribution of "was it the micro-batch run or the driver-side
      // pre-pass" (the q_stream_join budget bound) needs this
      graft.StageTiming.timed(s"stream/run $name") {
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    } finally {
      if (rocksDbState) prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    spark.table(name)
  }

  /** Event-time watermark of the windowed aggregates: bounds their
    * state at steady state.
    */
  private val WATERMARK = "2 hours"

  /** q_events_stream's aggregate: tumbling 1-hour event-time windows per
    * event type, with the decimal-exact rounded value sum (the oracle
    * parity rule).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WATERMARK)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 3))), 2).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** q_stream_session's aggregate: native session windows per user under
    * the engine's session rule ([[graft.rel.SessionOps]]: a gap of 30
    * minutes or more starts a new session). `session_window` merges
    * windows that merely touch, so with a 30-minute gap an event exactly
    * 30 minutes after the last would join its session; timestamps are
    * microseconds, so a gap one microsecond shorter is exactly the rule,
    * and the session end adds that microsecond back (end = last event +
    * 30 minutes).
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WATERMARK)
      .groupBy(session_window(col("ts"),
        s"${graft.rel.SessionOps.GapUs - 1} microseconds").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        (col("w.end") + expr("INTERVAL 1 MICROSECOND")).as("sess_end"),
        col("n_events"))

  final case class TypedEv(user_id: Long, ts_us: Long, event_id: Long,
      is_purchase: Boolean)
  final case class ClickBuf(ts: Array[Long], ids: Array[Long])
  final case class CappedJoinRow(purchase_id: Long, user_id: Long,
      n_clicks: Long, min_gap_us: Option[Long])

  /** State-BOUNDED streaming interval join: each purchase is matched
    * against the user's clicks from the preceding 24h, but per-key state
    * holds only the `cap` most-recent clicks (by (ts, event_id) — a
    * strict total order, so eviction is deterministic). This is the
    * streaming twin of EventQueries.q_events_join_capped's ActCap: the
    * unbounded stream-stream join (q_stream_join) keeps EVERY in-window
    * click in the state store and re-scans the full per-key list on each
    * arriving row — on a power-law entity holding 20% of events that is
    * Θ(activity²) and stalls the stream (measured: the zipf 100× suite
    * had to skip it, SCALING.md). Here state is O(cap) longs per key and
    * each purchase costs O(cap), linear at any skew.
    *
    * Output contract (per purchase, always exactly one row): n_clicks =
    * |{top-`cap` most-recent in-window clicks}| = min(cap, true in-window
    * count), and min_gap_us = gap to the most-recent in-window click.
    * Both are EXACT under the cap semantics: the buffer holds the `cap`
    * most-recent clicks at-or-before the purchase, and any in-window
    * click outside the buffer is older than every buffer entry — so the
    * in-window suffix of the buffer IS the per-purchase top-min(cap) set,
    * and the most-recent in-window click (the min-gap witness) is always
    * retained. The DuckDB oracle replays the cap as a per-purchase
    * row_number() <= cap over the uncapped join.
    *
    * Each trigger's rows are folded in event-time order (clicks before
    * purchases at equal ts, matching the inclusive c.ts <= p.ts join
    * bound); the bounded AvailableNow source delivers the gate's data in
    * one trigger, so the result is the event-time contract exactly.
    */
  def cappedIntervalJoin(events: Dataset[TypedEv], cap: Int,
      winUs: Long): Dataset[CappedJoinRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ClickBuf, CappedJoinRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user, evs, state: GroupState[ClickBuf]) =>
          val sorted = evs.toArray
            .sortBy(e => (e.ts_us, e.is_purchase, e.event_id))
          val prev = state.getOption.getOrElse(ClickBuf(Array.empty, Array.empty))
          // LOUD guard on the cross-trigger half of the ascending-buffer
          // invariant: within a trigger the sort above establishes event-
          // time order, but across triggers correctness relies on the
          // source delivering later event-time data in later triggers
          // (the single-file AvailableNow source trivially satisfies it —
          // everything arrives in trigger one). A multi-trigger or late-
          // data source that violates it would silently miscount n_clicks
          // and emit negative min_gap_us; fail instead.
          if (prev.ts.nonEmpty && sorted.nonEmpty &&
              sorted.head.ts_us < prev.ts.last)
            throw new IllegalStateException(
              s"cappedIntervalJoin: trigger min ts ${sorted.head.ts_us} " +
                s"precedes buffered max ts ${prev.ts.last} for key $user " +
                "— cross-trigger event-time order is violated; the " +
                "ascending-buffer invariant (see scaladoc) no longer " +
                "holds, so results would be corrupt rather than late")
          val ts = scala.collection.mutable.ArrayBuffer(prev.ts.toSeq: _*)
          val ids = scala.collection.mutable.ArrayBuffer(prev.ids.toSeq: _*)
          val out = Seq.newBuilder[CappedJoinRow]
          sorted.foreach { e =>
            if (e.is_purchase) {
              val lo = e.ts_us - winUs
              var n = 0L
              var i = 0
              // buffer is (ts, id)-ascending and entirely <= e.ts_us;
              // the in-window candidates are its suffix
              while (i < ts.length) { if (ts(i) >= lo) n += 1; i += 1 }
              val gap = if (n > 0) Some(e.ts_us - ts.last) else None
              out += CappedJoinRow(e.event_id, user, n, gap)
            } else {
              ts += e.ts_us; ids += e.event_id
              if (ts.length > cap) { ts.remove(0); ids.remove(0) }
            }
          }
          state.update(ClickBuf(ts.toArray, ids.toArray))
          out.result().iterator
      }
  }
}
