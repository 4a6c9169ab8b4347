package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming plans produce the same results as their batch twins, and the
  * capped interval join carries its bounded state across triggers.
  */
class EventsStreamSpec extends SparkSpec {

  private def ts(minute: Int) = java.sql.Timestamp.valueOf(
    f"2026-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  /** Start `df` into an in-memory table named `name`. */
  private def toMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode) =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  test("streaming tumbling aggregate equals the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts(0), "click", 1.0), (2L, ts(10), "click", 2.0),
      (3L, ts(70), "view", 3.0), (4L, ts(80), "click", 4.0))
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", col("event_id"))
    val q = toMemory(
      EventsStream.tumblingCounts(sdf), "tumb", OutputMode.Complete())
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumb")
      .select("win_start", "event_type", "n", "sum_value").collect().toSet
    val batch = EventsStream.tumblingCounts(
      rows.toDF("event_id", "ts", "event_type", "value")
        .withColumn("user_id", col("event_id")))
      .collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("session windows split on the 30-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sdf = stream.toDF().toDF("user_id", "ts", "value")
    val q = toMemory(
      EventsStream.sessionCounts(sdf), "sess", OutputMode.Complete())
    // user 7: events at t0, t10 (one session), then t60 (a second one)
    stream.addData(Seq((7L, ts(0), 1.0), (7L, ts(10), 1.0), (7L, ts(60), 1.0)))
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("sess").orderBy("sess_start").collect()
    assert(sess.length == 2)
    assert(sess(0).getAs[Long]("n_events") == 2)
    assert(sess(1).getAs[Long]("n_events") == 1)
  }

  test("checkpointed file sink is exactly-once across restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("eo").toString
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def start() = stream.toDF().toDF("user_id", "ts", "value")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/chk")
      .outputMode("append").start()
    val q1 = start()
    stream.addData(Seq((1L, ts(0), 1.0), (2L, ts(1), 2.0)))
    q1.processAllAvailable()
    q1.stop()
    // restart against the same checkpoint: already-committed batch must
    // not be duplicated, only the new data lands
    val q2 = start()
    stream.addData(Seq((3L, ts(2), 3.0)))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 3)
    assert(out.select("user_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
  }

  test("streaming dedup collapses a doubled source to the batch relation") {
    import org.apache.spark.sql.functions._
    val streamed = graft.SparkEntry.defs("q_stream_dedup").build(spark, sf())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.Tables.events(spark, sf())
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 3))), 2)
          .cast("double").as("sum_value"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("RocksDB state store produces the identical dedup relation") {
    // the 100 TB state backend (opt-in rocksDbState) is storage only:
    // the watermarked dropDuplicates must collapse the doubled source to
    // exactly the same relation the default in-memory provider produces
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def dedupAgg = {
      val doubled = EventsStream.readEventsStream(spark, sf())
        .unionAll(EventsStream.readEventsStream(spark, sf()))
      doubled
        .withWatermark("ts", "2 hours")
        .dropDuplicates("event_id", "ts")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 3))), 2)
            .cast("double").as("sum_value"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaRocks = rows(EventsStream.runBounded(
      dedupAgg, "dedup_rocks_sink", rocksDbState = true))
    val viaDefault = rows(EventsStream.runBounded(dedupAgg, "dedup_hdfs_sink"))
    assert(viaRocks.nonEmpty && viaRocks == viaDefault)
    // the opt-in must not leak the provider into the session default
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").exists(_.contains("RocksDB")))
  }

  test("stream-stream join relation is state-backend independent") {
    // same storage-only guarantee for the JOIN state stores (four per
    // partition: two streams x keyToNumValues/keyWithIndexToValue)
    import org.apache.spark.sql.functions._
    def joined = {
      val clicks = EventsStream.readEventsStream(spark, sf())
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = EventsStream.readEventsStream(spark, sf())
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
      purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS") &&
          col("click_ts") <= col("purchase_ts"))
        .select(col("purchase_id"), col("click_id"))
    }
    val append = org.apache.spark.sql.streaming.OutputMode.Append()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaRocks = rows(EventsStream.runBounded(
      joined, "join_rocks_sink", rocksDbState = true, mode = append))
    val viaDefault = rows(EventsStream.runBounded(
      joined, "join_hdfs_sink", mode = append))
    assert(viaRocks.nonEmpty && viaRocks == viaDefault)
  }

  test("a gap of exactly 30 minutes starts a new session (>= boundary)") {
    // the one input where `>` and `>=` differ — locks SessionOps' >= gap
    // rule on the session_window aggregate q_stream_session runs (a bare
    // 30-minute session_window merges the two touching windows)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = toMemory(EventsStream.sessionCounts(
      stream.toDF().toDF("user_id", "ts")), "boundary", OutputMode.Complete())
    // user 4: one microsecond under the gap stays in the session
    val underGap = java.sql.Timestamp.valueOf("2026-01-01 10:29:59.999999")
    stream.addData(Seq((3L, ts(0)), (3L, ts(30)), (4L, ts(0)), (4L, underGap)))
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("boundary").orderBy("user_id", "sess_start")
      .select("user_id", "sess_start", "sess_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSeq
    assert(sess.take(2) == Seq((3L, ts(0), ts(30), 1L), (3L, ts(30), ts(60), 1L)),
      "an event exactly 30 minutes after the last must start a second session")
    assert(sess.drop(2) == Seq((4L, ts(0),
      java.sql.Timestamp.valueOf("2026-01-01 10:59:59.999999"), 2L)))
  }

  test("capped interval join: huge cap equals the uncapped per-purchase aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val h = 3600L * 1000000L
    // user 1: clicks at 0h,1h,2h then purchases at 2h (ties a click!) and
    // 30h (only the 26h..30h-24h window — no clicks); user 2: purchase
    // with zero clicks ever
    val evs = Seq(
      EventsStream.TypedEv(1L, 0L, 10L, false),
      EventsStream.TypedEv(1L, 1L * h, 11L, false),
      EventsStream.TypedEv(1L, 2L * h, 12L, false),
      EventsStream.TypedEv(1L, 2L * h, 100L, true),
      EventsStream.TypedEv(1L, 30L * h, 101L, true),
      EventsStream.TypedEv(2L, 5L * h, 200L, true))
    val stream = MemoryStream[EventsStream.TypedEv]
    val q = toMemory(
      EventsStream.cappedIntervalJoin(stream.toDS(), cap = 1000,
        winUs = 24L * h).toDF(), "cap_big", OutputMode.Append())
    stream.addData(evs)
    q.processAllAvailable(); q.stop()
    val got = spark.table("cap_big")
      .select("purchase_id", "n_clicks", "min_gap_us")
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // purchase 100 at 2h sees clicks 0h,1h,2h (inclusive both bounds),
    // gap to the 2h click = 0; purchase 101 at 30h: nearest click 2h is
    // 28h back — outside; purchase 200: no clicks at all
    assert(got == Seq((100L, 3L, Some(0L)), (101L, 0L, None),
      (200L, 0L, None)))
  }

  test("capped interval join: the cap keeps the MOST RECENT clicks (count exact-min, gap exact)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000L
    val evs = Seq(
      EventsStream.TypedEv(1L, 0L, 10L, false),
      EventsStream.TypedEv(1L, 1L * m, 11L, false),
      EventsStream.TypedEv(1L, 2L * m, 12L, false),
      EventsStream.TypedEv(1L, 3L * m, 13L, false),
      EventsStream.TypedEv(1L, 10L * m, 100L, true))
    val stream = MemoryStream[EventsStream.TypedEv]
    val q = toMemory(
      EventsStream.cappedIntervalJoin(stream.toDS(), cap = 2,
        winUs = 24L * 3600L * 1000000L).toDF(), "cap_small",
      OutputMode.Append())
    stream.addData(evs)
    q.processAllAvailable(); q.stop()
    val got = spark.table("cap_small")
      .select("purchase_id", "n_clicks", "min_gap_us")
      .as[(Long, Long, Option[Long])].collect().toSeq
    // 4 in-window clicks but cap=2 → n = min(2, 4); the RETAINED two are
    // the most recent (2m, 3m), so the gap witness (3m, 7m back) is exact
    assert(got == Seq((100L, 2L, Some(7L * m))))
  }

  test("capped interval join: IN-ORDER multi-trigger delivery carries the buffer across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000L
    val stream = MemoryStream[EventsStream.TypedEv]
    val q = toMemory(
      EventsStream.cappedIntervalJoin(stream.toDS(), cap = 10,
        winUs = 24L * 3600L * 1000000L).toDF(), "cap_multi",
      OutputMode.Append())
    // trigger 1: two clicks; trigger 2 (later event time): a purchase
    stream.addData(EventsStream.TypedEv(1L, 0L, 10L, false),
      EventsStream.TypedEv(1L, 1L * m, 11L, false))
    q.processAllAvailable()
    stream.addData(EventsStream.TypedEv(1L, 5L * m, 100L, true))
    q.processAllAvailable(); q.stop()
    val got = spark.table("cap_multi")
      .select("purchase_id", "n_clicks", "min_gap_us")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq((100L, 2L, Some(4L * m))),
      "trigger-1 clicks must be visible to the trigger-2 purchase")
  }

  test("capped interval join: OUT-OF-ORDER cross-trigger delivery fails loudly, not corruptly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000L
    val stream = MemoryStream[EventsStream.TypedEv]
    val q = toMemory(
      EventsStream.cappedIntervalJoin(stream.toDS(), cap = 10,
        winUs = 24L * 3600L * 1000000L).toDF(), "cap_ooo",
      OutputMode.Append())
    stream.addData(EventsStream.TypedEv(1L, 10L * m, 10L, false))
    q.processAllAvailable()
    // a click EARLIER than the buffered max arrives in a later trigger:
    // the ascending-buffer invariant (the retention proof's premise) is
    // violated — silent acceptance would miscount and emit negative gaps
    stream.addData(EventsStream.TypedEv(1L, 2L * m, 11L, false))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    try q.stop() catch { case _: Throwable => () }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("ascending-buffer")),
      s"expected the invariant guard in the cause chain, got: $e")
  }
}
