package graft.rel

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_events_join_capped: the activity-capped (skew-safe) interval join.
  * Oracle parity is gated by Verify/check.py; these assert the capping
  * semantics — the bound itself, the deterministic most-recent-first
  * selection, and exact agreement with the uncapped join wherever the
  * cap does not bite.
  */
class CappedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("cappedClicks keeps exactly the ActCap most-recent clicks of a hot user") {
    // hot user 1: 100 clicks at t=0..99s; cold user 2: 3 clicks
    val ev = ((1 to 100).map(i => (1L, i.toLong, i.toLong * 1000000, "click")) ++
      Seq((2L, 201L, 1000000L, "click"), (2L, 202L, 2000000L, "click"),
        (2L, 203L, 3000000L, "click"), (1L, 300L, 5000000L, "error")))
      .toDF("user_id", "event_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = EventQueries.cappedClicks(ev)
    val hot = got.filter(col("user_id") === 1L).collect()
    assert(hot.length == EventQueries.ActCap,
      s"hot user must keep exactly ActCap clicks, got ${hot.length}")
    // most-recent-first: the survivors are event_ids 85..100 (ts asc ids)
    assert(hot.map(_.getLong(1)).sorted.toSeq ==
      ((100 - EventQueries.ActCap + 1) to 100).map(_.toLong),
      "survivors must be the ActCap latest (ts, event_id) clicks")
    assert(got.filter(col("user_id") === 2L).count() == 3,
      "under-cap users keep every click")
  }

  test("capped join equals the uncapped join wherever the cap does not bite") {
    val capped = SparkEntry.defs("q_events_join_capped").build(spark, sf())
    val uncapped = SparkEntry.defs("q_events_range_join").build(spark, sf())
    val under = graft.Tables.events(spark, sf())
      .filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .filter(col("n") <= EventQueries.ActCap).select("user_id")
    val a = capped.join(under, Seq("user_id"), "left_semi")
    val b = uncapped.join(under, Seq("user_id"), "left_semi")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "for users under the cap the two contracts are identical")
    assert(b.count() > 0, "fixture must cover some under-cap users")
  }

  test("no output row ever exceeds the cap; every error emits a row") {
    val out = SparkEntry.defs("q_events_join_capped").build(spark, sf()).cache()
    assert(out.filter(col("n_clicks") > EventQueries.ActCap).count() == 0,
      "n_clicks is bounded by ActCap by construction")
    val nErrors = graft.Tables.events(spark, sf())
      .filter(col("event_type") === "error").count()
    assert(out.count() == nErrors,
      "probe side is never capped: one output row per error")
    out.unpersist()
  }
}
