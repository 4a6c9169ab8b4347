package graft.rel

import graft.{Bench, QueryRefusedException, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The output-budget refusal contract (r10): `q_stream_join` EMITS the
  * click×purchase pair relation, which is output-quadratic in a hot
  * key's activity — the one behavior protecting a cluster from the
  * suite's only output-quadratic query is that past a cheap output
  * BOUND it throws a typed [[QueryRefusedException]] naming its
  * state-bounded twin, and the bench harness records that under
  * `refused`, never `errors`. These specs pin both halves with a
  * synthetic hot-key fixture (15k purchases × 15k clicks in one 24h
  * bin → bound ≥ 2.25×10⁸ > the 10⁸ default budget), plus the
  * no-activity null-guard edge (sum over zero rows is NULL).
  */
class RefusalSpec extends SparkSpec {

  /** Write `rows` as a single parquet FILE named events.parquet under a
    * fresh temp dir (the driver's layout — the streaming source globs
    * for exactly that file name), returning the dir.
    */
  private def writeEventsFixture(rows: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    val dir = tempDir("refusal_ev")
    val stage = dir.resolve("_stage")
    rows.coalesce(1).write.parquet(stage.toString)
    val p = java.nio.file.Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(p, dir.resolve("events.parquet"))
    dir.toString
  }

  // 2026-01-01 12:00 UTC in µs: mid-bin, so a few hundred seconds of
  // fixture spread can never straddle a 24h bin boundary
  private val baseUs = 1767268800000000L

  private def eventsDf(nHot: Long, eventTypes: Seq[String]): DataFrame = {
    eventTypes.zipWithIndex.map { case (et, i) =>
      spark.range(nHot).select(
        (col("id") + i * 1000000L).as("event_id"),
        // clicks (i=0) land 100s before purchases (i=1), 1µs apart,
        // all inside one 24h bin and one 24h join window
        timestamp_micros(lit(baseUs) + lit(i * 100000000L) + col("id"))
          .as("ts"),
        lit(0L).as("user_id"),
        lit(et).as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
    }.reduce(_ unionAll _)
  }

  private lazy val hotDir = writeEventsFixture(
    eventsDf(15000, Seq("click", "purchase")))

  test("q_stream_join refuses past the output budget, naming its twin") {
    val e = intercept[QueryRefusedException] {
      SparkEntry.defs("q_stream_join").build(spark, hotDir)
    }
    assert(e.getMessage.contains("q_stream_join_capped"),
      s"refusal must name the state-bounded twin: ${e.getMessage}")
    assert(e.getMessage.contains("budget"),
      s"refusal must state the budget contract: ${e.getMessage}")
  }

  test("bench records a refusal under refused, never errors") {
    Bench.runOne(spark, hotDir,
      (s, d) => SparkEntry.defs("q_stream_join").build(s, d)) match {
      case Bench.RefusedRun(_, msg) =>
        assert(msg.contains("q_stream_join_capped"))
      case other => fail(s"expected RefusedRun, got $other")
    }
  }

  test("bench records a genuine failure as an error, not a refusal") {
    Bench.runOne(spark, hotDir,
      (_, _) => throw new RuntimeException("boom")) match {
      case Bench.FailedRun(_, msg) => assert(msg == "boom")
      case other => fail(s"expected FailedRun, got $other")
    }
  }

  test("the capped twin RUNS the same hot fixture that trips the refusal") {
    val out = SparkEntry.defs("q_stream_join_capped").build(spark, hotDir)
    val rows = out.collect()
    assert(rows.length == 15000, "one aggregate row per purchase")
    assert(rows.forall(_.getAs[Long]("n_clicks") ==
      EventQueries.ActCap.toLong),
      "every purchase sees min(cap, true n) = cap clicks on the hot key")
  }

  test("no-activity events run under the bound's null guard (sum of zero rows)") {
    val quiet = writeEventsFixture(eventsDf(10, Seq("view")))
    val out = SparkEntry.defs("q_stream_join").build(spark, quiet)
    assert(out.count() == 0, "no clicks/purchases → zero pairs, not an NPE")
  }
}
