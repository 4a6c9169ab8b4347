package graft.rel

import graft.{QueryRefusedException, QueryRunner, SparkEntry}

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
class RefusalSpec extends HotEventsFixture {

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
    refusedRun.outcome match {
      case QueryRunner.Refused(msg) =>
        assert(msg.contains("q_stream_join_capped"))
      case other => fail(s"expected Refused, got $other")
    }
  }

  test("bench records a genuine failure as an error, not a refusal") {
    failedRun.outcome match {
      case QueryRunner.Failed(msg) => assert(msg == "boom")
      case other => fail(s"expected Failed, got $other")
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
