package graft.rel

import graft.SparkSpec

/** The generalized sorted-pass funnel must agree with the fixed 3-stage
  * join-chain formulation — same greedy earliest-strictly-after
  * semantics, different plan shape.
  */
class FunnelSpec extends SparkSpec {

  test("funnelStages at 3 stages equals the join-chain q_events_funnel") {
    val chain = graft.SparkEntry.defs("q_events_funnel")
      .build(spark, sf()).collect().head
    val general = EventQueries
      .funnelStages(spark, sf(), Seq("signup", "click", "purchase"))
      .collect()
    assert(general.length == 3)
    val byStage = general.map(r =>
      r.getAs[Long]("stage_idx") -> r).toMap
    assert(byStage(1L).getAs[Long]("n_users") == chain.getAs[Long]("n_signup"))
    assert(byStage(2L).getAs[Long]("n_users") == chain.getAs[Long]("n_click_after"))
    assert(byStage(3L).getAs[Long]("n_users") == chain.getAs[Long]("n_purchase_after"))
    assert(byStage(3L).getAs[Long]("sum_gap_us") == chain.getAs[Long]("sum_funnel_us"))
  }

  test("a stage no user reaches still reports a zero row (oracle parity)") {
    // the oracle's per-stage UNION ALL branch is an ungrouped aggregate
    // that always emits one row — an unreached stage must not vanish
    val rows = EventQueries
      .funnelStages(spark, sf(), Seq("signup", "refund", "click"))
      .collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("signup", "refund", "click"))
    val dead = rows.filter(_.getAs[Long]("n_users") == 0L)
    assert(dead.map(_.getAs[String]("stage")).toSet == Set("refund", "click"))
    assert(dead.forall(_.getAs[Long]("sum_gap_us") == 0L))
  }

  test("4-stage funnel is monotone and stage names line up") {
    val rows = EventQueries
      .funnelStages(spark, sf(), EventQueries.FUNNEL_N_STAGES).collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      EventQueries.FUNNEL_N_STAGES)
    val counts = rows.map(_.getAs[Long]("n_users")).toSeq
    assert(counts == counts.sorted.reverse, s"funnel must narrow: $counts")
    assert(counts.head > 0)
  }

  test("q_funnel_latency percentiles match a JVM chained-MIN brute force") {
    val ev = graft.Tables.events(spark, sf())
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def firstAfter(t: String, prev: Map[Long, Long]): Map[Long, Long] =
      ev.filter(e => e._3 == t && prev.get(e._1).exists(e._2 > _))
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    val s = ev.filter(_._3 == "signup").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).min }
    val c = firstAfter("click", s)
    val p = firstAfter("purchase", c)
    val legs = Map(
      "signup_click" -> c.toSeq.map { case (u, t) => t - s(u) },
      "click_purchase" -> p.toSeq.map { case (u, t) => t - c(u) },
      "signup_purchase" -> p.toSeq.map { case (u, t) => t - s(u) })
    val rows = graft.SparkEntry.defs("q_funnel_latency").build(spark, sf())
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val xs = legs(r.getString(0))
      assert(r.getAs[Long]("n") == xs.length)
      val sorted = xs.sorted
      assert(r.getAs[Long]("p50_us") == sorted((xs.length + 1) / 2 - 1))
      assert(r.getAs[Long]("p90_us") == sorted((9 * xs.length + 9) / 10 - 1))
      assert(r.getAs[Long]("p50_us") <= r.getAs[Long]("p90_us"))
    }
  }

  test("q_attribution conserves purchase value and matches a JVM brute force") {
    val ev = graft.Tables.events(spark, sf())
      .selectExpr("event_id", "user_id", "unix_micros(ts) AS us", "event_type",
        "CAST(round(value * 1000) AS BIGINT) AS v_m",
        "CAST(get_json_object(props, '$.k') AS BIGINT) % 4 AS campaign")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), if (r.isNullAt(5)) -999L else r.getLong(5)))
    val w = 24L * 3600 * 1000000
    val clicks = ev.filter(_._4 == "click")
    val purchases = ev.filter(_._4 == "purchase")
    // brute-force per-campaign credits
    val linear = new scala.collection.mutable.HashMap[Long, BigInt]
    val last = new scala.collection.mutable.HashMap[Long, Long]
    val touches = new scala.collection.mutable.HashMap[Long, Long]
    purchases.foreach { case (_, u, pus, _, vm, _) =>
      val ts = clicks.filter(c => c._2 == u && c._3 < pus && c._3 >= pus - w)
      if (ts.isEmpty) {
        linear(-1L) = linear.getOrElse(-1L, BigInt(0)) + BigInt(vm) * 1000000
        last(-1L) = last.getOrElse(-1L, 0L) + vm
      } else {
        val n = ts.length
        ts.groupBy(_._6).foreach { case (cmp, cs) =>
          linear(cmp) = linear.getOrElse(cmp, BigInt(0)) +
            BigInt(vm) * cs.length * 1000000 / n
          touches(cmp) = touches.getOrElse(cmp, 0L) + cs.length
        }
        val lt = ts.maxBy(c => (c._3, -c._1))._6
        last(lt) = last.getOrElse(lt, 0L) + vm
      }
    }
    val rows = graft.SparkEntry.defs("q_attribution").build(spark, sf())
      .collect()
    rows.foreach { r =>
      val cmp = r.getAs[Long]("campaign")
      assert(math.abs(r.getAs[Double]("linear_value")
        - linear.getOrElse(cmp, BigInt(0)).toDouble / 1e9) < 1e-5, s"linear $cmp")
      assert(r.getAs[Long]("touches") == touches.getOrElse(cmp, 0L), s"touches $cmp")
    }
    // last-touch totals conserve purchase value exactly
    val lastTotal = rows.map(_.getAs[Double]("last_touch_value")).sum
    val pv = purchases.map(_._5).sum / 1e3
    assert(math.abs(lastTotal - pv) < 1e-4, s"last-touch $lastTotal vs $pv")
    // linear totals conserve up to micro-unit floor truncation
    val linTotal = rows.map(_.getAs[Double]("linear_value")).sum
    assert(linTotal <= pv + 1e-4 && linTotal >= pv - 0.001 * purchases.length,
      s"linear $linTotal vs $pv")
    assert(rows.exists(_.getAs[Long]("campaign") >= 0), "attributed campaigns present")
  }
}
