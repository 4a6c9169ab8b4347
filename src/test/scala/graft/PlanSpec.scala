package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression tests: the properties that make these plans
  * scale (scan pruning, predicate pushdown, broadcast join selection,
  * whole-stage codegen) are asserted, not assumed — a refactor that
  * silently drops one fails here, not at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    // these tests assert the UNCACHED plan shapes (scan pruning, shuffle
    // counts): a prior suite may have left shared relations persisted
    // (Interactions.cached), and the CacheManager's InMemoryRelation
    // substitution would both hide the scans and print the cached
    // subtree's build-time exchanges into the formatted plan. The Memo
    // registry must go too — a memoized relation built by an earlier
    // suite returns its already-materialized df, whose explain counts
    // the in-memory scan instead of the build's exchanges, making the
    // shuffle bounds ORDER-DEPENDENT (q_dedup_minhash measured 11 with
    // a warm memo vs 14 fresh; testOnly PlanSpec saw the fresh shape
    // while the full suite saw the warm one).
    Memo.release(spark)
    spark.catalog.clearCache()
    SparkEntry.defs(name).build(spark, sf())
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Shuffle-exchange count in a formatted plan: nodes print as
    * "(n) Exchange" ("(n) BroadcastExchange" intentionally excluded).
    */
  private def shuffles(p: String): Int =
    """\(\d+\) Exchange""".r.findAllIn(p).size

  test("q1: shipdate predicate and column pruning reach the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "filter not pushed to scan")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q3: filtered dims broadcast; fact join keeps pushdown") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "filtered customer side must broadcast")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "dim filter not pushed")
    assert(p.contains("GreaterThan(l_shipdate"), "fact filter not pushed")
  }

  test("q5: all three dimension tables broadcast") {
    val p = plan("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
  }

  test("events JSON query reads only the needed columns") {
    val p = plan("q_events_json")
    assert(p.contains("ReadSchema: struct<event_type:string,value:double,props:string>"),
      s"events scan should read 3 columns, got:\n${p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")}")
  }

  test("text queries prune the documents scan to doc_id+text") {
    val p = plan("q_text_tokens")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("scalable sampler plans exactly one row-shuffle before sampling") {
    val p = plan("q_neg_sample_scalable")
    // exchanges: the userPositives hash aggregate + the final sort/agg
    // pair — the r1 formulation had 4 shuffles of drawn rows in between
    val exchanges = shuffles(p)
    assert(exchanges <= 3, s"sampler shuffle count regressed: $exchanges\n")
    assert(p.contains("MapPartitions"), "imperative sampler stage missing")
  }

  test("global top-k uses TakeOrderedAndProject, not a full sort") {
    val p = plan("q2_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_set_ops is one lazy plan, not precomputed literals") {
    // the r2 builder ran three .count() actions and returned the scalars
    // as a LocalTableScan; the plan must instead union three aggregates
    // fed by real table scans
    val p = plan("q_set_ops")
    assert(p.contains("Union"), "expected one union of three aggregates")
    assert(!p.contains("LocalTableScan"),
      "results must not be precomputed driver-side literals")
    assert("Scan parquet".r.findAllIn(p).size >= 4,
      "the four input tables must appear as scans in the plan")
  }

  test("fused signature passes are narrow mapPartitions, shuffle-bounded") {
    // the signature computations must stay fused per-row passes — a
    // regression to the exploded-join formulations shows up as extra
    // exchanges (fresh-build baselines, memo cleared: lsh 5, simhash 4;
    // minhash 14 = band self-join + shingle verify + the count-gated
    // dup-ratio dial's persisted (doc_id, th) relation, identical pre-
    // and post-representative-factoring — the old bound of 11 was the
    // warm-memo shape, see plan())
    for ((q, maxEx) <- Seq(("q_sim_lsh", 6), ("q_dedup_minhash", 14),
        ("q_dedup_simhash", 5))) {
      val p = plan(q)
      assert(p.contains("MapPartitions"), s"$q: fused signature stage missing")
      val ex = shuffles(p)
      assert(ex <= maxEx, s"$q shuffle count regressed: $ex > $maxEx")
    }
  }

  test("salted join spreads the dim across salts and stays a single shuffle shape") {
    val p = plan("q_salted_agg")
    // the exploded dim side must appear (generator) and the salt column
    // must participate in the join
    assert(p.toLowerCase.contains("explode") || p.contains("Generate"),
      "salt explode missing from dim side")
    assert(p.contains("_salt"), "salt key missing from join")
  }

  test("as-of join is one shuffle and no self-join") {
    // the whole point of the merge formulation: an ASOF join that plans
    // as a single user_id exchange + window, never a range self-join
    // (quadratic per hot user) — regression here = 100 TB cliff
    val p = plan("q_events_asof")
    assert(!p.contains("Join"), "as-of must not plan a self-join")
    assert(p.contains("Window"), "carry-forward window missing")
    assert(shuffles(p) <= 2, // user_id exchange + final orderBy range part
      s"as-of join grew extra shuffles:\n$p")
  }

  test("capped interval join bounds per-user state before the shuffle") {
    // the click-side rank filter must rewrite to WindowGroupLimit
    // (partial per-partition top-K before the user exchange) — without
    // it a zipf hot user's full click history materializes in one task,
    // which is the exact cliff this query exists to remove
    val p = plan("q_events_join_capped")
    assert(p.contains("WindowGroupLimit"),
      s"click cap did not rewrite to WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"capped join must stay an equi-join on (user, bin):\n$p")
  }

  test("cap sampler plans a WindowGroupLimit, not a full stratum sort") {
    // row_number <= K must trigger the group-limit rewrite: partial
    // per-partition top-K before the shuffle, O(K) state per stratum
    val p = plan("q_sample_capped")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter did not rewrite to WindowGroupLimit:\n$p")
  }

  test("priority sampler keeps the WindowGroupLimit shape too") {
    // the u/w priority ORDER BY is an expression, not a column — the
    // group-limit rewrite must still fire or billion-row strata re-grow
    // a full sort
    val p = plan("q_sample_priority")
    assert(p.contains("WindowGroupLimit"),
      s"priority rank filter did not rewrite to WindowGroupLimit:\n$p")
  }

  test("sort-free rank join is a hash join: no sort-merge, no window") {
    // posRanksJoin's whole claim is "zero sorts": the shuffle_hash hint
    // must actually produce a ShuffledHashJoin (a silent fallback to
    // sort-merge re-adds the per-partition sorts the formulation
    // removes) and no Window/Sort may appear below the aggregate
    // (the splits/sampler SUBTREE legitimately contains windows, so the
    // assertion is relative: strictly fewer Window nodes than the window
    // formulation of the same metrics, and none added by the join)
    val p = rank.Metrics.posRanksJoin(spark, sf())
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ShuffledHashJoin"), "shuffle_hash hint not honored")
    assert(!p.contains("SortMergeJoin"), "rank join fell back to sort-merge")
    // the only windows allowed are the splits subtree's h60-ordered ones;
    // a window ordered by score would mean the ranking re-grew a sort
    // (the window formulation's metric window orders by score DESC —
    // present in q_rank_metrics, and it must NOT appear here)
    def scoreWindow(s: String): Boolean =
      """score#\d+L? DESC""".r.findFirstIn(s).isDefined
    assert(scoreWindow(plan("q_rank_metrics")),
      "sanity: window formulation ranks by score DESC")
    assert(!scoreWindow(p),
      "join formulation must not rank via a score-ordered window/sort")
  }

  test("mixture rebalancer keeps the corpus side broadcast-narrow") {
    // the per-slice thresholds must come in as a broadcast; a
    // sort-merge join here would shuffle the 100 TB document side to
    // co-locate it with a 5-row table
    val p = plan("q_mix_sample")
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the threshold join:\n$p")
  }

  test("temperature mixture broadcasts thresholds like the floor sampler") {
    val p = plan("q_mix_temperature")
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the threshold join:\n$p")
  }

  test("hash split report is one aggregate pass over a pruned scan") {
    val p = plan("q_doc_split")
    // split assignment is a pure hash of doc_id: no window, no join —
    // one partial+final aggregate pair (1 shuffle) plus the tiny
    // output's rangepartitioning for ORDER BY
    assert(!p.contains("Window") && !p.contains("Join"),
      s"split must be a stateless hash assignment:\n$p")
    assert(shuffles(p) <= 2, s"expected agg+sort shuffles only:\n$p")
    assert(p.contains("doc_id") && !p.contains("text#"),
      s"scan must not read text for the split report:\n$p")
  }

  test("vocab builder takes top-V without a global sort; OOV join broadcasts") {
    // vocab selection must be a TakeOrderedAndProject (V rows cross the
    // wire), and the per-token membership probe must be a broadcast hash
    // join — a sort-merge join would shuffle the exploded 100 TB token
    // stream to co-locate it with a 16-row vocabulary
    val p = plan("q_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V vocab must not be a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream must not shuffle for the vocab probe:\n$p")
  }

  test("embedding quantizer is one narrow pass — no shuffle but the output sort") {
    // quantization is per-vector-local HOF math; any Exchange beyond
    // the presentation sort's range partition means the fusion broke
    val p = plan("q_embed_quant")
    assert(shuffles(p) <= 1, s"expected only the output-sort exchange:\n$p")
  }

  test("count-min cells aggregate map-side and broadcast to the report join") {
    // the sketch side must collapse to D·W rows per mapper (partial
    // HashAggregate before the exchange) and the D·W-cell sketch must
    // broadcast — sort-merge joining the cells would shuffle the exact
    // side against a 64-row relation
    val p = plan("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), s"cells must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no SMJ against the 64-cell sketch:\n$p")
  }

  test("sequence windower fuses all five window functions into one pass") {
    // row_number + 3 lags + target share ONE window spec: a plan with
    // multiple Window nodes would re-sort the partition per function
    val p = plan("q_seq_windows")
    val windows = """\(\d+\) Window""".r.findAllIn(p).size
    assert(windows == 1, s"expected one fused Window node, got $windows:\n$p")
    assert(shuffles(p) <= 3, // interactions distinct + window + output sort
      s"sequence windower grew extra shuffles:\n$p")
  }

  test("item cooc takes its top-100 without a full sort and never cross-joins pairs") {
    // the only crossJoin is the broadcast 1-row user count; pair
    // generation must stay the positional explode (one user-keyed
    // aggregate), never a Cartesian pair join
    val p = plan("q_item_cooc")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair cross join leaked:\n$p")
  }

  test("item knn rank filter rewrites to WindowGroupLimit") {
    // rn <= K over billions of (item, neighbor) candidates must keep
    // O(K) state per item — a full stratum sort is the 100 TB failure
    val p = plan("q_item_knn")
    assert(p.contains("WindowGroupLimit"),
      s"knn rank filter did not rewrite to WindowGroupLimit:\n$p")
  }

  test("substring dedup shuffles fixed-width keys, never text") {
    // every exchange below the per-doc rollup must carry (doc_id, wh)
    // longs — the window text itself dies inside the scan's project
    val p = plan("q_substr_dup")
    assert(!p.contains("CartesianProduct"), s"window join degenerated:\n$p")
    val exchanges = """Arguments: hashpartitioning\([^)]*text""".r.findAllIn(p).size
    assert(exchanges == 0, s"text column reached a shuffle:\n$p")
  }

  test("para dedup is two exchanges of hash keys, text never shuffles") {
    // window-min by unit hash + doc rollup: the narrow tile+hash pass
    // must run ONCE (no self-join rebuild) and only (doc_id, unit_idx,
    // uh) longs may cross the wire
    val p = plan("q_para_dedup")
    assert(!p.contains("Join"), s"keeper reverted to an agg+self-join:\n$p")
    val textShuffles =
      """Arguments: hashpartitioning\([^)]*text""".r.findAllIn(p).size
    assert(textShuffles == 0, s"text column reached a shuffle:\n$p")
    assert(shuffles(p) <= 3,
      s"expected uh window + doc rollup + output sort only:\n$p")
  }

  test("sparse cosine plans no token-level shuffle and no sort-merge join") {
    // both tf passes are doc-local mapPartitions against the broadcast
    // rate table: the first exchange in the plan must already be the
    // 8-rows-per-doc posting aggregate
    val p = plan("q_sim_sparse")
    assert(!p.contains("SortMergeJoin"), s"norm join reappeared:\n$p")
    assert(shuffles(p) <= 3,
      s"expected posting agg + pair agg (+ output sort) only:\n$p")
  }

  test("gram matrix shuffles only per-partition cells") {
    // the exchange below the (i, j) merge carries partitions×2080 cell
    // rows; the vectors themselves stay in the narrow pass
    val p = plan("q_embed_gram")
    assert(shuffles(p) <= 2, s"expected cell merge (+ output sort) only:\n$p")
    val vecShuffles =
      """Arguments: hashpartitioning\([^)]*embedding""".r.findAllIn(p).size
    assert(vecShuffles == 0, s"embedding column reached a shuffle:\n$p")
  }

  test("quality gate broadcasts the 1-row threshold; corpus side stays narrow") {
    val p = plan("q_quality_gate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"threshold row must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"threshold join degenerated:\n$p")
  }

  test("attribution sweeps (no pair join) and shares one checkpointed per-purchase scan") {
    // the eager localCheckpoint hides the sweep subtree from the final
    // plan, so assert it in two halves: the pre-checkpoint relation is
    // the q_events_range_join sweep shape (RANGE windows, join-free —
    // asserted below on the uncheckpointed twin), and the final plan
    // must read the checkpointed PER-PURCHASE relation (bounded: one
    // row per purchase, never the Θ(purchases·clicks) match relation)
    // from all three consumers without any degenerate join
    val p = plan("q_attribution")
    assert(!p.contains("CartesianProduct"), s"plan degenerated:\n$p")
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).size
    assert(rddScans >= 3, s"per-purchase relation not shared:\n$p")
  }

  test("range-join aggregate plans join-free: sweep windows only") {
    val p = plan("q_events_range_join")
    // one row per error from cum-differences over the merged stream —
    // no join node of any kind may appear (the pair intermediate is
    // Θ(hot²) on power-law users; see SCALING.md r9)
    for (bad <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(bad), s"$bad in a join-free sweep plan:\n$p")
    assert(p.contains("Window") && p.contains("RangeFrame"),
      s"sweep must run as RANGE window frames:\n$p")
  }

  test("past-ceiling embedding fallbacks are LSH-banded, never all-pairs") {
    // force every past-ceiling branch with a zero ceiling and assert the
    // r8 crossJoin fallbacks are gone: candidate generation must be the
    // banded equi-join (hash join on band block), with no cartesian /
    // nested-loop node anywhere in the plan
    spark.catalog.clearCache()
    val corpusPast = Limits.Ceilings(corpusBroadcast = 0)
    val fallbacks = Seq[(String, Limits.Ceilings, () => DataFrame)](
      ("embedNearDupAuto past both vector ceilings",
        Limits.Ceilings(corpusBroadcast = 0, embedPairExact = 0),
        () => ext.SimilarityQueries.embedNearDupAuto(spark, sf())),
      ("hardNegatives", corpusPast,
        () => ext.SimilarityQueries.hardNegatives(spark, sf())),
      ("semanticDecontam", corpusPast,
        () => ext.SimilarityQueries.semanticDecontam(spark, sf())),
      ("embedNearDupAuto", Limits.Ceilings(embedPairExact = 0),
        () => ext.SimilarityQueries.embedNearDupAuto(spark, sf())))
    fallbacks.foreach { case (name, c, build) =>
      // the near-dup pair relation is a Memo entry: release it so the
      // next case (and later specs) never read one built under other
      // ceilings
      val p = try Limits.forcing(c)(build().queryExecution
        .explainString(ExplainMode.fromString("formatted")))
      finally Memo.release(spark, sf())
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name past-ceiling plan is all-pairs:\n$p")
    }
  }

  test("rrf retrievers and the fused output all end in bounded top-k") {
    // the fusion join itself is a FULL OUTER over <=100 rows — Spark
    // cannot broadcast full-outer, and a sort-merge over 100 rows is
    // irrelevant; what must hold is that NO unbounded sort feeds it:
    // each retriever ends in TakeOrderedAndProject, as does the output
    val p = plan("q_rrf_fusion")
    val topks = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(topks >= 2, s"retriever top-50s must be TakeOrderedAndProject:\n$p")
  }

  test("cuped is one user rollup plus broadcast moments") {
    // the global-moment and arm relations are 1-2 rows; they must reach
    // the final select as broadcasts, leaving the user-keyed rollup as
    // the only data-sized exchange
    val p = plan("q_cuped")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"moment row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"scalar join degenerated:\n$p")
  }

  test("the spec session carries the factory's 16 MB file splits") {
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") ==
      s"${16 * 1024 * 1024}")
  }
}
