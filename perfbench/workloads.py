"""Workload definitions. Each workload is a fixed query set over one data
set; the seed only permutes the order (stored-index builds first). Why each
set was chosen, with its measured profile, is in perfbench/README.md.
"""

# Layers whose per-layer metrics are reported: the module that registers the
# query, with the six bounded-streaming queries as their own layer.
LAYERS = ["rel", "etl", "rank", "score", "ext", "Lifecycle", "streaming"]

WORKLOADS = {
    # Per-query fixed cost: a systematic sample (every sixth in name order,
    # from the second) of the 144 registered queries that are not
    # pipelines, trimmed to fit the run budget, with at least one query per
    # layer of rel, etl, rank, score and ext. Only one query reads the
    # shared interaction log, so the order cannot move that build's cost
    # between queries that pay different amounts for it.
    "short_queries": {"data": "sf0.1", "queries": [
        "q2_top_orders", "q_date_agg", "q_salted_agg", "q_sample_priority",
        "q_rank_topk_agg", "q_auc", "q_score_deciles", "q_sigmoid_bce",
        "q_chunk_docs", "q_entropy", "q_mix_sample", "q_text_tfidf",
        "q_dedup_embed_cluster"]},
    # Builder-side work: a stored-index build and its incremental reader,
    # the lifecycle driver (73 Spark jobs), two builders that share three
    # Memo entries (the seed decides which of them pays for building them)
    # and two bounded streaming runs with state-store commits.
    "pipelines": {"data": "sf0.1", "queries": [
        "q_sim_index_build", "q_sim_incremental", "q_lifecycle",
        "q_events_funnel", "q_funnel_latency", "q_events_stream",
        "q_stream_session"]},
    # At-scale check on a ScaleGen 10x copy: per-row work dominates. Not in
    # BENCHMARK.json (one pass takes about two minutes), run it by hand.
    "scaled": {"data": "scaled", "queries": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "q_user_collect", "q_leave_two_out", "q_neg_sample_scalable",
        "q_rank_metrics", "q_dense_score", "q_text_tfidf", "q_dedup_simhash",
        "q_sim_lsh", "q_fuzzy_join", "q_item_cooc"]},
}
