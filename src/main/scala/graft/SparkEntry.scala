package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (see SURVEY.md §7 + Verify.scala / Bench.scala).
  *
  * Every operator from SURVEY.md §2 is a named [[QueryDef]] registered by
  * its module; this object is just the flat registry the driver reads.
  */
object SparkEntry {

  private val modules: Seq[Map[String, QueryDef]] = Seq(
    rel.StarQueries.defs,
    rel.EventQueries.defs,
    rel.DimQueries.defs,
    rel.SeriesQueries.defs,
    rel.TemporalQueries.defs,
    ext.LinkQueries.defs,
    etl.EtlQueries.defs,
    rank.Metrics.defs,
    score.ScoreQueries.defs,
    ext.TextQueries.defs,
    ext.BpeQueries.defs,
    ext.PackQueries.defs,
    ext.DedupQueries.defs,
    ext.CorpusQueries.defs,
    ext.AssocQueries.defs,
    ext.CurateQueries.defs,
    ext.SimilarityQueries.defs,
    ext.Multimodal.defs,
    ext.MmdRbf.defs,
    ext.IvfQueries.defs,
    ext.GraphQueries.defs,
    Lifecycle.defs)

  val defs: Map[String, QueryDef] = {
    val merged = modules.reduce(_ ++ _)
    require(merged.size == modules.map(_.size).sum, "duplicate query name across modules")
    merged
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The full E3
    * pipeline: interactions → leave-two-out split → negative sampling →
    * candidate assembly → score → HR/NDCG/MRR@K (SURVEY.md §3 E3).
    */
  def entry(spark: SparkSession): DataFrame =
    defs("q_rank_metrics").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, v) => k -> v.build }

  /** Deterministic harness execution order: stored-index BUILD entries
    * (`*_index_build`) run before every consumer — a deployment builds
    * its indexes before the daily batch, so the steady-state incremental
    * queries measure only batch-side cost and the one-time build cost is
    * its own bench line (the r9 accounting fix). Everything else runs
    * alphabetically; results are order-independent (Memo re-fetches
    * through `cached`).
    */
  def orderedQueries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries.toSeq.sortBy(_._1)
    val (builds, rest) = all.partition(_._1.endsWith("_index_build"))
    builds ++ rest
  }

  /** DuckDB-equivalent SQL for each query. */
  def oracleSql: Map[String, String] = defs.map { case (k, q) => k -> q.oracle }
}
