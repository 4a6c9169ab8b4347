package graft.rank

import graft.{Hashing, QueryDef}
import graft.etl.{Interactions, Splits}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top-K ranking analytics — the reference's evaluation core
  * (my_utils.py:70-80): rank 100 candidates per user by score descending,
  * locate the planted positive, and average HR@K / NDCG@K / MRR@K over
  * users (SURVEY.md §2.5 W1-W5).
  *
  * Spark shape: one `Window.partitionBy(user, domain).orderBy(score desc,
  * item)` + a hash aggregate — a single two-stage job per domain
  * (SURVEY.md §3 E3). The explicit `item_id` tiebreaker makes ranking
  * total (np.argsort is stable; an unordered window would not be —
  * SURVEY.md §7 risk 3).
  *
  * 100 TB: candidates are ~100 rows per user, so the window partition is
  * tiny and never spills; the shuffle key (user_id) matches the candidate
  * generator's partitioning so AQE can coalesce. The metric aggregate is
  * partial+final (map-side combine) on at most |users| rows.
  */
object Metrics {

  /** HR/NDCG/MRR@K per domain over a scored candidate set.
    * Input columns: user_id, domain, item_id, score, is_positive (0/1,
    * exactly one positive per user×domain).
    */
  def rankingMetrics(scored: DataFrame, ks: Seq[Int]): DataFrame = {
    import scored.sparkSession.implicits._
    val w = Window.partitionBy("user_id", "domain")
      .orderBy(col("score").desc, col("item_id"))
    val posRank = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("is_positive") === 1)
    // ONE pass over the ranked positives for every k: a union branch per
    // k would re-plan — and re-run — the entire upstream pipeline per
    // branch (ReuseExchange does not dedup across union arms here; the
    // two-branch plan measured 2× the single-pass one at sf0.1)
    val in = col("rn") <= col("k")
    posRank.crossJoin(broadcast(ks.toDF("k")))
      .groupBy("domain", "k")
      .agg(
        count(lit(1)).as("n_users"),
        round(avg(when(in, 1.0).otherwise(0.0)), 6).as("hr"),
        round(avg(when(in, log(lit(2.0)) / log(col("rn") + 1))
          .otherwise(0.0)), 6).as("ndcg"),
        round(avg(when(in, lit(1.0) / col("rn")).otherwise(0.0)), 6).as("mrr"))
      .select("domain", "k", "n_users", "hr", "ndcg", "mrr")
      .orderBy("domain", "k")
  }

  /** Deterministic synthetic score standing in for the model forward pass
    * (model_my.py:52-64): an exact integer, identically computable by the
    * oracle. The scoring layer proper (graft.score) plugs into the same
    * metric plan.
    */
  private def syntheticScore = (Hashing.h60(
    col("user_id"), col("item_id"), col("domain"), lit("score")) % 1000000L).as("score")

  private val duckScore =
    s"${Hashing.duckH60("user_id", "item_id", "domain", "'score'")} % 1000000 AS score"

  /** Scored candidates: the full E3 pipeline (splits → negatives →
    * candidates → score). The unfiltered overload reads the memoized
    * candidate table ([[Splits.candidatesCached]]) — q_rank_metrics and
    * q_rank_metrics_agg share one build with q_candidates instead of
    * each re-running the sampler subtree (~100s each at the 100× probe).
    */
  def scoredCandidates(spark: SparkSession, sfDir: String): DataFrame =
    Splits.candidatesCached(spark, sfDir)
      .select(col("user_id"), col("domain"), col("item_id"), col("is_positive"),
        syntheticScore)

  /** User-sliced scored candidates: the filter stays pushed into the
    * sampler (beats a post-hoc filter over the full build ~5× when the
    * slice runs alone — see q_rank_topk) and into the slice's own splits
    * ([[Splits.candidates]]), so no all-user relation is built or pinned.
    */
  def scoredCandidates(spark: SparkSession, sfDir: String,
      userFilter: org.apache.spark.sql.Column): DataFrame =
    Splits.candidates(spark, sfDir, userFilter)
      .select(col("user_id"), col("domain"), col("item_id"), col("is_positive"),
        syntheticScore)

  val duckScoredCte: String =
    s"""scored AS (
       |  SELECT user_id, domain, item_id, is_positive, $duckScore
       |  FROM candidates
       |)""".stripMargin

  private val duckPipelinePrefix: String =
    s"""WITH ${Interactions.duckCte},
       |${Splits.duckLeaveTwoOutCte},
       |${Interactions.duckDenseItemsCte},
       |${Splits.duckNegativeSampleScalableCte},
       |${Splits.duckCandidatesCte},
       |$duckScoredCte""".stripMargin

  /** The positive's exact rank per (user, domain) WITHOUT a window sort,
    * fully codegen: rank = 1 + count of candidates beating the positive
    * on (score DESC, item ASC). The positives table is re-derived from
    * the splits alone (test_item + the deterministic score formula), so
    * the expensive sampler runs once; the join is hinted shuffle-hash —
    * both sides hash-shuffle on (user_id, domain) with NO sort, and the
    * following aggregate reuses that partitioning (no extra exchange).
    * This is the plan that replaces the window when per-group sorts are
    * waste (groups far larger than ~100 rows): exactly one shuffle of
    * the candidate set, zero sorts, whole-stage codegen throughout. At
    * sf0.1 local[32] the window formulation is still faster (2.3s vs
    * 5.2s) because its ~160-row group sorts are trivial and this plan
    * pays a second splits pass for the positives table — the crossover
    * is group size, not data size.
    */
  def posRanksJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = scoredCandidates(spark, sfDir)
    val pos = Splits.leaveTwoOutCached(spark, sfDir)
      .select(col("user_id"), col("domain"), col("test_item").as("item_id"))
      .select(col("user_id"), col("domain"), syntheticScore, col("item_id"))
      .select(col("user_id"), col("domain"),
        col("score").as("ps"), col("item_id").as("pi"))
    sc.join(pos.hint("shuffle_hash"), Seq("user_id", "domain"))
      .groupBy("user_id", "domain")
      .agg((lit(1) + sum(when(col("score") > col("ps")
          || (col("score") === col("ps") && col("item_id") < col("pi")), 1L)
        .otherwise(0L))).cast("int").as("rn"))
  }

  /** Network-optimal variant of [[posRanksJoin]] for when the shuffle is
    * the bottleneck (a 1000-executor cluster, not a local[32] box):
    * per-partition [[RankDigest]]s — each mapper emits at most kMax
    * rows per (user, domain) it saw, so the shuffle carries a bounded
    * digest (~16× less than the candidate set at 160 candidates/user) —
    * then one merge pass reads off the positive's rank (0 = below kMax,
    * which every @K≤kMax metric treats as out of range). Hand-rolled
    * partial aggregation rather than [[TopKBufferAgg]] because
    * ObjectHashAggregate falls back to sort-based aggregation past 128
    * groups per partition, re-sorting every candidate row (measured
    * 7.4s vs 2.3s at sf0.1). Locally the typed boundary costs more than
    * it saves; MetricsSpec proves it rank-identical to [[posRanksJoin]].
    * `scored` is a scored-candidate relation (`user_id, domain, score,
    * item_id, is_positive`, e.g. [[scoredCandidates]]), so
    * DigestShuffleSpec can measure the digest stage's shuffle bytes in
    * isolation against the window formulation on identical input.
    */
  def posRanksDigest(scored: DataFrame, kMax: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val parts = scored
      .select(col("user_id"), col("domain"), col("score"), col("item_id"),
        col("is_positive"))
      .as[(Long, String, Long, Long, Int)]
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        val m = new java.util.HashMap[(Long, String), RankDigest]
        it.foreach { case (u, dom, s, i, p) =>
          var b = m.get((u, dom))
          if (b == null) { b = new RankDigest(kMax); m.put((u, dom), b) }
          b.insert(s, i, p == 1)
        }
        m.entrySet().iterator().asScala.map { e =>
          val b = e.getValue
          val n = b.top.size
          (e.getKey._1, e.getKey._2, Array.tabulate(n)(b.top.key),
            Array.tabulate(n)(b.top.id), b.pos.take(n))
        }
      }
    parts
      .groupByKey { case (u, dom, _, _, _) => (u, dom) }
      .mapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Array[Long], Array[Long], Array[Boolean])]) =>
        val b = new RankDigest(kMax)
        it.foreach { case (_, _, ss, ii, pp) =>
          var j = 0
          while (j < ss.length) { b.insert(ss(j), ii(j), pp(j)); j += 1 }
        }
        (key._1, key._2, b.rank)
      }
      .toDF("user_id", "domain", "rn")
  }

  /** A (score DESC, item ASC) [[TopKBuffer]] with each entry's
    * is-positive flag in a parallel array that shifts with it.
    */
  private[rank] final class RankDigest(k: Int) {
    val top = new TopKBuffer(k, descending = true, distinct = false)
    val pos = new Array[Boolean](k)

    def insert(s: Long, i: Long, p: Boolean): Unit = {
      val n = top.size
      val j = top.insert(s, i)
      if (j >= 0) {
        System.arraycopy(pos, j, pos, j + 1, math.min(n, k - 1) - j)
        pos(j) = p
      }
    }

    /** 1-based rank of the positive within the buffer, 0 if it fell out. */
    def rank: Int = pos.indexOf(true) + 1
  }

  /** HR/NDCG/MRR@K from a positive-rank relation (user_id, domain, rn) —
    * the metric tail shared by [[posRanksJoin]], [[posRanksDigest]], and
    * the lifecycle's epoch loop. rn = 0 means the positive ranked
    * below the digest bound: counted in n_users, contributes 0 to every
    * @K metric — exactly the window semantics. One cross join against
    * the k values instead of a union of per-k branches: the rank
    * pipeline is computed ONCE (a union would plan — and run — the
    * whole upstream per branch). `by` prefixes extra key columns of
    * `ranks` (the lifecycle's epoch index): one aggregate then serves
    * every key value, each group's rows equal to the single-key call.
    */
  def rankingMetricsFromRanks(ranks: DataFrame, ks: Seq[Int],
      by: Seq[String] = Nil): DataFrame = {
    import ranks.sparkSession.implicits._
    val in = col("rn") >= 1 && col("rn") <= col("k")
    val keys = by ++ Seq("domain", "k")
    ranks.crossJoin(broadcast(ks.toDF("k")))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_users"),
        round(avg(when(in, 1.0).otherwise(0.0)), 6).as("hr"),
        round(avg(when(in, log(lit(2.0)) / log(col("rn") + 1))
          .otherwise(0.0)), 6).as("ndcg"),
        round(avg(when(in, lit(1.0) / col("rn")).otherwise(0.0)), 6).as("mrr"))
      .select((keys ++ Seq("n_users", "hr", "ndcg", "mrr")).map(col): _*)
      .orderBy(keys.map(col): _*)
  }

  /** The flagship metric oracle — shared verbatim by the window
    * formulation (q_rank_metrics) and the one-pass typed-aggregate
    * formulation (q_rank_metrics_agg): both must hash to it.
    */
  private val duckRankMetricsSql: String =
    s"""$duckPipelinePrefix,
       |pos_rank AS (
       |  SELECT domain, rn FROM (
       |    SELECT domain, is_positive,
       |      row_number() OVER (PARTITION BY user_id, domain
       |        ORDER BY score DESC, item_id) AS rn
       |    FROM scored)
       |  WHERE is_positive = 1
       |)
       |SELECT domain, k, COUNT(*) AS n_users,
       |  round(AVG(CASE WHEN rn <= k THEN 1.0 ELSE 0.0 END), 6) AS hr,
       |  round(AVG(CASE WHEN rn <= k THEN ln(2.0)/ln(rn + 1) ELSE 0.0 END), 6) AS ndcg,
       |  round(AVG(CASE WHEN rn <= k THEN 1.0/rn ELSE 0.0 END), 6) AS mrr
       |FROM pos_rank CROSS JOIN (VALUES (5), (10)) ks(k)
       |GROUP BY domain, k
       |ORDER BY domain, k""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ---- the flagship: E3 end-to-end, HR/NDCG/MRR@{5,10} ----
    "q_rank_metrics" -> QueryDef(duckRankMetricsSql) { (spark, d) =>
      rankingMetrics(scoredCandidates(spark, d), Seq(5, 10))
    },

    // ---- the same metrics WITHOUT the window sort ([[posRanksJoin]]:
    //      count-of-beats via shuffle-hash join, zero sorts, all
    //      codegen). Same oracle SQL as q_rank_metrics: the two plans
    //      must agree bit-for-bit. ----
    "q_rank_metrics_agg" -> QueryDef(duckRankMetricsSql) { (spark, d) =>
      rankingMetricsFromRanks(posRanksJoin(spark, d), Seq(5, 10))
    },

    // ---- same top-K via the typed bounded Aggregator (§4.3): a
    //      (score DESC, item ASC) TopKBuffer per group, O(K) state +
    //      map-side combine; must equal the window formulation
    //      bit-for-bit (same oracle SQL) ----
    "q_rank_topk_agg" -> QueryDef(
      s"""$duckPipelinePrefix
         |SELECT user_id, domain, item_id, score, rn FROM (
         |  SELECT user_id, domain, item_id, score,
         |    row_number() OVER (PARTITION BY user_id, domain
         |      ORDER BY score DESC, item_id) AS rn
         |  FROM scored WHERE user_id % 20 = 0)
         |WHERE rn <= 5
         |ORDER BY user_id, domain, rn""".stripMargin) { (spark, d) =>
      import spark.implicits._
      val topK = new TopKBufferAgg(5, descending = true, distinct = false).toColumn
      scoredCandidates(spark, d, col("user_id") % 20 === 0)
        .select(col("user_id"), col("domain"), col("score"), col("item_id"))
        .as[(Long, String, Long, Long)]
        .groupByKey { case (u, dom, _, _) => (u, dom) }
        .mapValues { case (_, _, s, i) => (s, i) }
        .agg(topK.name("top"))
        .flatMap { case ((u, dom), top) =>
          Iterator.tabulate(top.size)(j => (u, dom, top.id(j), top.key(j), j + 1))
        }
        .toDF("user_id", "domain", "item_id", "score", "rn")
        .orderBy("user_id", "domain", "rn")
    },

    // ---- per-user top-K gather (W1) on the bounded user slice ----
    "q_rank_topk" -> QueryDef(
      s"""$duckPipelinePrefix
         |SELECT user_id, domain, item_id, score, rn FROM (
         |  SELECT user_id, domain, item_id, score,
         |    row_number() OVER (PARTITION BY user_id, domain
         |      ORDER BY score DESC, item_id) AS rn
         |  FROM scored WHERE user_id % 20 = 0)
         |WHERE rn <= 5
         |ORDER BY user_id, domain, rn""".stripMargin) { (spark, d) =>
      val w = Window.partitionBy("user_id", "domain")
        .orderBy(col("score").desc, col("item_id"))
      // the user slice is pushed into the sampler by construction — a
      // post-hoc filter would sit above the mapPartitions barrier and
      // compute every user's candidates first (measured 9.5s vs ~2s)
      scoredCandidates(spark, d, col("user_id") % 20 === 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("user_id", "domain", "item_id", "score", "rn")
        .orderBy("user_id", "domain", "rn")
    })
}
