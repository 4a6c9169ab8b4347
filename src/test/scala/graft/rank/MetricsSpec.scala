package graft.rank

import graft.SparkSpec

/** Closed-form HR/NDCG/MRR checks (my_utils.py:70-80 formulas). */
class MetricsSpec extends SparkSpec {

  test("metrics match closed forms for known ranks") {
    import spark.implicits._
    // Two users in one domain; candidate scores chosen so the positive
    // lands at rank 1 for user 1 and rank 3 for user 2.
    val scored = Seq(
      (1L, "x", 100L, 9.0, 1), (1L, "x", 101L, 5.0, 0), (1L, "x", 102L, 1.0, 0),
      (2L, "x", 100L, 2.0, 1), (2L, "x", 101L, 5.0, 0), (2L, "x", 102L, 9.0, 0))
      .toDF("user_id", "domain", "item_id", "score", "is_positive")
    val m = Metrics.rankingMetrics(scored, Seq(2)).collect().head
    // HR@2 = (1 + 0)/2; NDCG@2 = (log2/log2 + 0)/2; MRR@2 = (1/1 + 0)/2
    assert(m.getAs[Long]("n_users") == 2)
    assert(m.getAs[Double]("hr") == 0.5)
    assert(m.getAs[Double]("ndcg") == 0.5)
    assert(m.getAs[Double]("mrr") == 0.5)
  }

  test("ndcg discounts by log2(rank+1) and ties break by item_id") {
    import spark.implicits._
    // positive at rank 2 (tie on score broken by smaller item_id first)
    val scored = Seq(
      (1L, "x", 100L, 5.0, 0), (1L, "x", 101L, 5.0, 1), (1L, "x", 102L, 1.0, 0))
      .toDF("user_id", "domain", "item_id", "score", "is_positive")
    val m = Metrics.rankingMetrics(scored, Seq(10)).collect().head
    val expectNdcg = math.log(2.0) / math.log(3.0)
    assert(math.abs(m.getAs[Double]("ndcg") - expectNdcg) < 1e-6)
    assert(m.getAs[Double]("mrr") == 0.5)
    assert(m.getAs[Double]("hr") == 1.0)
  }

  test("positive outside k scores zero") {
    import spark.implicits._
    val scored = Seq(
      (1L, "x", 100L, 1.0, 1), (1L, "x", 101L, 5.0, 0), (1L, "x", 102L, 9.0, 0))
      .toDF("user_id", "domain", "item_id", "score", "is_positive")
    val m = Metrics.rankingMetrics(scored, Seq(2)).collect().head
    assert(m.getAs[Double]("hr") == 0.0)
    assert(m.getAs[Double]("ndcg") == 0.0)
    assert(m.getAs[Double]("mrr") == 0.0)
  }

  test("rank digest insertion order, tiebreaks, rejection, and merge paths") {
    def rank(items: Seq[(Long, Long, Boolean)], split: Int): Int = {
      val direct = new Metrics.RankDigest(3)
      items.foreach { case (s, i, p) => direct.insert(s, i, p) }
      // partial-merge path must agree with sequential insertion
      val (xs, ys) = items.splitAt(split)
      val (a, b) = (new Metrics.RankDigest(3), new Metrics.RankDigest(3))
      xs.foreach { case (s, i, p) => a.insert(s, i, p) }
      ys.foreach { case (s, i, p) => b.insert(s, i, p) }
      val m = new Metrics.RankDigest(3)
      Seq(a, b).foreach { t =>
        (0 until t.top.size).foreach(j => m.insert(t.top.key(j), t.top.id(j), t.pos(j)))
      }
      assert(direct.rank == m.rank, "merge must agree with sequential insert")
      direct.rank
    }
    // positive at rank 2 via score tie broken by item_id
    assert(rank(Seq((5L, 1L, false), (5L, 2L, true), (1L, 3L, false)), 1) == 2)
    // positive below kMax=3 -> 0
    assert(rank(Seq((9L, 1L, false), (8L, 2L, false),
      (7L, 3L, false), (1L, 4L, true)), 2) == 0)
    // positive first despite arriving last
    assert(rank(Seq((1L, 9L, false), (9L, 1L, true)), 1) == 1)
  }

  test("digest ranks equal join ranks (clamped at kMax) on real data") {
    import org.apache.spark.sql.functions._
    val join = Metrics.posRanksJoin(spark, sf())
      .withColumn("rn", when(col("rn") <= 10, col("rn")).otherwise(0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val digest = Metrics.posRanksDigest(Metrics.scoredCandidates(spark, sf()), 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(join.nonEmpty && join == digest)
  }

  test("aggregate formulation equals the window formulation end to end") {
    val win = graft.SparkEntry.defs("q_rank_metrics").build(spark, sf()).collect()
    val agg = graft.SparkEntry.defs("q_rank_metrics_agg").build(spark, sf()).collect()
    assert(win.map(_.toSeq).toSeq == agg.map(_.toSeq).toSeq)
  }
}
