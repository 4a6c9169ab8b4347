package graft

import graft.etl.{Interactions, MetricsSink, SplitCache, Splits}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's flagship lifecycle (SURVEY.md §3 E1, main_my.py) as
  * one composed engine run:
  *
  *   load interactions → memoized splits/negatives/train (S2) →
  *   candidate assembly → batch scoring → HR/NDCG/MRR\@K (E3) →
  *   append to the metrics log (S4) → keep-first best-epoch selection
  *   over the accumulated log (A7 / S3's checkpoint-selection logic).
  *
  * Gradient descent is out of scope (SURVEY.md §7 risk 5) — an "epoch"
  * here is a scoring round whose scores vary by the epoch salt exactly
  * the way retrained weights would; everything around the training step
  * is the reference's data path, run end to end.
  */
object Lifecycle {

  /** Stage timer: records into the bench artifact via StageTiming,
    * stderr echo only when GRAFT_STAGE_TIMING is set.
    */
  private def timed[A](stage: String)(body: => A): A =
    StageTiming.timed(s"lifecycle/$stage")(body)

  /** One epoch: score candidates (epoch-salted), compute ranking metrics,
    * append them to the log. Returns this epoch's metrics.
    */
  def runEpoch(spark: SparkSession, sfDir: String, workDir: String,
      epoch: Int): DataFrame = {
    val (splits, negatives, _) = timed(s"e$epoch cachedPipeline") {
      SplitCache.cachedPipeline(spark, sfDir, s"$workDir/cache") }
    // candidates come from the MEMOIZED negatives scan — epochs must not
    // re-run the sampler (that is the point of the S2 cache)
    runEpochOn(epochRanks(candidatesFrom(splits, negatives), epoch),
      workDir, epoch)
  }

  /** The candidate relation an epoch scores: sampled negatives plus the
    * held-out positives, from the S2-cached splits/negatives tables.
    */
  def candidatesFrom(splits: DataFrame, negatives: DataFrame): DataFrame =
    negatives
      .select(col("user_id"), col("domain"), col("item_id"), lit(0).as("is_positive"))
      .unionAll(splits.select(col("user_id"), col("domain"),
        col("test_item").as("item_id"), lit(1).as("is_positive")))

  /** The epoch loop over a MULTI-EPOCH run: the candidate relation is
    * loop-invariant (only the scoring salt changes — retraining swaps
    * weights, not the eval set), so ALL epochs' bounded-digest rank
    * passes fuse into ONE scan of the S2 cache: every epoch's salted
    * score is a codegen'd column of one `scores` array, and
    * `posRanksDigestMultiFrom` builds every epoch's TopBuf digest in
    * the same partial pass (the r6 fused-build pattern, applied to the
    * epoch loop). The dominant per-epoch cost at the 100× probe was the
    * fixed input decode + typed-boundary price of a digest pass
    * (~24s/epoch, md5 itself ~2s), paid for identical bytes each epoch;
    * fusing pays it once, and the shuffle stays digest-bounded.
    *
    * Probed-and-rejected alternatives at the 100× dir, all epochs
    * included: per-epoch count-of-beats join — one full candidate-set
    * shuffle per epoch, 92s+29s+27s; persisting the widened candidates
    * across the loop — 480M-row cache thrashed the storage tier;
    * per-user array packing — the epoch pass became an interpreted
    * higher-order lambda (md5 outside codegen), 50-70s/epoch plus a
    * 169s collect_list build.
    *
    * Metrics still append strictly in epoch order, so the metrics log
    * is byte-identical to the sequential loop (main_my.py:302-320), and
    * MetricsSpec's multi ≡ single digest equality plus LifecycleSpec's
    * end-to-end gate keep the q_lifecycle oracle hash unchanged.
    * Single-epoch callers keep the one-score digest [[runEpoch]] path.
    */
  def runEpochs(spark: SparkSession, sfDir: String, workDir: String,
      epochs: Seq[Int]): Unit = {
    val (splits, negatives, _) = timed("cachedPipeline") {
      SplitCache.cachedPipeline(spark, sfDir, s"$workDir/cache") }
    val ranksAll = timed("fused digest ranks") {
      val r = graft.rank.Metrics.posRanksDigestMultiFrom(
        epochScores(candidatesFrom(splits, negatives), epochs), kMax = 10)
        .persist()
      r.count() // materialize under the timer (the relation is ~|users|·|epochs| rows)
      r
    }
    try epochs.zipWithIndex.foreach { case (e, i) =>
      runEpochOn(ranksAll.filter(col("eix") === i).drop("eix"), workDir, e)
    } finally ranksAll.unpersist(blocking = false)
  }

  /** Candidates widened with one salted score PER EPOCH as a `scores`
    * array — the input [[runEpochs]] feeds the fused multi-digest pass.
    */
  def epochScores(cands: DataFrame, epochs: Seq[Int]): DataFrame =
    cands.select(col("user_id"), col("domain"), col("item_id"),
      col("is_positive"),
      array(epochs.map(e =>
        Hashing.h60(col("user_id"), col("item_id"), col("domain"),
          lit(s"epoch$e")) % 1000000L): _*).as("scores"))

  /** The positive's rank per (user, domain) via the bounded TopBuf
    * digest (≤⅓ shuffle bytes — DigestShuffleSpec; rn=0 means below
    * kMax, which every @K≤kMax metric treats as out of range). The
    * single-epoch [[runEpoch]] path; MetricsSpec proves the fused
    * multi-epoch digest agrees with it per epoch.
    */
  def epochRanks(cands: DataFrame, epoch: Int): DataFrame = {
    val scored = cands
      .select(col("user_id"), col("domain"), col("item_id"),
        col("is_positive"),
        (Hashing.h60(col("user_id"), col("item_id"), col("domain"),
          lit(s"epoch$epoch")) % 1000000L).as("score"))
    graft.rank.Metrics.posRanksDigestFrom(scored, kMax = 10)
  }

  private def runEpochOn(ranks: DataFrame, workDir: String,
      epoch: Int): DataFrame = {
    val metrics = graft.rank.Metrics
      .rankingMetricsFromRanks(ranks, Seq(5, 10))
      .withColumn("epoch", lit(epoch))
    timed(s"e$epoch metrics+append") {
      MetricsSink.appendParquet(metrics, s"$workDir/metrics_log") }
    metrics
  }

  /** Keep-first best epoch per (domain, k, metric) over the accumulated
    * log — the reference's checkpoint-selection rule (strict improvement,
    * main_my.py:302-320).
    */
  def bestEpochs(spark: SparkSession, workDir: String): DataFrame = {
    val log = MetricsSink.readParquet(spark, s"$workDir/metrics_log")
    val metrics = Seq("hr", "ndcg", "mrr")
    metrics.map { m =>
      log.select(col("domain"), col("k"), lit(m).as("metric"),
        col(m).as("value"), col("epoch"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("domain", "k")
            .orderBy(col("value").desc, col("epoch"))))
        .filter(col("rn") === 1).drop("rn")
    }.reduce(_ unionAll _)
      .orderBy("domain", "k", "metric")
  }

  /** Deterministic per-epoch scorer weights — the stand-in for the
    * retrained tensors an epoch would produce (training itself is out of
    * scope; what matters is that each epoch has DISTINCT weights whose
    * bytes survive the checkpoint round-trip).
    */
  def epochWeights(epoch: Int): Map[String, Array[Array[Double]]] = {
    import score.Scorer.rat
    Map(
      "W" -> Array.tabulate(score.Scorer.K, score.Scorer.K)(
        (i, j) => rat(s"epoch$epoch", "w", i.toString, j.toString)),
      "E" -> Array.tabulate(score.Scorer.NUM_ITEMS, score.Scorer.K)(
        (j, i) => rat(s"epoch$epoch", "iv", j.toString, i.toString)))
  }

  /** S3 persist step (main_my.py:304-320): one checkpoint per (domain,
    * metric) at K=10 — the reference's six best_{hr,ndcg,mrr}{1,2}.pkl
    * files — each holding the SELECTED epoch's weights as a parquet
    * state_dict. Returns (domain, metric) → (epoch, checkpoint path).
    */
  def checkpointBest(spark: SparkSession, workDir: String)
      : Map[(String, String), (Int, String)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val winners = bestEpochs(spark, workDir)
      .filter(col("k") === 10).collect()
    // the six saves are independent tiny write jobs — submit them
    // concurrently like cachedPipeline does its three relations
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(6, winners.length)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      winners.map { r =>
        val (domain, metric, epoch) =
          (r.getAs[String]("domain"), r.getAs[String]("metric"),
            r.getAs[Int]("epoch"))
        val path = s"$workDir/ckpt/best_${metric}_$domain"
        Future {
          score.Checkpoint.save(spark, path, epochWeights(epoch))
          (domain, metric) -> (epoch, path)
        }
      }.map(Await.result(_, Duration.Inf)).toMap
    } finally pool.shutdown()
  }

  /** S3 reload step (main_my.py:351-370): load one saved checkpoint and
    * score users with the RELOADED weights — the reference's
    * "load_state_dict then test_process" flow.
    */
  def scoreFromCheckpoint(spark: SparkSession, ckptPath: String,
      users: DataFrame): DataFrame = {
    val loaded = score.Checkpoint.load(spark, ckptPath)
    score.Scorer.scoreUsersWith(spark, users, loaded("W"), loaded("E"))
  }

  /** Epoch count for [[defs]]' q_lifecycle — fixed so the oracle SQL can
    * inline each epoch's deterministic weights as literals.
    */
  val EPOCHS = 3

  private val eckUserSlice = "o_custkey % 20 = 0"

  /** E1 end to end, ORACLE-GATED (main_my.py:302-375): EPOCHS scoring
    * rounds through the memoized split cache (S2 write + read-through) →
    * metrics log (S4) → keep-first best-epoch argmax (A7) → per-(domain,
    * metric) checkpoints of the winning epoch's weights (S3 persist) →
    * score from the RELOADED state_dict, reduced to an integer checksum
    * per epoch. One row per (domain, k, metric): the winning epoch, its
    * metric value, and (at k=10, the checkpointed tier) the reloaded-
    * weights score checksum. The oracle replays the whole chain — splits,
    * sampler, candidates, per-epoch salted scores, window metrics, argmax
    * — and computes each epoch's checksum from the same weight formula
    * the checkpoints round-trip, so a single flipped bit anywhere in the
    * compose (cache, log, argmax, save, reload, score) changes the hash.
    */
  val defs: Map[String, QueryDef] = Map(
    "q_lifecycle" -> QueryDef({
      val ecks = (1 to EPOCHS).map { e =>
        val w = epochWeights(e)
        score.Scorer.duckChecksumSubquery(w("W"), w("E"), "eck_users")
      }
      val eckRows = ecks.zipWithIndex.map { case (cks, i) =>
        s"SELECT ${i + 1} AS epoch, $cks AS reload_checksum"
      }.mkString("\n  UNION ALL\n  ")
      val epochVals = (1 to EPOCHS).map(e => s"($e)").mkString(", ")
      s"""WITH ${etl.Interactions.duckCte},
         |${etl.Splits.duckLeaveTwoOutCte},
         |${etl.Interactions.duckDenseItemsCte},
         |${etl.Splits.duckNegativeSampleScalableCte(160)},
         |${etl.Splits.duckCandidatesCte},
         |escored AS (
         |  SELECT ep.epoch, c.user_id, c.domain, c.item_id, c.is_positive,
         |    ${Hashing.duckH60("c.user_id", "c.item_id", "c.domain",
               "'epoch' || CAST(ep.epoch AS VARCHAR)")} % 1000000 AS score
         |  FROM candidates c CROSS JOIN (VALUES $epochVals) ep(epoch)
         |), epos AS (
         |  SELECT epoch, domain, rn FROM (
         |    SELECT epoch, domain, is_positive,
         |      row_number() OVER (PARTITION BY epoch, user_id, domain
         |        ORDER BY score DESC, item_id) AS rn
         |    FROM escored)
         |  WHERE is_positive = 1
         |), mrows AS (
         |  SELECT epoch, domain, k,
         |    round(AVG(CASE WHEN rn <= k THEN 1.0 ELSE 0.0 END), 6) AS hr,
         |    round(AVG(CASE WHEN rn <= k THEN ln(2.0)/ln(rn + 1) ELSE 0.0 END), 6) AS ndcg,
         |    round(AVG(CASE WHEN rn <= k THEN 1.0/rn ELSE 0.0 END), 6) AS mrr
         |  FROM epos CROSS JOIN (VALUES (5), (10)) ks(k)
         |  GROUP BY epoch, domain, k
         |), mlong AS (
         |  SELECT domain, k, 'hr' AS metric, hr AS value, epoch FROM mrows
         |  UNION ALL
         |  SELECT domain, k, 'ndcg' AS metric, ndcg AS value, epoch FROM mrows
         |  UNION ALL
         |  SELECT domain, k, 'mrr' AS metric, mrr AS value, epoch FROM mrows
         |), best AS (
         |  SELECT domain, k, metric, value, epoch FROM (
         |    SELECT domain, k, metric, value, epoch,
         |      row_number() OVER (PARTITION BY domain, k, metric
         |        ORDER BY value DESC, epoch) AS rn
         |    FROM mlong) WHERE rn = 1
         |), eck_users AS (
         |  SELECT DISTINCT o_custkey AS user_id FROM orders WHERE $eckUserSlice
         |), eck AS (
         |  $eckRows
         |)
         |SELECT b.domain, b.k, b.metric, b.value, b.epoch,
         |  CASE WHEN b.k = 10 THEN e.reload_checksum END AS reload_checksum
         |FROM best b LEFT JOIN eck e ON e.epoch = b.epoch
         |ORDER BY b.domain, b.k, b.metric""".stripMargin
    }) { (spark, d) =>
      import spark.implicits._
      val workDir = java.nio.file.Files.createTempDirectory("graft_lifecycle")
      val wd = workDir.toString
      runEpochs(spark, d, wd, 1 to EPOCHS)
      // S3: checkpoint each k=10 winner, then score from the RELOADED
      // bytes. Weights for an epoch are identical across (domain, metric)
      // checkpoints, so one scoring pass per distinct winning epoch.
      val ckpts = timed("checkpointBest") { checkpointBest(spark, wd) }
      val users = Tables.orders(spark, d).filter(expr(eckUserSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      val byEpoch: Map[Int, Long] = timed("reloadScore") {
        // one scoring pass per DISTINCT winning epoch, submitted
        // concurrently — the jobs are independent reload→score→sum
        // chains, so they share the cluster instead of queueing (same
        // pattern as checkpointBest's six saves)
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val distinct = ckpts.values.toSeq.groupBy(_._1).toSeq
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(EPOCHS, distinct.length)))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try distinct.map { case (e, ps) =>
          Future {
            e -> scoreFromCheckpoint(spark, ps.head._2, users)
              .agg(sum(round(col("score") * 1e6, 0).cast("long"))).as[Long].head()
          }
        }.map(Await.result(_, Duration.Inf)).toMap
        finally pool.shutdown()
      }
      val best = timed("bestEpochs collect") { bestEpochs(spark, wd).collect() }.map { r =>
        val k = r.getAs[Int]("k"); val e = r.getAs[Int]("epoch")
        (r.getAs[String]("domain"), k, r.getAs[String]("metric"),
          r.getAs[Double]("value"), e,
          if (k == 10) Some(byEpoch(e)) else Option.empty[Long])
      }.toSeq
      // everything is collected (12 rows + checksums) — the temp workDir
      // (split cache, metrics log, checkpoints) is dead; remove it
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(workDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      best.toDF("domain", "k", "metric", "value", "epoch", "reload_checksum")
        .orderBy("domain", "k", "metric")
    })

  /** Dev main: run `epochs` scoring rounds and print the selection. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val epochs = args.lift(1).map(_.toInt).getOrElse(3)
    val workDir = java.nio.file.Files.createTempDirectory("lifecycle").toString
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    (1 to epochs).foreach(e => runEpoch(spark, sfDir, workDir, e))
    bestEpochs(spark, workDir).show(50, false)
    spark.stop()
  }
}
