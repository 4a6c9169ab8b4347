package graft

import graft.etl.SplitCache
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The reference's flagship lifecycle (SURVEY.md §3 E1, main_my.py) as
  * one composed engine run:
  *
  *   load interactions → memoized splits/negatives (S2) →
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

  /** Stage timer: records into the bench artifact via StageTiming. */
  private def timed[A](stage: String)(body: => A): A =
    StageTiming.timed(s"lifecycle/$stage")(body)

  /** Runs independent driver-side tasks (each one or more Spark jobs)
    * concurrently, so their jobs share the cluster instead of queueing,
    * and returns the results in task order. It waits for EVERY task
    * before it returns or rethrows the first failure: a failed task's
    * siblings may still be writing or running jobs, and a caller's
    * cleanup (an unpersist, a work-dir delete) must not race them.
    */
  private[graft] def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, tasks.length))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val running = tasks.map(t => Future(t()))
      running.foreach(Await.ready(_, Duration.Inf))
      running.map(_.value.get.get)
    } finally pool.shutdown()
  }

  /** The epoch loop: every epoch's positive ranks straight from the
    * S2 cache's PACKED negatives ([[packedRanks]]), all epochs' HR/NDCG/
    * MRR\@K in ONE aggregate keyed by epoch, then one append to the
    * metrics log per epoch. The candidate set is loop-invariant (only
    * the scoring salt changes — retraining swaps weights, not the eval
    * set), so one scan of the cache serves every epoch, and each rank
    * is computed in the partition that read its row: the digest pass's
    * |candidates|-row shuffle is gone, and what the aggregate exchanges
    * is one partial row per (epoch, domain, k) per partition.
    *
    * This is NOT the rejected r6 "per-user array packing": that variant
    * BUILT the arrays with a collect_list shuffle (169s at the 100× dir)
    * and ranked them in an interpreted higher-order lambda with md5
    * outside codegen (50-70s/epoch). Here the arrays already sit on disk
    * (the cache has stored negatives packed since r11) and the rank loop
    * is the sampler's own compiled `mapPartitions` md5 loop.
    *
    * Probed-and-rejected alternatives at the 100× dir, all epochs
    * included: per-epoch count-of-beats join — one full candidate-set
    * shuffle per epoch, 92s+29s+27s; persisting the widened candidates
    * across the loop — 480M-row cache thrashed the storage tier;
    * explode → union → per-epoch salted scores → one fused multi-epoch
    * rank-digest pass — paid a |candidates|-row typed digest pass and
    * shuffle plus a persist for ranks this loop computes in place.
    *
    * Metrics still append strictly in epoch order, one append per epoch,
    * so the log holds exactly what the sequential loop wrote
    * (main_my.py:302-320); LifecycleSpec proves each epoch's packed
    * ranks equal the single-epoch [[graft.rank.Metrics.posRanksDigest]]
    * ranks, and each epoch's log rows the metrics over those ranks.
    */
  def runEpochs(spark: SparkSession, sfDir: String, workDir: String,
      epochs: Seq[Int]): Unit = {
    val (splits, negatives) = timed("cachedPipeline") {
      SplitCache.cachedPipeline(spark, sfDir, s"$workDir/cache") }
    val metrics = timed("ranks+metrics") {
      graft.rank.Metrics.rankingMetricsFromRanks(
        packedRanks(splits, negatives, epochs, kMax = 10), Seq(5, 10),
        by = Seq("eix")).collect()
    }
    epochs.zipWithIndex.foreach { case (e, i) =>
      // row layout (eix, domain, k, n_users, hr, ndcg, mrr) → the log's
      // (domain, k, n_users, hr, ndcg, mrr, epoch)
      val rows = metrics.filter(_.getInt(0) == i)
        .map(r => Row.fromSeq(r.toSeq.tail :+ e)).toSeq
      timed(s"e$e append") {
        spark.createDataFrame(rows.asJava, MetricsLogSchema)
          .write.mode("append").parquet(s"$workDir/metrics_log")
      }
    }
  }

  /** The metrics log's schema: what [[runEpochs]] appends and what
    * [[bestEpochs]] reads back without a footer-inference job.
    */
  val MetricsLogSchema: StructType = StructType(Seq(
    StructField("domain", StringType), StructField("k", IntegerType),
    StructField("n_users", LongType), StructField("hr", DoubleType),
    StructField("ndcg", DoubleType), StructField("mrr", DoubleType),
    StructField("epoch", IntegerType)))

  /** The positive's rank per (user, domain, epoch index `eix`) from the
    * PACKED negatives (`user_id, domain, items`) joined to the splits'
    * `test_item`. One compiled loop per row scores the positive and each
    * negative with the epoch-salted `h60(user, item, domain, epoch<e>)
    * mod 1e6` — streamed md5 over `"<u>:" + item + ":<d>:epoch<e>"`,
    * exactly [[Hashing.h60]]'s bytes — and counts the negatives that
    * beat the positive in a descending [[graft.rank.TopKBuffer]]'s order
    * (score desc, then item asc), stopping at `kMax`. rn = beats + 1, or
    * 0 when the positive falls below `kMax` — the
    * [[graft.rank.Metrics.posRanksDigest]] contract, without the digest
    * shuffle.
    */
  def packedRanks(splits: DataFrame, packedNegatives: DataFrame,
      epochs: Seq[Int], kMax: Int): DataFrame = {
    val spark = splits.sparkSession
    import spark.implicits._
    val salts = epochs.map(e => s"epoch$e").toArray
    packedNegatives
      .join(splits.select("user_id", "domain", "test_item"),
        Seq("user_id", "domain"))
      .select(col("user_id"), col("domain"), col("test_item"), col("items"))
      .as[(Long, String, Long, Array[Long])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        it.flatMap { case (u, dom, pos, items) =>
          val prefix = s"$u:".getBytes(utf8)
          val posMid = pos.toString
          val negMids = items.map(_.toString)
          Iterator.tabulate(salts.length) { e =>
            val suffix = s":$dom:${salts(e)}".getBytes(utf8)
            val ps = Hashing.h60JvmParts(md, prefix, posMid, suffix) % 1000000L
            var beats = 0
            var j = 0
            while (j < items.length && beats < kMax) {
              val s = Hashing.h60JvmParts(md, prefix, negMids(j), suffix) % 1000000L
              if (s > ps || (s == ps && items(j) < pos)) beats += 1
              j += 1
            }
            (u, dom, e, if (beats < kMax) beats + 1 else 0)
          }
        }
      }
      .toDF("user_id", "domain", "eix", "rn")
  }

  /** Keep-first best epoch per (domain, k, metric) over the accumulated
    * log — the reference's checkpoint-selection rule (strict improvement,
    * main_my.py:302-320). The three metric columns are stacked into one
    * long (metric, value) relation, so one window ranks them all.
    */
  def bestEpochs(spark: SparkSession, workDir: String): DataFrame = {
    val log = spark.read.schema(MetricsLogSchema).parquet(s"$workDir/metrics_log")
    val metrics = Seq("hr", "ndcg", "mrr")
    log.select(col("domain"), col("k"), col("epoch"), explode(array(metrics.map(m =>
        struct(lit(m).as("metric"), col(m).as("value"))): _*)).as("m"))
      .select(col("domain"), col("k"), col("m.metric").as("metric"),
        col("m.value").as("value"), col("epoch"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("domain", "k", "metric")
          .orderBy(col("value").desc, col("epoch"))))
      .filter(col("rn") === 1).drop("rn")
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
    * state_dict. `best` is the collected [[bestEpochs]] selection, so
    * the log is read and ranked once per run. Returns (domain, metric)
    * → (epoch, checkpoint path).
    */
  def checkpointBest(spark: SparkSession, workDir: String, best: Seq[Row])
      : Map[(String, String), (Int, String)] =
    // the six saves are independent tiny write jobs
    concurrently(best.filter(_.getAs[Int]("k") == 10).map { r =>
      val (domain, metric, epoch) =
        (r.getAs[String]("domain"), r.getAs[String]("metric"),
          r.getAs[Int]("epoch"))
      val path = s"$workDir/ckpt/best_${metric}_$domain"
      () => {
        score.Checkpoint.save(spark, path, epochWeights(epoch))
        (domain, metric) -> (epoch, path)
      }
    }).toMap

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
         |${etl.Splits.duckNegativeSampleScalableCte},
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
      // the temp workDir (split cache, metrics log, checkpoints) is dead
      // once the result rows are collected — and on failure too
      try {
        runEpochs(spark, d, wd, 1 to EPOCHS)
        val best = timed("bestEpochs collect") { bestEpochs(spark, wd).collect().toSeq }
        // S3: checkpoint each k=10 winner, then score from the RELOADED
        // bytes. Weights for an epoch are identical across (domain, metric)
        // checkpoints, so one scoring pass per distinct winning epoch.
        val ckpts = timed("checkpointBest") { checkpointBest(spark, wd, best) }
        val users = Tables.orders(spark, d).filter(expr(eckUserSlice))
          .select(col("o_custkey").as("user_id")).distinct()
        val byEpoch: Map[Int, Long] = timed("reloadScore") {
          // one scoring pass per DISTINCT winning epoch: independent
          // reload→score→sum chains, run concurrently
          concurrently(ckpts.values.toSeq.groupBy(_._1).toSeq.map {
            case (e, ps) => () =>
              e -> scoreFromCheckpoint(spark, ps.head._2, users)
                .agg(sum(round(col("score") * 1e6, 0).cast("long"))).as[Long].head()
          }).toMap
        }
        // `best` is already in (domain, k, metric) order
        best.map { r =>
          val k = r.getAs[Int]("k"); val e = r.getAs[Int]("epoch")
          (r.getAs[String]("domain"), k, r.getAs[String]("metric"),
            r.getAs[Double]("value"), e,
            if (k == 10) Some(byEpoch(e)) else Option.empty[Long])
        }.toDF("domain", "k", "metric", "value", "epoch", "reload_checksum")
      } finally {
        java.nio.file.Files.walk(workDir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    })

  /** Dev main: run `epochs` scoring rounds and print the selection. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val epochs = args.lift(1).map(_.toInt).getOrElse(3)
    val workDir = java.nio.file.Files.createTempDirectory("lifecycle").toString
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    runEpochs(spark, sfDir, workDir, 1 to epochs)
    bestEpochs(spark, workDir).show(50, false)
    spark.stop()
  }
}
