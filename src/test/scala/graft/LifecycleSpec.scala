package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** E1 lifecycle composition: epochs accumulate in the log, the split
  * cache is written once, and best-epoch selection is keep-first.
  */
class LifecycleSpec extends SparkSpec {

  /** The single-epoch reference ranks: the long-form candidates (the
    * exploded negatives plus the held-out positive) scored with the
    * epoch salt and ranked by the bounded TopBuf digest.
    */
  private def digestRanks(splits: DataFrame, packed: DataFrame,
      epoch: Int): DataFrame = {
    val cands = etl.Splits.explodeNegatives(packed)
      .select(col("user_id"), col("domain"), col("item_id"), lit(0).as("is_positive"))
      .unionAll(splits.select(col("user_id"), col("domain"),
        col("test_item").as("item_id"), lit(1).as("is_positive")))
    graft.rank.Metrics.posRanksDigest(
      cands.withColumn("score", Hashing.h60(col("user_id"), col("item_id"),
        col("domain"), lit(s"epoch$epoch")) % 1000000L), kMax = 10)
  }

  test("three epochs -> memoized splits, accumulated log, argmax selection") {
    val workDir = tempDir("lc").toString
    val epochs = 1 to Lifecycle.EPOCHS
    Lifecycle.runEpochs(spark, sf(), workDir, epochs.take(1))
    val cacheStamp = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$workDir/cache/splits/_SUCCESS"))
    Lifecycle.runEpochs(spark, sf(), workDir, epochs.tail)
    // split cache not recomputed by later epochs
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$workDir/cache/splits/_SUCCESS")) == cacheStamp)

    val log = spark.read.parquet(s"$workDir/metrics_log")
    assert(log.select("epoch").distinct().collect().map(_.getInt(0)).sorted
      .toSeq == epochs)

    val best = Lifecycle.bestEpochs(spark, workDir).collect()
    // one winner per (domain, k, metric)
    assert(best.length == 2 * 2 * 3)
    // the winner's value must equal the max over the log for that slice
    val logRows = log.collect()
    best.foreach { b =>
      val slice = logRows.filter(r =>
        r.getAs[String]("domain") == b.getAs[String]("domain") &&
          r.getAs[Int]("k") == b.getAs[Int]("k"))
      val col = b.getAs[String]("metric")
      assert(b.getAs[Double]("value") == slice.map(_.getAs[Double](col)).max)
    }

    // the packed-cache kernel (every epoch ranked in one loop over the
    // packed negatives) must reproduce the single-epoch digest ranks
    // EXACTLY, per epoch, over the same key set — and each epoch's log
    // rows must be the metrics over those ranks. This is what keeps the
    // q_lifecycle oracle hash invariant.
    val (sp, ng) = etl.SplitCache.cachedPipeline(spark, sf(), s"$workDir/cache")
    val packed = Lifecycle.packedRanks(sp, ng, epochs, kMax = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> r.getInt(3))
      .toMap
    assert(packed.nonEmpty)
    epochs.zipWithIndex.foreach { case (e, i) =>
      val singleDf = digestRanks(sp, ng, e)
      val single = singleDf
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getInt(2)).toMap
      assert(single.keySet.map { case (u, d) => (u, d, i) } ==
        packed.keySet.filter(_._3 == i))
      single.foreach { case ((u, d), rn) =>
        assert(packed((u, d, i)) == rn, s"($u,$d) e$e: packed vs digest")
      }
      val expected = graft.rank.Metrics.rankingMetricsFromRanks(singleDf, Seq(5, 10))
        .collect().map(_.toSeq).toSeq
      val logged = log.filter(col("epoch") === e).drop("epoch")
        .orderBy("domain", "k").collect().map(_.toSeq).toSeq
      assert(logged == expected, s"e$e: log rows vs single-epoch metrics")
    }

    // S3 persist + reload: six checkpoints (domain × metric at K=10),
    // each reproducing its selected epoch's scores from RELOADED weights
    val ckpts = Lifecycle.checkpointBest(spark, workDir, best.toSeq)
    assert(ckpts.size == 2 * 3)
    val someUsers = spark.range(1, 20).toDF("user_id")
    ckpts.foreach { case ((_, _), (epoch, path)) =>
      val fromCkpt = Lifecycle.scoreFromCheckpoint(spark, path, someUsers)
        .collect().map(_.toSeq)
      val w = Lifecycle.epochWeights(epoch)
      val direct = score.Scorer.scoreUsersWith(spark, someUsers, w("W"), w("E"))
        .collect().map(_.toSeq)
      assert(fromCkpt.nonEmpty && fromCkpt.sortBy(_.toString)
        .sameElements(direct.sortBy(_.toString)))
    }
  }

  test("checkpointBest rethrows a failed save only after the other saves finished") {
    import spark.implicits._
    val workDir = tempDir("lc_fail").toString
    val ckpt = java.nio.file.Paths.get(s"$workDir/ckpt")
    // the first winner's checkpoint path runs under a regular FILE, so
    // its save fails at once; eleven more saves are still to run
    Files.createDirectories(ckpt)
    Files.createFile(ckpt.resolve("best_m0_blocked"))
    val best = (("blocked/x", 10, "m0", 0.5, 1) +:
      (1 to 11).map(i => ("a", 10, s"m$i", 0.5, 1 + i % 3)))
      .toDF("domain", "k", "metric", "value", "epoch").collect().toSeq
    val e = intercept[Exception] { Lifecycle.checkpointBest(spark, workDir, best) }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("best_m0_blocked")),
      s"expected the failed save's own error, got: $e")
    // the status tracker is fed by listener events: deliver the queued
    // ones, so a job counts as active only if it is still running
    SparkCounts.drain(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "checkpointBest threw while a checkpoint save was still running")
    def written = Files.walk(ckpt).iterator().asScala.map(_.toString).toSet
    val atThrow = written
    Thread.sleep(2000)
    val now = written
    val changed = (now -- atThrow) ++ (atThrow -- now)
    assert(changed.isEmpty, s"checkpoint saves kept writing after the throw: $changed")
    assert(atThrow.count(_.endsWith("_SUCCESS")) == 11)
  }

  test("q_lifecycle removes its temp workDir when the build fails") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def workDirs = tmp.listFiles().map(_.getName)
      .filter(_.startsWith("graft_lifecycle")).toSet
    val before = workDirs
    val missing = tempDir("lc_missing").resolve("absent")
    intercept[Exception] {
      SparkEntry.defs("q_lifecycle").build(spark, missing.toString).collect()
    }
    assert((workDirs -- before).isEmpty, "failed build left its workDir behind")
  }

  test("q_lifecycle stays under its Spark job ceiling at sf0.001") {
    val jobs = SparkCounts.measure(spark) {
      SparkEntry.defs("q_lifecycle").build(spark, sf()).collect()
    }._2.jobs
    // a cold build runs 43 jobs: one packed-cache rank pass and one
    // metrics aggregate for all epochs, one log read, known-schema
    // read-backs and single-job checkpoint saves
    assert(jobs <= 48, s"q_lifecycle ran $jobs Spark jobs")
  }

  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.catalogString).toSeq

  /** A read that passes the schema its writer used must see what footer
    * inference would: the same column names, types and rows.
    */
  private def sameAsInferred(supplied: DataFrame, path: String): Unit = {
    val inferred = spark.read.parquet(path)
    assert(shape(supplied) == shape(inferred), path)
    assert(supplied.collect().map(_.toSeq.toString).sorted.toSeq ==
      inferred.collect().map(_.toSeq.toString).sorted.toSeq, path)
  }

  test("known-schema reads of the split cache, metrics log and checkpoints match inference") {
    val workDir = tempDir("readschema").toString
    // cache miss: every relation is written and read back with its own schema
    val (splits, negatives) =
      etl.SplitCache.cachedPipeline(spark, sf(), s"$workDir/cache")
    sameAsInferred(splits, s"$workDir/cache/splits")
    sameAsInferred(negatives, s"$workDir/cache/negatives")

    Lifecycle.runEpochs(spark, sf(), workDir, Seq(1, 2))
    val log = s"$workDir/metrics_log"
    sameAsInferred(spark.read.schema(Lifecycle.MetricsLogSchema).parquet(log), log)

    val ckpt = s"$workDir/ckpt"
    score.Checkpoint.save(spark, ckpt, Lifecycle.epochWeights(1))
    sameAsInferred(spark.read.schema(score.Checkpoint.Schema).parquet(ckpt), ckpt)
  }
}
