package graft.etl

import graft.{SparkCounts, SparkSpec, StageTiming}
import java.nio.file.Files
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Write-once memoization semantics (S2): second writer is a no-op, and
  * the cached scan equals the recomputed relation.
  */
class SplitCacheSpec extends SparkSpec {

  private def splitsOf = Splits.leaveTwoOut(Splits.ranked(Interactions(spark, sf())))

  test("writeOnce materializes once and replays identically") {
    val dir = tempDir("splitcache").toString
    val live = splitsOf.orderBy("user_id", "domain")
    val first = SplitCache.writeOnce(spark, live, s"$dir/splits")
    val mtime = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/splits/_SUCCESS"))
    // second call must not rewrite (mode ignore) and must read same rows
    val second = SplitCache.writeOnce(spark,
      sys.error("recompute must not be forced"): org.apache.spark.sql.DataFrame,
      s"$dir/splits")
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/splits/_SUCCESS")) == mtime)
    assert(second.count() == first.count())
    assert(second.orderBy("user_id", "domain").collect()
      .sameElements(live.collect()))
  }

  test("cachedPipeline: concurrent materialization equals direct recompute") {
    val dir = tempDir("splitcache").toString
    val (splits, negs) =
      SplitCache.cachedPipeline(spark, sf(), s"$dir/cache")
    // the concurrently-built caches must equal their sequential
    // recomputes row-for-row (the persist/futures path changes scheduling
    // only, never bytes)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toString).sorted.toSeq
    assert(rows(splits) == rows(splitsOf))
    // ... and the Memo'd splits the suite's queries read
    assert(rows(splits) == rows(Splits.leaveTwoOutCached(spark, sf())))
    graft.Memo.releaseOne(spark, sf(), "splits.leaveTwoOut")
    // negatives come back PACKED; exploded they are the long sampler
    assert(negs.columns.toSeq == Seq("user_id", "domain", "items"))
    assert(rows(Splits.explodeNegatives(negs)) ==
      rows(Splits.explodeNegatives(
        Splits.negativeSampleScalable(Interactions(spark, sf())))))
    assert(new java.io.File(s"$dir/cache").list().sorted.toSeq ==
      Seq("negatives", "splits"))
    // second call is a pure cache hit: no _SUCCESS rewrite on any relation
    val stamps = Seq("splits", "negatives").map(n =>
      Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$dir/cache/$n/_SUCCESS")))
    SplitCache.cachedPipeline(spark, sf(), s"$dir/cache")
    val after = Seq("splits", "negatives").map(n =>
      Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$dir/cache/$n/_SUCCESS")))
    assert(stamps == after)
  }

  test("a cold cachedPipeline pins no second copy of the log") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    StageTiming.drain()
    SplitCache.cachedPipeline(spark, sf(), tempDir("splitcache").toString + "/cache")
    val stages = StageTiming.drain().map(_._1)
    val added = sc.getPersistentRDDs.keySet -- before
    // the build read the session log, persisted through Interactions.cached
    val logRdd = Interactions(spark, sf()).queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id }
    assert(logRdd.isDefined, "cachedPipeline did not read the session log")
    assert(added.subsetOf(logRdd.toSet),
      s"cachedPipeline left $added persisted beside the log ${logRdd.get}")
    assert(stages.contains("splitcache/log materialize") &&
      !stages.exists(_.contains("ranked")), s"stages: $stages")
  }

  test("cachedPipeline rethrows a failed write only after the other write finished") {
    val cache = tempDir("splitcache").toString + "/cache"
    // a committed but corrupt splits table: its read-back fails while the
    // negatives write is still running
    val corrupt = java.nio.file.Paths.get(s"$cache/splits")
    Files.createDirectories(corrupt)
    Files.write(corrupt.resolve("part-00000.parquet"), Array[Byte](0, 1, 2))
    Files.createFile(corrupt.resolve("_SUCCESS"))
    intercept[Exception] { SplitCache.cachedPipeline(spark, sf(), cache) }
    // the status tracker is fed by listener events: deliver the queued
    // ones, so a job counts as active only if it is still running
    SparkCounts.drain(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "cachedPipeline returned while a cache write was still running")
    val strays = new java.io.File(cache).list().filter(_.contains("__tmp"))
    assert(strays.isEmpty, s"temp output left under the cache: ${strays.toSeq}")
  }

  test("racing writeOnce callers converge on one committed copy") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = tempDir("splitcache").toString
    val path = s"$dir/splits"
    val expected = splitsOf.collect()
      .map(_.toSeq.toString).sorted.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // four threads race the same destination; deterministic bytes mean
      // whoever wins, every reader must see one complete committed copy
      val futures = (1 to 4).map(_ => Future {
        SplitCache.writeOnce(spark, splitsOf, path)
          .collect().map(_.toSeq.toString).sorted.toSeq
      })
      futures.map(Await.result(_, Duration.Inf)).foreach(r =>
        assert(r == expected))
    } finally pool.shutdown()
    assert(Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS")))
    // no stray temp directories left behind by the losing writers
    val strays = new java.io.File(dir).listFiles()
      .filter(_.getName.contains("__tmp"))
    assert(strays.isEmpty)
  }

  test("partial write (no _SUCCESS marker) is recomputed, not trusted") {
    val dir = tempDir("splitcache").toString
    // simulate a crashed writer: directory exists, data file present,
    // no _SUCCESS commit marker
    val path = java.nio.file.Paths.get(s"$dir/splits")
    Files.createDirectories(path)
    Files.write(path.resolve("part-00000.parquet"), Array[Byte](0, 1, 2))
    val live = splitsOf.orderBy("user_id", "domain")
    val recovered = SplitCache.writeOnce(spark, live, s"$dir/splits")
    assert(Files.exists(path.resolve("_SUCCESS")))
    assert(recovered.count() == live.count())
  }

  test("cachedPipeline never evicts a shared interactions cache it didn't create") {
    // the harness (Bench/Verify) pre-persists the interactions subtree;
    // cachedPipeline must leave that session-wide entry alone — the r4
    // regression evicted it and every later query rebuilt the relation
    val inter = Interactions(spark, sf())
    val preCached = Interactions.cached(spark, sf())
    assert(preCached.storageLevel.useMemory, "pre-persist failed")
    val dir = tempDir("splitcache").toString
    try {
      SplitCache.cachedPipeline(spark, sf(), dir)
      assert(inter.storageLevel.useMemory,
        "cachedPipeline evicted the shared interactions cache it did not own")
    } finally {
      spark.catalog.clearCache()
    }
  }
}
