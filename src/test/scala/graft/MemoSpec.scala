package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The memoization registry's contract: build-once reuse, release that
  * actually frees storage (persisted AND localCheckpointed entries),
  * rebuild-after-release correctness, and LRU byte-budget eviction.
  */
class MemoSpec extends SparkSpec {

  private def freshDir(tag: String) = s"${sf()}#memospec-$tag"

  test("cached builds once per key and returns the same relation") {
    val d = freshDir("once")
    var builds = 0
    def get() = Memo.cached(spark, d, "m") {
      builds += 1
      spark.range(100).toDF("id").persist()
    }
    val a = get(); val b = get()
    assert(builds == 1)
    assert(a eq b)
    assert(a.count() == 100)
    Memo.release(spark, d)
  }

  test("release unpersists a persisted entry and the next call rebuilds") {
    val d = freshDir("rel")
    var builds = 0
    def get() = Memo.cached(spark, d, "m") {
      builds += 1
      spark.range(50).toDF("id").persist()
    }
    val a = get()
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    Memo.release(spark, d)
    assert(a.storageLevel == StorageLevel.NONE, "release must unpersist")
    assert(Memo.entries(spark).forall(!_.startsWith(d)))
    val b = get()
    assert(builds == 2, "post-release consumer rebuilds")
    assert(b.count() == 50)
    Memo.release(spark, d)
  }

  test("release frees localCheckpoint blocks (Dataset.unpersist cannot)") {
    val d = freshDir("ckpt")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Memo.cached(spark, d, "ck") {
      spark.range(1000).toDF("id").localCheckpoint()
    }
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(pinned.nonEmpty, "localCheckpoint pins an RDD")
    Memo.release(spark, d)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(pinned.forall(!after.contains(_)),
      "released checkpoint RDDs must leave the persistent-RDD registry")
  }

  test("enforceBudget evicts least-recently-used entries first") {
    val d = freshDir("lru")
    // DISTINCT row counts: identical plans would share one CacheManager
    // entry (plan-keyed), collapsing three entries into one cached
    // relation and making per-entry eviction unobservable
    def mk(name: String, n: Long) = Memo.cached(spark, d, name) {
      val df = spark.range(n).toDF("id").persist()
      df.count(); df
    }
    mk("a", 20000); mk("b", 30000); mk("c", 40000)
    // touch a so b becomes the LRU
    Memo.cached(spark, d, "a")(fail("must not rebuild"))
    // budget 0 sweeps every owned entry; the returned order — filtered
    // to this test's entries, since the shared session may hold others —
    // must be least-recently-USED first: b(2), c(3), a(4 after touch)
    val order = Memo.enforceBudget(spark, 0L).filter(_.startsWith(d))
    assert(order == Seq(s"$d:b", s"$d:c", s"$d:a"),
      s"LRU order violated: $order")
    assert(Memo.entries(spark).forall(!_.startsWith(d)))
    // an infinite budget evicts nothing
    mk("a2", 10000)
    assert(Memo.enforceBudget(spark, Long.MaxValue).isEmpty)
    Memo.release(spark, d)
  }

  test("nested builds: each RDD has one owner; evicting the outer entry " +
      "leaves the inner's blocks cached") {
    val d = freshDir("nest")
    var inner: org.apache.spark.sql.DataFrame = null
    var innerPinned = Set.empty[Int]
    // outer's build registers a twin entry mid-build — the factored
    // near-dup shape (pairs registers edges inside its own build)
    Memo.cached(spark, d, "outer") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      inner = Memo.cached(spark, d, "inner") {
        val i = spark.range(500).toDF("id").persist(); i.count(); i
      }
      innerPinned =
        spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
      inner.withColumn("x", col("id") * 2).persist()
    }
    assert(innerPinned.nonEmpty, "inner build pins at least one RDD")
    assert(inner.storageLevel != StorageLevel.NONE)
    Memo.releaseOne(spark, d, "outer")
    // the outer's delta must NOT have claimed the inner's RDDs: the inner
    // entry survives as a registered, still-cached relation with its raw
    // blocks intact (the bug was a raw r.unpersist on double-owned ids,
    // which Dataset.storageLevel alone would not expose)
    assert(Memo.entries(spark).contains(s"$d:inner"))
    assert(inner.storageLevel != StorageLevel.NONE,
      "evicting the outer entry must not unpersist the inner's blocks")
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(innerPinned.subsetOf(live),
      s"inner's pinned RDDs ${innerPinned} must survive the outer evict")
    var rebuilt = false
    val again = Memo.cached(spark, d, "inner") { rebuilt = true; inner }
    assert(!rebuilt, "inner entry must still be registered after the evict")
    assert(again.count() == 500)
    Memo.release(spark, d)
    assert(inner.storageLevel == StorageLevel.NONE)
  }

  test("cachedObj: builds once, counts toward the budget, released with the dir") {
    val d = freshDir("obj")
    var builds = 0
    def get() = Memo.cachedObj(spark, d, "codebook",
        (_: Array[Long]) => 1024L * 1024 * 1024) {
      builds += 1
      Array.fill(8)(7L)
    }
    val a = get(); val b = get()
    assert(builds == 1)
    assert(a eq b, "cached object identity preserved")
    assert(Memo.entries(spark).contains(s"$d:codebook"))
    // the 1 GiB estimate alone exceeds a 1 MB budget: the object entry
    // must be LRU-evicted like a DataFrame entry would be
    val evicted = Memo.enforceBudget(spark, 1024L * 1024)
    assert(evicted.contains(s"$d:codebook"),
      s"object bytes must count toward the budget; evicted=$evicted")
    assert(!Memo.entries(spark).contains(s"$d:codebook"))
    get()
    assert(builds == 2, "post-eviction consumer rebuilds")
    // telemetry carries the object entry's bytes + build count
    val t = Memo.telemetry(spark).find(_._1 == s"$d:codebook")
    assert(t.exists(x => x._2 == 1024L * 1024 * 1024 && x._3 == 2), s"telemetry: $t")
    Memo.release(spark, d)
    assert(!Memo.entries(spark).contains(s"$d:codebook"))
    get()
    assert(builds == 3, "post-release consumer rebuilds")
    Memo.release(spark, d)
  }

  test("regime-gate counts are Memo entries: built once, dropped by release") {
    val d = tempDir("memospec_gate").toString
    spark.range(7).toDF("vec_id").write.parquet(s"$d/embeddings.parquet")
    val entry = s"$d:sim.corpusSize"
    def builds = Memo.telemetry(spark).collectFirst {
      case (n, _, b) if n == entry => b
    }.getOrElse(0)
    assert(ext.VectorOps.corpusSize(spark, d) == 7L)
    assert(ext.VectorOps.corpusSize(spark, d) == 7L)
    assert(builds == 1, "the second call reuses the entry")
    assert(Memo.entries(spark).contains(entry))
    Memo.release(spark, d)
    assert(!Memo.entries(spark).contains(entry))
    assert(ext.VectorOps.corpusSize(spark, d) == 7L)
    assert(builds == 2, "the call after release rebuilds")
    Memo.release(spark, d)
  }

  test("a failed build leaves no pinned storage behind") {
    val d = freshDir("fail")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[IllegalStateException] {
      Memo.cached(spark, d, "boom") {
        val r = spark.range(100).persist()
        r.count()
        throw new IllegalStateException("build failed after persisting")
      }
    }
    assert(err.getMessage.contains("after persisting"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a failed build's persisted RDDs must be unpersisted")
    assert(Memo.entries(spark).forall(!_.startsWith(d)))
    spark.range(100).unpersist() // drop the plan-cache entry too
  }

  test("release is scoped: other sfDirs and sessions are untouched") {
    val d1 = freshDir("s1"); val d2 = freshDir("s2")
    val a = Memo.cached(spark, d1, "m")(spark.range(10).toDF("id").persist())
    val b = Memo.cached(spark, d2, "m")(spark.range(20).toDF("id").persist())
    a.count(); b.count()
    Memo.release(spark, d1)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE, "other sfDir stays cached")
    Memo.release(spark, d2)
  }
}
