package graft.functions

import graft.SparkSpec
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._

/** The broadcast-shipped codegen Bloom probe: correctness (no false
  * negatives; confirmable semantics) and the leak fix — q_decontaminate_bloom's
  * filter is one Memo entry per (session, scale dir), so a long-lived
  * session rebuilding the query holds ONE multi-MB broadcast, and
  * releasing the entry destroys it.
  */
class BloomBcProbeSpec extends SparkSpec {
  import spark.implicits._

  test("probe has no false negatives and prunes most non-members") {
    val members = (0L until 1000L).map(_ * 7L)
    val filter = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    members.foreach(filter.putLong)
    val df = spark.range(7000).select(col("id").as("v"))
    val bc = spark.sparkContext.broadcast(filter)
    val hits = df.filter(BloomBcProbe.column(spark, bc, col("v")))
      .as[Long].collect().toSet
    assert(members.forall(hits), "Bloom filters never false-negative")
    // fpp 0.01 over 6000 non-members: generous 5x headroom on the bound
    assert(hits.size <= members.size + 300,
      s"probe should prune non-members, kept ${hits.size}")
  }

  test("cachedColumn broadcasts once per key; new keys get new entries") {
    // the cached probe column: a Memo-held broadcast under a key, probed
    // through BloomBcProbe.column
    val dir = s"spec:${java.util.UUID.randomUUID()}"
    var broadcasts = 0
    def cachedColumn(name: String) = {
      val bc = graft.Memo.cachedObj(spark, dir, name,
          (b: Broadcast[org.apache.spark.util.sketch.BloomFilter]) =>
            b.value.bitSize / 8) {
        val f = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
        f.putLong(42L)
        broadcasts += 1
        spark.sparkContext.broadcast(f)
      }
      BloomBcProbe.column(spark, bc, col("id"))
    }
    try {
      val before = BloomBcProbe.registeredCount
      cachedColumn("k")
      val afterFirst = BloomBcProbe.registeredCount
      assert(afterFirst == before + 1 && broadcasts == 1)
      // same key: reuse, no new broadcast handle
      val c2 = cachedColumn("k")
      assert(broadcasts == 1 && BloomBcProbe.registeredCount == afterFirst,
        "rebuilding the same query must not leak a new broadcast")
      // the reused handle still evaluates
      assert(spark.range(100).filter(c2).count() == 1)
      // a different key is a different filter → new entry
      cachedColumn("k/other")
      assert(broadcasts == 2 && BloomBcProbe.registeredCount == afterFirst + 1)
    } finally graft.Memo.release(spark, dir)
  }

  test("q_decontaminate_bloom broadcasts once per key; Memo release destroys it") {
    val q = graft.SparkEntry.defs("q_decontaminate_bloom")
    val name = s"${sf()}:corpus.evalBloom"
    def builds = graft.Memo.telemetry(spark).collectFirst {
      case (`name`, _, b) => b
    }.getOrElse(0)
    graft.Memo.releaseOne(spark, sf(), "corpus.evalBloom")
    val before = builds
    val first = q.build(spark, sf()).collect()
    val afterFirst = BloomBcProbe.registeredCount
    val second = q.build(spark, sf()).collect()
    assert(builds == before + 1, "two builds must share one filter build")
    assert(BloomBcProbe.registeredCount == afterFirst,
      "rebuilding the same query must not park a new broadcast")
    assert(second.toSeq == first.toSeq)
    val bc = graft.Memo.cachedObj(spark, sf(), "corpus.evalBloom",
      (_: Broadcast[_]) => 0L)(fail("the filter must be cached"))
    graft.Memo.release(spark, sf())
    intercept[org.apache.spark.SparkException](bc.value)
  }
}
