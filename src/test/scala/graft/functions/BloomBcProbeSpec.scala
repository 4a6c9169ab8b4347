package graft.functions

import graft.SparkSpec
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The broadcast-shipped codegen Bloom probe: correctness (no false
  * negatives; confirmable semantics) and the leak fix — q_decontaminate_bloom's
  * filter is one Memo entry per (session, scale dir), so a long-lived
  * session rebuilding the query holds ONE multi-MB broadcast, releasing
  * the entry destroys it, and the probe resolves only the live entry's id.
  */
class BloomBcProbeSpec extends SparkSpec {
  import spark.implicits._

  private def bloomBytes(b: Broadcast[BloomFilter]): Long = b.value.bitSize / 8

  test("probe has no false negatives and prunes most non-members") {
    val members = (0L until 1000L).map(_ * 7L)
    val dir = s"spec:${java.util.UUID.randomUUID()}"
    val bc = graft.Memo.cachedObj(spark, dir, "members", bloomBytes) {
      val filter = BloomFilter.create(1000, 0.01)
      members.foreach(filter.putLong)
      spark.sparkContext.broadcast(filter)
    }
    try {
      val df = spark.range(7000).select(col("id").as("v"))
      val hits = df.filter(BloomBcProbe.column(spark, bc, col("v")))
        .as[Long].collect().toSet
      assert(members.forall(hits), "Bloom filters never false-negative")
      // fpp 0.01 over 6000 non-members: generous 5x headroom on the bound
      assert(hits.size <= members.size + 300,
        s"probe should prune non-members, kept ${hits.size}")
    } finally graft.Memo.release(spark, dir)
  }

  test("cachedColumn broadcasts once per key; new keys get new entries") {
    // the cached probe column: a Memo-held broadcast under a key, probed
    // through BloomBcProbe.column
    val dir = s"spec:${java.util.UUID.randomUUID()}"
    var broadcasts = 0
    def cached(name: String) =
      graft.Memo.cachedObj(spark, dir, name, bloomBytes) {
        val f = BloomFilter.create(100, 0.03)
        f.putLong(42L)
        broadcasts += 1
        spark.sparkContext.broadcast(f)
      }
    try {
      val first = cached("k")
      BloomBcProbe.column(spark, first, col("id"))
      assert(broadcasts == 1)
      // same key: reuse, no new broadcast
      val again = cached("k")
      val c2 = BloomBcProbe.column(spark, again, col("id"))
      assert(broadcasts == 1 && (again eq first),
        "rebuilding the same query must not leak a new broadcast")
      // the reused handle still evaluates
      assert(spark.range(100).filter(c2).count() == 1)
      // a different key is a different filter → new entry
      assert(cached("k/other").id != first.id && broadcasts == 2)
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
    val second = q.build(spark, sf()).collect()
    assert(builds == before + 1, "two builds must share one filter build")
    assert(second.toSeq == first.toSeq)
    val bc = graft.Memo.cachedObj(spark, sf(), "corpus.evalBloom",
      (_: Broadcast[_]) => 0L)(fail("the filter must be cached"))
    graft.Memo.release(spark, sf())
    intercept[org.apache.spark.SparkException](bc.value)
  }

  test("a released filter's id stops resolving; each rebuild gets its own") {
    val q = graft.SparkEntry.defs("q_decontaminate_bloom")
    def cachedBloom: Broadcast[_] = graft.Memo.cachedObj(spark, sf(),
      "corpus.evalBloom", (_: Broadcast[_]) => 0L)(fail("the filter must be cached"))
    graft.Memo.releaseOne(spark, sf(), "corpus.evalBloom")
    val first = q.build(spark, sf()).collect().toSeq
    for (_ <- 1 to 3) {
      val oldId = cachedBloom.id
      graft.Memo.releaseOne(spark, sf(), "corpus.evalBloom")
      val e = intercept[Exception](spark.range(1)
        .select(call_function("graft_bloom_probe", lit(oldId), col("id")))
        .queryExecution.assertAnalyzed())
      assert(e.getMessage.contains("unknown broadcast id"), e.getMessage)
      assert(q.build(spark, sf()).collect().toSeq == first)
      assert(cachedBloom.id != oldId)
    }
    graft.Memo.release(spark, sf())
  }
}
