package graft.functions

import graft.{SparkCounts, SparkSpec}
import graft.rank.{TopKBuffer, TopKBufferAgg}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The bounded distinct-min-K set — q_triangles' supplier cap, a
  * [[TopKBufferAgg]] built ascending and distinct, with its kept ids
  * sorted in the plan. Its claim (VERDICT r14 #1) is STATE and shuffle,
  * not semantics: it must return exactly the collect_set → array_sort →
  * slice → transform chain's answer while holding O(K) per-group
  * buffers — so a zipf hub's partial rows shuffle K entries, not its
  * whole distinct set. Both halves are asserted here on a synthetic hub
  * graph whose one hot key carries orders of magnitude more distinct
  * members than K.
  */
class BoundedMinKSetSpec extends SparkSpec {

  private val K = 8

  /** The K smallest distinct (h, s) pairs' s values, sorted ascending. */
  private def minK(k: Int): Column = {
    val agg = udaf(new TopKBufferAgg(k, descending = false, distinct = true))
    array_sort(agg(col("h"), col("s")).getField("_2"))
  }

  /** Deterministic synthetic rows: one hub key (0) with 20k distinct
    * members (each duplicated), plus 50 light keys with ~6 members.
    */
  private def rows = {
    val hub = (0 until 20000).flatMap { i =>
      val s = (i * 2654435761L) % 1000000007L
      Seq((0L, graft.Hashing.h60Jvm(
        java.security.MessageDigest.getInstance("MD5"), s"0:$s"), s),
        (0L, graft.Hashing.h60Jvm(
          java.security.MessageDigest.getInstance("MD5"), s"0:$s"), s))
    }
    val light = (1 to 50).flatMap { c =>
      (0 until 6).map { i =>
        val s = (c * 7919L + i * 104729L) % 999983L
        (c.toLong, graft.Hashing.h60Jvm(
          java.security.MessageDigest.getInstance("MD5"), s"$c:$s"), s)
      }
    }
    hub ++ light
  }

  private def inputDf = {
    import spark.implicits._
    rows.toDF("c", "h", "s")
  }

  test("bounded aggregate equals collect_set + sort + slice + transform") {
    val bounded = inputDf.groupBy("c").agg(minK(K).as("ss"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val reference = inputDf.groupBy("c")
      .agg(collect_set(struct(col("h"), col("s"))).as("hs"))
      .withColumn("ss", expr(
        s"array_sort(transform(slice(array_sort(hs), 1, $K), x -> x.s))"))
      .select("c", "ss")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(bounded == reference)
    // the hub really was capped (the bound did something) and light keys
    // kept their full distinct sets (the cap is not a truncation of all)
    assert(bounded(0L).size == K)
    assert(bounded(1L).size == 6)
  }

  test("partial state is K-bounded: the hub shuffles a fraction of collect_set's bytes") {
    val src = inputDf.repartition(4).persist()
    src.count() // materialize OUTSIDE both measured windows
    val boundedBytes = SparkCounts.measure(spark) {
      src.groupBy("c").agg(minK(K).as("ss")).collect()
    }._2.shuffleWriteBytes
    val collectSetBytes = SparkCounts.measure(spark) {
      src.groupBy("c")
        .agg(collect_set(struct(col("h"), col("s"))).as("hs"))
        .withColumn("ss", expr(
          s"array_sort(transform(slice(array_sort(hs), 1, $K), x -> x.s))"))
        .select("c", "ss").collect()
    }._2.shuffleWriteBytes
    src.unpersist()
    assert(boundedBytes > 0 && collectSetBytes > 0)
    // the hub's 20k distinct (h, s) pairs appear in every mapper's partial
    // collect_set (4 mappers × up to 20k entries × 16 bytes) vs ≤ K entries
    // per mapper for the bounded aggregate; require a 10× byte reduction
    // (the true entry ratio is ~600×, serialization overheads eat part)
    assert(boundedBytes * 10 <= collectSetBytes,
      s"bounded=$boundedBytes bytes vs collect_set=$collectSetBytes bytes — " +
        "the bounded aggregate must shuffle a small fraction")
  }

  test("merge re-caps across partials and reduce rejects duplicates in O(1)") {
    val agg = new TopKBufferAgg(3, descending = false, distinct = true)
    val a = (1L, 10L); val b = (2L, 20L); val c = (3L, 30L)
    val d = (4L, 40L); val e = (0L, 5L)
    def buf(xs: (Long, Long)*): TopKBuffer = xs.foldLeft(agg.zero)(agg.reduce)
    def entries(t: TopKBuffer) = (0 until t.size).map(j => (t.key(j), t.id(j)))
    // reduce: duplicate of a full buffer's worst member is rejected
    assert(entries(agg.reduce(buf(a, b, c), c)) == Seq(a, b, c))
    assert(entries(agg.reduce(buf(a, b, c), d)) == Seq(a, b, c)) // worse than the kth: rejected
    assert(entries(agg.reduce(buf(a, b, c), e)) == Seq(e, a, b)) // better: enters, c falls out
    // merge: distinct union, re-capped to the 3 smallest
    assert(entries(agg.merge(buf(a, c, d), buf(e, a, b))) == Seq(e, a, b))
    // finish: the buffer in (h, s) order; its member s values ascending
    val done = agg.finish(buf(e, b, a))
    assert(entries(done) == Seq(e, a, b))
    assert((0 until done.size).map(done.id).sorted == Seq(5L, 10L, 20L))
  }
}
