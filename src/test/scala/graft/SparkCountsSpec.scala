package graft

import org.apache.spark.sql.functions._

/** The one Spark-work collector: exact counts on a known plan, jobs
  * started from helper threads inside the window, and no event leaking
  * from one window into the next.
  */
class SparkCountsSpec extends SparkSpec {

  test("measure counts the exact jobs, stages and tasks of a known plan") {
    val (total, c) = SparkCounts.measure(spark) {
      spark.range(0, 10000, 1, numPartitions = 4).repartition(3)
        .agg(sum("id")).head().getLong(0)
    }
    assert(total == 49995000L)
    // AQE runs each shuffle map stage as its own job: the 4-task range
    // scan writing the round-robin exchange, the 3-task partial aggregate
    // over its 3 partitions, then the 1-task final aggregate
    assert((c.jobs, c.stages, c.tasks) == (3, 3, 8), c)
    assert(c.shuffleWriteBytes > 0)
  }

  test("jobs started from a thread spawned inside the window are counted") {
    val (_, c) = SparkCounts.measure(spark) {
      Lifecycle.concurrently(Seq(
        () => spark.range(0, 100, 1, 2).count(),
        () => spark.range(0, 100, 1, 3).count()))
    }
    val (_, one) = SparkCounts.measure(spark) {
      spark.range(0, 100, 1, 2).count()
    }
    assert(one.jobs > 0)
    assert(c.jobs == 2 * one.jobs, c)
  }

  test("repeated windows over the same shuffle count the same bytes") {
    val src = spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 97).persist()
    src.count()
    def shuffle() = SparkCounts.measure(spark) {
      src.groupBy("k").agg(collect_list("id")).collect()
    }._2
    val (a, b) = (shuffle(), shuffle())
    src.unpersist()
    assert(a.shuffleWriteBytes > 0 && a == b, (a, b))
  }
}
