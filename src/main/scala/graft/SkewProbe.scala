package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dev-only skew experiment: times the q_salted_agg join shape four ways
  * against a scale dir (meant for a `ScaleGen … zipf` output, where ONE
  * supplier holds ~20% of lineitem):
  *
  *   1. plain shuffle join, AQE skew-join ON (Spark's runtime answer)
  *   2. plain shuffle join, AQE skew-join OFF (the naive 100 TB cliff)
  *   3. salted join, dim exploded × broadcast (the engine's q_salted_agg)
  *   4. salted shuffle join, broadcast disabled (salting when the dim is
  *      too big to broadcast — the pure-shuffle salted shape)
  *
  * Each timing runs twice in-JVM; read the second (first carries codegen).
  * Results land in SCALING.md. The broadcast join is deliberately absent
  * from 1-2: a broadcastable dim makes fact-side skew irrelevant (no
  * shuffle at all), which is exactly why the experiment disables it.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1z")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")

    def big: DataFrame = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey").as("suppkey"),
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast(DecimalType(18, 3))
          * (lit(1).cast(DecimalType(18, 3))
            - col("l_discount").cast(DecimalType(18, 3)))).as("rev"))
    def dim: DataFrame = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))

    def agg(joined: DataFrame): DataFrame = joined
      .groupBy(col("s_nationkey").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("rev")), 2).cast("double").as("revenue"))

    // Wall-clock on this box swings up to 10× with host load, so the
    // skew evidence is the TASK DURATION distribution instead: a skewed
    // plan shows one straggler task ~HOT_MOD× the median; a salted plan
    // levels it. max/p50 is robust to uniform host slowdown.
    val durations = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          durations.synchronized { durations += ((t.stageId, t.taskInfo.duration)) }
      })

    def time(name: String, df: => DataFrame): Unit =
      (1 to 2).foreach { i =>
        durations.synchronized(durations.clear())
        val t0 = System.nanoTime()
        val n = df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val d = durations.synchronized(durations.toArray)
        // per-stage straggler ratio: the reduce stage of the join is
        // where key skew lands; scan/map stages show file-split skew
        val byStage = d.groupBy(_._1).toSeq.sortBy(_._1).map { case (sid, ts) =>
          val s = ts.map(_._2).sorted
          f"s$sid:${s.length}t max=${s.last / 1e3}%.1f p50=${s(s.length / 2) / 1e3}%.2f"
        }
        println(f"==== $name%-26s run$i $wall%8.2f s  rows=$n  ${byStage.mkString("  ")}")
      }

    def set(k: String, v: String): Unit = spark.conf.set(k, v)

    // fact-side key histogram so the run documents its own skew
    val top = Tables.lineitem(spark, sfDir).groupBy("l_suppkey").count()
      .orderBy(col("count").desc).limit(3).collect()
    println("==== top suppkeys: " + top.map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(" "))

    set("spark.sql.autoBroadcastJoinThreshold", "-1")
    set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("plain_smj_aqe_skew_on", agg(big.join(dim, "suppkey")))
    set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("plain_smj_aqe_skew_off", agg(big.join(dim, "suppkey")))
    time("salted_shuffle", agg(rel.Salting.saltedJoin(big, dim, "suppkey",
      Seq(col("l_orderkey"), col("l_linenumber")), salts = 8)))
    set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("salted_broadcast", agg(rel.Salting.saltedJoin(big, dim, "suppkey",
      Seq(col("l_orderkey"), col("l_linenumber")), salts = 8)))
    spark.stop()
  }
}
