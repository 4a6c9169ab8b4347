package graft

/** Dev-only profiler: time named queries (all if none given) against a
  * scale dir, optionally dumping the formatted physical plan first. Each
  * query's timing line is followed by its builder stages ([[StageTiming]]).
  *
  *   sbt "runMain graft.Profile /root/testdata/sf0.1 explain q_candidates"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val explain = args.contains("explain")
    val names = args.drop(1).filterNot(_ == "explain")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    def time(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      // clock starts BEFORE the builder is forced: eager builders
      // (streaming runBounded, lifecycle collects) do their work inside
      // build(), exactly like Bench measures them; it stops BEFORE the
      // listener-bus drain that makes the counts exact
      val ((el, tBuild, n), c) = SparkCounts.measure(spark) {
        val t0 = System.nanoTime()
        val d = df
        val tBuild = (System.nanoTime() - t0) / 1e9
        if (explain) { println(s"==== $name plan"); d.explain("formatted") }
        val n = d.count()
        ((System.nanoTime() - t0) / 1e9, tBuild, n)
      }
      println(f"==== $name%-28s $el%8.2f s (build $tBuild%.2f)  rows=$n  " +
        s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}")
      StageTiming.drain().foreach { case (stage, sec) =>
        println(f"[stage] $stage%-36s $sec%8.2f s")
      }
    }
    val picked =
      if (names.isEmpty) SparkEntry.defs.keys.toSeq.sorted
      else names.toSeq
    // repeat a name to re-time it warm (first run carries JIT/codegen;
    // host noise here swings single measurements up to 4× — see SCALING.md)
    picked.foreach(name => time(name, SparkEntry.defs(name).build(spark, sfDir)))
    spark.stop()
  }
}
