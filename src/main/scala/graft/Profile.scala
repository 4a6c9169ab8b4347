package graft

/** Dev-only profiler: time named queries (all if none given) against a
  * scale dir, optionally dumping the formatted physical plan first.
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
    // Spark job counter (r15, VERDICT r14 #3): the ~0.4s floor under the
    // sub-second queries is 1-3 driver job round-trips each — per-query
    // job counts pick the fuse-the-actions targets. Async listener: the
    // count can lag a fast query by one event, fine for dev triage.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })
    def time(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      // clock starts BEFORE the builder is forced: eager builders
      // (streaming runBounded, lifecycle collects) do their work inside
      // build(), exactly like Bench measures them
      val t0 = System.nanoTime()
      val j0 = jobCount.get()
      val d = df
      val tBuild = (System.nanoTime() - t0) / 1e9
      if (explain) { println(s"==== $name plan"); d.explain("formatted") }
      val n = d.count()
      val el = (System.nanoTime() - t0) / 1e9 // clock stops BEFORE the event-drain sleep
      Thread.sleep(50) // let trailing job-start events land
      println(f"==== $name%-28s $el%8.2f s (build $tBuild%.2f)  rows=$n  jobs=${jobCount.get() - j0}")
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
