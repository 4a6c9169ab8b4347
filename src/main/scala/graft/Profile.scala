package graft

import QueryRunner.{Completed, Failed, Refused}

/** Dev-only profiler: time named queries (a repeated name is re-timed
  * warm; every query in the harness order when none is given) against a
  * scale dir through [[QueryRunner]], as Bench does. Each query prints one
  * line: wall and build seconds, rows, exact Spark counts, the session's
  * cached MB and persisted-RDD count; then its builder stages
  * ([[StageTiming]]). With `explain`, the formatted physical plan, as
  * executed, is printed after the timed window, ahead of that line.
  *
  *   sbt "runMain graft.Profile /root/testdata/sf0.1 explain q_candidates"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val explain = args.contains("explain")
    val runner = QueryRunner.open(sfDir)
    runner.spark.sparkContext.setLogLevel("ERROR")
    val names = args.drop(1).filterNot(_ == "explain").toSeq
    runner(names)((_, df) => (df.count(), df)).foreach { r =>
      val rows = r.outcome match {
        case Completed((n, df)) =>
          if (explain) { println(s"==== ${r.name} plan"); df.explain("formatted") }
          s"rows=$n"
        case Refused(msg) => s"REFUSED: $msg"
        case Failed(msg) => s"FAILED: $msg"
      }
      val c = r.counts
      println(f"==== ${r.name}%-28s ${r.sec}%8.2f s (build ${r.buildSec}%.2f)  $rows  " +
        s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}" +
        f"  cached=${r.cachedMb}%.2f MB persisted=${r.persisted}")
      r.stages.foreach { case (stage, sec) => println(f"[stage] $stage%-36s $sec%8.2f s") }
    }
    runner.spark.stop()
  }
}
