package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every runnable main and the test session
  * build their `SparkSession` here, so bench, dev and test configs cannot
  * drift apart.
  *
  * `local[N]` with N from `SPARK_GRAFT_CPUS` (else the host's core
  * count), N shuffle partitions, UTC, 16 MB file splits and the UI off.
  * `extraConf` is applied last, so a caller that needs a different value
  * for one of these keys overrides it there.
  */
object LocalSession {
  def apply(extraConf: (String, String)*): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the test layout is one FILE per table, so scan parallelism comes
      // entirely from row-group split points; the 128 MB default made
      // every first stage of a 30× run 1-4 tasks on 32 cores
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
