package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-query loop under Bench, Profile and Verify. Each query is
  * built and acted on inside one [[SparkCounts.measure]] window, which
  * times the build and the action and classifies the outcome: completed,
  * refused (a [[QueryRefusedException]]: the query kept its output-budget
  * contract) or failed. A query that throws still closes its window, so
  * it reports its counts and leaves no undrained events behind.
  *
  * After the window the runner drains the query's [[StageTiming]] stages
  * (memoized builds report on the query that built them), samples the
  * 1-minute load, the session's cached MB (all RDD memory + disk bytes,
  * the figure perfbench samples as `cached_peak_mb`) and its persisted-RDD
  * count (materialized or not, so a new pin shows before its first
  * action), and evicts Memo entries past [[MemoBudget]]. The mains, and
  * the specs that run a query the way they do, read the same numbers
  * from this one path.
  */
final class QueryRunner(val spark: SparkSession, val sfDir: String) {
  import QueryRunner._

  /** Runs `names` in their order, a repeated name again, or every
    * registered query in [[SparkEntry.orderedQueries]] order when `names`
    * is empty (index builds before their readers), leaving out `skip`.
    * Lazy: each `next()` runs one query. `action` gets the query's name
    * and built DataFrame, and runs inside the window.
    */
  def apply[A](names: Seq[String] = Nil, skip: Set[String] = Set.empty)(
      action: (String, DataFrame) => A): Iterator[Run[A]] = {
    val picked =
      if (names.isEmpty) SparkEntry.orderedQueries
      else names.map(n => n -> SparkEntry.defs(n).build)
    StageTiming.drain() // stages recorded before the first window belong to no query
    picked.iterator.filterNot(q => skip(q._1))
      .map { case (name, build) => run(name, build)(action(name, _)) }
  }

  /** One query through the window and the samples after it. */
  def run[A](name: String, build: (SparkSession, String) => DataFrame)(
      action: DataFrame => A): Run[A] = {
    val ((outcome, sec, buildSec), counts) = SparkCounts.measure(spark) {
      val t0 = System.nanoTime()
      def since = (System.nanoTime() - t0) / 1e9
      var built = Double.NaN
      val outcome: Outcome[A] =
        try { val df = build(spark, sfDir); built = since; Completed(action(df)) }
        catch {
          case e: QueryRefusedException => Refused(e.getMessage)
          case e: Throwable => Failed(e.getMessage)
        }
      val sec = since
      (outcome, sec, if (built.isNaN) sec else built)
    }
    val sc = spark.sparkContext
    Run(name, outcome, sec, buildSec, counts, StageTiming.drain(), loadAvg,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      sc.getPersistentRDDs.size, Memo.enforceBudget(spark, MemoBudget).size)
  }
}

object QueryRunner {
  sealed trait Outcome[+A]
  final case class Completed[+A](result: A) extends Outcome[A]
  final case class Refused(msg: String) extends Outcome[Nothing]
  final case class Failed(msg: String) extends Outcome[Nothing]

  /** One query's outcome, wall and build seconds, Spark counts, builder
    * stages, and the samples taken after its window.
    */
  final case class Run[+A](name: String, outcome: Outcome[A], sec: Double,
      buildSec: Double, counts: SparkCounts.Counts, stages: Seq[(String, Double)],
      load: Double, cachedMb: Double, persisted: Int, evictions: Int)

  /** Byte budget for the Memo registry's LRU, read once: suite-wide cached
    * storage stays under budget + one entry. Default: a third of the heap,
    * which at the 100× probe's 48g leaves execution memory untouched.
    */
  val MemoBudget: Long = sys.env.get("SPARK_GRAFT_MEMO_BUDGET_MB")
    .map(_.toLong * 1024 * 1024).getOrElse(Runtime.getRuntime.maxMemory / 3)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** The host's 1-minute load average. */
  def loadAvg: Double = os.getSystemLoadAverage

  /** A runner over a new [[LocalSession]] whose interaction log is
    * persisted up front (the shared base relation ~10 queries contain;
    * CacheManager substitutes it into each), unless `SPARK_GRAFT_NOCACHE`
    * is set. Results are the same either way.
    */
  def open(sfDir: String): QueryRunner = {
    val spark = LocalSession()
    if (!sys.env.contains("SPARK_GRAFT_NOCACHE")) etl.Interactions.cached(spark, sfDir)
    new QueryRunner(spark, sfDir)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The one JSON writer: maps in iteration order (a `ListMap` keeps its
    * keys in the order written), strings escaped, control characters too.
    */
  def json(v: Any): String = mapper.writeValueAsString(v)
}
