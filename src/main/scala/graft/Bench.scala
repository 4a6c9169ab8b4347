package graft

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import QueryRunner.{Failed, Refused, Run}

/** The timing harness: every registered query against one scale dir
  * (`SPARK_GRAFT_SF_DIR`), `df.count()` timed through [[QueryRunner]]
  * after an untimed warm-up. Prints two JSON lines ([[lines]]).
  *
  * A refusal (see QueryRefusedException) is the query KEEPING its
  * documented output-budget contract on data where the contract is
  * ill-posed — a distinct outcome from an error, and its elapsed (just the
  * bound-computation aggregates) is kept OUT of the completed-query
  * timings so totals stay comparable between runs where the refusal trips
  * and runs where it doesn't.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runner = QueryRunner.open(sfDir)
    val loadStart = QueryRunner.loadAvg
    val gcStart = gcMs
    warmUp(runner.spark, sfDir)
    // dev-only exclusion for stress runs (the timed contract run never sets it):
    // lets a skewed-data suite run the queries whose OUTPUT stays
    // well-posed under the skew, skipping ones that are output-quadratic
    // in a hot key BY SEMANTICS (see SCALING.md on q_stream_join @ zipf)
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").toSet).getOrElse(Set.empty[String])
    // a failed query must be LOUD — a swallowed error reads as a
    // suspiciously fast query in the timings
    val runs = runner(skip = skip)((_, df) => df.count()).tapEach(r => r.outcome match {
      case Refused(msg) => System.err.println(s"[bench] ${r.name} REFUSED: $msg")
      case Failed(msg) => System.err.println(s"[bench] ${r.name} FAILED: $msg")
      case _ =>
    }).toList
    val (full, compact) = lines(runner.spark, sfDir, runs, loadStart, gcStart)
    println(full)
    // full, untruncated artifact: a reader that keeps only a log tail
    // drops entries past its window, so comparisons need a file
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), full + "\n")
    }
    println(compact)
    runner.spark.stop()
  }

  /** The full artifact line and the compact summary line over `runs`.
    * Refused runs are left out of `value`, `queries` and `loads`; failed
    * runs stay in (and in `errors`). `counts` has every run's Spark work.
    * A reader that keeps only the LAST ~2000 chars of stdout loses the
    * full line's head, so the compact line is printed last: totals,
    * errors/refused and the 20 slowest queries. `gcStartMs` is [[gcMs]]
    * at the start of the run; JVM telemetry (suite GC seconds, peak heap,
    * load at both ends) separates heap pressure from host co-tenancy.
    */
  def lines(spark: SparkSession, sfDir: String, runs: Seq[Run[Any]],
      loadStart: Double, gcStartMs: Long): (String, String) = {
    def obj(kv: Seq[(String, Any)]) = ListMap(kv: _*)
    val (refusedRuns, timed) = runs.partition(_.outcome.isInstanceOf[Refused])
    val errors = runs.filter(_.outcome.isInstanceOf[Failed]).map(_.name).sorted
    val refused = refusedRuns.map(_.name).sorted
    val total = timed.map(_.sec).sum
    val cpus = spark.sparkContext.defaultParallelism
    val evictions = runs.map(_.evictions).sum
    val peakHeapB = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getPeakUsage != null)
      .map(_.getPeakUsage.getUsed).sum
    val jvm = Seq("load_avg_end" -> r1(QueryRunner.loadAvg),
      "gc_time_sec" -> r1((gcMs - gcStartMs) / 1000.0),
      "peak_heap_mb" -> peakHeapB / 1048576,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val full = obj(Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> obj(timed.map(r => r.name -> r.sec)),
      "errors" -> errors, "refused" -> refused,
      "refused_sec" -> obj(refusedRuns.sortBy(_.name).map(r => r.name -> r1(r.sec))),
      "sf" -> sfDir, "load_avg_start" -> r1(loadStart),
      "loads" -> obj(timed.map(r => r.name -> r1(r.load))),
      "cpus" -> cpus) ++ jvm ++ Seq(
      "memo_budget_mb" -> QueryRunner.MemoBudget / 1048576,
      "memo_evictions" -> evictions,
      "memo_entries" -> obj(Memo.telemetry(spark).map { case (n, b, c) =>
        n -> obj(Seq("peak_mb" -> b / 1048576, "builds" -> c)) }),
      "stages" -> obj(runs.filter(_.stages.nonEmpty)
        .map(r => r.name -> obj(r.stages.map { case (s, v) => s -> r1(v) }))),
      "counts" -> obj(runs.map { r =>
        r.name -> obj(Seq("jobs" -> r.counts.jobs, "stages" -> r.counts.stages,
          "tasks" -> r.counts.tasks, "shuffle_write_bytes" -> r.counts.shuffleWriteBytes,
          "build_s" -> math.rint(r.buildSec * 1000) / 1000))
      })))
    val compact = obj(Seq("metric" -> "total", "value" -> r1(total), "unit" -> "sec",
      "n_queries" -> timed.size, "errors" -> errors, "refused" -> refused,
      "sf" -> sfDir, "cpus" -> cpus, "load_avg_start" -> r1(loadStart)) ++ jvm ++ Seq(
      "memo_evictions" -> evictions,
      "queries" -> obj(timed.sortBy(-_.sec).take(20).map(r => r.name -> r1(r.sec)))))
    (QueryRunner.json(full), QueryRunner.json(compact))
  }

  /** JVM-wide GC milliseconds so far. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** `d` to one decimal, half up. */
  private def r1(d: Double): Double =
    BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** UNTIMED warm-up, so the first timed lines do not absorb the JVM/JIT
    * ramp (cold, q_sim_index_build/q_dedup_index_build took 37.3/30.4 s
    * against 15.3/11.5 s warm). Warms the compiled centroid loops
    * directly (local mode shares one JVM with the task closures), then
    * runs a synthetic query, NOT a suite entry, so no timed line becomes
    * a warmed second run: a dim-table scan + broadcast join + shuffle agg
    * + partitioned window drive the codegen compiler, parquet reader and
    * shuffle machinery through the suite's code paths.
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    ext.IvfQueries.warmJit()
    try {
      import org.apache.spark.sql.functions._
      val nat = spark.read.parquet(s"$sfDir/nation.parquet")
      val reg = spark.read.parquet(s"$sfDir/region.parquet")
      nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("c"), sum(length(col("n_name"))).as("s"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("r_name")
            .orderBy(col("c").desc)))
        .count()
    } catch {
      // NonFatal only: a swallowed OutOfMemoryError would let the timed
      // suite continue in an unreliable JVM. Logged, since a silent
      // warm-up failure leaves cold-JIT noise in the first timed lines
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed (timed suite continues cold): $e")
    }
  }
}
