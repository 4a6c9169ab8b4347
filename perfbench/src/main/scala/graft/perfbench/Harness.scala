package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.{Memo, QueryDef, QueryRefusedException, StageTiming}

/** Benchmark harness: runs a given query sequence against one data
  * directory through the engine's public entry points, in one JVM.
  *
  * Each query is `QueryDef.build(spark, dir)` followed by one timed action,
  * an order-independent digest of the full result (row count plus the
  * decimal sum of one xxhash64 per row over every column), so every output
  * column is computed and the digest doubles as the correctness check.
  * Passes over the sequence repeat until `--seconds` have elapsed; Memo is
  * released between passes so every pass pays the same builds.
  *
  * Output is JSON lines prefixed with "@pb " on stdout (setup, one per
  * query, one per pass, end); `perfbench/run.py` turns them into metrics.
  * With `--trace 1` a SparkListener and a StreamingQueryListener attribute
  * every job, stage and task to the query that ran it (through a job group
  * set on the calling thread) and the span tree is written to `--spans`.
  *
  *   Harness --data DIR --queries q1,q2 --seconds S --trace 0|1 [--spans FILE]
  */
object Harness {

  /** The module that registers each query; six queries that run through
    * `streaming.EventsStream.runBounded` form their own layer.
    */
  val streamingQueries: Set[String] = Set("q_events_stream", "q_stream_dedup",
    "q_stream_join", "q_stream_join_capped", "q_stream_session", "q_stream_enrich")

  val layers: Seq[(String, Seq[Map[String, QueryDef]])] = Seq(
    "rel" -> Seq(graft.rel.StarQueries.defs, graft.rel.EventQueries.defs,
      graft.rel.DimQueries.defs, graft.rel.SeriesQueries.defs,
      graft.rel.TemporalQueries.defs),
    "etl" -> Seq(graft.etl.EtlQueries.defs),
    "rank" -> Seq(graft.rank.Metrics.defs),
    "score" -> Seq(graft.score.ScoreQueries.defs),
    "ext" -> Seq(graft.ext.LinkQueries.defs, graft.ext.TextQueries.defs,
      graft.ext.BpeQueries.defs, graft.ext.PackQueries.defs,
      graft.ext.DedupQueries.defs, graft.ext.CorpusQueries.defs,
      graft.ext.AssocQueries.defs, graft.ext.CurateQueries.defs,
      graft.ext.SimilarityQueries.defs, graft.ext.Multimodal.defs,
      graft.ext.MmdRbf.defs, graft.ext.IvfQueries.defs,
      graft.ext.GraphQueries.defs),
    "Lifecycle" -> Seq(graft.Lifecycle.defs))

  def layerOf(q: String): String =
    if (streamingQueries(q)) "streaming"
    else layers.collectFirst { case (l, ms) if ms.exists(_.contains(q)) => l }
      .getOrElse(sys.error(s"unknown query $q"))

  private val json = new ObjectMapper()
  private def emit(kind: String, fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", kind)
    fields.foreach { case (k, v) => m.put(k, toJava(v)) }
    println("@pb " + json.writeValueAsString(m))
  }
  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case b: BigDecimal => b.bigDecimal
    case x => x
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val dataDir = arg(args, "--data").getOrElse(sys.error("--data DIR required"))
    val queries = arg(args, "--queries").getOrElse(sys.error("--queries required"))
      .split(",").filter(_.nonEmpty).toSeq
    val unknown = queries.filterNot(graft.SparkEntry.defs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val (spark, phases) = setup(dataDir)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    emit("setup", "setup_s" -> setupS, "phases_s" -> phases, "conf" -> effectiveConf(spark))
    run(spark, dataDir, queries, seconds,
      if (trace) Some(new Tracer(spark)) else None, arg(args, "--spans"))
    spark.stop()
  }

  /** Session with `graft.Bench`'s settings, then Bench's untimed warm-up:
    * the session-wide persisted interaction log, the JIT warm-up of the
    * IVF loops and one synthetic end-to-end query. Returns the session and
    * the seconds each phase took.
    */
  def setup(dataDir: String): (SparkSession, Map[String, Double]) = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var t = System.nanoTime()
    def phase(name: String): Unit = {
      val n = System.nanoTime()
      phases(name) = (n - t) / 1e9
      t = n
    }
    phases("jvm_start") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cores = Runtime.getRuntime.availableProcessors
    val cwd = new java.io.File(".").getCanonicalFile
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      // run isolation: stored indexes land in this run's dir (run.py points
      // SPARK_LOCAL_DIRS there too)
      .config("spark.sql.warehouse.dir", new java.io.File(cwd, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session")
    graft.etl.Interactions(spark, dataDir).persist()
    phase("interactions")
    graft.ext.IvfQueries.warmJit()
    phase("warm_jit")
    val nat = spark.read.parquet(s"$dataDir/nation.parquet")
    val reg = spark.read.parquet(s"$dataDir/region.parquet")
    nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("c"), sum(length(col("n_name"))).as("s"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("r_name")
          .orderBy(col("c").desc)))
      .count()
    phase("warm_up_query")
    StageTiming.drain()
    (spark, phases.toMap)
  }

  def effectiveConf(spark: SparkSession): Map[String, String] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.files.maxPartitionBytes",
      "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.serializer",
      "spark.sql.streaming.stateStore.providerClass", "spark.driver.memory")
    keys.flatMap(k => spark.conf.getOption(k).map(k -> _)).toMap ++ Map(
      "jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jvm.cores" -> Runtime.getRuntime.availableProcessors.toString,
      "spark.version" -> spark.version)
  }

  /** Maps cannot be hashed in Spark 4.1; sort their entries into arrays. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case MapType(_, v, _) =>
      array_sort(transform(map_entries(c),
        e => struct(e.getField("key").as("k"), hashable(e.getField("value"), v).as("v"))))
    case ArrayType(e, _) if hasMap(e) => transform(c, x => hashable(x, e))
    case StructType(fs) if fs.exists(f => hasMap(f.dataType)) =>
      struct(fs.toIndexedSeq.map(f => hashable(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** (rows, sum of per-row xxhash64 as decimal): ANSI mode raises on a
    * long overflow, so the sum runs in decimal(38,0).
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def run(spark: SparkSession, dataDir: String, queries: Seq[String],
      seconds: Double, tracer: Option[Tracer], spansOut: Option[String]): Unit = {
    val memoBudget = Runtime.getRuntime.maxMemory / 3
    val cores = Runtime.getRuntime.availableProcessors
    val gc0 = gcMs
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var evictions = 0
    var cachedPeak = storageBytes(spark)
    var memoBuilds = 0
    var memoEntries = 0
    tracer.foreach(_.openWorkload(t0))
    while (pass == 0 || now < seconds) {
      val passStart = now
      val memoBefore = Memo.telemetry(spark).map(e => e._1 -> e._3).toMap
      queries.foreach { q =>
        val layer = layerOf(q)
        tracer.foreach(_.openQuery(q, pass))
        val qs = now
        var buildS = 0.0
        var status = "ok"
        var err = ""
        var rows = -1L
        var dig = ""
        try {
          val df = graft.SparkEntry.defs(q).build(spark, dataDir)
          buildS = now - qs
          tracer.foreach(_.buildDone())
          val (n, d) = digest(df)
          rows = n
          dig = d.toPlainString
        } catch {
          case e: QueryRefusedException => status = "refused"; err = e.getMessage
          case scala.util.control.NonFatal(e) => status = "error"; err = e.toString
        }
        val qe = now
        if (status != "ok" && buildS == 0.0) buildS = qe - qs
        val actionS = qe - qs - buildS
        val bk0 = now
        val stages = StageTiming.drain().filterNot(_._1.startsWith("+"))
        val traced = tracer.map(_.closeQuery(stages)).getOrElse(Map.empty)
        cachedPeak = math.max(cachedPeak, storageBytes(spark))
        evictions += Memo.enforceBudget(spark, memoBudget).size
        emit("query", Seq("pass" -> pass, "query" -> q, "layer" -> layer,
          "status" -> status, "error" -> err.take(300), "rows" -> rows,
          "digest" -> dig, "build_s" -> buildS, "action_s" -> actionS,
          "builder_stages" -> stages.toMap, "bookkeeping_s" -> (now - bk0)) ++ traced.toSeq: _*)
      }
      val wall = now - passStart
      val tel = Memo.telemetry(spark)
      val delta = tel.map(e => e._3 - memoBefore.getOrElse(e._1, 0)).filter(_ > 0)
      memoBuilds += delta.sum
      memoEntries += delta.size
      val rb0 = now
      Memo.release(spark)
      require(Memo.entries(spark).isEmpty,
        s"Memo entries survived release: ${Memo.entries(spark).mkString(",")}")
      emit("pass", "pass" -> pass, "wall_s" -> wall, "memo_builds" -> delta.sum,
        "memo_entries" -> delta.size, "bookkeeping_s" -> (now - rb0))
      pass += 1
    }
    val window = now
    val memoPeakMb = Memo.telemetry(spark).map(_._2).sum / 1048576.0
    val compileS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val traced = tracer.map(_.finish(window, spansOut, cores)).getOrElse(Map.empty)
    emit("end", Seq("passes" -> pass, "window_s" -> window,
      "cached_peak_mb" -> cachedPeak / 1048576.0,
      "jvm.gc_s" -> (gcMs - gc0) / 1e3, "jvm.compile_s" -> compileS,
      "Memo.builds" -> memoBuilds, "Memo.entries" -> memoEntries,
      "Memo.peak_mb" -> memoPeakMb, "Memo.evictions" -> evictions,
      "cores" -> cores) ++ traced.toSeq: _*)
  }

  /** Per-query Spark accounting and the span tree of a traced run. */
  final class Tracer(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
        var start: Double, var end: Double, val attrs: mutable.Map[String, Any])
    private val spans = mutable.ArrayBuffer.empty[Span]
    private def span(parent: Int, kind: String, name: String, start: Double,
        end: Double = Double.NaN): Span = spans.synchronized {
      val s = new Span(spans.size, parent, kind, name, start, end, mutable.Map.empty)
      spans += s
      s
    }
    // span times are seconds since the workload started; listener events
    // carry epoch milliseconds
    private var t0 = 0L
    private var t0EpochS = 0.0
    private def nowS = (System.nanoTime() - t0) / 1e9
    private def eventS(epochMs: Long): Double = epochMs / 1e3 - t0EpochS

    private final class Acc {
      var jobsStarted, jobsEnded, stages, tasks = 0
      var runMs, cpuNs, inB, shwB, shrB, spillB = 0L
    }
    private final class StreamAcc {
      var batches, inputRows, commitMs, triggerMs = 0L
      val stateRows = mutable.Map.empty[String, Long]
      val stateB = mutable.Map.empty[String, Long]
    }
    private final class QuerySpans(val query: Span, val build: Span) {
      @volatile var action: Span = null
    }
    // keyed by the query's run key "<query>#<n>"; jobs reach it through
    // their job group ("pb:<key>", or a streaming run id resolved through
    // streamRuns, because stream execution threads set their own group)
    private val streamRuns = new ConcurrentHashMap[String, String]()
    private val accs = new ConcurrentHashMap[String, Acc]()
    private val open = new ConcurrentHashMap[String, QuerySpans]()
    private val jobOwner = new ConcurrentHashMap[Int, String]()
    private val jobSpans = new ConcurrentHashMap[Int, Span]()
    private val stageOwner = new ConcurrentHashMap[Int, String]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val streams = new ConcurrentHashMap[String, StreamAcc]()
    private var taskAttempts, taskOk, stageRetries, unattributed = 0

    @volatile private var current: String = null
    private var workloadSpan: Span = null
    private var seq = 0

    sc.addSparkListener(this)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        val c = current
        if (c != null) streamRuns.put(e.runId.toString, c)
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val run = p.runId.toString
        Option(streamRuns.get(run)).foreach { o =>
          val a = streams.computeIfAbsent(o, _ => new StreamAcc)
          a.synchronized {
            a.batches += 1
            a.inputRows += p.numInputRows
            a.triggerMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
            a.commitMs += p.stateOperators.map(_.commitTimeMs).sum
            a.stateRows(run) = math.max(a.stateRows.getOrElse(run, 0L),
              p.stateOperators.map(_.numRowsTotal).sum)
            a.stateB(run) = math.max(a.stateB.getOrElse(run, 0L),
              p.stateOperators.map(_.memoryUsedBytes).sum)
          }
        }
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    private def owner(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => if (g.startsWith("pb:")) Some(g.drop(3)) else Option(streamRuns.get(g)))
    private def acc(o: String) = accs.computeIfAbsent(o, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = owner(e.properties) match {
      case Some(o) =>
        val a = acc(o)
        a.synchronized(a.jobsStarted += 1)
        jobOwner.put(e.jobId, o)
        val at = eventS(e.time)
        val parent = Option(open.get(o)).map { qs =>
          val act = qs.action
          if (act != null && at >= act.start) act.id else qs.build.id
        }.getOrElse(-1)
        jobSpans.put(e.jobId, span(parent, "job", s"job ${e.jobId}", at))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      case None => synchronized(unattributed += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobSpans.get(e.jobId)).foreach { js =>
        js.end = eventS(e.time)
        js.attrs("result") = e.jobResult.toString
      }
      Option(jobOwner.remove(e.jobId)).foreach { o =>
        val a = acc(o)
        a.synchronized(a.jobsEnded += 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      if (e.stageInfo.attemptNumber() > 0) synchronized(stageRetries += 1)
      owner(e.properties).foreach { o =>
        stageOwner.put(e.stageInfo.stageId, o)
        val a = acc(o)
        a.synchronized(a.stages += 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageOwner.containsKey(i.stageId)) {
        val parent = Option(jobSpans.get(stageJob.getOrDefault(i.stageId, -1)))
          .map(_.id).getOrElse(-1)
        span(parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
          i.submissionTime.map(eventS).getOrElse(Double.NaN),
          i.completionTime.map(eventS).getOrElse(Double.NaN)).attrs("tasks") = i.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      synchronized {
        taskAttempts += 1
        if (e.taskInfo.successful) taskOk += 1
      }
      val o = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (o != null && m != null) {
        val a = acc(o)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.inB += m.inputMetrics.bytesRead
          a.shwB += m.shuffleWriteMetrics.bytesWritten
          a.shrB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.spillB += m.diskBytesSpilled
        }
      }
    }

    def openWorkload(start: Long): Unit = {
      t0 = start
      t0EpochS = System.currentTimeMillis() / 1e3 - (System.nanoTime() - start) / 1e9
      workloadSpan = span(-1, "workload", "workload", 0.0)
    }
    def openQuery(q: String, pass: Int): Unit = {
      seq += 1
      val key = s"$q#$seq"
      val qs = span(workloadSpan.id, "query", q, nowS)
      qs.attrs("pass") = pass
      open.put(key, new QuerySpans(qs, span(qs.id, "build", "build", qs.start)))
      acc(key)
      current = key
      sc.setJobGroup("pb:" + key, q, interruptOnCancel = false)
    }
    def buildDone(): Unit = {
      val qs = open.get(current)
      qs.build.end = nowS
      qs.action = span(qs.query.id, "action", "action", qs.build.end)
    }

    /** Drains the listener bus until every job the query started has
      * posted its end, then closes the query span and returns its counts.
      * Depth-0 builder stages (StageTiming) become children of the build
      * span; they carry a duration, not start and end times.
      */
    def closeQuery(stages: Seq[(String, Double)]): Map[String, Any] = {
      val key = current
      val qs = open.get(key)
      val end = nowS
      if (qs.build.end.isNaN) qs.build.end = end
      if (qs.action != null) qs.action.end = end
      stages.foreach { case (name, sec) =>
        span(qs.build.id, "builder-stage", name, Double.NaN).attrs("seconds") = sec
      }
      val a = acc(key)
      val deadline = System.nanoTime() + 30_000_000_000L
      def settled = a.synchronized(a.jobsStarted == a.jobsEnded)
      ListenerBusDrain(sc, 30000L)
      while (!settled) {
        require(System.nanoTime() < deadline,
          s"$key: ${a.jobsStarted} jobs started, ${a.jobsEnded} ended")
        Thread.sleep(10)
        ListenerBusDrain(sc, 30000L)
      }
      val jobEnds = spans.synchronized(spans.filter(s => s.kind == "job" &&
        (s.parent == qs.build.id || qs.action != null && s.parent == qs.action.id))
        .map(_.end).filterNot(_.isNaN).toList)
      qs.query.end = (end :: jobEnds).max
      sc.clearJobGroup()
      current = null
      open.remove(key)
      val st = Option(streams.get(key)).map(s => s.synchronized(Map(
        "stream_batches" -> s.batches, "stream_input_rows" -> s.inputRows,
        "stream_state_rows" -> s.stateRows.values.sum,
        "stream_state_mb" -> s.stateB.values.sum / 1048576.0,
        "stream_commit_ms" -> s.commitMs, "stream_trigger_ms" -> s.triggerMs)))
      a.synchronized(Map(
        "jobs" -> a.jobsStarted, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9,
        "input_mb" -> a.inB / 1048576.0, "shuffle_write_mb" -> a.shwB / 1048576.0,
        "shuffle_read_mb" -> a.shrB / 1048576.0, "spill_mb" -> a.spillB / 1048576.0)) ++
        st.getOrElse(Map.empty)
    }

    def finish(window: Double, out: Option[String], cores: Int): Map[String, Any] = {
      ListenerBusDrain(sc, 30000L)
      workloadSpan.end = window
      out.foreach { p =>
        val rows = spans.synchronized(spans.toList).map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
            "start_s" -> (if (s.start.isNaN) null else s.start),
            "end_s" -> (if (s.end.isNaN) null else s.end)) ++ s.attrs
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          json.writeValueAsString(toJava(Map("cores" -> cores, "spans" -> rows))))
      }
      synchronized(Map("spark.task_attempts" -> taskAttempts,
        "spark.task_success_ratio" -> (if (taskAttempts == 0) 1.0 else taskOk.toDouble / taskAttempts),
        "spark.stage_retries" -> stageRetries,
        "spark.unattributed_jobs" -> unattributed))
    }
  }
}
