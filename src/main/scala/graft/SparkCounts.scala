package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine's one count of its own Spark work: one listener per
  * `SparkContext`, registered on first use, with running totals of jobs
  * started and ended, stages submitted, tasks ended and task shuffle-write
  * bytes. Events arrive asynchronously, so [[measure]] drains the listener
  * bus before and after its body, then waits until every job the window
  * started has posted its end (the rule of perfbench's `Tracer.closeQuery`),
  * failing with the started and ended counts after [[DrainTimeoutMs]].
  *
  * The totals are global, not keyed by job group (streaming execution
  * threads set their own group): `measure` windows must not overlap, and
  * any other Spark work running during a window is counted in it.
  */
object SparkCounts {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleWriteBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes)
  }

  val DrainTimeoutMs = 30000L

  private final class Totals extends SparkListener {
    var counts = Counts(0, 0, 0, 0)
    var jobsEnded = 0L
    var running = Set.empty[Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      counts = counts.copy(jobs = counts.jobs + 1)
      running += e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobsEnded += 1
      running -= e.jobId
      notifyAll()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { counts = counts.copy(stages = counts.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      counts = counts.copy(tasks = counts.tasks + 1, shuffleWriteBytes =
        counts.shuffleWriteBytes + (if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val totals = new java.util.WeakHashMap[SparkContext, Totals]

  private def totalsOf(sc: SparkContext): Totals = totals.synchronized {
    totals.computeIfAbsent(sc, _ => { val t = new Totals; sc.addSparkListener(t); t })
  }

  /** Blocks until every event posted so far has reached every listener
    * (e.g. the status tracker). `listenerBus` is `private[spark]`: reached
    * by reflection rather than from a class in Spark's package.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, Long.box(DrainTimeoutMs))
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  /** `body`'s result and the Spark work counted while it ran. */
  def measure[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val t = totalsOf(spark.sparkContext)
    drain(spark)
    val (c0, before) = t.synchronized((t.counts, t.running))
    val a = body
    val deadline = System.nanoTime() + DrainTimeoutMs * 1000000
    drain(spark)
    t.synchronized {
      while ((t.running -- before).nonEmpty) {
        val leftMs = (deadline - System.nanoTime()) / 1000000
        if (leftMs <= 0) throw new IllegalStateException(s"Spark jobs still " +
          s"running after $DrainTimeoutMs ms: ${t.counts.jobs} started, ${t.jobsEnded} ended")
        t.wait(leftMs)
      }
      (a, t.counts - c0)
    }
  }
}
