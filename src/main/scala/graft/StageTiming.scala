package graft

/** Per-stage wall-clock collector for the expensive builds (VERDICT r11
  * #8): operators wrap their internal stages in [[timed]], Bench drains
  * the buffer after every query and embeds the stages in the bench
  * artifact, so a capstone tail's host-vs-plan attribution (is the 600 s
  * in the kmeans train, the pair join, or spread evenly — i.e. load?)
  * is readable from the JSON alone, without a re-run. Profile prints
  * each query's drained stages after its timing line.
  *
  * Collection is always on — the cost is one queue append per stage, a
  * handful per query.
  */
object StageTiming {

  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]

  /** Ring-buffer cap (r13, ADVICE r12): collection is always-on, but only
    * Bench drains — a long-lived non-Bench process (Verify, a lifecycle
    * service) would otherwise grow the queue without bound. Past the cap
    * the OLDEST entry is dropped per append (recent stages are the ones a
    * post-hoc drain wants); the cap is far above any single query's stage
    * count, so Bench's per-query drains never hit it.
    */
  private val CAP = 8192
  private val size = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Nesting depth of [[timed]] scopes (ADVICE r13: a Memo.cached build
    * invoking another timed build — e.g. memo/sim.hardNegRepTop wrapping
    * hardneg/ivf-train wrapping memo/sim.pairFlatCents — recorded three
    * top-level entries for ONE train, so a drained per-query stage sum
    * could exceed the query wall). A stage recorded inside d enclosing
    * scopes is tagged with d leading '+' characters: depth-0 names sum to
    * non-overlapping wall seconds, '+'-prefixed entries RE-attribute
    * seconds already counted inside their enclosing stage (net them out
    * of any sum). Inheritable so the per-call thread pools the split
    * cache and lifecycle spawn INSIDE a timed scope (their threads are
    * created by the first submit, i.e. under the scope) tag their stages
    * as nested too.
    */
  private val depth = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def timed[A](stage: String)(body: => A): A = {
    val d = depth.get.intValue()
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try {
      val r = body
      record0(d, stage, (System.nanoTime() - t0) / 1e9)
      r
    } finally depth.set(d)
  }

  /** Record an already-measured stage (for loops where a wrapping block
    * would obscure the control flow).
    */
  def record(stage: String, sec: Double): Unit =
    record0(depth.get.intValue(), stage, sec)

  private def record0(d: Int, stage: String, sec: Double): Unit = {
    val tagged = if (d <= 0) stage else ("+" * d) + stage
    if (size.incrementAndGet() > CAP && buf.poll() != null)
      size.decrementAndGet()
    buf.add(tagged -> sec)
  }

  /** Entries recorded since the last drain, in record order, repeated
    * stage names summed (an epoch loop hits the same stage per epoch).
    * Bench and Profile call this once per query, so the drained list is exactly
    * that query's stages — memoized builds report on the query that
    * actually built.
    */
  def drain(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var e = buf.poll()
    while (e != null) {
      size.decrementAndGet()
      out.updateWith(e._1) {
        case Some(v) => Some(v + e._2)
        case None => Some(e._2)
      }
      e = buf.poll()
    }
    out.toSeq
  }
}
