package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over duplicate-pair edges — the cluster-assembly
  * stage a dedup pipeline runs AFTER candidate verification, so it keeps
  * one canonical document per transitive duplicate set (pair lists alone
  * over-delete: a–b and b–c verified pairs must collapse to ONE keeper,
  * not two independent drops).
  *
  * Algorithm: FRONTIER (delta) min-label propagation. Every vertex starts
  * labeled with itself and every vertex is in the round-0 frontier; each
  * round, only the vertices whose label CHANGED last round push their
  * label to their neighbors, and a neighbor adopts the pushed minimum iff
  * it beats its current label. Fixpoint (empty frontier) = every vertex
  * carries its component's minimum id. Rounds needed = graph diameter;
  * duplicate graphs are near-clique bundles, so 2–3 rounds in practice.
  * The frontier form matters at scale: full re-propagation joins ALL
  * edges against ALL labels every round, while the delta form's
  * round-k join touches only edges incident to the round-(k-1) changes,
  * so rounds after the first are nearly free on near-clique dup graphs.
  * (In the 100× probe both forms time alike — there the wall clock is
  * the PAIR-GENERATION input, whose replicated corpus packs C(100,2)
  * pairs per cluster; the propagation tail is small either way. The
  * delta form's win appears when V is large and the diameter isn't 1 —
  * long-tail chains of near-dups — where full re-propagation pays the
  * whole edge join per round.) Graphs up to [[CC_DRIVER_MAX_EDGES]]
  * edges never reach the loop: a driver union-find labels them in one
  * collect. Alternating large-star/small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14) walks
  * adversarial long chains in O(log n) rounds; no query needed it, so it
  * is not kept.
  *
  * Scale shape (100 TB): per round, one shuffle join of edges(u,v) to the
  * frontier plus one hash aggregate, both keyed by 8-byte vertex ids, and
  * one labels⋈updates join whose right side shrinks toward zero — all
  * partition cleanly across executors. State is O(V+E), never collected
  * to the driver; the only driver action per round is the frontier count.
  * Labels and frontier are eagerly `localCheckpoint`ed each round: the
  * new round references the previous state repeatedly, so without
  * lineage truncation the logical plan grows multiplicatively and
  * planning itself OOMs long before the data does (superseded checkpoint
  * blocks are reference-GC'd by Spark's ContextCleaner). On a real
  * cluster swap `localCheckpoint` for reliable `checkpoint` if executor
  * loss during the (short) propagation must be survivable.
  */
object DedupCluster {

  /** Hard cap on propagation rounds: a duplicate graph needing more than
    * this many rounds (diameter > 48) is not a dedup workload — fail
    * loudly rather than silently return unconverged labels.
    */
  private val MAX_ROUNDS = 48

  /** Edge-count gate for the driver union-find fast path: a verified
    * duplicate-pair relation at or below this many distinct pairs is
    * collected and labeled on the driver (≤ ~32 MB of 16-byte pairs —
    * the same count-gated collect-with-distributed-fallback discipline
    * as the sampler catalogs and ANN codebooks). The dup graph is tiny
    * relative to its corpus (it holds only verified near-duplicate
    * PAIRS, not documents), so even a 100 TB corpus's post-verification
    * graph usually fits; past the gate the distributed propagation loop
    * runs unchanged.
    */
  private val CC_DRIVER_MAX_EDGES = 2000000

  /** `pairs(doc_a, doc_b)` undirected edges → `(id, label)` with
    * `label` = min doc_id of the connected component. Only vertices that
    * appear in at least one pair are emitted (unpaired docs are trivially
    * their own singleton cluster and carry no dedup decision).
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    // Count-gated driver union-find fast path (r14). The distributed
    // propagation loop is job-latency bound, not data bound, on small
    // graphs: diameter-many rounds × 2 jobs × ~0.15s scheduling floor
    // (5.6s of the sf0.1 q_dedup_embed_cluster line was a 17-round walk
    // over a few thousand labels; a fused multi-hop round was measured
    // WORSE — see the loop note). Labels are the component minimum —
    // algorithm-independent and deterministic — so a driver union-find
    // over the collected pair list returns the identical relation
    // (DedupClusterSpec compares all three implementations). The
    // limit(N+1) collect IS the gate: a graph past the cap falls
    // through to the propagation loop having collected nothing extra.
    if (fwd.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType)) {
      val t0 = System.nanoTime()
      val collected = fwd.limit(CC_DRIVER_MAX_EDGES + 1).collect()
      if (collected.length <= CC_DRIVER_MAX_EDGES) {
        val labels = driverUnionFind(collected)
        graft.StageTiming.record(
          s"cc/propagate(driver uf, ${collected.length} pairs)",
          (System.nanoTime() - t0) / 1e9)
        val spark = pairs.sparkSession
        import spark.implicits._
        return labels.toSeq.toDF("id", "label")
      }
    }
    connectedComponentsPropagate(pairs)
  }

  /** The distributed frontier-propagation loop — [[connectedComponents]]'
    * past-the-gate arm, exposed so DedupClusterSpec can prove it equals
    * the driver union-find on the same graphs.
    */
  private[ext] def connectedComponentsPropagate(pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = fwd.unionAll(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // tracked checkpoints: each round's state supersedes the previous
    // round's — release the old blocks as soon as the new state is
    // materialized instead of waiting for reference-GC (deterministic
    // storage under Memo's byte budget).
    //
    // Fused round state (r14): (id, label, chg) in ONE checkpointed
    // relation — chg marks membership in the next frontier. The old
    // shape checkpointed `updates` AND the merged labels separately
    // (two materializations + a count + two joins per round); fusing
    // the adopt-filter into the label merge does one left join, one
    // checkpoint and one count-over-checkpointed-filter per round —
    // 17-round graphs (q_dedup_embed_cluster at sf0.1) drop a third of
    // their propagation jobs. Label arithmetic is unchanged: adopt the
    // pushed min iff it strictly improves, so results are identical.
    var (state, relState) = graft.Memo.checkpointTracked(
      edges.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("label"), lit(true).as("chg")))
    // round-0 frontier = every vertex (its self-label is "new")
    var active = state.count()
    var rounds = 0
    // one stage for the whole propagation loop: CC feeds several
    // queries (q_dedup_embed_cluster, q_dedup_cluster, curation), and a
    // driver-side anomaly needs "was it the CC rounds or the edge
    // build" answerable from the bench artifact (VERDICT r11 #4)
    val tCc = System.nanoTime()
    while (active > 0 && rounds < MAX_ROUNDS) {
      // labels pushed across edges FROM the frontier only. (Fusing
      // several hops into one checkpointed round was measured and
      // rejected in r14: each lazy hop nests the previous hop's plan
      // twice — push branch + merge branch — so a 4-hop round
      // re-evaluates hop 1 up to 8×; 5.6s → 10.7s on the 17-round
      // sf0.1 graph. One hop per checkpoint stands.)
      val pushed = edges
        .join(state.filter(col("chg"))
          .select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u")).agg(min(col("label")).as("cand"))
      val (ns, relNs) = graft.Memo.checkpointTracked(
        state.select(col("id"), col("label"))
          .join(pushed.select(col("u").as("id"), col("cand")), Seq("id"), "left")
          .select(col("id"),
            when(col("cand") < col("label"), col("cand"))
              .otherwise(col("label")).as("label"),
            coalesce(col("cand") < col("label"), lit(false)).as("chg")))
      relState()
      state = ns
      relState = relNs
      active = state.filter(col("chg")).count()
      rounds += 1
    }
    graft.StageTiming.record(s"cc/propagate($rounds rounds)",
      (System.nanoTime() - tCc) / 1e9)
    edges.unpersist()
    require(active == 0,
      s"connectedComponents did not converge in $MAX_ROUNDS rounds")
    // labels stay live for the caller (the final state's release handle
    // is deliberately not invoked)
    state.select(col("id"), col("label"))
  }

  /** Union-find with union-by-min over a collected pair list: the root
    * of every set is its minimum id (a larger root always attaches
    * under a smaller one), so `find` returns exactly the component
    * minimum the propagation loop converges to. Output sorted by id so
    * the relation is deterministic row-for-row across JVMs.
    */
  private def driverUnionFind(
      rows: Array[org.apache.spark.sql.Row]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp)
        x = p
        p = gp
      }
      x
    }
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    rows.foreach { r =>
      val u = r.getLong(0); val v = r.getLong(1)
      add(u); add(v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val out = new Array[(Long, Long)](parent.size)
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) {
      val k = it.next()
      out(i) = (k, find(k))
      i += 1
    }
    scala.util.Sorting.quickSort(out)(Ordering.by(_._1))
    out
  }
}
