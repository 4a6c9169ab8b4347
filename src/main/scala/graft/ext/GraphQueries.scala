package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-analysis centrality over a derived graph — the PageRank-style
  * quality weighting a web-crawl pipeline runs over its host graph before
  * sampling a training mix (in-link mass ≈ trustworthiness prior).
  *
  * The graph here is the purchase bipartite graph (customer → supplier via
  * orders ⋈ lineitem, distinct pairs) because the corpus tables carry no
  * hyperlinks; the operator — iterative damped rank propagation with
  * dangling-mass redistribution — is the deliverable, and it is exactly
  * the shape a host graph needs.
  *
  * Determinism contract (why this replays bit-for-bit in DuckDB):
  * all rank arithmetic is fixed-point BIGINT on a 1e12 total-mass grid,
  * every division is integer division of NON-NEGATIVE operands (so Spark's
  * truncating `div`, DuckDB's floor `//`, and Scala's driver-side `/` all
  * agree), and the iteration is unrolled into identical CTE rounds:
  *   share(u→v)  = rank(u) div outdeg(u)          (per-edge, BEFORE damping)
  *   rank'(v)    = tele + (85·(Σ shares + dang div N)) div 100
  *   tele        = (15·1e12) div (100·N),  dang = Σ rank over dangling nodes
  *
  * 100 TB shape: per iteration ONE shuffle — the contribution aggregate
  * keyed on dst (edges stay partitioned by src; a cluster co-partitions
  * ranks with them, the standard Pregel layout). The dangling-node SET is
  * static and computed once; its per-iteration MASS is a 1-row aggregate
  * (the only driver-side value, not a data axis). Ranks are
  * `localCheckpoint`ed each round so the logical plan stays O(1) in
  * iterations — the same lineage rule as [[DedupCluster]]'s propagation.
  */
object GraphQueries {

  /** Total rank mass on the fixed-point grid (1e12 ⇒ ~12 significant
    * digits survive the per-iteration floor losses).
    */
  val SCALE: Long = 1000000000000L
  private val ITERS = 3
  private val DAMP_NUM = 85L // damping d = 0.85 as the ratio 85/100
  private val DAMP_DEN = 100L

  /** q_ppr seed rule: every 10th customer (by key) is in the seed
    * cohort. Teleport and dangling mass return ONLY to seeds, so the
    * stationary mass concentrates on the cohort's neighborhood — the
    * candidate-generation read of PPR (suppliers ranked by aggregated
    * seed preference).
    */
  private val PPR_SEED_MOD = 10L

  private def duckPprIter(t: Int): String =
    s"""sh$t AS (
       |  SELECT e.dst AS node, CAST(SUM(r.r // o.od) AS BIGINT) AS contrib
       |  FROM edges e JOIN r${t - 1} r ON r.node = e.src
       |  JOIN outdeg o ON o.src = e.src
       |  GROUP BY e.dst
       |), dg$t AS (
       |  SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dg
       |  FROM r${t - 1} r LEFT JOIN outdeg o ON o.src = r.node
       |  WHERE o.src IS NULL
       |), r$t AS (
       |  SELECT n0.node,
       |    CASE WHEN sd.node IS NULL THEN 0
       |         ELSE ($DAMP_DEN - $DAMP_NUM) * $SCALE // ($DAMP_DEN * ns.s)
       |    END
       |    + ($DAMP_NUM * (COALESCE(s.contrib, 0)
       |        + CASE WHEN sd.node IS NULL THEN 0 ELSE dg$t.dg // ns.s END))
       |      // $DAMP_DEN AS r
       |  FROM nodes n0 LEFT JOIN sh$t s ON s.node = n0.node
       |  LEFT JOIN seeds sd ON sd.node = n0.node
       |  CROSS JOIN ns CROSS JOIN dg$t
       |)""".stripMargin

  private val pprSql: String =
    s"""WITH edges_raw AS (
       |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT 'c' || CAST(ck AS VARCHAR) AS src,
       |         's' || CAST(sk AS VARCHAR) AS dst FROM edges_raw
       |), nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), outdeg AS (
       |  SELECT src, COUNT(*) AS od FROM edges GROUP BY src
       |), seeds AS (
       |  SELECT DISTINCT 'c' || CAST(ck AS VARCHAR) AS node
       |  FROM edges_raw WHERE ck % $PPR_SEED_MOD = 0
       |), ns AS (SELECT COUNT(*) AS s FROM seeds),
       |r0 AS (
       |  SELECT n0.node,
       |    CASE WHEN sd.node IS NULL THEN 0 ELSE $SCALE // ns.s END AS r
       |  FROM nodes n0 LEFT JOIN seeds sd ON sd.node = n0.node CROSS JOIN ns
       |),
       |${(1 to ITERS).map(duckPprIter).mkString(",\n")}
       |SELECT node, r AS ppr_fp FROM r$ITERS WHERE r > 0
       |ORDER BY ppr_fp DESC, node""".stripMargin

  private def duckIter(t: Int): String =
    s"""sh$t AS (
       |  SELECT e.dst AS node, CAST(SUM(r.r // o.od) AS BIGINT) AS contrib
       |  FROM edges e JOIN r${t - 1} r ON r.node = e.src
       |  JOIN outdeg o ON o.src = e.src
       |  GROUP BY e.dst
       |), dg$t AS (
       |  SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dg
       |  FROM r${t - 1} r LEFT JOIN outdeg o ON o.src = r.node
       |  WHERE o.src IS NULL
       |), r$t AS (
       |  SELECT n0.node,
       |    ($DAMP_DEN - $DAMP_NUM) * $SCALE // ($DAMP_DEN * nn.n)
       |      + ($DAMP_NUM * (COALESCE(s.contrib, 0) + dg$t.dg // nn.n))
       |        // $DAMP_DEN AS r
       |  FROM nodes n0 LEFT JOIN sh$t s ON s.node = n0.node
       |  CROSS JOIN nn CROSS JOIN dg$t
       |)""".stripMargin

  private val pagerankSql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), outdeg AS (
       |  SELECT src, COUNT(*) AS od FROM edges GROUP BY src
       |), nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, $SCALE // n AS r FROM nodes CROSS JOIN nn),
       |${(1 to ITERS).map(duckIter).mkString(",\n")}
       |SELECT node, r AS rank_fp FROM r$ITERS
       |ORDER BY rank_fp DESC, node""".stripMargin

  /** Hub cap for q_triangles' co-purchase projection: at most this many
    * suppliers per customer enter the pairing (deterministic h60 order).
    */
  val TriCap = 64

  private val trianglesSql: String = {
    val ord = graft.Hashing.duckH60("c", "s")
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), cap AS (
       |  SELECT c, s FROM (
       |    SELECT c, s, row_number() OVER (PARTITION BY c
       |      ORDER BY $ord, s) AS rn
       |    FROM cs)
       |  WHERE rn <= $TriCap
       |), e AS (
       |  SELECT DISTINCT a.s AS u, b.s AS v
       |  FROM cap a JOIN cap b ON a.c = b.c AND a.s < b.s
       |), deg AS (
       |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |    SELECT u AS n FROM e UNION ALL SELECT v FROM e)
       |  GROUP BY n
       |), o AS (
       |  SELECT CASE WHEN du.d * 100000000 + e.u < dv.d * 100000000 + e.v
       |      THEN e.u ELSE e.v END AS a,
       |    CASE WHEN du.d * 100000000 + e.u < dv.d * 100000000 + e.v
       |      THEN e.v ELSE e.u END AS b,
       |    CASE WHEN du.d * 100000000 + e.u < dv.d * 100000000 + e.v
       |      THEN dv.d * 100000000 + e.v ELSE du.d * 100000000 + e.u END AS rb
       |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
       |), wedge AS (
       |  SELECT e1.b AS x, e2.b AS y FROM o e1 JOIN o e2
       |    ON e2.a = e1.a AND e1.rb < e2.rb
       |), tri AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
       |  FROM wedge JOIN o e3 ON e3.a = wedge.x AND e3.b = wedge.y
       |), st AS (
       |  SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       |    CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       |    CAST((SELECT COUNT(*) FROM wedge) AS BIGINT) AS n_wedges,
       |    (SELECT n_tri FROM tri) AS n_triangles
       |)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  round(CAST(n_triangles AS DOUBLE) / n_wedges, 6) AS closure_ratio
       |FROM st""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "q_pagerank" -> QueryDef(pagerankSql) { (spark, d) => pagerank(spark, d) },

    // ---- personalized PageRank from a seed cohort — the
    //      candidate-generation read (mass concentrates on the cohort's
    //      purchase neighborhood). Same fixed-point/one-shuffle-per-
    //      round machinery as q_pagerank; the differences ARE the
    //      operator: r0 lives only on seeds, and teleport + dangling
    //      mass return ONLY to seeds (the "with restart" semantics), so
    //      unreached nodes stay exactly 0 and the output is the
    //      reachable neighborhood, not the whole graph ----
    "q_ppr" -> QueryDef(pprSql) { (spark, d) => ppr(spark, d) },

    // ---- triangle counting with degree-ordered orientation over the
    //      supplier co-purchase projection. The two 100 TB guards ARE
    //      the operator: (1) the projection's per-hub quadratic blowup
    //      is capped at TriCap suppliers per customer in deterministic
    //      h60 order, and the cap is enforced INSIDE the aggregation
    //      (an ascending, distinct TopKBuffer aggregate: every partial
    //      buffer, shuffle row and merge buffer holds ≤ TriCap entries,
    //      so a zipf hub costs O(cap) memory, never O(distinct
    //      suppliers) — VERDICT r14 #1), emitting at most C(cap,2)
    //      pairs per customer; the documented approximation dial, exact
    //      when no hub exceeds the cap; (2) every edge orients from its
    //      lower-(degree, id) endpoint, so wedge enumeration is bounded
    //      by O(m·α) (arboricity), not the hub degree — the standard
    //      distributed-triangle trick. The rank packs (deg, id) into one
    //      BIGINT so the wedge join carries a single 8-byte key ----
    "q_triangles" -> QueryDef(trianglesSql) { (spark, d) => triangles(spark, d) })

  /** The capped co-purchase pair projection (q_triangles' edge set,
    * pre-distinct): ONE customer-keyed shuffle whose aggregate IS the cap.
    *
    * Pair generation is the cooc cappedPairs kernel, not a self-join, and
    * the cap is enforced inside the aggregate, not by slicing a
    * `collect_set`: an ascending, distinct [[graft.rank.TopKBufferAgg]]
    * keeps the TriCap smallest distinct (h60, s) pairs per customer with
    * O(TriCap) state in every partial buffer, shuffle row and merge
    * buffer (collect_set buffered a hub's ENTIRE distinct supplier set —
    * VERDICT r14 #1). h is a function of (c, s), so distinct (h, s)
    * within a customer IS distinct s, and (h ASC, s ASC) is the old
    * row_number window's order. The plan sorts the kept s values (the
    * buffer's `_2` array) and explodes the C(d,2) pairs positionally —
    * u < v by construction, each unordered pair once. One exchange,
    * bounded state.
    */
  private def trianglePairs(spark: SparkSession, d: String): DataFrame = {
    val minK = udaf(new graft.rank.TopKBufferAgg(TriCap, descending = false,
      distinct = true))
    Tables.orders(spark, d)
      .join(Tables.lineitem(spark, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"),
        graft.Hashing.h60(col("o_custkey"), col("l_suppkey")).as("h"),
        col("l_suppkey").as("s"))
      .groupBy("c")
      .agg(array_sort(minK(col("h"), col("s")).getField("_2")).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (x, ix) ->
          |  transform(slice(ss, ix + 2, size(ss) - ix - 1),
          |            y -> named_struct('u', x, 'v', y))))""".stripMargin))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v")).distinct()
  }

  private def triangles(spark: SparkSession, d: String): DataFrame = {
    val R = 100000000L
    val e = trianglePairs(spark, d)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // persisted: consumed by BOTH orientation joins and the nNodes count
    // (r14 — unpersisted it was recomputed three times, a scan + union +
    // hash agg over the pair relation each time)
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v")))
      .groupBy("n").agg(count(lit(1)).cast("long").as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withDeg = e
      .join(deg.select(col("n").as("u"), (col("d") * R + col("n")).as("ru")), "u")
      .join(deg.select(col("n").as("v"), (col("d") * R + col("n")).as("rv")), "v")
    val o = withDeg.select(
        when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("a"),
        when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Out-adjacency per oriented source. Wedges and triangles are
    // computed WITHOUT enumerating wedge rows: on a dense projection the
    // wedge relation is Θ(Σ d_out²) — this synthetic co-purchase graph
    // is literally complete (closure_ratio 1.0), so enumerating wedges
    // materialized C(n,3) rows (166M at sf0.1, n³ growth — the old
    // 30-60s cost). Instead n_wedges is the closed form Σ C(d_out, 2),
    // and n_triangles sums |N⁺(a) ∩ N⁺(b)| per edge — the same
    // arboricity-bounded work, but done inside a codegen'd array
    // intersection over |E| rows: no wedge-sized shuffle exists at any
    // scale. Adjacency arrays are bounded by the orientation's max
    // out-degree (O(√m) on non-degenerate graphs; ≤ |V| worst case).
    val adj = o.groupBy("a")
      .agg(sort_array(collect_list("b")).as("nbrs"), count(lit(1)).as("dout"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // coalesce: sum over ZERO rows is null — an empty projection must
    // report 0 wedges/triangles, not throw on getLong. nEdges rides the
    // same aggregate (r14): every oriented edge lands in exactly one
    // adjacency list, so Σ dout = |o| = |e| — one action instead of a
    // separate e.count() job.
    val (nWedges, nEdges) = graft.StageTiming.timed("tri/adjacency") {
      val r = adj.agg(
        coalesce(sum(expr("(dout * (dout - 1)) div 2")), lit(0L)),
        coalesce(sum(col("dout")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // sorted_intersect_size: native two-pointer merge (zero allocation,
    // whole-stage codegen) — size(array_intersect(...)) built a per-row
    // hash set + result array just to take its length (5.2s → 1.5s for
    // this stage at sf0.1, SCALING.md round-7)
    graft.functions.SortedIntersectSize.ensureRegistered(spark)
    val nTri = graft.StageTiming.timed("tri/intersect") {
      o.join(adj.select(col("a"), col("nbrs").as("na")), Seq("a"))
        .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"), "left")
        .select(expr("sorted_intersect_size(na, " +
          "coalesce(nb, CAST(array() AS ARRAY<BIGINT>)))").as("k"))
        .agg(coalesce(sum(col("k")), lit(0L))).head().getLong(0)
    }
    val nNodes = deg.count()
    e.unpersist(false); o.unpersist(false); adj.unpersist(false)
    deg.unpersist(false)
    import spark.implicits._
    Seq((nNodes, nEdges, nWedges, nTri)).toDF(
        "n_nodes", "n_edges", "n_wedges", "n_triangles")
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(col("n_triangles").cast("double") / col("n_wedges"), 6)
          .as("closure_ratio"))
  }

  /** Purchase-graph relations shared by q_pagerank and q_ppr. The two
    * queries iterate over the IDENTICAL edge layout (distinct customer →
    * supplier pairs as long ids, outdeg-annotated and pinned to
    * HashPartitioning(src)), so the graph init is Memo-shared — the
    * q_candidates memoization rule: the first consumer pays the distinct
    * + repartition + persist chain once (attributed as memo/graph.*
    * stage lines), the second starts at steady-state cost. Memo owns the
    * persisted storage (LRU/telemetry/release); consumers must NOT
    * unpersist these.
    */
  private def graphInit(spark: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val edges = graft.Memo.cached(spark, d, "graph.edges") {
      Tables.orders(spark, d)
        .join(Tables.lineitem(spark, d),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    def outdeg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    // (src, dst, od), pinned to HashPartitioning(src): each iteration's
    // rank join then shuffles only the (small) rank table — the big edge
    // relation never moves again, the same "pay the shuffle once" layout
    // a cluster gets from bucketing
    val srcRanked = graft.Memo.cached(spark, d, "graph.srcRanked") {
      edges.join(outdeg, "src")
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val nodes = graft.Memo.cached(spark, d, "graph.nodes") {
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val danglers = graft.Memo.cached(spark, d, "graph.danglers") {
      val od = outdeg
      nodes.join(od, nodes("node") === od("src"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    (edges, srcRanked, nodes, danglers)
  }

  /** Personalized PageRank (see q_ppr entry). Long node ids and the
    * pay-the-shuffle-once edge layout are identical to [[pagerank]];
    * seeds carry the entire teleport/restart mass.
    */
  private def ppr(spark: SparkSession, d: String): DataFrame = {
    val (edges, srcRanked, nodes, danglers) = graphInit(spark, d)
    val seeds = edges
      .filter(expr(s"(src div 2) % $PPR_SEED_MOD = 0"))
      .select(col("src").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed count + seed teleport as a 1-row broadcast relation — the
    // same no-driver-collect fold as [[pagerank]]'s `nn` (r14)
    val nsRow = seeds.agg(count(lit(1)).as("ns"))
      .select(col("ns"),
        expr(s"(($DAMP_DEN - $DAMP_NUM) * $SCALE) div ($DAMP_DEN * ns)")
          .as("teleSeed"))

    var (ranks, relRanks) = graft.Memo.checkpointTracked(nodes
      .join(seeds.withColumn("sd", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(nsRow))
      .select(col("node"),
        when(col("sd").isNotNull, expr(s"$SCALE div ns")).otherwise(lit(0L))
          .cast("long").as("r")))
    for (_ <- 1 to ITERS) {
      // same broadcast 1-row dangling-mass fold as [[pagerank]] (r14):
      // `dm div ns` ≡ the old driver-side `dang / ns` (non-negative
      // truncating division), one job per round instead of two
      val dang = ranks.join(danglers, "node", "left_semi")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
        .crossJoin(broadcast(nsRow))
        .select(expr("dm div ns").as("dgn"), col("teleSeed"))
      val contrib = srcRanked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div od").as("share"))
        .groupBy("node").agg(sum(col("share")).as("contrib"))
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .join(seeds.withColumn("sd", lit(1)), Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (when(col("sd").isNotNull, col("teleSeed")).otherwise(lit(0L)) +
            expr(s"""($DAMP_NUM * (coalesce(contrib, CAST(0 AS BIGINT))
                    | + CASE WHEN sd IS NOT NULL THEN dgn
                    |        ELSE CAST(0 AS BIGINT) END)) div $DAMP_DEN"""
              .stripMargin))
            .cast("long").as("r"))
      // superseded rank table released as soon as the new round is
      // materialized — deterministic storage, not reference-GC timing
      val (nr, relNr) = graft.Memo.checkpointTracked(next)
      relRanks()
      ranks = nr
      relRanks = relNr
    }
    seeds.unpersist(false) // graph relations are Memo-owned — not ours to release
    ranks.filter(col("r") > 0)
      .select(
        concat(when(col("node") % 2 === 0, "c").otherwise("s"),
          expr("(node div 2)").cast("string")).as("node"),
        col("r").as("ppr_fp"))
      .orderBy(col("ppr_fp").desc, col("node"))
  }

  private def pagerank(spark: SparkSession, d: String): DataFrame = {
    // node ids stay LONG through every iteration (customer → 2k,
    // supplier → 2k+1) — the three per-round joins key on 8-byte longs
    // instead of "c…"/"s…" strings; the string label is rendered once
    // at output, where the oracle's node naming (and its tie order)
    // lives
    val (_, srcRanked, nodes, danglers) = graphInit(spark, d)
    // the node count stays a 1-row broadcast relation, never a driver
    // collect (r14): `nn` folds into every consumer's plan, so the old
    // up-front nodes.count() action disappears — tele and the initial
    // rank are the same truncating integer expressions over the column
    val nn = nodes.agg(count(lit(1)).as("n"))
      .select(col("n"),
        expr(s"(($DAMP_DEN - $DAMP_NUM) * $SCALE) div ($DAMP_DEN * n)")
          .as("tele"))

    var (ranks, relRanks) = graft.Memo.checkpointTracked(
      nodes.crossJoin(broadcast(nn))
        .select(col("node"), expr(s"$SCALE div n").as("r")))
    for (_ <- 1 to ITERS) {
      // dangling mass as a broadcast 1-row relation, not a driver
      // collect (r14, guide §5 "the driver should do almost no data
      // work"): the old per-round .first() was a blocking job per
      // iteration; folding it into the next-rank plan lets the round's
      // single checkpoint action compute it. `dm div n` = truncating
      // division of non-negative longs — identical to the old
      // driver-side `dang / n` literal.
      val dang = ranks.join(danglers, "node", "left_semi")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
        .crossJoin(broadcast(nn))
        .select(expr("dm div n").as("dgn"), col("tele"))
      val contrib = srcRanked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div od").as("share"))
        .groupBy("node").agg(sum(col("share")).as("contrib"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (col("tele") + expr(
            s"($DAMP_NUM * (coalesce(contrib, CAST(0 AS BIGINT)) + dgn)) div $DAMP_DEN"))
            .cast("long").as("r"))
      val (nr, relNr) = graft.Memo.checkpointTracked(next)
      relRanks()
      ranks = nr
      relRanks = relNr
    }
    // graph relations are Memo-owned — not ours to release
    ranks.select(
        concat(when(col("node") % 2 === 0, "c").otherwise("s"),
          expr("(node div 2)").cast("string")).as("node"),
        col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node"))
  }
}
