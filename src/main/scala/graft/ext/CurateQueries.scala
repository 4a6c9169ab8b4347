package graft.ext

import graft.{Hashing, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators a production training-data pipeline runs
  * between dedup and mixture assembly: directional containment dedup
  * (partial-copy / quote-inclusion detection — the asymmetric case
  * Jaccard misses), temperature-smoothed per-source sampling quotas
  * (the multilingual/domain balancing rule), Poisson-bootstrap
  * confidence intervals (uncertainty for corpus metrics without a
  * second pass or any data movement), and semi-supervised label
  * propagation over the near-dup graph (metadata repair: fill missing
  * labels from duplicate neighbors).
  *
  * Reference scope: the reference pipeline (ETL-master main_my.py)
  * consumes already-curated interaction files; these operators are the
  * corpus-side preparation stage it presupposes, re-expressed
  * Spark-first (SURVEY.md §2.11 extension families).
  */
object CurateQueries {

  private val M = DecimalType(18, 3)
  private def dec(c: org.apache.spark.sql.Column) = c.cast(M)

  /** Containment shingle size (word 4-grams — the SAME memoized index
    * as q_dedup_ngram: DedupQueries.ngramCandPairs/ngramShingleSets).
    */
  private val CONT_K = DedupQueries.NGRAM_K

  /** Candidate-index df cap: only shingles shared by 2..MAX_DF docs
    * generate pairs (the rare-shingle inverted index; recall argument
    * in q_dedup_ngram's scaladoc applies unchanged). Pinned to the
    * shared index's cap — the oracle SQL interpolates these, so the
    * shared subtree and the SQL stay in lockstep by construction.
    */
  private val CONT_MAX_DF = DedupQueries.MAX_DF

  /** Directional containment threshold: emit (inner, outer) when ≥70%
    * of the inner doc's shingles appear in the outer doc.
    */
  private val CONT_MIN = 0.7

  /** Per-source sampling temperature α = 1/2 (weights ∝ n^α): the
    * sqrt-smoothing used for multilingual/domain mixture balancing —
    * big sources are down-weighted, small sources up-weighted,
    * relative order preserved.
    */
  private val QUOTA_BUDGET_DIV = 5 // keep floor(total/5) ≈ 20% of docs

  /** Neyman-allocation eval budget: floor(total/10) ≈ 10% of docs. */
  private val NEYMAN_BUDGET_DIV = 10

  /** Bootstrap replica count. 32 replicas → CI from the 2nd/31st order
    * statistics (≈ a 94% interval). Driver-side state is |groups|×32
    * rows; everything else map-side combines.
    */
  private val BOOT_R = 32

  /** CUPED pre/post boundary — the same date q_incr_agg splits on, so
    * the "experiment start" is consistent across the event-analytics
    * suite. Pre-period covariate = event count before; metric =
    * purchase value after.
    */
  private val CUPED_CUTOFF = "2024-01-20 00:00:00"

  /** Cumulative Poisson(1) CDF boundaries scaled to 2^60, so a 60-bit
    * uniform hash draws a Poisson weight by integer comparison alone
    * (w = #{k : h ≥ T_k}, capped at 8; P(w>8) ≈ 1.1e-6). Integer
    * compares replay bit-exact in any engine — no float RNG parity
    * risk.
    */
  private val POIS_T = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L, 1152909688087595836L)

  /** The Poisson(1) weight [[POIS_T]] draws from the 60-bit hash `h`. */
  private[graft] def poissonWeight(h: Column): Column =
    POIS_T.map(t => when(h >= t, 1).otherwise(0)).reduce(_ + _)

  /** Directed near-dup edges (u→v, both directions of every verified
    * MinHash pair) — the label-propagation substrate. PERSISTED once
    * per (session, scale dir): the propagation consumes the edge
    * relation in every round plus the seed scan, and without the pin
    * each consumer would re-run the whole MinHash band+verify pipeline
    * (measured 120s → ~8s at the 30× probe; the q_candidates
    * memoization rule).
    */
  private def dupEdges(spark: SparkSession, d: String): DataFrame =
    graft.Memo.cached(spark, d, "curate.dupEdges") {
      // derived from the MEMOIZED verified-pair relation (r9) — the
      // symmetric expansion is cheap; the band+verify subtree is the
      // expensive part and is shared with the three dedup consumers
      val vp = DedupQueries.minhashVerifiedPairs(spark, d)
        .select("doc_a", "doc_b")
      vp.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionAll(vp.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .persist()
    }

  /** One majority-vote round: unlabeled (odd doc_id) nodes take the
    * most common label among their labeled neighbors; ties break by
    * label ascending, so the round is deterministic.
    */
  private def voteRound(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.filter(col("u") % 2 === 1)
      .join(labels.select(col("doc_id").as("v"), col("label")), "v")
      .groupBy("u", "label").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("c").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("u").as("doc_id"), col("label"))

  val defs: Map[String, QueryDef] = Map(

    // ---- q_dedup_containment: directional shingle containment
    //      cont(inner→outer) = |S_inner ∩ S_outer| / |S_inner|. Catches
    //      subset copies (a short doc embedded in a long one) that
    //      symmetric Jaccard scores near |small|/|large| and misses.
    //      Same two-phase rare-shingle inverted index as q_dedup_ngram
    //      (df counts first — bare longs, map-side combinable — doc
    //      lists only for the ≤MAX_DF buckets), then ONE arrays verify
    //      with the native sorted-intersect; each unordered pair fans
    //      out to its ≤2 qualifying directions post-verify. 100 TB:
    //      identical economics to q_dedup_ngram (SCALING.md r8) — the
    //      directional fan-out is O(pairs), not O(shingles) ----
    "q_dedup_containment" -> QueryDef(
      s"""WITH ${TextOps.duckWordShingleHashesCte(CONT_K)},
         |rare AS (
         |  SELECT sh FROM shingles GROUP BY sh
         |  HAVING COUNT(*) BETWEEN 2 AND $CONT_MAX_DF
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shingles a
         |  JOIN rare r ON a.sh = r.sh
         |  JOIN shingles b ON b.sh = a.sh AND a.doc_id < b.doc_id
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS ns FROM shingles GROUP BY doc_id
         |), inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
         |  FROM cand c
         |  JOIN shingles sa ON sa.doc_id = c.doc_a
         |  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |  GROUP BY c.doc_a, c.doc_b
         |), dir AS (
         |  SELECT i.doc_a AS inner_id, i.doc_b AS outer_id, i.ni,
         |    round(CAST(i.ni AS DOUBLE) / sa.ns, 6) AS cont
         |  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |  UNION ALL
         |  SELECT i.doc_b, i.doc_a, i.ni,
         |    round(CAST(i.ni AS DOUBLE) / sb.ns, 6)
         |  FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b
         |)
         |SELECT inner_id, outer_id, ni, cont FROM dir
         |WHERE cont >= $CONT_MIN
         |ORDER BY inner_id, outer_id""".stripMargin) { (spark, d) =>
      graft.functions.SortedIntersectSize.ensureRegistered(spark)
      // the candidate pairs and per-doc arrays are the memoized k=4
      // rare-shingle index shared with q_dedup_ngram (CONT_K = NGRAM_K,
      // CONT_MAX_DF = MAX_DF — the require in this object's initializer
      // pins the contract)
      val cand = DedupQueries.ngramCandPairs(spark, d)
      val sets = DedupQueries.ngramShingleSets(spark, d)
      // ONE verify pass per unordered pair; the ≤2 qualifying directed
      // rows explode from an in-row array (a union of two selects here
      // would execute the whole candidate+verify subtree twice)
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          expr("sorted_intersect_size(sa, sb)").as("ni"),
          size(col("sa")).cast("long").as("na"),
          size(col("sb")).cast("long").as("nb"))
        .select(explode(array(
          struct(col("doc_a").as("inner_id"), col("doc_b").as("outer_id"),
            col("ni"), round(col("ni").cast("double") / col("na"), 6).as("cont")),
          struct(col("doc_b").as("inner_id"), col("doc_a").as("outer_id"),
            col("ni"), round(col("ni").cast("double") / col("nb"), 6).as("cont"))))
          .as("r"))
        .select("r.*")
        .filter(col("cont") >= CONT_MIN)
        .orderBy("inner_id", "outer_id")
    },

    // ---- q_source_quota: temperature-smoothed per-source quotas
    //      (weights ∝ √n, the α=0.5 multilingual sampling rule) over a
    //      20% corpus budget, with the kept set chosen by deterministic
    //      h60 order. All quota arithmetic is exact-integer: weights
    //      fixed-point to 1e-6 (√n is correctly-rounded IEEE in every
    //      engine, so the fixed-point values agree bit-exact), the
    //      weight total is an integer SUM (order-independent — a
    //      floating accumulation here would be engine-order dependent),
    //      and quota = budget·w DIV Σw floors in int64 (valid while
    //      budget·maxw < 2^63 ≈ 10⁹ docs at this fixed-point scale; a
    //      larger corpus drops the scale to 1e3). 100 TB: one count
    //      agg, a ~|sources|-row broadcast, one per-source rank window,
    //      one final agg — the checksum proves the SELECTION (not just
    //      the counts) is reproducible cross-engine ----
    "q_source_quota" -> QueryDef(
      s"""WITH cnt AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
         |), tot AS (
         |  SELECT SUM(n_docs) AS n_total,
         |    SUM(CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)) AS tw
         |  FROM cnt
         |), q AS (
         |  SELECT source, n_docs,
         |    CAST(GREATEST((n_total // $QUOTA_BUDGET_DIV)
         |      * CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
         |      // tw, 1) AS BIGINT) AS quota
         |  FROM cnt, tot
         |), ranked AS (
         |  SELECT d.source, d.doc_id,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY ${Hashing.duckH60("d.doc_id", "'quota'")}, d.doc_id) AS rn
         |  FROM documents d
         |)
         |SELECT q.source, q.n_docs, q.quota,
         |  CAST(COUNT(CASE WHEN r.rn <= q.quota THEN 1 END) AS BIGINT) AS kept,
         |  CAST(COALESCE(SUM(CASE WHEN r.rn <= q.quota THEN r.doc_id END), 0)
         |    AS BIGINT) AS checksum
         |FROM q JOIN ranked r ON r.source = q.source
         |GROUP BY q.source, q.n_docs, q.quota
         |ORDER BY q.source""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d).select("source", "doc_id")
      val wfix = round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long")
      val cnt = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = cnt.agg(sum("n_docs").as("n_total"), sum(wfix).as("tw"))
      // exact int64 floor division end-to-end (all operands positive, so
      // Spark DIV == DuckDB // here): double division would drift off the
      // oracle by 1 once budget·wfix nears 2^53 or the quotient lands
      // within double-rounding distance of an integer
      val q = cnt.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          greatest(expr(
            s"(n_total DIV $QUOTA_BUDGET_DIV) * " +
              "cast(round(sqrt(cast(n_docs as double)) * 1e6) as bigint) " +
              "DIV tw"), lit(1L)).as("quota"))
      val ranked = docs.withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(Hashing.h60(col("doc_id"), lit("quota")), col("doc_id"))))
      broadcast(q).join(ranked, "source")
        .groupBy("source", "n_docs", "quota")
        .agg(count(when(col("rn") <= col("quota"), 1)).as("kept"),
          coalesce(sum(when(col("rn") <= col("quota"), col("doc_id"))), lit(0L))
            .cast("long").as("checksum"))
        .orderBy("source")
    },

    // ---- q_neyman_alloc: Neyman-optimal stratified sampling — the
    //      statistically principled upgrade of q_source_quota's
    //      temperature rule: the eval-set budget allocates per stratum
    //      ∝ N_h·σ_h (high-variance strata get proportionally more
    //      rows, minimizing the stratified estimator's variance at
    //      fixed budget). The algebra gift: N_h·σ_h = √(n·Σxx − Σx²)
    //      exactly, so the weight is ONE sqrt of an exact DECIMAL
    //      moment — no mean subtraction, no float accumulation.
    //      Allocation = exact integer floor division of fixed-point
    //      weights (the quota discipline), capped at N_h; selection =
    //      the same deterministic h60 rank. ONE stats agg + ONE ranked
    //      pass at any scale ----
    "q_neyman_alloc" -> QueryDef(
      s"""WITH st AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS HUGEINT) AS sx,
         |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sxx
         |  FROM documents GROUP BY source
         |), w AS (
         |  SELECT source, n_docs,
         |    round(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) / n_docs, 6)
         |      AS sigma,
         |    CAST(round(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)))
         |      AS BIGINT) AS wfix
         |  FROM st
         |), tot AS (
         |  SELECT SUM(n_docs) AS n_total, SUM(wfix) AS tw FROM w
         |), q AS (
         |  SELECT source, n_docs, sigma,
         |    LEAST(GREATEST((n_total // $NEYMAN_BUDGET_DIV) * wfix // tw, 1),
         |          n_docs) AS alloc
         |  FROM w, tot
         |), ranked AS (
         |  SELECT d.source, d.doc_id,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY ${Hashing.duckH60("d.doc_id", "'neyman'")}, d.doc_id) AS rn
         |  FROM documents d
         |)
         |SELECT q.source, q.n_docs, q.sigma, CAST(q.alloc AS BIGINT) AS alloc,
         |  CAST(COUNT(CASE WHEN r.rn <= q.alloc THEN 1 END) AS BIGINT) AS kept,
         |  CAST(COALESCE(SUM(CASE WHEN r.rn <= q.alloc THEN r.doc_id END), 0)
         |    AS BIGINT) AS checksum
         |FROM q JOIN ranked r ON r.source = q.source
         |GROUP BY q.source, q.n_docs, q.sigma, q.alloc
         |ORDER BY q.source""".stripMargin) { (spark, d) =>
      import org.apache.spark.sql.types.{DecimalType => DT}
      val docs = Tables.documents(spark, d).select("source", "doc_id", "n_chars")
      val st = docs.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(DT(38, 0)).as("sx"),
        sum(col("n_chars").cast(DT(38, 0)) * col("n_chars")).as("sxx"))
      val s2 = (col("n_docs") * col("sxx") - col("sx") * col("sx")).cast("double")
      val w = st.select(col("source"), col("n_docs"),
        round(sqrt(s2) / col("n_docs"), 6).as("sigma"),
        round(sqrt(s2)).cast("long").as("wfix"))
      val tot = w.agg(sum("n_docs").as("n_total"), sum("wfix").as("tw"))
      val q = w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("sigma"),
          least(greatest(
            expr(s"(n_total DIV $NEYMAN_BUDGET_DIV) * wfix DIV tw"), lit(1L)),
            col("n_docs")).as("alloc"))
      val ranked = docs.withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(Hashing.h60(col("doc_id"), lit("neyman")), col("doc_id"))))
      broadcast(q).join(ranked, "source")
        .groupBy("source", "n_docs", "sigma", "alloc")
        .agg(count(when(col("rn") <= col("alloc"), 1)).as("kept"),
          coalesce(sum(when(col("rn") <= col("alloc"), col("doc_id"))), lit(0L))
            .cast("long").as("checksum"))
        .orderBy("source")
    },

    // ---- q_bootstrap_ci: Poisson-bootstrap CI for mean revenue per
    //      returnflag. Each (row, replica) draws w ~ Poisson(1) from a
    //      60-bit hash by pure integer threshold compares (POIS_T);
    //      replica means aggregate map-side into |flags|×32 partials —
    //      the resampling never materializes or moves data, which is
    //      THE reason this estimator (and not resample-and-count) is
    //      the 100 TB bootstrap. CI = 2nd/31st order statistics of the
    //      32 replica means (exact ranks, (mean, r) total order — no
    //      interpolation, no float quantiles). Weighted sums stay in
    //      DECIMAL until one final mirrored double division ----
    "q_bootstrap_ci" -> QueryDef(
      s"""WITH rep AS (
         |  SELECT l_returnflag, r.r,
         |    CAST(l_extendedprice AS DECIMAL(18,3)) AS p,
         |    ${POIS_T.zipWithIndex.map { case (t, _) =>
             s"(CASE WHEN ${Hashing.duckH60("l_orderkey", "l_linenumber", "r.r")} >= $t THEN 1 ELSE 0 END)"
           }.mkString(" + ")} AS w
         |  FROM lineitem
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${BOOT_R - 1})) AS r) r
         |), rm AS (
         |  SELECT l_returnflag, r,
         |    round(CAST(SUM(p * w) AS DOUBLE) / SUM(w), 6) AS m
         |  FROM rep GROUP BY l_returnflag, r
         |), ranked AS (
         |  SELECT l_returnflag, m,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY m, r) AS rn
         |  FROM rm
         |), base AS (
         |  SELECT l_returnflag, COUNT(*) AS n,
         |    round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE)
         |      / COUNT(*), 6) AS mean
         |  FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT b.l_returnflag, b.n, b.mean,
         |  MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
         |  MAX(CASE WHEN rn = ${BOOT_R - 1} THEN m END) AS ci_hi
         |FROM base b JOIN ranked k ON k.l_returnflag = b.l_returnflag
         |GROUP BY b.l_returnflag, b.n, b.mean
         |ORDER BY b.l_returnflag""".stripMargin) { (spark, d) =>
      val li = Tables.lineitem(spark, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          dec(col("l_extendedprice")).as("p"))
      val base = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("p").cast("double") / count(lit(1)), 6).as("mean"))
      val h = Hashing.h60(col("l_orderkey"), col("l_linenumber"), col("r"))
      val rm = li
        .select(col("l_returnflag"), col("p"),
          explode(expr(s"sequence(0, ${BOOT_R - 1})")).as("r"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("w", poissonWeight(h))
        .groupBy("l_returnflag", "r")
        .agg(sum(col("p") * col("w")).as("swx"), sum("w").as("sw"))
        .select(col("l_returnflag"), col("r"),
          round(col("swx").cast("double") / col("sw"), 6).as("m"))
      val ranked = rm.withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy(col("m"), col("r"))))
      base.join(
          ranked.groupBy("l_returnflag").agg(
            max(when(col("rn") === 2, col("m"))).as("ci_lo"),
            max(when(col("rn") === BOOT_R - 1, col("m"))).as("ci_hi")),
          "l_returnflag")
        .orderBy("l_returnflag")
    },

    // ---- q_abtest: two-proportion χ² test on exact counts — the A/B
    //      evaluation op (variant = user_id parity; conversion = ≥1
    //      purchase event). The entire experiment reduces to FOUR exact
    //      integers (n_a, x_a, n_b, x_b) via one user-keyed agg + one
    //      4-wide conditional agg, so the test statistic is ONE mirrored
    //      IEEE expression over exact counts — at 100 TB the only
    //      shuffle is the per-user conversion rollup; the 2×2 table is
    //      a 1-row relation. χ² = n·(x_a(n_b−x_b) − x_b(n_a−x_a))² /
    //      (n_a·n_b·x·(n−x)), products in DOUBLE (int64 would overflow
    //      past ~10⁵ users; the casts are identical both engines so the
    //      rounding replays bit-exact) ----
    "q_abtest" -> QueryDef(
      """WITH u AS (
        |  SELECT user_id, user_id % 2 AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 90
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), t AS (
        |  SELECT
        |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS x_a,
        |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
        |    SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS x_b
        |  FROM u
        |)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
        |  round(CAST(x_a AS DOUBLE) / n_a, 6) AS p_a,
        |  round(CAST(x_b AS DOUBLE) / n_b, 6) AS p_b,
        |  CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b
        |    THEN CAST(NULL AS DOUBLE)
        |    ELSE round((n_a + n_b)
        |      * (CAST(x_a AS DOUBLE) * (n_b - x_b)
        |         - CAST(x_b AS DOUBLE) * (n_a - x_a))
        |      * (CAST(x_a AS DOUBLE) * (n_b - x_b)
        |         - CAST(x_b AS DOUBLE) * (n_a - x_a))
        |      / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
        |         * (n_a + n_b - x_a - x_b)), 6) END AS chi2,
        |  CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN 0
        |    WHEN (n_a + n_b)
        |      * (CAST(x_a AS DOUBLE) * (n_b - x_b)
        |         - CAST(x_b AS DOUBLE) * (n_a - x_a))
        |      * (CAST(x_a AS DOUBLE) * (n_b - x_b)
        |         - CAST(x_b AS DOUBLE) * (n_a - x_a))
        |      / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
        |         * (n_a + n_b - x_a - x_b)) > 3.841 THEN 1 ELSE 0 END
        |    AS significant
        |FROM t""".stripMargin) { (spark, d) =>
      val u = Tables.events(spark, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 90,
          1).otherwise(0)).as("conv"))
        .withColumn("variant", col("user_id") % 2)
      val t = u.agg(
        sum(when(col("variant") === 0, 1).otherwise(0)).as("n_a"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0)).as("x_a"),
        sum(when(col("variant") === 1, 1).otherwise(0)).as("n_b"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0)).as("x_b"))
      val na = col("n_a").cast("double")
      val xa = col("x_a").cast("double")
      val nb = col("n_b").cast("double")
      val xb = col("x_b").cast("double")
      val degenerate = (col("x_a") + col("x_b") === 0) ||
        (col("x_a") + col("x_b") === col("n_a") + col("n_b"))
      val diff = xa * (nb - xb) - xb * (na - xa)
      val chi2 = (na + nb) * diff * diff /
        (na * nb * (xa + xb) * (na + nb - xa - xb))
      t.select(col("n_a").cast("long").as("n_a"), col("x_a").cast("long").as("x_a"),
        col("n_b").cast("long").as("n_b"), col("x_b").cast("long").as("x_b"),
        round(xa / na, 6).as("p_a"), round(xb / nb, 6).as("p_b"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(round(chi2, 6)).as("chi2"),
        when(degenerate, 0).when(chi2 > 3.841, 1).otherwise(0)
          .as("significant"))
    },

    // ---- q_label_prop: 2-round majority-vote label propagation over
    //      the verified MinHash near-dup graph — the metadata-repair
    //      op (docs with missing language/quality tags inherit them
    //      from duplicate neighbors). Even doc_ids are seeds (label =
    //      lang), odd doc_ids are unlabeled; each round is one edge⋈
    //      label join + one (node,label) count agg + one rank-1 window,
    //      ties broken by label so every round is deterministic. Fixed
    //      round count ⇒ a static plan (no driver iteration); at 100 TB
    //      each round shuffles the edge relation once, keyed by 8-byte
    //      node ids — the q_pagerank cost class with |labels|-bounded
    //      agg width ----
    "q_label_prop" -> QueryDef(
      s"""WITH ${DedupQueries.duckMinhashPairCtes},
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM verified
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM verified
         |), seeds AS (
         |  SELECT DISTINCT e.u AS doc_id, d.lang AS label
         |  FROM edges e JOIN documents d ON d.doc_id = e.u
         |  WHERE e.u % 2 = 0
         |), r1 AS (
         |  SELECT doc_id, label FROM (
         |    SELECT e.u AS doc_id, s.label,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY COUNT(*) DESC, s.label) AS rn
         |    FROM edges e JOIN seeds s ON s.doc_id = e.v
         |    WHERE e.u % 2 = 1
         |    GROUP BY e.u, s.label)
         |  WHERE rn = 1
         |), l1 AS (
         |  SELECT doc_id, label FROM seeds
         |  UNION ALL SELECT doc_id, label FROM r1
         |), r2 AS (
         |  SELECT doc_id, label FROM (
         |    SELECT e.u AS doc_id, l.label,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM edges e JOIN l1 l ON l.doc_id = e.v
         |    WHERE e.u % 2 = 1
         |      AND e.u NOT IN (SELECT doc_id FROM r1)
         |    GROUP BY e.u, l.label)
         |  WHERE rn = 1
         |)
         |SELECT doc_id, label, 'seed' AS origin FROM seeds
         |UNION ALL SELECT doc_id, label, 'r1' FROM r1
         |UNION ALL SELECT doc_id, label, 'r2' FROM r2
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      val edges = dupEdges(spark, d)
      val seeds = edges.filter(col("u") % 2 === 0)
        .select(col("u").as("doc_id")).distinct()
        .join(Tables.documents(spark, d).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang").as("label"))
      val r1 = voteRound(edges, seeds)
      val r2 = voteRound(edges, seeds.unionAll(r1))
        .join(r1.select("doc_id"), Seq("doc_id"), "left_anti")
      seeds.withColumn("origin", lit("seed"))
        .unionAll(r1.withColumn("origin", lit("r1")))
        .unionAll(r2.withColumn("origin", lit("r2")))
        .orderBy("doc_id")
    },

    // ---- q_quantile_norm: quantile normalization — map every source's
    //      doc-length distribution onto the GLOBAL distribution (the
    //      batch-effect correction standard: after it, every source has
    //      the same marginal, so cross-source comparisons see content,
    //      not collection artifacts). Exact construction: a doc at
    //      within-source rank rn of n_h maps to the global value at
    //      rank ceil(rn·N/n_h) — pure integer arithmetic (non-negative
    //      floor division) joined against the globally ranked relation
    //      on an 8-byte rank key. Cost: one per-source rank window +
    //      ONE global rank (16 B/row — the q_auc price; sketch
    //      quantiles are the approximation dial) + one equi-join.
    //      Report: per source, raw vs normalized mean (exact BIGINT
    //      sums) + the normalized checksum ----
    "q_quantile_norm" -> QueryDef(
      """WITH d AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS nh,
        |    COUNT(*) OVER () AS n
        |  FROM documents
        |), g AS (
        |  SELECT n_chars AS norm_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grank
        |  FROM documents
        |), m AS (
        |  SELECT d.source, d.n_chars, g.norm_chars
        |  FROM d JOIN g ON g.grank = (d.rn * d.n + d.nh - 1) // d.nh
        |)
        |SELECT source, COUNT(*) AS n,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_raw,
        |  round(CAST(SUM(norm_chars) AS DOUBLE) / COUNT(*), 6) AS mean_norm,
        |  CAST(SUM(norm_chars) AS BIGINT) AS checksum
        |FROM m GROUP BY source ORDER BY source""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d).select("source", "doc_id", "n_chars")
      val bySrc = Window.partitionBy("source")
      val dd = docs
        .withColumn("rn",
          row_number().over(bySrc.orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("nh", count(lit(1)).over(bySrc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      val g = docs.select(col("n_chars").as("norm_chars"),
        row_number().over(Window.orderBy(col("n_chars"), col("doc_id")))
          .cast("long").as("grank"))
      dd.withColumn("grank",
          expr("(rn * n + nh - 1) DIV nh").cast("long"))
        .join(g, "grank")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          round(sum("n_chars").cast("double") / count(lit(1)), 6).as("mean_raw"),
          round(sum("norm_chars").cast("double") / count(lit(1)), 6)
            .as("mean_norm"),
          sum("norm_chars").cast("long").as("checksum"))
        .orderBy("source")
    },

    // ---- q_ks_test: exact two-sample Kolmogorov–Smirnov test — the
    //      unbinned distribution-drift statistic beside q_drift_psi's
    //      binned PSI (and the χ²/CUPED family's continuous-metric
    //      member): D = sup|F_a − F_b| over event values by variant.
    //      Exactness: values fixed-pointed to mills and aggregated to
    //      the TYPE level first (one map-side hash agg — the window
    //      then runs over distinct values, bounded by the value domain,
    //      not the corpus); the CDF gap is the cross-multiplied integer
    //      |c_a·n_b − c_b·n_a| so the sup is an exact BIGINT max with
    //      ONE final division; significance = D against the α=0.05
    //      large-sample critical value (mirrored sqrt expression) ----
    "q_ks_test" -> QueryDef(
      """WITH v AS (
        |  SELECT CAST(round(value * 1000) AS BIGINT) AS v_m,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS da,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS db
        |  FROM events GROUP BY 1
        |), c AS (
        |  SELECT v_m,
        |    SUM(da) OVER (ORDER BY v_m) AS ca,
        |    SUM(db) OVER (ORDER BY v_m) AS cb,
        |    SUM(da) OVER () AS na, SUM(db) OVER () AS nb
        |  FROM v
        |)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
        |  round(CAST(MAX(abs(ca * nb - cb * na)) AS DOUBLE)
        |    / (CAST(MAX(na) AS DOUBLE) * MAX(nb)), 6) AS ks_d,
        |  CASE WHEN CAST(MAX(abs(ca * nb - cb * na)) AS DOUBLE)
        |      / (CAST(MAX(na) AS DOUBLE) * MAX(nb))
        |    > 1.358 * sqrt((CAST(MAX(na) AS DOUBLE) + MAX(nb))
        |                   / (CAST(MAX(na) AS DOUBLE) * MAX(nb)))
        |    THEN 1 ELSE 0 END AS significant
        |FROM c""".stripMargin) { (spark, d) =>
      val v = Tables.events(spark, d)
        .groupBy(expr("CAST(round(value * 1000) AS BIGINT)").as("v_m"))
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("da"),
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("db"))
      val byV = Window.orderBy("v_m")
      val all = Window.partitionBy(lit(1))
      val c = v.select(col("v_m"),
        sum("da").over(byV).as("ca"), sum("db").over(byV).as("cb"),
        sum("da").over(all).as("na"), sum("db").over(all).as("nb"))
      val dScaled = max(abs(col("ca") * col("nb") - col("cb") * col("na")))
      val ksD = dScaled.cast("double") / (max(col("na")).cast("double") * max(col("nb")))
      val crit = lit(1.358) * sqrt((max(col("na")).cast("double") + max(col("nb")))
        / (max(col("na")).cast("double") * max(col("nb"))))
      c.agg(max(col("na")).cast("long").as("n_a"),
          max(col("nb")).cast("long").as("n_b"),
          round(ksD, 6).as("ks_d"),
          when(ksD > crit, 1).otherwise(0).as("significant"))
        .select(col("n_a"), col("n_b"), col("ks_d"), col("significant"))
    },

    // ---- q_cuped: CUPED variance-reduced A/B estimation (Deng et al.
    //      2013) — the modern-experimentation companion to q_abtest's
    //      χ². Metric y = post-cutoff purchase value per user (mills,
    //      exact BIGINT); covariate x = PRE-cutoff event count (the
    //      pre-experiment signal unaffected by treatment). The key
    //      scale/parity move: the adjusted arm mean is NEVER computed
    //      per user (a float sum would be order-dependent) — algebra
    //      reduces it to arm MOMENTS: mean(y_adj) = ȳ_arm − θ·(x̄_arm −
    //      x̄); θ = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²); variance reduction =
    //      ρ² = (n·Σxy − Σx·Σy)² / ((n·Σxx − Σx²)(n·Σyy − Σy²)). So the
    //      whole estimator is ONE user-keyed rollup + one 2-row
    //      conditional agg + mirrored IEEE expressions over exact
    //      integer moments (products in DOUBLE — the q_abtest rule).
    //      Degenerate var(x)=0 → θ NULL, adjusted = unadjusted ----
    "q_cuped" -> QueryDef(
      s"""WITH u AS (
         |  SELECT user_id, user_id % 2 AS variant,
         |    CAST(SUM(CASE WHEN ts < TIMESTAMP '$CUPED_CUTOFF' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '$CUPED_CUTOFF'
         |      AND event_type = 'purchase'
         |      THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY user_id
         |), m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(y * y) AS HUGEINT) AS syy
         |  FROM u
         |), g AS (
         |  SELECT
         |    CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0
         |      THEN CAST(NULL AS DOUBLE)
         |      ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         |        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) END
         |      AS theta,
         |    CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         |        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) = 0
         |      THEN CAST(NULL AS DOUBLE)
         |      ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         |        * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         |        / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         |           * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) END
         |      AS var_red,
         |    CAST(sx AS DOUBLE) / n AS xbar
         |  FROM m
         |), arms AS (
         |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_v,
         |    CAST(SUM(x) AS BIGINT) AS sx_v, CAST(SUM(y) AS BIGINT) AS sy_v
         |  FROM u GROUP BY variant
         |)
         |SELECT variant, n_v AS n,
         |  round(CAST(sy_v AS DOUBLE) / n_v / 1000.0, 6) AS mean_y,
         |  round((CAST(sy_v AS DOUBLE) / n_v
         |    - COALESCE(theta, 0.0) * (CAST(sx_v AS DOUBLE) / n_v - xbar))
         |    / 1000.0, 6) AS mean_y_adj,
         |  round(theta, 6) AS theta, round(var_red, 6) AS var_red
         |FROM arms, g
         |ORDER BY variant""".stripMargin) { (spark, d) =>
      val u = Tables.events(spark, d)
        .groupBy("user_id")
        .agg(
          sum(when(col("ts") < to_timestamp(lit(CUPED_CUTOFF)), 1L)
            .otherwise(0L)).as("x"),
          sum(when(col("ts") >= to_timestamp(lit(CUPED_CUTOFF))
              && col("event_type") === "purchase",
            expr("CAST(round(value * 1000) AS BIGINT)")).otherwise(0L))
            .as("y"))
        .withColumn("variant", col("user_id") % 2)
      val m = u.agg(count(lit(1)).cast("long").as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val vx = nD * col("sxx") - sxD * col("sx")
      val cxy = nD * col("sxy") - sxD * col("sy")
      val vy = nD * col("syy").cast("double") - syD * col("sy")
      val g = m.select(
        when(vx === 0.0, lit(null).cast("double"))
          .otherwise(cxy / vx).as("theta"),
        when(vx * vy === 0.0, lit(null).cast("double"))
          .otherwise(cxy * cxy / (vx * vy)).as("var_red"),
        (sxD / col("n")).as("xbar"))
      val arms = u.groupBy("variant")
        .agg(count(lit(1)).cast("long").as("n_v"),
          sum("x").cast("long").as("sx_v"), sum("y").cast("long").as("sy_v"))
      arms.crossJoin(broadcast(g))
        .select(col("variant"), col("n_v").as("n"),
          round(col("sy_v").cast("double") / col("n_v") / 1000.0, 6)
            .as("mean_y"),
          round((col("sy_v").cast("double") / col("n_v")
            - coalesce(col("theta"), lit(0.0))
              * (col("sx_v").cast("double") / col("n_v") - col("xbar")))
            / 1000.0, 6).as("mean_y_adj"),
          round(col("theta"), 6).as("theta"),
          round(col("var_red"), 6).as("var_red"))
        .orderBy("variant")
    },

    // ---- q_curate_pipeline: the END-TO-END corpus curation run — the
    //      LLM-data flagship beside q_lifecycle's recommender flagship.
    //      Four stages, each an operator this engine already gates
    //      individually, composed the way a production pipeline chains
    //      them, with the DuckDB oracle replaying the ENTIRE chain as
    //      one CTE graph (so the hash gate proves the composition, not
    //      just the parts):
    //        1. exact dedup keep-first over the doubled synthetic crawl
    //           (q_dedup_exact's input, GLOBAL md5 groups so the stage
    //           bites at every scale; keeper = min doc_id);
    //        2. quality gate: exact P80 threshold of the heuristic
    //           quality score computed over the DEDUP SURVIVORS (the
    //           gate adapts to the cleaned corpus), keep quality ≥ thr;
    //        3. decontamination: drop eval docs (doc_id % 10 = 0, the
    //           q_decontaminate membership rule) and any train survivor
    //           sharing a word 5-gram h60 shingle with the eval slice;
    //        4. per-source √n temperature quotas over a 20% budget with
    //           deterministic h60('curation') selection (the
    //           q_source_quota integer-exact arithmetic).
    //      Output: |sources| rows — the per-stage survivor funnel
    //      (n_raw ≥ n_dedup ≥ n_quality ≥ n_curated ≥ kept), the quota,
    //      and a kept-set doc_id checksum proving the final SELECTION
    //      replays cross-engine. 100 TB: every stage is its standalone
    //      operator's plan (hash-agg dedup, one percentile over 8-byte
    //      rows, broadcast-gated shingle semi-join, |sources|-row quota
    //      broadcast + rank window) — the composition adds doc_id
    //      equi-joins between BIGINT survivor sets and nothing else ----
    "q_curate_pipeline" -> QueryDef(
      s"""WITH crawl AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, source FROM documents
         |  WHERE doc_id % 3 = 0
         |), keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM crawl GROUP BY md5(text)
         |), ${TextQueries.duckQualityCtes},
         |q1 AS (
         |  SELECT q.doc_id, q.quality
         |  FROM quality q JOIN keep k ON k.doc_id = q.doc_id
         |), thr AS (
         |  SELECT quantile_cont(quality, 0.8) AS thr FROM q1
         |), k2 AS (
         |  SELECT doc_id FROM q1, thr WHERE quality >= thr
         |), ${TextOps.duckWordShinglesCte(5)},
         |hsh AS (
         |  SELECT DISTINCT doc_id, ${Hashing.duckH60("sh")} AS sh FROM shingles
         |), ev AS (
         |  SELECT DISTINCT sh FROM hsh WHERE doc_id % 10 = 0
         |), contam AS (
         |  SELECT DISTINCT t.doc_id FROM hsh t JOIN ev e ON e.sh = t.sh
         |  WHERE t.doc_id % 10 <> 0
         |), k3 AS (
         |  SELECT doc_id FROM k2
         |  WHERE doc_id % 10 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |), src AS (
         |  SELECT k.doc_id, d.source FROM k3 k
         |  JOIN documents d ON d.doc_id = k.doc_id
         |), cnt AS (
         |  SELECT source, COUNT(*) AS n_curated FROM src GROUP BY source
         |), tot AS (
         |  SELECT SUM(n_curated) AS n_total,
         |    SUM(CAST(round(sqrt(CAST(n_curated AS DOUBLE)) * 1e6) AS BIGINT))
         |      AS tw
         |  FROM cnt
         |), qq AS (
         |  SELECT source, n_curated,
         |    CAST(GREATEST((n_total // $QUOTA_BUDGET_DIV)
         |      * CAST(round(sqrt(CAST(n_curated AS DOUBLE)) * 1e6) AS BIGINT)
         |      // tw, 1) AS BIGINT) AS quota
         |  FROM cnt, tot
         |), ranked AS (
         |  SELECT s.source, s.doc_id,
         |    row_number() OVER (PARTITION BY s.source
         |      ORDER BY ${Hashing.duckH60("s.doc_id", "'curation'")}, s.doc_id)
         |      AS rn
         |  FROM src s
         |), sel AS (
         |  SELECT q.source, q.n_curated, q.quota,
         |    CAST(COUNT(CASE WHEN r.rn <= q.quota THEN 1 END) AS BIGINT)
         |      AS kept,
         |    CAST(COALESCE(SUM(CASE WHEN r.rn <= q.quota THEN r.doc_id END), 0)
         |      AS BIGINT) AS checksum
         |  FROM qq q JOIN ranked r ON r.source = q.source
         |  GROUP BY q.source, q.n_curated, q.quota
         |), raw AS (
         |  SELECT source, COUNT(*) AS n_raw FROM crawl GROUP BY source
         |), sa AS (
         |  SELECT d.source, COUNT(*) AS n_dedup FROM keep k
         |  JOIN documents d ON d.doc_id = k.doc_id GROUP BY d.source
         |), sb AS (
         |  SELECT d.source, COUNT(*) AS n_quality FROM k2 k
         |  JOIN documents d ON d.doc_id = k.doc_id GROUP BY d.source
         |)
         |SELECT raw.source, raw.n_raw,
         |  CAST(COALESCE(sa.n_dedup, 0) AS BIGINT) AS n_dedup,
         |  CAST(COALESCE(sb.n_quality, 0) AS BIGINT) AS n_quality,
         |  CAST(COALESCE(sel.n_curated, 0) AS BIGINT) AS n_curated,
         |  CAST(COALESCE(sel.quota, 0) AS BIGINT) AS quota,
         |  CAST(COALESCE(sel.kept, 0) AS BIGINT) AS kept,
         |  CAST(COALESCE(sel.checksum, 0) AS BIGINT) AS checksum,
         |  round(t.thr, 6) AS threshold
         |FROM raw
         |LEFT JOIN sa USING (source)
         |LEFT JOIN sb USING (source)
         |LEFT JOIN sel USING (source)
         |CROSS JOIN thr t
         |ORDER BY raw.source""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d).select("doc_id", "text", "source")
      val crawl = docs.unionAll(
        docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            col("text"), col("source")))
      // stage 1: global exact dedup, keeper = min doc_id (originals
      // always beat their +1e6 replicas, so keepers join `documents`)
      val keep = crawl
        .groupBy(md5(encode(col("text"), "UTF-8")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      // stage 2: exact P80 quality threshold over the dedup survivors
      val q1 = TextQueries.qualityPerDoc(spark, d)
        .select("doc_id", "quality")
        .join(keep, "doc_id")
      val thr = q1.agg(expr("percentile(quality, 0.8D)").as("thr"))
      val k2 = q1.crossJoin(broadcast(thr))
        .filter(col("quality") >= col("thr"))
        .select("doc_id")
      // stage 3: drop eval docs + shingle-contaminated train survivors
      val sh = TextOps.wordShingleHashes(spark, d, 5)
      val ev = sh.filter(col("doc_id") % 10 === 0).select("sh").distinct()
      val contam = sh.filter(col("doc_id") % 10 =!= 0)
        .join(ev, Seq("sh"), "left_semi")
        .select("doc_id").distinct()
      val k3 = k2.filter(col("doc_id") % 10 =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
      // stage 4: temperature quotas + deterministic h60 selection
      val srcRel = k3.join(docs.select("doc_id", "source"), "doc_id")
      val cnt = srcRel.groupBy("source").agg(count(lit(1)).as("n_curated"))
      val wfix = "cast(round(sqrt(cast(n_curated as double)) * 1e6) as bigint)"
      val tot = cnt.agg(sum("n_curated").as("n_total"),
        sum(expr(wfix)).as("tw"))
      val qq = cnt.crossJoin(broadcast(tot))
        .select(col("source"), col("n_curated"),
          greatest(expr(s"(n_total DIV $QUOTA_BUDGET_DIV) * $wfix DIV tw"),
            lit(1L)).as("quota"))
      val ranked = srcRel.withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(Hashing.h60(col("doc_id"), lit("curation")),
            col("doc_id"))))
      val sel = broadcast(qq).join(ranked, "source")
        .groupBy("source", "n_curated", "quota")
        .agg(count(when(col("rn") <= col("quota"), 1)).as("kept"),
          coalesce(sum(when(col("rn") <= col("quota"), col("doc_id"))),
            lit(0L)).cast("long").as("checksum"))
      val raw = crawl.groupBy("source").agg(count(lit(1)).as("n_raw"))
      val srcOf = docs.select("doc_id", "source")
      val sa = keep.join(srcOf, "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_dedup"))
      val sb = k2.join(srcOf, "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_quality"))
      raw.join(sa, Seq("source"), "left")
        .join(sb, Seq("source"), "left")
        .join(sel, Seq("source"), "left")
        .crossJoin(broadcast(thr))
        .select(col("source"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_curated"), lit(0L)).as("n_curated"),
          coalesce(col("quota"), lit(0L)).as("quota"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          coalesce(col("checksum"), lit(0L)).as("checksum"),
          round(col("thr"), 6).as("threshold"))
        .orderBy("source")
    })
}
