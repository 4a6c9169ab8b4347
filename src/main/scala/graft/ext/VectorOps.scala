package graft.ext

import graft.{Limits, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared embedding-vector primitives: fixed-point element rows and L2
  * norms over `embeddings.embedding` (Array[Float], dim 64).
  *
  * Floats are fixed-pointed (`round(x * 1e7)` as BIGINT, the QueryDef
  * parity rule) so dot products are integer-exact and order-independent
  * in both engines; only the final norm/cosine divisions touch floating
  * point (sqrt and / are exactly-rounded IEEE ops — deterministic).
  *
  * 100 TB: the element table is (n_vecs × dim) narrow rows partitioned by
  * vec_id — dot products become a hash join on the dimension index plus a
  * map-side partial sum, the standard distributed formulation. Norms are
  * one hash-aggregate.
  */
object VectorOps {

  val DIM = 64

  /** The fixed-point grid, Spark side: `embedding` as its BIGINT vector
    * `round(x * 1e7)` — SQL text for plans that embed it in a larger
    * expression (`fixed_dot(…)`). The one spelling of the grid in Spark;
    * [[duckFixed]] is the DuckDB one.
    */
  val fixedEmbeddingSql: String =
    "transform(embedding, x -> cast(round(cast(x as double) * 10000000, 0) as bigint))"

  /** [[fixedEmbeddingSql]] as a Column. */
  def fixedEmbedding: Column = expr(fixedEmbeddingSql)

  /** The fixed-point grid, DuckDB side: SQL text for one element `x`. */
  def duckFixed(x: String): String =
    s"CAST(round(CAST($x AS DOUBLE) * 10000000) AS BIGINT)"

  /** int8 code of grid value `v` under per-vector max-abs scale `s`
    * (Spark SQL text, `s` > 0): ((v + s)·254 + s) DIV (2s) − 127 keeps the
    * numerator non-negative, so Spark's truncating DIV and DuckDB's floor
    * `//` ([[duckQuantCode]]) agree. [[broadcastQuantCorpus]] holds the
    * JVM copy.
    */
  def quantCodeSql(v: String, s: String): String =
    s"(($v + $s) * 254 + $s) DIV (2 * $s) - 127"

  /** DuckDB side of [[quantCodeSql]]. */
  def duckQuantCode(v: String, s: String): String =
    s"(($v + $s) * 254 + $s) // (2 * $s) - 127"

  /** L2 norm of a grid vector: the `Long` sum of squares is exact in any
    * order, like the oracle's `CAST(SUM(e * e) AS DOUBLE)`.
    */
  def norm(e: Array[Long]): Double = {
    var s = 0L
    var i = 0
    while (i < e.length) { s += e(i) * e(i); i += 1 }
    math.sqrt(s.toDouble)
  }

  /** (vec_id, label, i (1-based), e) fixed-point element rows of an
    * embeddings relation — purely relational, so a scan bucketed by
    * vec_id keeps its partitioning through it and the downstream
    * per-vector aggregates plan exchange-free (BucketedDocsSpec).
    */
  def elems(embs: DataFrame): DataFrame =
    embs
      .select(col("vec_id"), col("label"),
        posexplode(fixedEmbedding).as(Seq("i0", "e")))
      .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"), col("e"))

  val duckElemsCte: String =
    s"""elems AS (
      |  SELECT vec_id, label,
      |         generate_subscripts(embedding, 1) AS i,
      |         ${duckFixed("unnest(embedding)")} AS e
      |  FROM embeddings
      |)""".stripMargin

  /** (vec_id, nrm) — L2 norm of the fixed-point vector, as DOUBLE. */
  def norms(embs: DataFrame): DataFrame =
    elems(embs)
      .groupBy("vec_id")
      .agg(sqrt(sum(col("e") * col("e")).cast("double")).as("nrm"))

  val duckNormsCte: String =
    """norms AS (
      |  SELECT vec_id, sqrt(CAST(SUM(e * e) AS DOUBLE)) AS nrm
      |  FROM elems GROUP BY vec_id
      |)""".stripMargin

  /** Exact cosine for the (query_id, vec_id) pairs in `pairs`: the
    * distributed dot product — join both element sets on the dimension
    * index, partial-sum map-side, one shuffle on the pair key. Zero-norm
    * vectors are dropped (nrm > 0 join condition), exactly like the
    * oracle's cosines CTE and [[cosineByBroadcast]]'s skip — the two
    * formulations are row-identical (ExtSpec fallback-equality). With a
    * vec_id-bucketed `embs`, the element/norm sides of every join read
    * pre-partitioned buckets — only the (small) pair side shuffles.
    * One row per DISTINCT pair: a repeated pair row would repeat its
    * element rows and multiply the summed dot (the IVF arms emit a pair
    * once per shared probed cell).
    */
  def cosine(embs: DataFrame, pairs: DataFrame): DataFrame = {
    val el = elems(embs)
    val nr = norms(embs).filter(col("nrm") > 0)
    pairs.distinct()
      .join(el.select(col("vec_id").as("query_id"), col("i"), col("e").as("qe")), "query_id")
      .join(el.select(col("vec_id"), col("i"), col("e").as("ce")), Seq("vec_id", "i"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qe") * col("ce")).as("dot"))
      .join(nr.select(col("vec_id").as("query_id"), col("nrm").as("qn")), "query_id")
      .join(nr, "vec_id")
      .select(col("query_id"), col("vec_id"),
        (col("dot").cast("double") / (col("qn") * col("nrm"))).as("cos"))
  }

  /** Corpus row count, memoized in [[graft.Memo]] — four similarity
    * queries would otherwise each launch an identical count job per build
    * (the test tables are immutable for a session; a changed dir means a
    * new path and therefore a new cache key).
    */
  def corpusSize(spark: SparkSession, sfDir: String): Long =
    graft.Memo.cachedObj(spark, sfDir, "sim.corpusSize",
        (_: java.lang.Long) => 8L) {
      Long.box(Tables.embeddings(spark, sfDir).count())
    }

  // ---- auto-scale ANN dials ------------------------------------------
  // The broadcast-vs-join switch already keys off corpusSize; the SAME
  // count drives the LSH band width and the IVF list count so the
  // DEFAULT registry entries stay sub-linear as the corpus grows (the
  // fixed-dial *_wide twins remain the oracle-gated spec anchors). Both
  // formulas are piecewise over power-of-two thresholds — integer-exact
  // and replayed verbatim by the DuckDB oracle as a CASE chain, so no
  // float log2 edge case can make the engines disagree on the dial.

  /** Target mean LSH bucket occupancy per band: candidate-pair cost per
    * bucket is quadratic in occupancy, so holding occupancy ~constant
    * holds per-query cost ~constant while buckets scale with n.
    */
  val LSH_TARGET_BUCKET = 32L
  val LSH_MIN_BITS = 4

  /** Band-width cap — RAISED 16 → 20 in r14: at 16 bits the occupancy
    * invariant silently breaks past n ≈ 2M (65536 buckets/band stop
    * growing, occupancy grows as n/2¹⁶), and the banded pair arm's
    * per-bucket quadratic cost comes back exactly where the dial
    * exists to kill it — measured at the 8.4M-vector r14 anchor, where
    * the arm's pair output (occupancy 128 × sign-bit skew) out-sorted
    * this box's 74 GB of free disk. 20 bits holds occupancy ≤ 32
    * through n ≈ 33M — past the 10M corpus-broadcast ceiling where
    * every vector path re-plans anyway (the same alignment argument as
    * the flat pair cap). The cost that moves with the cap: band
    * blocks take bits·bands dot products per vector in one narrow pass
    * (40 for the 2-band top-k at the cap, 160 for the 8-band near-dup
    * generator).
    */
  val LSH_MAX_BITS = 20

  /** Smallest band width in [[LSH_MIN_BITS]], [[LSH_MAX_BITS]]] keeping
    * expected occupancy n / 2^bits at or below [[LSH_TARGET_BUCKET]]:
    * 4 bits through n=512, 13 bits at n=200k, capped at 20.
    */
  def lshBandBitsFor(n: Long): Int = {
    var b = LSH_MIN_BITS
    while (b < LSH_MAX_BITS && n > LSH_TARGET_BUCKET * (1L << b)) b += 1
    b
  }

  /** The identical dial as a DuckDB CASE chain over a count expression. */
  def duckLshBandBits(nExpr: String): String =
    (LSH_MIN_BITS until LSH_MAX_BITS).map(b =>
      s"WHEN $nExpr <= ${LSH_TARGET_BUCKET * (1L << b)} THEN $b")
      .mkString("CASE ", " ", s" ELSE $LSH_MAX_BITS END")

  /** IVF list-count bounds: k ≈ √n (the standard IVF sizing — probe cost
    * per query is nprobe·n/k, training cost k·256 rows), as the smallest
    * power of two ≥ 16 with k² ≥ n. The 256 cap bounds the DRIVER-side
    * trainer at 65 536 sample vectors / ~1 G distance ops — beyond that
    * corpus scale the distributed q_kmeans trainer is the right tool.
    */
  val IVF_MIN_K = 16
  val IVF_MAX_K = 256

  def ivfNlistFor(n: Long): Int = {
    var k = IVF_MIN_K
    while (k < IVF_MAX_K && k.toLong * k < n) k *= 2
    k
  }

  // The pair-mining quantizer's dial lives with its implementation:
  // IvfQueries.pairHalfKFor — a PRODUCT (two-half) codebook whose cell
  // count follows n / PAIR_TARGET_OCC, r12 (the flat k ≈ √n pair dial
  // that sat here was bound to n^1.5 candidate mass by its own
  // assignment cost).

  /** The identical dial as a DuckDB CASE chain over a count expression. */
  def duckIvfNlist(nExpr: String): String = {
    val ks = Iterator.iterate(IVF_MIN_K)(_ * 2).takeWhile(_ < IVF_MAX_K).toSeq
    ks.map(k => s"WHEN $nExpr <= ${k.toLong * k} THEN $k")
      .mkString("CASE ", " ", s" ELSE $IVF_MAX_K END")
  }

  /** Pair cosines, choosing the formulation by corpus size: broadcast
    * fast path under [[graft.Limits.corpusBroadcast]] vectors,
    * distributed join beyond it. Both produce identical rows for
    * distinct pairs; the join form collapses repeated ones.
    */
  def cosineAuto(spark: SparkSession, sfDir: String,
      pairs: DataFrame): DataFrame =
    if (corpusSize(spark, sfDir) > Limits.corpusBroadcast)
      cosine(Tables.embeddings(spark, sfDir), pairs)
    else cosineByBroadcast(pairs, broadcastCorpus(spark, sfDir))

  /** Fixed-point vectors + norms collected and broadcast: the fast path
    * for cosine math whenever the corpus fits an executor broadcast
    * (~10⁷ × 64 dims ≈ 5 GB ceiling; fine into the millions). Beyond
    * that, [[cosine]]'s distributed join formulation is the fallback.
    */
  def broadcastCorpus(spark: SparkSession, sfDir: String)
      : org.apache.spark.broadcast.Broadcast[Map[Long, (Array[Long], Double)]] = {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), fixedEmbedding.as("e"))
      .as[(Long, Array[Long])].collect()
    spark.sparkContext.broadcast(rows.map { case (id, e) =>
      id -> (e, norm(e))
    }.toMap)
  }

  /** int8-QUANTIZED broadcast corpus: per-vector max-abs-scaled codes
    * (the exact integer math of q_embed_quant, [[quantCodeSql]]) plus
    * the code-vector L2 norm. Same ceiling as [[broadcastCorpus]] but
    * ~8× smaller payload (byte codes vs fixed-point longs) — the reason
    * a serving tier quantizes: more corpus per executor, integer dot
    * kernels.
    */
  def broadcastQuantCorpus(spark: SparkSession, sfDir: String)
      : org.apache.spark.broadcast.Broadcast[Map[Long, (Array[Byte], Double)]] = {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), fixedEmbedding.as("e"))
      .as[(Long, Array[Long])].collect()
    spark.sparkContext.broadcast(rows.map { case (id, e) =>
      val s = e.foldLeft(0L)((a, x) => math.max(a, math.abs(x)))
      val codes = e.map(x =>
        (if (s == 0L) 0L else ((x + s) * 254 + s) / (2 * s) - 127).toByte)
      id -> (codes, math.sqrt(codes.map(c => c.toLong * c).sum.toDouble))
    }.toMap)
  }

  /** Exact cosine of explicit (query_id, vec_id) pairs against a
    * [[broadcastCorpus]] — one narrow pass, no |pairs|×dim row explosion
    * (the join formulation materialized 1.3 G rows at 20 k vectors).
    */
  def cosineByBroadcast(pairs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Map[Long, (Array[Long], Double)]])
      : DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.select(col("query_id"), col("vec_id")).as[(Long, Long)]
      .mapPartitions { it =>
        val c = bc.value
        it.flatMap { case (q, v) =>
          val (qe, qn) = c(q)
          val (ve, vn) = c(v)
          // zero-norm vectors have no defined cosine — skip (oracle
          // filters nrm > 0 identically); BigDecimal would throw on the
          // resulting NaN/Infinity otherwise
          if (qn == 0.0 || vn == 0.0) None
          else {
            var dot = 0L
            var i = 0
            while (i < qe.length) { dot += qe(i) * ve(i); i += 1 }
            Some((q, v, dot.toDouble / (qn * vn)))
          }
        }
      }.toDF("query_id", "vec_id", "cos")
  }

  /** DuckDB mirror of [[cosine]] over a `pairs(query_id, vec_id)` CTE. */
  val duckCosineCte: String =
    """dots AS (
      |  SELECT p.query_id, p.vec_id, CAST(SUM(q.e * c.e) AS BIGINT) AS dot
      |  FROM pairs p
      |  JOIN elems q ON q.vec_id = p.query_id
      |  JOIN elems c ON c.vec_id = p.vec_id AND c.i = q.i
      |  GROUP BY p.query_id, p.vec_id
      |), cosines AS (
      |  SELECT d.query_id, d.vec_id,
      |         CAST(d.dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
      |  FROM dots d
      |  JOIN norms nq ON nq.vec_id = d.query_id AND nq.nrm > 0
      |  JOIN norms nc ON nc.vec_id = d.vec_id AND nc.nrm > 0
      |)""".stripMargin
}
