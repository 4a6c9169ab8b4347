package graft.ext

import graft.{Limits, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *
  * Under [[graft.Limits.corpusBroadcast]] the cosine math runs in memory
  * instead, over one broadcast [[Corpus]] type and one exact scan,
  * [[topK]], whose ties go to the smaller id as in [[windowTopK]] and the
  * oracle windows.
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
    * `//` ([[duckQuantCode]]) agree. [[Corpus.quantized]] holds the JVM
    * copy.
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
    else cosineByBroadcast(pairs, corpus(Tables.embeddings(spark, sfDir)))

  /** An in-memory vector corpus: `ids` ascending, row `j`'s `dim`
    * values at `flat(j·dim until (j+1)·dim)` and its L2 norm at
    * `norms(j)`. The one shape every broadcast cosine path reads: the
    * exact grid corpus, the int8 corpus ([[quantized]]), a decontam eval
    * slice and q_nearest_centroid's label centroids (ids = labels).
    */
  final case class Corpus(ids: Array[Long], flat: Array[Long],
      norms: Array[Double], dim: Int) {
    def size: Int = ids.length

    /** Row of `id` by binary search on `ids`; negative when absent. */
    def row(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

    /** A copy of row `j`'s values. */
    def vector(j: Int): Array[Long] =
      java.util.Arrays.copyOfRange(flat, j * dim, (j + 1) * dim)

    /** q_sim_quant's corpus: each row replaced by its int8 code under
      * its max-abs scale `s` (the one JVM copy of [[quantCodeSql]]; an
      * all-zero row codes to zeros), widened to `Long` so the same
      * integer dot runs over it, norms recomputed. It is bounded by the
      * same [[graft.Limits.corpusBroadcast]] as the exact corpus: the
      * byte payload the codes once travelled in never admitted a larger
      * corpus.
      */
    def quantized: Corpus = Corpus(Array.tabulate(size) { j =>
      val e = vector(j)
      val s = e.foldLeft(0L)((a, x) => math.max(a, math.abs(x)))
      (ids(j), e.map(x =>
        if (s == 0L) 0L else ((x + s) * 254 + s) / (2 * s) - 127))
    })

    /** `dot(q, row j) / (qn · norms(j))` over the `dim` values of `q`
      * from offset `qo`: the integer dot and the one float divide of
      * every broadcast cosine. The caller skips zero norms.
      */
    def cos(q: Array[Long], qo: Int, qn: Double, j: Int): Double = {
      val o = j * dim
      var dot = 0L
      var i = 0
      while (i < dim) { dot += q(qo + i) * flat(o + i); i += 1 }
      dot.toDouble / (qn * norms(j))
    }
  }

  object Corpus {
    /** A corpus of `(id, vector)` rows in any order, all of one length. */
    def apply(rows: Array[(Long, Array[Long])]): Corpus = {
      val rs = rows.sortBy(_._1)
      val dim = if (rs.isEmpty) 0 else rs(0)._2.length
      require(rs.forall(_._2.length == dim), "corpus rows differ in length")
      val flat = new Array[Long](rs.length * dim)
      var j = 0
      while (j < rs.length) {
        System.arraycopy(rs(j)._2, 0, flat, j * dim, dim); j += 1
      }
      Corpus(rs.map(_._1), flat, rs.map(r => norm(r._2)), dim)
    }
  }

  /** Collect an embeddings slice (one job) as a [[Corpus]] of its
    * fixed-point vectors. Null and empty embeddings are dropped: they
    * have no element rows in the oracle, hence no cosine. Broadcast, it
    * is the fast path for cosine math whenever the corpus fits an
    * executor (callers gate on [[graft.Limits.corpusBroadcast]],
    * ~10⁷ × 64 longs ≈ 5 GB); past that, [[cosine]]'s distributed join
    * is the fallback.
    */
  def corpus(embs: DataFrame): Corpus = {
    import embs.sparkSession.implicits._
    Corpus(embs.select(col("vec_id"), fixedEmbedding.as("e"))
      .as[(Long, Array[Long])].collect()
      .filter { case (_, e) => hasCosine(e) })
  }

  /** [[corpus]] plus each kept row's `label`, from the same one collect:
    * the label array is aligned with the corpus rows (q_hard_negatives'
    * different-label filter).
    */
  def labelledCorpus(embs: DataFrame): (Corpus, Array[Int]) = {
    import embs.sparkSession.implicits._
    val rows = embs.select(col("vec_id"), col("label"), fixedEmbedding.as("e"))
      .as[(Long, Int, Array[Long])].collect()
      .filter { case (_, _, e) => hasCosine(e) }
      .sortBy(_._1)
    (Corpus(rows.map { case (id, _, e) => (id, e) }), rows.map(_._2))
  }

  private def hasCosine(e: Array[Long]): Boolean = e != null && e.nonEmpty

  /** The exact top-`k` rows of `c` by cosine to `q` (norm `qn`), best
    * first, as `(id, cos)`: the one exact scan behind every broadcast
    * top-k (q_sim_topk, q_sim_quant, q_hard_negatives, the decontam and
    * nearest-centroid argmax). Rows with norm 0 or `keep(j)` false are
    * skipped, and so is every row when `qn` is 0. Rows are walked in
    * ascending id into a primitive insertion buffer with a strict
    * compare, so on equal cosines the smaller id wins: the
    * `(cos DESC, vec_id)` order of every oracle window and of
    * [[windowTopK]]. Fewer than `k` kept rows return them all.
    */
  def topK(c: Corpus, q: Array[Long], qn: Double, k: Int,
      keep: Int => Boolean): Array[(Long, Double)] = {
    if (!(qn > 0.0) || k <= 0) return Array.empty
    val cs = new Array[Double](k)
    val rs = new Array[Int](k)
    var m = 0
    var j = 0
    while (j < c.size) {
      if (c.norms(j) > 0.0 && keep(j)) {
        val x = c.cos(q, 0, qn, j)
        if (m < k || x > cs(m - 1)) {
          var p = if (m < k) { m += 1; m - 1 } else k - 1
          while (p > 0 && cs(p - 1) < x) {
            cs(p) = cs(p - 1); rs(p) = rs(p - 1); p -= 1
          }
          cs(p) = x; rs(p) = j
        }
      }
      j += 1
    }
    Array.tabulate(m)(i => (c.ids(rs(i)), cs(i)))
  }

  /** HALF_UP rounding to 6 decimals on the JVM, as Spark's and DuckDB's
    * `round(cos, 6)`.
    */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The window tail of every distributed top-k over `(query_id, vec_id,
    * cos)` rows: `row_number` per query in `(cos DESC, vec_id)` order —
    * [[topK]]'s tie rule — kept to `k`, cosine rounded to 6 decimals,
    * ordered by (query_id, rn).
    */
  def windowTopK(cos: DataFrame, k: Int): DataFrame =
    cos.withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"),
        col("rn"))
      .orderBy("query_id", "rn")

  /** Exact cosine of explicit (query_id, vec_id) pairs against corpus
    * `c`, broadcast — one narrow pass, no |pairs|×dim row explosion
    * (the join formulation materialized 1.3 G rows at 20 k vectors).
    * Zero-norm and absent vectors have no defined cosine and emit no
    * row, as the oracle's `nrm > 0` joins.
    */
  def cosineByBroadcast(pairs: DataFrame, c: Corpus): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(c)
    pairs.select(col("query_id"), col("vec_id")).as[(Long, Long)]
      .mapPartitions { it =>
        val c = bc.value
        it.flatMap { case (q, v) =>
          val i = c.row(q)
          val j = c.row(v)
          if (i < 0 || j < 0 || c.norms(i) == 0.0 || c.norms(j) == 0.0) None
          else Some((q, v, c.cos(c.flat, i * c.dim, c.norms(i), j)))
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
