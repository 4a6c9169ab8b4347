package graft.ext

import graft.{Hashing, Limits, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search and distribution-distance operators over the
  * embeddings table (north-star extensions): brute-force cosine top-k,
  * random-hyperplane LSH-bucketed ANN (the scale path), embedding-cosine
  * near-duplicate pairs, and a linear-kernel MMD² two-sample distance
  * (the reference's MMD analytics, my_utils.py:37-68, with the RBF
  * kernel swapped for the linear one so the statistic is exactly
  * computable in fixed point — exp() is not cross-engine bit-stable).
  *
  * 100 TB notes: brute-force is the CORRECTNESS baseline, O(|Q|·|C|·d),
  * bounded here by the query slice; the production path is the LSH
  * variant — signatures are one narrow pass (d·planes multiplies per
  * vector), candidates come from bucket equi-joins (shuffle keyed by
  * bucket, never all-pairs), and exact cosine re-ranks only candidates.
  * Recall/cost is tuned by bands × bits exactly like MinHash banding.
  */
object SimilarityQueries {

  private val TOP_K = 5
  private val LSH_K = 3
  private val NEAR_DUP_COS = 0.4
  private val querySlice = "vec_id % 20 = 0"
  /** Hard-negative query slice (disjoint from [[querySlice]]) and the
    * negatives-per-query budget.
    */
  private val negSlice = "vec_id % 20 = 10"
  private val NEG_K = 3

  /** Bands of the top-k LSH ([[lshTopK]]): both registry entries use 2;
    * the recall/cost trade moves only along the band-width axis.
    */
  private val LSH_TOPK_BANDS = 2

  /** Sparse tf-idf cosine (q_sim_sparse): hashed feature-space size
    * (fixed → df/idf tables broadcast at any corpus scale), features
    * kept per doc, posting-list cap for pair generation (features whose
    * top-list appears in more docs are too common to discriminate —
    * the rare-shingle recall contract), idf fixed-point scale
    * (milli-nats: keeps w² and cross products far inside BIGINT for any
    * realistic tf), and the emit threshold on the ROUNDED cosine.
    */
  private val SP_BUCKETS = 8192
  private val SP_TOP = 8
  private val SP_CAP = 50
  private val SP_RATE = 1000
  private val SP_TAU = 0.5

  /** Oracle SQL for [[lshTopK]] at a fixed band width — the oracle-gated
    * SCALE parameterization (q_sim_lsh_wide, 2×8-bit): the dial is
    * hash-verified, not just measured. Plane j's coefficients are
    * h60("j:i:plane") % 2001 − 1000, bit j of the signature is the sign
    * of the fixed-point dot with plane j, and band bi is bits
    * [bandBits·bi, bandBits·(bi + 1)).
    */
  private def lshSql(bandBits: Int): String =
    s"""WITH ${VectorOps.duckElemsCte},
       |${VectorOps.duckNormsCte},
       |planes AS (
       |  SELECT j.j, i.i,
       |         ${Hashing.duckH60("j.j", "i.i", "'plane'")} % 2001 - 1000 AS c
       |  FROM (SELECT unnest(generate_series(0, ${bandBits * LSH_TOPK_BANDS - 1})) AS j) j
       |  CROSS JOIN (SELECT unnest(generate_series(1, ${VectorOps.DIM})) AS i) i
       |),
       |sigbits AS (
       |  SELECT e.vec_id, p.j,
       |    CASE WHEN SUM(e.e * p.c) > 0 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS b
       |  FROM elems e JOIN planes p ON e.i = p.i
       |  GROUP BY e.vec_id, p.j
       |), sigs AS (
       |  SELECT vec_id, CAST(SUM(b << j) AS BIGINT) AS sig FROM sigbits GROUP BY vec_id
       |), bands AS (
       |  SELECT vec_id, f.bi, (sig >> ($bandBits * f.bi)) & ${(1 << bandBits) - 1} AS blk
       |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${LSH_TOPK_BANDS - 1})) AS bi) f
       |),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.blk = b.blk AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 20 = 0
       |), ${VectorOps.duckCosineCte}
       |SELECT query_id, vec_id, round(cos, 6) AS cos, rn FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id) AS rn
       |  FROM cosines)
       |WHERE rn <= $LSH_K
       |ORDER BY query_id, rn""".stripMargin

  /** Oracle SQL for q_sim_lsh: the band width comes from the SAME
    * corpus-count dial as the Spark side ([[VectorOps.lshBandBitsFor]],
    * rendered as a CASE chain), so the oracle replays whatever banding
    * the engine picks at any scale. Planes/signature bits are generated
    * to the dial's width (j < 2·bb — plane j's coefficients depend only
    * on j, so a narrower signature is a strict bit-prefix of a wider
    * one); band blocks mask `(sig >> bb·bi) & (2^bb − 1)` dynamically.
    */
  private def lshSqlAuto: String =
    s"""WITH ${VectorOps.duckElemsCte},
       |${VectorOps.duckNormsCte},
       |dial AS (
       |  SELECT ${VectorOps.duckLshBandBits("n")} AS bb
       |  FROM (SELECT COUNT(*) AS n FROM embeddings)
       |), planes AS (
       |  SELECT j.j, i.i,
       |         ${Hashing.duckH60("j.j", "i.i", "'plane'")} % 2001 - 1000 AS c
       |  FROM (SELECT unnest(generate_series(0, ${2 * VectorOps.LSH_MAX_BITS - 1})) AS j) j
       |  CROSS JOIN (SELECT unnest(generate_series(1, ${VectorOps.DIM})) AS i) i
       |  WHERE j.j < 2 * (SELECT bb FROM dial)
       |), sigbits AS (
       |  SELECT e.vec_id, p.j,
       |    CASE WHEN SUM(e.e * p.c) > 0 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS b
       |  FROM elems e JOIN planes p ON e.i = p.i
       |  GROUP BY e.vec_id, p.j
       |), sigs AS (
       |  SELECT vec_id, CAST(SUM(b << j) AS BIGINT) AS sig FROM sigbits GROUP BY vec_id
       |), bands AS (
       |  SELECT s.vec_id, f.bi, (s.sig >> (d.bb * f.bi)) & ((1 << d.bb) - 1) AS blk
       |  FROM sigs s CROSS JOIN dial d
       |  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS bi) f
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.blk = b.blk AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 20 = 0
       |), ${VectorOps.duckCosineCte}
       |SELECT query_id, vec_id, round(cos, 6) AS cos, rn FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id) AS rn
       |  FROM cosines)
       |WHERE rn <= $LSH_K
       |ORDER BY query_id, rn""".stripMargin

  /** Hyperplane coefficients, JVM twin of the planes CTE:
    * c(j)(i-1) = h60("j:i:plane") % 2001 − 1000, for `n` planes.
    */
  private def planeMatrixFor(n: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n, VectorOps.DIM)((j, i0) =>
      Hashing.h60Jvm(md, s"$j:${i0 + 1}:plane") % 2001 - 1000)
  }

  /** Brute-force top-k, corpus-size aware: under
    * [[Limits.corpusBroadcast]] vectors the corpus is a broadcast
    * [[VectorOps.Corpus]] scanned by [[VectorOps.topK]] per query, self
    * excluded (the fast path — the pair-join formulation materialized
    * |Q|·|C|·d rows, measured 80× bench growth for 10× data); beyond it,
    * the distributed [[VectorOps.cosine]] join + [[VectorOps.windowTopK]]
    * keeps the operator CORRECT with no driver collect (slow by nature —
    * at that corpus scale q_sim_lsh / q_sim_ivf are the real answers).
    */
  def bruteForceTopK(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    if (VectorOps.corpusSize(spark, d) > Limits.corpusBroadcast) {
      val ids = Tables.embeddings(spark, d).select("vec_id")
      val pairs = ids.filter(expr(querySlice)).select(col("vec_id").as("query_id"))
        .crossJoin(ids)
        .filter(col("query_id") =!= col("vec_id"))
      return VectorOps.windowTopK(
        VectorOps.cosine(Tables.embeddings(spark, d), pairs), TOP_K)
    }
    sliceTopK(spark, d, VectorOps.corpus(Tables.embeddings(spark, d)), "cos")
  }

  /** Quantized top-k, corpus-size aware like [[bruteForceTopK]]: the
    * broadcast corpus holds the int8 codes ([[VectorOps.Corpus.quantized]])
    * under the same scan; the relational element-join formulation beyond
    * the ceiling (row-identical — ExtSpec).
    */
  def quantTopK(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    if (VectorOps.corpusSize(spark, d) > Limits.corpusBroadcast)
      return quantTopKJoin(spark, d)
    sliceTopK(spark, d,
      VectorOps.corpus(Tables.embeddings(spark, d)).quantized, "qcos")
  }

  /** The broadcast scan of [[bruteForceTopK]] and [[quantTopK]]: the
    * [[TOP_K]] best rows of corpus `c` for each query-slice vector but
    * itself, as (query_id, vec_id, `cosName`, rn) ordered by
    * (query_id, rn).
    */
  private def sliceTopK(spark: org.apache.spark.sql.SparkSession, d: String,
      c: VectorOps.Corpus, cosName: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(c)
    Tables.embeddings(spark, d).select("vec_id")
      .filter(expr(querySlice))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        val c = bc.value
        it.flatMap(q => rankedTopK(c, q, TOP_K, c.ids(_) != q))
      }
      .toDF("query_id", "vec_id", cosName, "rn")
      .orderBy("query_id", "rn")
  }

  /** (query_id, vec_id, cos rounded to 6 decimals, rn) rows of corpus
    * vector `q`'s [[VectorOps.topK]] over the rows `keep` admits; none
    * when `q` is not in the corpus.
    */
  private def rankedTopK(c: VectorOps.Corpus, q: Long, k: Int,
      keep: Int => Boolean): Iterator[(Long, Long, Double, Int)] = {
    val qi = c.row(q)
    if (qi < 0) Iterator.empty
    else VectorOps.topK(c, c.vector(qi), c.norms(qi), k, keep)
      .iterator.zipWithIndex
      .map { case ((v, cos), i) => (q, v, VectorOps.round6(cos), i + 1) }
  }

  /** The relational spelling of [[quantTopK]] — element-row join over
    * the quantized codes, the beyond-broadcast fallback. Materializes
    * |Q|·|C|·d rows through the dimension join (109s warm at 30× — the
    * same cliff the exact path hit in r2), so it exists for exactness
    * past the broadcast ceiling, not as the default.
    */
  def quantTopKJoin(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val el = VectorOps.elems(Tables.embeddings(spark, d))
    val s = el.groupBy("vec_id").agg(max(abs(col("e"))).as("s"))
    val codes = el.join(s, "vec_id")
      .select(col("vec_id"), col("i"),
        when(col("s") === 0, lit(0L))
          .otherwise(expr(VectorOps.quantCodeSql("e", "s"))).as("c"))
    val cn = codes.groupBy("vec_id")
      .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("nrm"))
    val q = codes.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("i"), col("c").as("qc0"))
    codes.join(broadcast(q), Seq("i"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qc0") * col("c")).as("dot"))
      .join(broadcast(cn.select(col("vec_id").as("query_id"),
        col("nrm").as("qn"))), "query_id")
      .join(cn, "vec_id")
      .filter(col("qn") > 0 && col("nrm") > 0)
      .withColumn("qc", col("dot").cast("double") / (col("qn") * col("nrm")))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("qc").desc, col("vec_id"))))
      .filter(col("rn") <= TOP_K)
      .select(col("query_id"), col("vec_id"),
        round(col("qc"), 6).as("qcos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Eval slice for semantic decontamination (~10% of vec_ids — a demo
    * dial; real eval corpora are far smaller than training corpora).
    */
  private val evalSlice = "vec_id % 10 = 7"
  private val DECON_COS = 0.4

  /** Semantic decontamination: flag every TRAIN vector whose best cosine
    * against the EVAL slice reaches [[DECON_COS]], reporting the best
    * eval match (ties → smallest eval_id). The shingle-overlap
    * `q_decontaminate` catches verbatim leakage; this catches
    * paraphrased leakage the same way production pipelines pair the two.
    *
    * Scale shape: the EVAL side is collected as a [[VectorOps.Corpus]]
    * and broadcast, and each train vector takes its best eval match
    * from [[VectorOps.topK]] with k = 1 — count-gated (the
    * q_decontaminate ADVICE lesson: broadcast only when the eval slice
    * is genuinely small; the memoized corpus count is checked first, so
    * the slice is counted only past the ceiling). Past
    * [[Limits.corpusBroadcast]] (r9): train×eval candidates from
    * [[bandedCandidates]] + exact verify + window argmax (the r8
    * fallback crossJoined train×eval — O(|train|·|eval|) rows). Recall:
    * a contaminated train vector sits at cos ≥ [[DECON_COS]] to its
    * eval source — few hyperplane-sign flips, so band agreement is the
    * norm, and verbatim leakage (identical embeddings) is caught with
    * certainty. The 100 TB train side never shuffles on the
    * broadcast path: one narrow scan, per-vector loop over the eval set.
    */
  def semanticDecontam(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val embs = Tables.embeddings(spark, d)
    // the eval slice is never larger than the corpus, so only a corpus
    // past the ceiling pays the slice count
    if (VectorOps.corpusSize(spark, d) > Limits.corpusBroadcast &&
        embs.filter(expr(evalSlice)).count() > Limits.corpusBroadcast) {
      val pairs = bandedCandidates(embs, VectorOps.corpusSize(spark, d),
        not(expr(evalSlice)), expr(evalSlice), lowerTriangle = false)
      return VectorOps.cosine(embs, pairs)
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rn") === 1 && col("cos") >= DECON_COS)
        .select(col("query_id").as("vec_id"), col("vec_id").as("eval_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("vec_id")
    }
    val bc = spark.sparkContext.broadcast(
      VectorOps.corpus(embs.filter(expr(evalSlice))))
    embs.filter(not(expr(evalSlice)))
      .select(col("vec_id"), VectorOps.fixedEmbedding.as("e")).as[(Long, Array[Long])]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val ev = bc.value
        it.flatMap { case (tid, te) =>
          if (te == null || te.isEmpty) Iterator.empty
          else VectorOps.topK(ev, te, VectorOps.norm(te), 1, _ => true)
            .iterator.collect { case (eid, cos) if cos >= DECON_COS =>
              (tid, eid, VectorOps.round6(cos))
            }
        }
      }
      .toDF("vec_id", "eval_id", "cos")
      .orderBy("vec_id")
  }

  /** Bands for [[bandedCandidates]]. Recall for a pair at angle θ with
    * per-plane agreement p = 1 − θ/π is 1 − (1 − p^bits)^bands — more
    * bands buy recall LINEARLY in candidate volume (Σ bucket² per band).
    * 8 bands: measured on the 10× neardup dir's planted pairs (b = 10,
    * SCALING.md r10 recall table): 1.0 identical, 0.96 at
    * cos ∈ [0.9, 1), 0.45 at [0.6, 0.9), 0.09 below (the r9 value of 2
    * measured 1.0 / ~0.5 / 0.19 / 0.03). The decay at weak cosine is
    * sign-LSH theory, not a tuning miss: keeping Σ bucket² sub-quadratic
    * forces p^bits ≪ 1, and at cos 0.4 (p ≈ 0.63) no (bits, bands)
    * choice is both sub-quadratic and high-recall — so the QUERY path
    * does not rely on this generator alone for the weak band: since
    * r11, [[nearDupCandidates]] unions it with the data-adaptive IVF
    * multi-probe arm (IvfQueries.probePairCandidates), whose recall at
    * a given cosine is a cell-geometry property, not a p^bits one
    * (measured per band in SCALING.md's r11 recall table). This
    * generator still owns the identical + strong-cosine mass (≥ 0.96
    * at cos ≥ 0.9). Transitive closure through the base recovers part
    * of the weak tail on top (cluster recall > pair recall).
    */
  private val LSH_NUM_BANDS = 8

  /** LSH-banded candidate pairs `(query_id, vec_id)` between a query
    * slice and a candidate slice of an embeddings relation: vectors
    * agreeing in at least one of [[LSH_NUM_BANDS]] hyperplane-sign
    * bands, band width dialed by the vector count `n`
    * ([[VectorOps.lshBandBitsFor]] — Σ bucket² pair volume per band,
    * never O(n²)). This is THE past-ceiling candidate generator: every
    * r8 all-pairs crossJoin fallback routes through it. Recall contract
    * quantified on [[LSH_NUM_BANDS]] (and measured in SCALING.md's r10
    * recall table); identical vectors are never missed (equal blocks by
    * construction), and every RETURNED pair is exact-cosine verified
    * downstream. The representative factoring passes a one-row-per-
    * distinct-vector slice with `n` its count (r12, VERDICT r11 #1a):
    * band buckets then hold distinct vectors instead of every copy, and
    * occupancy — hence the recall/cost trade — matches a genuine corpus
    * of that size.
    */
  private def bandedCandidates(embs: org.apache.spark.sql.DataFrame,
      n: Long, qFilter: org.apache.spark.sql.Column,
      cFilter: org.apache.spark.sql.Column,
      lowerTriangle: Boolean): org.apache.spark.sql.DataFrame = {
    val bands = sparkBandBlocks(embs, VectorOps.lshBandBitsFor(n), LSH_NUM_BANDS)
    bandedJoin(bands.filter(qFilter), bands.filter(cFilter), lowerTriangle)
  }

  private def bandedJoin(qBands: org.apache.spark.sql.DataFrame,
      cBands: org.apache.spark.sql.DataFrame,
      lowerTriangle: Boolean): org.apache.spark.sql.DataFrame = {
    val cmp =
      if (lowerTriangle) col("a.vec_id") < col("b.vec_id")
      else col("a.vec_id") =!= col("b.vec_id")
    qBands.as("a")
      .join(cBands.as("b"),
        col("a.bi") === col("b.bi") && col("a.blk") === col("b.blk") && cmp)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"))
      .distinct()
  }

  /** Per-band LSH blocks `(vec_id, bi, blk)` in ONE narrow pass: the dot
    * products run per row against the closure-captured plane matrix
    * (`bandBits · numBands` planes), and bit j of the signature lands in
    * band j / bandBits — no explode, no shuffle. Null/empty embeddings
    * produce no elems rows in the oracle CTE, so they emit no blocks.
    */
  private def sparkBandBlocks(embs: org.apache.spark.sql.DataFrame,
      bandBits: Int, numBands: Int): org.apache.spark.sql.DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val planes = planeMatrixFor(bandBits * numBands)
    embs
      .select(col("vec_id"), VectorOps.fixedEmbedding.as("e")).as[(Long, Array[Long])]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.flatMap { case (v, e) =>
          if (e == null || e.isEmpty) Iterator.empty
          else {
            val blks = new Array[Long](numBands)
            var j = 0
            while (j < planes.length) {
              var dot = 0L
              var i = 0
              while (i < e.length) { dot += e(i) * planes(j)(i); i += 1 }
              if (dot > 0) blks(j / bandBits) |= 1L << (j % bandBits)
              j += 1
            }
            Iterator.tabulate(numBands)(b => (v, b, blks(b)))
          }
        }
      }.toDF("vec_id", "bi", "blk")
  }

  /** Past-ceiling near-dup candidate generator (r11) over an embeddings
    * relation of `n` vectors: banded sign-LSH (identical + strong-cosine
    * mass, theorem-quantified recall) ∪ IVF multi-probe pairs (the
    * data-adaptive arm serving the cos ∈ [0.4, 0.9) band sign-LSH is
    * theorem-bound to miss — IvfQueries.probePairCandidates). Both arms
    * are sub-quadratic and both feed ONE exact-cosine verify, so
    * precision stays 1 whatever the mix; a pair reaching both arms
    * collapses in [[verifiedNearDup]]'s distinct. The representative
    * factoring passes its one-row-per-distinct-vector slice (r12,
    * VERDICT r11 #1a): both arms dial by the SLICE count, so duplicated
    * corpora pay generator cost in distinct vectors, never in copies;
    * IVF centroids keep training on the full corpus — the rep slice has
    * identical geometry (dedup removes mass, not support) and the
    * trained codebook is cached per (dir, k).
    */
  private[ext] def nearDupCandidates(spark: org.apache.spark.sql.SparkSession,
      d: String, embs: org.apache.spark.sql.DataFrame, n: Long)
      : org.apache.spark.sql.DataFrame =
    bandedCandidates(embs, n, lit(true), lit(true), lowerTriangle = true)
      .union(IvfQueries.probePairCandidates(spark, d, embs, n))

  /** Exact-cosine verify of candidate pairs against the near-dup
    * threshold — the precision-1 stage shared by every candidate arm.
    * Candidates may repeat (the IVF arm emits a pair once per shared
    * probed cell and direction, bounded by 2·nprobe — its scaladoc has
    * the measured case for verifying raw): duplicates cost one 64-mult
    * dot each inside the narrow verify and collapse in the distinct
    * over the ~10³× smaller survivor set, so output pairs stay unique.
    */
  private[ext] def verifiedNearDup(spark: org.apache.spark.sql.SparkSession,
      d: String, cand: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    VectorOps.cosineAuto(spark, d, cand)
      .select(col("query_id").as("vec_a"), col("vec_id").as("vec_b"),
        round(col("cos"), 6).as("cos"))
      .filter(col("cos") >= NEAR_DUP_COS)
      .distinct()

  /** Past-ceiling near-dup pair relation memoized per (session, dir):
    * q_dedup_embed and q_dedup_embed_cluster consume the IDENTICAL
    * union-generator + exact-verify subtree past the pair ceiling (the
    * dominant cost of both at the 100× probe — each rebuilt it
    * independently before r11, 565s + 365s in the same suite run), and
    * the q_candidates memoization rule says pay it once. The persist
    * lands inside the Memo build so the blocks are entry-attributed
    * and byte-budgeted like every other entry.
    */
  private[ext] def nearDupPairsPastCeiling(
      spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.Memo.cached(spark, d, "sim.nearDupPairs") {
      // REPRESENTATIVE factoring, vector edition (r11): the text twin's
      // logic transfers verbatim — an identical embedding has identical
      // cosine against every other vector, so pair mining need only run
      // over one representative per DISTINCT vector, and the full
      // relation is an output-sized expansion (within-group pairs are
      // cos 1.0 by definition; cross-group pairs inherit the verified
      // representative cosine). Identity is the QUANTIZED form — the
      // exact verify's own input representation, so "identical" means
      // identical to the cosine every path computes — keyed by two
      // independent 64-bit hashes (collision odds ~n²/2¹²⁸; the text
      // factoring's single-h60 key carries more risk and is oracle-
      // anchored). Zero-quantized vectors are excluded up front: no
      // path emits a pair for them (the exact loop skips norm 0, the
      // verify's threshold filter drops NaN). The payoff regime is
      // duplicated corpora — exactly where band buckets and IVF cells
      // blow up quadratically (the zipf 100× axis: 100 verbatim copies
      // per vector, union arms 575.7s) — and when representatives fit
      // the pair-exact ceiling the factored relation is BIT-EXACT to
      // the quadratic oracle form (recall 1, not a recall contract).
      // Count-gated like the text dial: duplication < 2× (measured
      // exactly, r12) → the union-generator path over the full corpus
      // unchanged; at ≥ 2× the mine always runs over representatives —
      // bit-exact under the pair-exact ceiling, union-generator recall
      // contract over the rep slice past it.
      val withVh = Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"), VectorOps.fixedEmbedding.as("e"))
        .filter(expr("exists(e, x -> x != 0L)"))
        .select(col("vec_id"), xxhash64(col("e")).as("vh"),
          xxhash64(col("e"), lit(88L)).as("vh2"))
        .persist()
      val groups = withVh.groupBy("vh", "vh2")
        .agg(min(col("vec_id")).as("rep")).persist()
      // exact gate (r12, ADVICE): count() over the just-persisted groups
      // replaces the HLL approx, whose ~2% error could admit more than
      // the pair-exact ceiling into the broadcast collect below
      val nRep = graft.StageTiming.timed("embed/rep-groups") {
        groups.count()
      }
      val nTot = withVh.count()
      val dupRatio = if (nRep == 0L) 1.0 else nTot.toDouble / nRep
      if (dupRatio < 2.0) {
        withVh.unpersist(blocking = false)
        groups.unpersist(blocking = false)
        verifiedNearDup(spark, d, nearDupCandidates(spark, d,
          Tables.embeddings(spark, d), VectorOps.corpusSize(spark, d))).persist()
      } else {
        val members = withVh.join(groups, Seq("vh", "vh2"))
        val repEmb = Tables.embeddings(spark, d)
          .join(groups.select(col("rep").as("vec_id")), "vec_id")
        // rep pair mining in TWO regimes (r12, VERDICT r11 #1a): the
        // BIT-EXACT broadcast loop while the reps fit the pair-exact
        // ceiling, and the SAME union generator + exact verify over the
        // rep slice past it — so a duplicated corpus never pays
        // generator cost in the number of copies at ANY rep count (the
        // r11 gate fell back to mining over every copy when reps
        // exceeded the ceiling, re-admitting the quadratic bucket
        // blow-up the factoring exists to avoid). Generators dial by
        // the rep count; centroids keep training on the full corpus
        // (identical geometry, cached per (dir, k)).
        // persisted: consumed by BOTH the cross expansion and the edge
        // twin — unpersisted once both are materialized (the r11 build
        // re-ran the whole mine per consumer)
        val repPairs = graft.StageTiming.timed("embed/rep-mine") {
          val rp =
            (if (nRep <= Limits.embedPairExact) embedNearDupFrom(spark, repEmb)
             else verifiedNearDup(spark, d,
               nearDupCandidates(spark, d, repEmb, nRep)))
            .select(col("vec_a").as("ra"), col("vec_b").as("rb"), col("cos"))
            .persist()
          rp.count()
          rp
        }
        val within = members
          .select(col("vh"), col("vh2"), col("vec_id").as("a"))
          .join(members.select(col("vh"), col("vh2"),
            col("vec_id").as("b")), Seq("vh", "vh2"))
          .filter(col("a") < col("b"))
          .select(col("a").as("vec_a"), col("b").as("vec_b"),
            lit(1.0).as("cos"))
        val cross = repPairs
          .join(members.select(col("rep").as("ra"),
            col("vec_id").as("a")), "ra")
          .join(members.select(col("rep").as("rb"),
            col("vec_id").as("b")), "rb")
          .select(least(col("a"), col("b")).as("vec_a"),
            greatest(col("a"), col("b")).as("vec_b"), col("cos"))
        // connectivity-reduced edge twin for cluster assembly: a
        // within-group CLIQUE is connectivity-equivalent to a STAR on
        // its representative, and the cross expansion of a rep pair to
        // one rep–rep edge — components (hence min-id labels) are
        // identical, but the edge count is members + rep pairs instead
        // of the output-sized pair relation (the zipf 100× pair
        // relation is 19.1M rows of ~100-cliques; propagating labels
        // through it cost q_dedup_embed_cluster 255s vs seconds over
        // the reduction). Registered here because only this build
        // knows the group structure; consumers peek and fall back to
        // the pair relation when this branch wasn't taken.
        graft.StageTiming.timed("embed/edge-twin") {
          graft.Memo.cached(spark, d, "sim.nearDupEdges") {
            members.filter(col("vec_id") =!= col("rep"))
              .select(col("rep").as("vec_a"), col("vec_id").as("vec_b"))
              .unionByName(repPairs.select(col("ra").as("vec_a"),
                col("rb").as("vec_b")))
              .persist()
          }
        }
        val out = graft.StageTiming.timed("embed/expand") {
          val o = within.unionByName(cross).persist()
          o.count()
          o
        }
        // the build inputs are only needed during the build (ADVICE r11:
        // withVh stayed persisted for the entry's lifetime, permanently
        // inflating its byte-budget footprint); both outputs are
        // materialized above, so dropping the inputs costs nothing —
        // an eviction-triggered rebuild recomputes them from lineage
        withVh.unpersist(blocking = false)
        groups.unpersist(blocking = false)
        repPairs.unpersist(blocking = false)
        out
      }
    }

  /** Edge relation for near-dup cluster assembly: the pair relation
    * itself, or — when the representative factoring built one — its
    * connectivity-equivalent reduction (stars + rep pairs). Builds the
    * pair relation first so the factored branch has registered the
    * twin; label equality between the two inputs is spec-proven on a
    * duplicated fixture.
    */
  private[graft] def nearDupClusterEdges(
      spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val pairs = embedNearDupAuto(spark, d)
    val n = VectorOps.corpusSize(spark, d)
    val src =
      if (n <= Limits.embedPairExact) pairs
      else graft.Memo.peek(spark, d, "sim.nearDupEdges").getOrElse(pairs)
    src.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
  }

  /** Near-dup pairs with the candidate strategy chosen by corpus count:
    * exact all-pairs ([[embedNearDup]]) under [[Limits.embedPairExact]]
    * (bit-identical to the oracle), the memoized union-generator + exact
    * verify relation ([[nearDupPairsPastCeiling]]) above it. Every
    * RETURNED pair carries an exact verified cosine either way; the
    * past-ceiling recall contract is on q_dedup_embed.
    */
  def embedNearDupAuto(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val n = VectorOps.corpusSize(spark, d)
    if (n <= Limits.embedPairExact) return embedNearDup(spark, d)
    nearDupPairsPastCeiling(spark, d)
  }

  /** Embedding near-dup pairs by the EXACT broadcast-matrix partition
    * loop over the whole corpus, sorted — the bit-exact oracle anchor.
    * Its one shipped caller, [[embedNearDupAuto]], reaches it only under
    * [[Limits.embedPairExact]] vectors, far inside the corpus broadcast
    * ceiling.
    */
  def embedNearDup(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    embedNearDupFrom(spark, Tables.embeddings(spark, d))
      .orderBy("vec_a", "vec_b")

  /** The exact broadcast-matrix pair loop over an explicit embeddings
    * slice — the primitive behind [[embedNearDup]], and what the
    * representative factoring runs over the distinct-vector slice. The
    * slice is collected as a [[VectorOps.Corpus]] and broadcast; each
    * vector is compared with [[VectorOps.Corpus.cos]] against the rows
    * of larger id, keeping the pairs at the threshold. The collect is
    * bounded by the caller's gate: [[embedNearDupAuto]] checks
    * the corpus count and the factoring the EXACT representative count
    * against [[Limits.embedPairExact]] before calling. Output is UNSORTED (r12,
    * ADVICE: the factoring feeds it straight into joins — sorted-output
    * callers order at their edge).
    */
  private[ext] def embedNearDupFrom(
      spark: org.apache.spark.sql.SparkSession,
      embDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fixed = embDf
      .select(col("vec_id"), VectorOps.fixedEmbedding.as("e")).as[(Long, Array[Long])]
    val corpus = spark.sparkContext.broadcast(VectorOps.corpus(embDf))
    // single-file scans arrive as 1-2 partitions; spread the O(n²d)
    // loop across the cluster before it runs (measured: pinned 2 cores
    // for minutes at 20k vectors otherwise)
    fixed.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
      val c = corpus.value
      it.flatMap { case (ida, ea) =>
        val na = if (ea == null || ea.isEmpty) 0.0 else VectorOps.norm(ea)
        if (na == 0.0) Iterator.empty
        else {
          // corpus rows ascend by vec_id — start at the first id > ida
          // and run a primitive index loop from there. The first version
          // boxed every pair through iterator/Option AND built a
          // BigDecimal per pair for the 6-decimal rounding: at 30× scale
          // (60 k vectors, 1.8 G pairs) the BigDecimal allocation alone
          // dominated the O(n²d) dot products. Rounding only matters for
          // pairs that can clear the threshold, so gate it: HALF_UP at 6
          // decimals moves a value by at most 5e-7, hence any raw cosine
          // below NEAR_DUP_COS − 5e-7 cannot round into the output (the
          // boundary raw == T − 5e-7 itself rounds up to T, inclusive).
          val r = c.row(ida)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var j = if (r >= 0) r + 1 else -r - 1
          while (j < c.size) {
            if (c.norms(j) > 0.0) {
              val raw = c.cos(ea, 0, na, j)
              if (raw >= NEAR_DUP_COS - 5e-7) {
                val cos = VectorOps.round6(raw)
                if (cos >= NEAR_DUP_COS) out += ((ida, c.ids(j), cos))
              }
            }
            j += 1
          }
          out.iterator
        }
      }
    }.toDF("vec_a", "vec_b", "cos")
  }

  /** Hyperplane-LSH top-k, parameterized by the band width — THE scale
    * dial of the operator. Bucket occupancy is n / 2^bandBits per band,
    * and the candidate-pair axis is quadratic in occupancy, so bandBits
    * must grow with the corpus (≈ log2(n / targetBucket) — the standard
    * LSH sizing rule, [[VectorOps.lshBandBitsFor]], which q_sim_lsh
    * passes): 4-bit bands (16 buckets) are right for the oracle-gated
    * sf0.01-0.1 range, while 60 k vectors already want ≥6-bit bands
    * (measured at 30×: 2×6 bits cut the query 3× — SCALING.md r5).
    * Candidates come from the same narrow band-block pass and bucket
    * join as the near-dup generator, over the query slice with a ≠ b;
    * results for any given band width are deterministic in both engines.
    */
  def lshTopK(spark: org.apache.spark.sql.SparkSession, d: String,
      bandBits: Int): org.apache.spark.sql.DataFrame = {
    val bands = sparkBandBlocks(Tables.embeddings(spark, d), bandBits,
      LSH_TOPK_BANDS)
    val pairs = bandedJoin(bands.filter(expr(querySlice)), bands,
      lowerTriangle = false)
    // exact re-rank of LSH candidates: broadcast corpus under the
    // size ceiling, distributed join formulation past it
    VectorOps.windowTopK(VectorOps.cosineAuto(spark, d, pairs), LSH_K)
  }

  /** Past-ceiling hard-negative probe count: 16 probed cells per query,
    * set by the r13 generator ablation (exact top-[[NEG_K]] SET recall
    * on anchored dirs — SCALING.md r13 table): banded sign-LSH mine
    * 0.101 (20k) / 0.080 (60k); ANN cells 0.362/0.267 @8 and
    * 0.494/0.388 @16. Hard negatives live at the high-cosine end, where
    * data-adaptive cells dominate sign bands 3-5× at comparable mass —
    * the adopted generator.
    */
  val HN_NPROBE = 16

  /** Count-derived hard-negative probe dial (r14, VERDICT r13 #1): the
    * r13 adoption fixed the GENERATOR (ANN cells beat sign bands 3-5×)
    * but left the probe count a constant, and exact top-K recall at
    * fixed nprobe decays as fixed-occupancy cells shrink with n —
    * 0.494 (10×, k=256) → 0.388 (30×, k=512) @16. Unlike the pair-mine
    * weak band (quadratic chance mass — see
    * [[IvfQueries.pairNprobeFor]]'s deliberate stop), the top-K target
    * is a FIXED per-query set, so recall here is a real quantity worth
    * holding, and the r14 anchored sweep (through the shipped factored
    * pipeline, exact top-K set recall — SCALING.md r14 table) shows
    * recall is governed by the PROBED CELL FRACTION np/k, not by np:
    * at 6.25% of cells every scale recalls ≥ 0.494
    * (0.494 at 10×, 0.529 at 30×, 0.651 at 100× — rising with n, since
    * finer cells at equal fraction waste less probe mass, the same
    * geometry the r13 equal-mass ablation measured for pairs). So the
    * dial holds the fraction: nprobe = k/16, floored at [[HN_NPROBE]]
    * — the r13 adoption operating point (np 16 at k 256) carried
    * across scale where the fixed constant decays (0.494 → 0.388 →
    * 0.270 at np 16).
    *
    * The priced trade: candidate mass per query at the dial is
    * (k/16)·(n/k) = n/16 — a FIXED 1/16 of the corpus, 16× cheaper
    * than the exact scan at every n (and past [[IvfQueries
    * .PAIR_FLAT_MAX_K]] the capped k with growing occupancy keeps the
    * fraction exactly 1/16), in exchange for recall ≈ 0.5 held flat —
    * a mine whose recall silently halves per 10× of corpus (the r14
    * table's fixed-16 column) is the worse surprise.
    */
  def hnNprobeFor(n: Long): Int =
    math.max(HN_NPROBE, IvfQueries.pairFlatKFor(n) / 16)

  /** Hard-negative mining for embedding-model training: per query
    * vector, the NEG_K most-similar vectors carrying a DIFFERENT label
    * (the classic contrastive-training batch builder — easy negatives
    * teach nothing, the near-misses carry gradient). Under the ceiling:
    * the broadcast [[VectorOps.Corpus]] and a label array aligned with
    * its rows, scanned by [[VectorOps.topK]] with keep = label differs —
    * the exact oracle anchor. Past it: mine within probed flat-IVF cells
    * before the label filter ([[IvfQueries.annQueryCandidatesFrom]] at
    * [[hnNprobeFor]] probes — r13, adopted over the r9 banded-bucket
    * mine on the measured top-K recall table above). The mined
    * negatives are the hardest IN-CELL near-misses — the high-cosine
    * vectors contrastive training wants; a vector outside every probed
    * cell is a low-similarity easy negative that carried no gradient
    * anyway.
    */
  def hardNegatives(spark: org.apache.spark.sql.SparkSession, d: String,
      factorOverride: Option[Boolean] = None)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val labels = Tables.embeddings(spark, d).select(col("vec_id"), col("label"))
    if (VectorOps.corpusSize(spark, d) > Limits.corpusBroadcast) {
      // REPRESENTATIVE factoring, hard-negative edition (r12, VERDICT
      // r11 #6): two vectors with an identical quantized embedding AND
      // identical label receive the identical negative list — the
      // candidate set is "label ≠ mine" (so a query's own duplicates
      // are excluded for both by the label filter — self-exclusion is
      // IMPLIED), band membership is a function of the embedding alone,
      // and cosines follow the embedding. So past the ceiling, mine
      // once per distinct (vector, label) group on BOTH sides:
      //  - query side: one rep per group intersecting the query slice;
      //  - candidate side: one rep per group, rank() with ties kept at
      //    the NEG_K-th distinct cosine — any member row of the true
      //    top-NEG_K has ≥ its rep's rank ≤ NEG_K (rank r means r−1
      //    strictly-better distinct candidates, each with ≥ 1 member
      //    above it), so expanding kept reps to members and re-ranking
      //    by (cos desc, vec_id) reproduces the unfactored rows
      //    EXACTLY (spec-proven on a duplicated fixture).
      // Count-gated on the query slice's measured duplication, like
      // the other factorings.
      val e8 = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("label"), VectorOps.fixedEmbedding.as("e"))
        .select(col("vec_id"), col("label"),
          xxhash64(col("e")).as("vh"), xxhash64(col("e"), lit(88L)).as("vh2"))
      // stage-attributed (r13, VERDICT r12 #5): the zipf 100× capstone's
      // in-suite-vs-standalone gap (235.7 vs 47.5-90.6s) was inferred
      // from r11 parity, not readable from the artifact — these lines
      // plus the memo'd rep mine below make it artifact-attributable
      val qStats = graft.StageTiming.timed("hardneg/rep-stats") {
        e8.filter(expr(negSlice))
          .agg(count(lit(1)),
            count_distinct(col("vh"), col("vh2"), col("label"))).head()
      }
      val factor = factorOverride.getOrElse(
        !qStats.isNullAt(1) && qStats.getLong(1) > 0 &&
          qStats.getLong(0) >= 2 * qStats.getLong(1))
      val emb0 = Tables.embeddings(spark, d)
      val corpusN = VectorOps.corpusSize(spark, d)
      def genCand(qEmb: org.apache.spark.sql.DataFrame,
          cEmb: org.apache.spark.sql.DataFrame) =
        IvfQueries.annQueryCandidatesFrom(spark, d, qEmb, cEmb,
          corpusN, hnNprobeFor(corpusN))
      val cand =
        if (!factor)
          genCand(emb0.filter(expr(negSlice)), emb0)
        else {
          val qGroups = e8.filter(expr(negSlice))
            .groupBy("vh", "vh2", "label").agg(min(col("vec_id")).as("qrep"))
          val cGroups = e8
            .groupBy("vh", "vh2", "label").agg(min(col("vec_id")).as("crep"))
          val emb = Tables.embeddings(spark, d)
          // cell dial stays the CORPUS count, NOT the rep count: members
          // home in exactly the cells their reps do, so the
          // rep-level candidate relation is precisely the dedup of the
          // unfactored one and the expansion reproduces its rows — a row
          // EQUALITY contract (spec-proven), not a re-dialed recall
          // trade like the near-dup factoring's
          // the rep-level mine (ANN candidates → label filter → exact
          // cosine → rank-with-ties) is a Memo entry: materialized inside
          // the build so its cost lands as a memo/ stage line in bench
          // artifacts (VERDICT r12 #5), persisted under the byte budget,
          // and shared if anything else in the session needs it
          val repTop = graft.Memo.cached(spark, d, "sim.hardNegRepTop") {
            val repCand = genCand(
              emb.join(qGroups.select(col("qrep").as("vec_id")), "vec_id"),
              emb.join(cGroups.select(col("crep").as("vec_id")), "vec_id"))
            val repPairs = repCand
              .join(labels.select(col("vec_id").as("query_id"),
                col("label").as("qlab")), "query_id")
              .join(labels, "vec_id")
              .filter(col("label") =!= col("qlab"))
              .select("query_id", "vec_id")
            VectorOps.cosineAuto(spark, d, repPairs)
              .withColumn("rk", rank().over(Window.partitionBy("query_id")
                .orderBy(col("cos").desc)))
              .filter(col("rk") <= NEG_K)
              .persist()
          }
          val qm = e8.filter(expr(negSlice)).join(qGroups, Seq("vh", "vh2", "label"))
            .select(col("qrep"), col("vec_id").as("qm"))
          val cm = e8.join(cGroups, Seq("vh", "vh2", "label"))
            .select(col("crep"), col("vec_id").as("cm"))
          return VectorOps.windowTopK(repTop
            .join(qm, col("query_id") === col("qrep"))
            .join(cm, col("vec_id") === col("crep"))
            .select(col("qm").as("query_id"), col("cm").as("vec_id"), col("cos")),
            NEG_K)
        }
      val pairs = cand
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("qlab")), "query_id")
        .join(labels, "vec_id")
        .filter(col("label") =!= col("qlab"))
        .select("query_id", "vec_id")
      return VectorOps.windowTopK(VectorOps.cosineAuto(spark, d, pairs), NEG_K)
    }
    // stage-attributed (r13, VERDICT r12 #5): at every tested corpus
    // scale (200k vectors at 100× — far under the 10M ceiling) THIS is
    // the branch capstones run, so the artifact needs its split too:
    // corpus+label broadcast build vs the O(|Q|·n·d) scan loop
    // (= the query remainder)
    val bc = graft.StageTiming.timed("hardneg/broadcast") {
      spark.sparkContext.broadcast(VectorOps.corpus(Tables.embeddings(spark, d)))
    }
    // labels aligned with the corpus rows
    val lab = {
      val c = bc.value
      val a = new Array[Int](c.size)
      labels.as[(Long, Int)].collect().foreach { case (id, l) =>
        val j = c.row(id)
        if (j >= 0) a(j) = l
      }
      spark.sparkContext.broadcast(a)
    }
    labels.filter(expr(negSlice))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions { it =>
        val c = bc.value; val la = lab.value
        it.flatMap { case (qid, qlab) =>
          rankedTopK(c, qid, NEG_K, la(_) != qlab)
        }
      }
      .toDF("query_id", "vec_id", "cos", "rn")
      .orderBy("query_id", "rn")
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- hard negatives: top-NEG_K nearest DIFFERENT-label vectors
    //      per query — the contrastive-training batch builder ----
    "q_hard_negatives" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |${VectorOps.duckNormsCte},
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id
         |  FROM (SELECT vec_id, label FROM embeddings WHERE $negSlice) q
         |  JOIN embeddings c ON c.label <> q.label
         |), ${VectorOps.duckCosineCte}
         |SELECT query_id, vec_id, round(cos, 6) AS cos, rn FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM cosines)
         |WHERE rn <= $NEG_K
         |ORDER BY query_id, rn""".stripMargin) { (spark, d) =>
      // Past-ceiling RECALL CONTRACT (r14, measured against the exact
      // broadcast path on anchored dirs up to 200k vectors — SCALING.md
      // r14 table; under the 10M-vector ceiling the query IS the exact
      // path): every returned negative is a true different-label vector
      // with its EXACT cosine (precision 1 — hardness is never
      // estimated); exact top-K set recall at the count-derived dial
      // (hnNprobeFor: nprobe = k/16, a fixed 1/16 of the corpus probed
      // per query) holds ≥ 0.49 at every measured scale and RISES with
      // n — 0.494 (10×) / 0.529 (30×) / 0.651 (100×) — where the r13
      // fixed nprobe 16 decays 0.494 → 0.388 → 0.270. Misses are rank
      // DISPLACEMENTS: a missed true top-K negative is replaced by the
      // next-hardest in-cell near-miss, not by an easy negative.
      hardNegatives(spark, d)
    },

    // ---- brute-force cosine top-k: the exact baseline ----
    "q_sim_topk" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |${VectorOps.duckNormsCte},
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id
         |  FROM (SELECT vec_id FROM embeddings WHERE $querySlice) q
         |  CROSS JOIN (SELECT vec_id FROM embeddings) c
         |  WHERE q.vec_id <> c.vec_id
         |), ${VectorOps.duckCosineCte}
         |SELECT query_id, vec_id, round(cos, 6) AS cos, rn FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM cosines)
         |WHERE rn <= $TOP_K
         |ORDER BY query_id, rn""".stripMargin) { (spark, d) =>
      bruteForceTopK(spark, d)
    },

    // ---- QUANTIZED top-k: the int8 serving path (the compose of
    //      q_embed_quant's codes with q_sim_topk's ranking). Scores are
    //      cosine over the int8 codes: dot products are small exact
    //      INTEGERS (≤ 64·127² per pair), so the only float ops are the
    //      two norm sqrts, one multiply and one divide — the identical
    //      op order as the exact cosine path, bit-stable cross-engine.
    //      At 100 TB serving quantizes for an ~8× smaller corpus
    //      (byte codes vs fixed-point longs); here the codes travel
    //      widened to longs in the one VectorOps.Corpus, under the same
    //      broadcast ceiling as the exact corpus. Spark side mirrors
    //      bruteForceTopK: the quantized corpus scanned by the same
    //      VectorOps.topK (the relational element
    //      join was 109s warm at 30× — the r2 q_sim_topk lesson
    //      re-measured — and stays as the beyond-broadcast fallback,
    //      spec-proven row-identical). ----
    "q_sim_quant" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |s AS (
         |  SELECT vec_id, MAX(abs(e)) AS s FROM elems GROUP BY vec_id
         |), codes AS (
         |  SELECT el.vec_id, el.i,
         |         CASE WHEN s.s = 0 THEN 0
         |              ELSE ${VectorOps.duckQuantCode("el.e", "s.s")}
         |         END AS c
         |  FROM elems el JOIN s ON s.vec_id = el.vec_id
         |), cn AS (
         |  SELECT vec_id, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS nrm
         |  FROM codes GROUP BY vec_id
         |), dots AS (
         |  SELECT q.vec_id AS query_id, v.vec_id,
         |         CAST(SUM(q.c * v.c) AS BIGINT) AS dot
         |  FROM codes q
         |  JOIN codes v ON v.i = q.i AND v.vec_id <> q.vec_id
         |  WHERE q.vec_id % 20 = 0
         |  GROUP BY 1, 2
         |), qcos AS (
         |  SELECT d.query_id, d.vec_id,
         |         CAST(d.dot AS DOUBLE) / (nq.nrm * nc.nrm) AS qc
         |  FROM dots d
         |  JOIN cn nq ON nq.vec_id = d.query_id AND nq.nrm > 0
         |  JOIN cn nc ON nc.vec_id = d.vec_id AND nc.nrm > 0
         |)
         |SELECT query_id, vec_id, round(qc, 6) AS qcos, rn FROM (
         |  SELECT query_id, vec_id, qc,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY qc DESC, vec_id) AS rn
         |  FROM qcos)
         |WHERE rn <= $TOP_K
         |ORDER BY query_id, rn""".stripMargin) { (spark, d) =>
      quantTopK(spark, d)
    },

    // ---- per-label embedding centroids: the distributed prototype/
    //      centroid computation (class prototypes, IVF-style cell init,
    //      drift monitoring). Element rows hash-aggregate on (label, i)
    //      with map-side partial sums — the canonical one-shuffle
    //      centroid plan; sums stay integer-exact in fixed point, the
    //      single divide at the end is IEEE-exact. Output is labels × 64
    //      rows — broadcast-size, whatever consumes it next. ----
    "q_embed_centroids" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte}
         |SELECT label, i, COUNT(*) AS n,
         |       CAST(SUM(e) AS BIGINT) AS sum_e,
         |       round(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS centroid
         |FROM elems
         |GROUP BY label, i
         |ORDER BY label, i""".stripMargin) { (spark, d) =>
      VectorOps.elems(Tables.embeddings(spark, d))
        .groupBy("label", "i")
        .agg(count(lit(1)).as("n"), sum(col("e")).as("sum_e"),
          round(sum(col("e")).cast("double") / count(lit(1)), 6).as("centroid"))
        .orderBy("label", "i")
    },

    // ---- q_nearest_centroid: nearest-centroid classification +
    //      confusion matrix — the eval loop that closes the prototype
    //      family (q_embed_centroids builds the model, this scores it;
    //      Rocchio / prototypical-network inference). Scoring key:
    //      argmax over labels of dot(v, c_l)/‖c_l‖ — ‖v‖ is constant per
    //      vector so true cosine argmax without ever computing it. The
    //      centroid is the exact per-label MEAN re-projected onto the
    //      1e7 grid (one mirrored round per cell), so every dot term
    //      stays far inside BIGINT and the model is |labels|×dim longs.
    //      100 TB: the model COLLECTS (bounded by labels·dim, never the
    //      corpus) and broadcasts into ONE fused narrow pass scoring all
    //      |labels| dots per vector in-memory, emitting only (true,
    //      pred) — no element explode, no vector-sized shuffle; the
    //      first exchange is the |labels|² confusion rollup. Exact
    //      integer dots; the only floats are the mirrored sqrt + divide;
    //      ties broken by label ----
    "q_nearest_centroid" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |cents AS (
         |  SELECT label AS cand, i,
         |    CAST(round(CAST(SUM(e) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |  FROM elems GROUP BY label, i
         |), cnorm AS (
         |  SELECT cand, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS nrm
         |  FROM cents GROUP BY cand
         |), scores AS (
         |  SELECT e.vec_id, e.label AS true_label, c.cand,
         |    CAST(SUM(e.e * c.c) AS DOUBLE) / MIN(n.nrm) AS score
         |  FROM elems e
         |  JOIN cents c ON c.i = e.i
         |  JOIN cnorm n ON n.cand = c.cand AND n.nrm > 0
         |  GROUP BY e.vec_id, e.label, c.cand
         |), pred AS (
         |  SELECT vec_id, true_label, cand AS pred_label FROM (
         |    SELECT vec_id, true_label, cand,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY score DESC, cand) AS rn
         |    FROM scores)
         |  WHERE rn = 1
         |)
         |SELECT true_label, pred_label, COUNT(*) AS n
         |FROM pred GROUP BY true_label, pred_label
         |ORDER BY true_label, pred_label""".stripMargin) { (spark, d) =>
      import spark.implicits._
      // model build: one (label, i) hash agg + a bounded collect —
      // |labels|·dim cells, never the corpus
      val cents = VectorOps.elems(Tables.embeddings(spark, d))
        .groupBy(col("label").as("cand"), col("i"))
        .agg(expr("CAST(round(CAST(SUM(e) AS DOUBLE) / COUNT(*), 0) AS BIGINT)")
          .as("c"))
        .collect()
      // the label centroids as a corpus (ids = labels); a vector's
      // prediction is topK with k = 1 and qn = 1.0, whose cosine
      // dot / (1.0 · ‖c‖) is exactly the score dot / ‖c‖
      val dim = cents.map(_.getAs[Number]("i").intValue).max
      val model = cents.groupBy(_.getAs[Int]("cand")).iterator.map {
        case (l, rs) =>
          val v = new Array[Long](dim)
          rs.foreach(r => v(r.getAs[Number]("i").intValue - 1) = r.getAs[Long]("c"))
          (l.toLong, v)
      }.toArray
      val bc = spark.sparkContext.broadcast(VectorOps.Corpus(model))
      Tables.embeddings(spark, d)
        .select(col("label"),
          VectorOps.fixedEmbedding.as("q"))
        .as[(Int, Array[Long])]
        .mapPartitions { it =>
          val c = bc.value
          it.flatMap { case (trueL, q) =>
            if (q == null || q.isEmpty) None
            else VectorOps.topK(c, q, 1.0, 1, _ => true).headOption
              .map { case (l, _) => (trueL, l.toInt) }
          }
        }
        .toDF("true_label", "pred_label")
        .groupBy("true_label", "pred_label")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    },

    // ---- SEMANTIC decontamination: best-eval-match cosine flagging
    //      (the paraphrase-leakage complement to q_decontaminate's
    //      verbatim shingle overlap). Eval side broadcast, count-gated;
    //      train side one narrow pass, never shuffled. ----
    "q_decontaminate_semantic" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |${VectorOps.duckNormsCte},
         |pairs AS (
         |  SELECT t.vec_id AS query_id, e.vec_id
         |  FROM (SELECT vec_id FROM embeddings WHERE NOT ($evalSlice)) t
         |  CROSS JOIN (SELECT vec_id FROM embeddings WHERE $evalSlice) e
         |), ${VectorOps.duckCosineCte}
         |SELECT query_id AS vec_id, eval_id, round(cos, 6) AS cos FROM (
         |  SELECT query_id, vec_id AS eval_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM cosines)
         |WHERE rn = 1 AND cos >= $DECON_COS
         |ORDER BY vec_id""".stripMargin) { (spark, d) =>
      semanticDecontam(spark, d)
    },

    // ---- LSH-bucketed ANN, the DEFAULT entry: band width derived from
    //      the corpus count (VectorOps.lshBandBitsFor — 4 bits at oracle
    //      scale, 13 bits at the 100× probe's 200k vectors), the same
    //      count that already switches the broadcast/join cosine paths.
    //      Occupancy n/2^bb stays ≤ ~32 per band, so candidate volume is
    //      ~linear in n instead of quadratic; the oracle replays the
    //      dial via lshSqlAuto's CASE chain. ----
    "q_sim_lsh" -> QueryDef(lshSqlAuto) { (spark, d) =>
      lshTopK(spark, d, VectorOps.lshBandBitsFor(VectorOps.corpusSize(spark, d)))
    },

    // ---- FIXED banding spec anchor, oracle-gated: 2×8-bit bands (256
    //      buckets/band) — proves a specific dial hash-identically in
    //      both engines independent of corpus size (the auto entry's
    //      behavior varies with n by design) ----
    "q_sim_lsh_wide" -> QueryDef(lshSql(8)) { (spark, d) =>
      lshTopK(spark, d, bandBits = 8)
    },

    // ---- embedding-cosine near-duplicate pairs ----
    // Exact all-pairs, computed against the BROADCAST fixed-point matrix
    // (n·d longs — ~1 MB here, still broadcastable at 10⁶-vector corpus
    // scale) with an imperative per-partition loop: each task scans its
    // vectors against the matrix, O(n²d/p) multiplies, no pair-explosion
    // shuffle. Beyond broadcastable corpus sizes the LSH bucketing of
    // q_sim_lsh is the candidate generator.
    "q_dedup_embed" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |${VectorOps.duckNormsCte},
         |pairs AS (
         |  SELECT a.vec_id AS query_id, b.vec_id
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |), ${VectorOps.duckCosineCte}
         |SELECT query_id AS vec_a, vec_id AS vec_b, round(cos, 6) AS cos
         |FROM cosines
         |WHERE round(cos, 6) >= $NEAR_DUP_COS
         |ORDER BY vec_a, vec_b""".stripMargin) { (spark, d) =>
      // Pair-ceiling dial (r11): the exact broadcast loop is the oracle
      // anchor UNDER Limits.embedPairExact (covers every test-data scale —
      // sf0.01 has 200 vectors, sf0.1 has 2000); past it the O(n²d)
      // loop is the suite's worst asymptotic (565s at the 200k-vector
      // 100× probe, hours at 1M), so the query routes through the same
      // union-generator + exact-verify relation the cluster assembly
      // uses — recall quantified per cosine band in SCALING.md, every
      // returned pair exact-verified, and the relation built ONCE for
      // both consumers (sim.nearDupPairs memo). Before r11 this query
      // pinned the 10M broadcast ceiling, which is the right dial for
      // O(n·q) top-k scans but quadratic-blind for pair mining.
      //
      // Past-ceiling RECALL CONTRACT (r13, measured against exact
      // all-pairs anchors up to 200k vectors — SCALING.md r13 tables):
      // precision 1 (every pair exact-verified); identical and
      // cos ∈ [0.9,1) pairs recall 1.000 at every measured scale;
      // cos ∈ [0.6,0.9) ≥ 0.93; cluster-closure recall 1.0000 at 100×.
      // The [0.4,0.6) band holds ≥ 0.5 through the 30×/60k anchor via
      // the count-derived probe dial (IvfQueries.pairNprobeFor) and
      // DECAYS past it BY DESIGN: that band's anchor mass is ≥ 98.8%
      // cross-base chance pairs (Θ(n²·7e−4) — cos 0.4 ≈ 3.2σ of the
      // 64-dim random-pair distribution), and chasing a quadratic
      // chance population re-quadratizes the generator; the structured
      // (planted near-dup) share of the band stays high, and its decay
      // across the WHOLE flat regime is measured, smooth and kneeless
      // (r14, VERDICT r13 #2 — SCALING.md r14 curve): planted-weak at
      // the nprobe-16 dial is 0.9152 (200k) → 0.8485 (600k) → 0.8153
      // (1.2M) → 0.7639 (2.4M), ≈ −0.045 per corpus doubling with the
      // slope flattening, while planted-mid holds ≥ 0.9907 and
      // identical/strong hold 1.000 at every point. A consumer sizing
      // for >200k vectors reads recall off that curve, not off the
      // 200k endpoint; a second dial step is the measured-wrong trade
      // (r13's 100× planted sweep: doubling mass to np 32 buys +0.032
      // weak — a 2× cost for three points on a smooth curve).
      embedNearDupAuto(spark, d).orderBy("vec_a", "vec_b")
    },

    // ---- semantic dup-cluster assembly: the embedding-space twin of
    //      q_dedup_cluster — transitive closure over the cosine near-dup
    //      pairs (paraphrase clusters MinHash's lexical shingles miss).
    //      Composes the two proven machineries verbatim: embedNearDup
    //      generates pairs (broadcast matrix / distributed fallback),
    //      DedupCluster.connectedComponents propagates labels (frontier
    //      min-label, O(1)-size plans via localCheckpoint); membership
    //      hash-verified against a recursive-CTE closure like the
    //      lexical cluster oracle ----
    "q_dedup_embed_cluster" -> QueryDef(
      s"""WITH RECURSIVE ${VectorOps.duckElemsCte},
         |${VectorOps.duckNormsCte},
         |pairs AS (
         |  SELECT a.vec_id AS query_id, b.vec_id
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |), ${VectorOps.duckCosineCte},
         |nd AS (
         |  SELECT query_id AS u, vec_id AS v FROM cosines
         |  WHERE round(cos, 6) >= $NEAR_DUP_COS
         |), edges AS (
         |  SELECT u, v FROM nd UNION SELECT v, u FROM nd
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u
         |), comp AS (
         |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
         |  FROM reach GROUP BY u
         |)
         |SELECT cluster_id, COUNT(*) AS n_members,
         |       CAST(SUM(vec_id) AS BIGINT) AS member_checksum,
         |       CAST(MAX(vec_id) AS BIGINT) AS max_member
         |FROM comp GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin) { (spark, d) =>
      DedupCluster.connectedComponents(nearDupClusterEdges(spark, d))
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("id")).as("member_checksum"),
          max(col("id")).as("max_member"))
        .orderBy("cluster_id")
    },

    // ---- linear-kernel MMD² between label groups (my_utils.py:37-68) ----
    // MMD²_linear(A, B) = ||mean(A) − mean(B)||² = Σ_i d_i² / (nA²·nB²)
    // with d_i = sA_i·nB − sB_i·nA. The per-dimension terms and their sum
    // run in exact integer arithmetic (DECIMAL(38,0) here, HUGEINT in
    // DuckDB) — a double Σ diff² would expose each engine's internal
    // aggregation association order at 9-decimal rounding boundaries.
    "q_mmd_linear" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |label_sums AS (
         |  SELECT label, i, CAST(SUM(e) AS BIGINT) AS s, COUNT(*) AS n
         |  FROM elems GROUP BY label, i
         |)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  round(CAST(SUM((CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)
         |             * (CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)) AS DOUBLE)
         |        / (MIN(a.n) * MIN(a.n)) / (MIN(b.n) * MIN(b.n))
         |        / 100000000000000.0, 9) AS mmd2
         |FROM label_sums a JOIN label_sums b
         |  ON a.i = b.i AND a.label < b.label
         |GROUP BY a.label, b.label
         |ORDER BY label_a, label_b""".stripMargin) { (spark, d) =>
      import org.apache.spark.sql.types.{DecimalType => DT}
      val sums = VectorOps.elems(Tables.embeddings(spark, d))
        .groupBy("label", "i")
        .agg(sum(col("e")).as("s"), count(lit(1)).as("n"))
      sums.as("a")
        .join(sums.as("b"),
          col("a.i") === col("b.i") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg {
          val d38 = col("a.s").cast(DT(38, 0)) * col("b.n") -
            col("b.s").cast(DT(38, 0)) * col("a.n")
          round(sum(d38 * d38).cast("double")
            / (min(col("a.n")) * min(col("a.n")))
            / (min(col("b.n")) * min(col("b.n")))
            / 1e14, 9).as("mmd2")
        }
        .orderBy("label_a", "label_b")
    },

    // ---- q_sim_sparse: all-pairs SPARSE tf-idf cosine over documents —
    //      the lexical/weighted member of the similarity family (dense
    //      twins: q_dedup_embed / q_sim_lsh; unweighted lexical twin:
    //      q_dedup_ngram's Jaccard). The AllPairs/prefix-filter shape
    //      re-expressed relationally: tokens hash into a FIXED 8192-bucket
    //      feature space (the DSIR trick — df/idf tables are O(8k) and
    //      broadcastable at any corpus size), idf is fixed-pointed ONCE
    //      per feature (milli-nats, BIGINT) so doc weights and all dot
    //      products are integer-exact; each doc keeps its top-8 features
    //      (WindowGroupLimit, deterministic w DESC/f ASC order), and only
    //      features with 2..SP_CAP top-list postings generate candidate
    //      pairs — the posting-cap recall contract of the rare-shingle
    //      index, replayed identically by the oracle. Pair volume is
    //      Σ C(postings,2) over capped lists, never corpus². cos =
    //      exact-BIGINT dot / (sqrt·sqrt of exact norms) — two
    //      correctly-rounded IEEE ops, mirrored ----
    "q_sim_sparse" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |tf AS (
         |  SELECT doc_id, ${Hashing.duckH60("tok")} % $SP_BUCKETS AS f,
         |         COUNT(*) AS tf
         |  FROM tokens GROUP BY 1, 2
         |), nd AS (SELECT COUNT(*) AS n FROM documents),
         |rate AS (
         |  SELECT f, CAST(round(ln(CAST(n AS DOUBLE) / df) * $SP_RATE) AS BIGINT)
         |           AS rate
         |  FROM (SELECT f, COUNT(*) AS df FROM tf GROUP BY f), nd
         |), w AS (
         |  SELECT tf.doc_id, tf.f, tf.tf * r.rate AS w
         |  FROM tf JOIN rate r USING (f)
         |), top AS (
         |  SELECT doc_id, f, w FROM (
         |    SELECT doc_id, f, w,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, f) AS rn
         |    FROM w) WHERE rn <= $SP_TOP
         |), norms AS (
         |  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM top GROUP BY doc_id
         |), posts AS (
         |  SELECT f FROM top GROUP BY f HAVING COUNT(*) BETWEEN 2 AND $SP_CAP
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
         |  FROM top a
         |  JOIN posts p ON p.f = a.f
         |  JOIN top b ON b.f = a.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |  round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |    AS cos
         |FROM pairs
         |JOIN norms na ON na.doc_id = doc_a
         |JOIN norms nb ON nb.doc_id = doc_b
         |WHERE round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |    >= $SP_TAU
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, d) =>
      // Two fused doc-local passes (the q_text_repetition /
      // q_select_dsir discipline): pass A computes per-doc hashed tf IN
      // MEMORY (bounded by doc length) and ships only type-level
      // (doc, f) feature rows into the ≤8192-group df aggregate; the
      // rate table is then a ≤8192-row collect (bounded by the FIXED
      // feature space, never the corpus) broadcast into pass B, which
      // re-derives tf doc-locally and emits ONLY each doc's top-8
      // (f, w, n2) rows — the token-level shuffle of the naive
      // relational form (30M rows at the 30× probe) never happens; the
      // first shuffle in the plan is the 8-row-per-doc posting agg.
      import spark.implicits._
      def docTf(it: Iterator[(Long, String)]) = {
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) =>
          val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
          t.split(" ", -1).foreach { tok =>
            val f = java.lang.Long.valueOf(Hashing.h60Jvm(md, tok) % SP_BUCKETS)
            val c = m.get(f)
            if (c == null) m.put(f, Array(1L)) else c(0) += 1L
          }
          (id, m)
        }
      }
      val docs = Tables.documents(spark, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val feats = docs.mapPartitions { it =>
        docTf(it).flatMap { case (_, m) =>
          import scala.jdk.CollectionConverters._
          m.keySet().asScala.iterator.map(_.longValue())
        }
      }.toDF("f")
      val nDocs = Tables.documents(spark, d).count()
      val rateMap = feats.groupBy("f").agg(count(lit(1)).as("df"))
        .collect() // bounded: ≤ SP_BUCKETS rows by construction
        .map(r => r.getLong(0) ->
          math.round(math.log(nDocs.toDouble / r.getLong(1)) * SP_RATE))
        .toMap
      val rateB = spark.sparkContext.broadcast(rateMap)
      val top = docs.mapPartitions { it =>
        val rate = rateB.value
        docTf(it).flatMap { case (id, m) =>
          import scala.jdk.CollectionConverters._
          val ws = m.asScala.iterator
            .map { case (f, c) => (f.longValue(), c(0) * rate(f.longValue())) }
            .toSeq.sortBy { case (f, w) => (-w, f) }.take(SP_TOP)
          val n2 = ws.iterator.map { case (_, w) => w * w }.sum
          ws.iterator.map { case (f, w) => (id, f, w, n2) }
        }
      }.toDF("doc_id", "f", "w", "n2")
      val pairs = top
        .groupBy("f")
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("w"), col("n2")))).as("ds"))
        .filter(size(col("ds")).between(2, SP_CAP))
        .select(explode(expr(
          """flatten(transform(ds, (x, ix) ->
            |  transform(slice(ds, ix + 2, size(ds) - ix - 1),
            |            y -> named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id,
            |                              'p', x.w * y.w,
            |                              'n2a', x.n2, 'n2b', y.n2))))"""
            .stripMargin))
          .as("pr"))
        .select(col("pr.doc_a"), col("pr.doc_b"), col("pr.p"),
          col("pr.n2a"), col("pr.n2b"))
        .groupBy("doc_a", "doc_b")
        .agg(sum("p").as("dot"), min("n2a").as("n2a"), min("n2b").as("n2b"))
      val cosCol = round(col("dot").cast("double")
        / (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))), 6)
      pairs
        .filter(cosCol >= SP_TAU)
        .select(col("doc_a"), col("doc_b"), cosCol.as("cos"))
        .orderBy("doc_a", "doc_b")
    })
}
