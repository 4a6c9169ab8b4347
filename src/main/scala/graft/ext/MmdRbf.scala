package graft.ext

import graft.{Hashing, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ACTUAL MMD statistic (my_utils.py:12-68): mixed RBF
  * kernel over the FIXED bandwidth list σ ∈ {1e-2, 1e-1, 1, 10, 100}
  * with γ = 1/(2σ²) — K(x,y) = Σ_σ exp(−γ‖x−y‖²) (my_utils.py:14,30-34)
  * — and the biased estimator mean(Kxx) + mean(Kyy) − 2·mean(Kxy)
  * (my_utils.py:58-61, diagonals included).
  *
  * `q_mmd_rbf` IS oracle-gated (hash-matched against DuckDB): per-pair
  * kernel values are rounded to integers at 1e-9 (`KSCALE`) before
  * summing, so the kernel-block sums are association-free in both
  * engines; the only floating-point steps — exp() and the final
  * estimator divisions — are mirrored op-for-op in the oracle SQL, and
  * the 6-decimal output rounding absorbs any ±1-ulp exp() drift.
  * MmdRbfSpec additionally asserts the statistic's mathematical
  * properties on [[kernelSumScaled]] (self-distance exactly 0, near <
  * far, exact symmetry).
  *
  * Execution shape: label matrices are small (the reference computes MMD
  * per mini-batch); each matrix is collected once and broadcast, and each
  * label pair's O(n²·d) kernel sum runs as one executor task — the same
  * broadcast-matrix pattern as the all-pairs cosine dedup. For matrices
  * beyond broadcast size the estimator switches to a sampled
  * block-estimate (mean over a fixed random block grid), which this
  * formulation accommodates by slicing the broadcast matrices.
  */
object MmdRbf {

  /** my_utils.py:14 `sigma_list` — fixed, NOT data-dependent. */
  val SIGMAS: Array[Double] = Array(1e-2, 1e-1, 1.0, 10.0, 100.0)
  private val GAMMAS: Array[Double] = SIGMAS.map(s => 1.0 / (2.0 * s * s))

  /** Oracle-parity formulation: fixed-point vectors (the engine's ×1e7
    * grid), per-pair kernel values ROUNDED to integers at 1e-9 so the
    * block sums are association-free in both engines, and a COUNT-bounded
    * deterministic minibatch per label — the first BATCH_N vec_ids in
    * h60 hash order (`row_number() OVER (PARTITION BY label ORDER BY
    * h60(vec_id), vec_id) <= BATCH_N`). This mirrors the reference's
    * per-minibatch MMD (my_utils.py:37-68: the statistic is computed over
    * fixed-size training batches, never the full corpus), and it bounds
    * driver memory at labels × BATCH_N × dim — O(1) in corpus size,
    * unlike a fixed-modulus slice which still grows with the corpus.
    * The only floating-point steps are exp() and the final estimator
    * divisions, both mirrored op-for-op in the SQL; a ±1-ulp exp()
    * disagreement moves an integer kernel sum by at most a few 1e-9
    * units, absorbed by the 6-decimal output rounding.
    */
  val BATCH_N = 128
  val KSCALE = 1e9

  /** Integer kernel-block sum Σ_pairs round(K(x,y)·1e9) over fixed-point
    * row sets (ordered pairs, diagonal included — the biased estimator).
    */
  def kernelSumScaled(a: Array[Array[Long]], b: Array[Array[Long]]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) {
        val x = a(i); val y = b(j)
        var d2 = 0L
        var t = 0
        while (t < x.length) { val d = x(t) - y(t); d2 += d * d; t += 1 }
        val dd = d2.toDouble / 1e14
        var k = 0.0
        var g = 0
        while (g < GAMMAS.length) { k += math.exp(-(GAMMAS(g) * dd)); g += 1 }
        s += math.floor(k * KSCALE + 0.5).toLong
        j += 1
      }
      i += 1
    }
    s
  }

  private def duckKernExpr: String =
    GAMMAS.map(g =>
      s"exp(-($g * (CAST(dd AS DOUBLE) / 100000000000000.0)))")
      .mkString("round((", " + ", s") * ${KSCALE.toLong}.0)")

  val defs: Map[String, QueryDef] = Map(
    "q_mmd_rbf" -> QueryDef(
      s"""WITH ${VectorOps.duckElemsCte},
         |sel_ids AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (PARTITION BY label
         |      ORDER BY ${Hashing.duckH60("vec_id")}, vec_id) AS rn
         |    FROM embeddings WHERE len(embedding) > 0)
         |  WHERE rn <= $BATCH_N
         |), sel AS (
         |  SELECT e.* FROM elems e JOIN sel_ids s ON e.vec_id = s.vec_id
         |), d2 AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |         MIN(a.label) AS la, MIN(b.label) AS lb,
         |         CAST(SUM((a.e - b.e) * (a.e - b.e)) AS BIGINT) AS dd
         |  FROM sel a JOIN sel b ON a.i = b.i
         |  GROUP BY a.vec_id, b.vec_id
         |), kern AS (
         |  SELECT la, lb, CAST($duckKernExpr AS BIGINT) AS ks FROM d2
         |), sums AS (
         |  SELECT la, lb, CAST(SUM(ks) AS BIGINT) AS s FROM kern GROUP BY la, lb
         |), counts AS (
         |  SELECT label, COUNT(DISTINCT vec_id) AS n FROM sel GROUP BY label
         |)
         |SELECT c1.label AS label_a, c2.label AS label_b,
         |  round((CAST(sxx.s AS DOUBLE) / (c1.n * c1.n)
         |       + CAST(syy.s AS DOUBLE) / (c2.n * c2.n)
         |       - 2 * CAST(sxy.s AS DOUBLE) / (c1.n * c2.n))
         |       / ${KSCALE.toLong}.0, 6) AS mmd2_rbf
         |FROM counts c1 JOIN counts c2 ON c1.label <= c2.label
         |JOIN sums sxx ON sxx.la = c1.label AND sxx.lb = c1.label
         |JOIN sums syy ON syy.la = c2.label AND syy.lb = c2.label
         |JOIN sums sxy ON sxy.la = c1.label AND sxy.lb = c2.label
         |ORDER BY label_a, label_b""".stripMargin) { (spark, d) =>
      import spark.implicits._
      // Per-label minibatch: row_number in h60 order, capped at BATCH_N —
      // the collect is labels × BATCH_N rows regardless of corpus size.
      // The len>0 guard mirrors the oracle's elems unnest (a null/empty
      // embedding contributes no elems rows, so it must not be counted or
      // NPE the kernel either).
      val mats: Map[Int, Array[Array[Long]]] = Tables.embeddings(spark, d)
        .filter(size(col("embedding")) > 0)
        .select(col("label"), col("vec_id"), VectorOps.fixedEmbedding.as("e"))
        .withColumn("rn", row_number().over(Window.partitionBy("label")
          .orderBy(Hashing.h60(col("vec_id")), col("vec_id"))))
        .filter(col("rn") <= BATCH_N)
        .select(col("label"), col("e"))
        .as[(Int, Array[Long])].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val bc = spark.sparkContext.broadcast(mats)
      val labels = mats.keys.toSeq.sorted
      val pairs = for (a <- labels; b <- labels if a <= b) yield (a, b)
      spark.createDataset(pairs)
        .map { case (a, b) =>
          val (ma, mb) = (bc.value(a), bc.value(b))
          val (nx, ny) = (ma.length.toLong, mb.length.toLong)
          val v =
            if (a == b) 0.0 // x + x − 2x is exactly 0 in IEEE; skip O(n²)
            else {
              val sxx = kernelSumScaled(ma, ma)
              val syy = kernelSumScaled(mb, mb)
              val sxy = kernelSumScaled(ma, mb)
              // op-for-op mirror of the oracle's estimator expression
              val raw = (sxx.toDouble / (nx * nx)
                + syy.toDouble / (ny * ny)
                - 2 * sxy.toDouble / (nx * ny)) / KSCALE
              math.floor(raw * 1e6 + 0.5) / 1e6
            }
          (a, b, v)
        }
        .toDF("label_a", "label_b", "mmd2_rbf")
        .orderBy("label_a", "label_b")
    })
}
