package graft.score

import graft.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The linear-algebra/scoring layer (SURVEY.md §1 "scoring layer", §2.10):
  * the reference's dual-autoencoder forward pass — embedding → linear →
  * ReLU → linear → sigmoid (model_my.py:52-64) — re-expressed as a
  * `mapPartitions` over a `Dataset` of users with driver-broadcast weight
  * matrices. This is the Spark shape for batch model scoring: weights are
  * small (k×k) and broadcast once per executor; users stream through
  * partitions; no U×I matrix ever materializes (SURVEY.md §4.3).
  *
  * Weights and user/item vectors here are *deterministic* rationals derived
  * from [[Hashing]]'s md5 hash (q/1000 with q ∈ [-1000,1000]) so the DuckDB
  * oracle can replay the identical forward pass as an explicit SQL
  * expression tree: double +,*,max are exactly rounded IEEE ops, so the
  * only non-portable step is exp(), absorbed by round(…, 6).
  *
  * A real deployment swaps [[userVec]]/weights for trained parquet-loaded
  * matrices (S3/S5 checkpoint source, main_my.py:304-320) — the execution
  * plan is unchanged.
  */
object Scorer {

  val K = 8        // embedding size (EMBED_SIZE analog)
  val NUM_ITEMS = 20 // scored item slice per user in the demo query

  /** Deterministic rational in [-1, 1] with 3 decimal digits — the one
    * weight-quantization formula (Lifecycle.epochWeights reuses it).
    */
  def rat(parts: String*): Double = {
    val h = Hashing.h60Jvm(
      java.security.MessageDigest.getInstance("MD5"), parts.mkString(":"))
    ((h % 2001L) - 1000L) / 1000.0
  }

  /** k×k first-layer weights W, row-major. */
  def weightsW: Array[Array[Double]] =
    Array.tabulate(K, K)((i, j) => rat("w", i.toString, j.toString))

  /** Item embedding matrix E: NUM_ITEMS × k (the x-domain decoder). */
  def itemVecs: Array[Array[Double]] =
    Array.tabulate(NUM_ITEMS, K)((j, i) => rat("iv", j.toString, i.toString))

  /** Second item decoder (the y-domain catalog, decoder_y analog). */
  def itemVecsY: Array[Array[Double]] =
    Array.tabulate(NUM_ITEMS, K)((j, i) => rat("iv2", j.toString, i.toString))

  private def mat(salt: String): Array[Array[Double]] =
    Array.tabulate(K, K)((i, j) => rat(salt, i.toString, j.toString))

  /** Cross-domain map weights, one deterministic k×k matrix per salt:
    * the base model's shared orthogonal W (model_my.py:40-49), variant 2's
    * independent W1/W2 (model_my_variant2.py:41-56), and variant 3's
    * two-layer pairs (model_my_variant3.py:41-48,57-63).
    */
  def orthW: Array[Array[Double]] = mat("orth")
  def variant2W1: Array[Array[Double]] = mat("w1")
  def variant2W2: Array[Array[Double]] = mat("w2")
  def variant3Wa: Array[Array[Double]] = mat("wa")
  def variant3Wb: Array[Array[Double]] = mat("wb")
  def variant3Wc: Array[Array[Double]] = mat("wc")
  def variant3Wd: Array[Array[Double]] = mat("wd")

  def transpose(m: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(K, K)((i, j) => m(j)(i))

  /** out_i = Σ_j m(i)(j)·in_j, ascending-j association (oracle-identical). */
  def matVec(m: Array[Array[Double]], in: Array[Double]): Array[Double] =
    Array.tabulate(K) { i =>
      var s = 0.0
      var j = 0
      while (j < K) { s += m(i)(j) * in(j); j += 1 }
      s
    }

  def userVec(userId: Long): Array[Double] =
    Array.tabulate(K)(j => rat(userId.toString, "uv", j.toString))

  /** σ(h·e_j) per item, ascending-index dot (oracle association order). */
  private def sigmoidScores(h: Array[Double],
      items: Array[Array[Double]]): Array[Double] =
    items.map { e =>
      var s = 0.0
      var i = 0
      while (i < K) { s += h(i) * e(i); i += 1 }
      1.0 / (1.0 + math.exp(-s))
    }

  /** Forward pass for one user: h = relu(W·u); score_j = σ(h·e_j).
    * Sums run in ascending index order — the oracle SQL is generated with
    * the same left-to-right association, so partial sums are bit-identical.
    */
  def forward(u: Array[Double], w: Array[Array[Double]],
      items: Array[Array[Double]]): Array[Double] =
    sigmoidScores(matVec(w, u).map(math.max(0.0, _)), items)

  /** HALF_UP to match round(score, 6) in both engines (σ > 0). */
  private def round6(s: Double): Double = math.floor(s * 1e6 + 0.5) / 1e6

  /** Distributed batch scoring: users → (user_id, item_j, score).
    * `mapPartitions` + broadcast weights is the fast path (SURVEY.md §2.10);
    * the rounding to 6 decimals matches the oracle's.
    */
  def scoreUsers(spark: SparkSession, users: DataFrame): DataFrame =
    scoreUsersWith(spark, users, weightsW, itemVecs)

  /** [[scoreUsers]] with explicit weight/decoder matrices — the entry the
    * checkpoint round-trip (q_checkpoint_score) reloads into: scoring a
    * RELOADED state_dict is the reference's test flow
    * (main_my.py:351-370).
    */
  def scoreUsersWith(spark: SparkSession, users: DataFrame,
      w: Array[Array[Double]], items: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val bcW = spark.sparkContext.broadcast(w)
    val bcE = spark.sparkContext.broadcast(items)
    users.select(col("user_id").cast("long")).as[Long]
      .mapPartitions { it =>
        val wv = bcW.value; val e = bcE.value
        it.flatMap { uid =>
          forward(userVec(uid), wv, e).iterator.zipWithIndex.map {
            case (s, j) => (uid, j, round6(s))
          }
        }
      }
      .toDF("user_id", "item_j", "score")
  }

  /** Cross-domain mapped scoring (the orthogonal_map surface and its
    * ablation variants): h = relu(W·u), then per direction a chain of
    * k×k maps — every stage but the last followed by ReLU when
    * `nonlinear` — and finally σ(m·e_j) against the OTHER domain's
    * decoder (preds_x2y = decoder_y(mapped_z_x), model_my.py:61-64).
    * Weight matrices are closure-captured (k×k — task-serialized cheaper
    * than a broadcast round-trip).
    */
  def scoreUsersMapped(spark: SparkSession, users: DataFrame,
      w: Array[Array[Double]],
      mapX: Seq[Array[Array[Double]]], mapY: Seq[Array[Array[Double]]],
      nonlinear: Boolean): DataFrame = {
    import spark.implicits._
    val ex = itemVecs
    val ey = itemVecsY
    def chain(ms: Seq[Array[Array[Double]]], h: Array[Double]): Array[Double] =
      ms.zipWithIndex.foldLeft(h) { case (v, (m, k)) =>
        val out = matVec(m, v)
        if (nonlinear && k < ms.length - 1) out.map(math.max(0.0, _)) else out
      }
    users.select(col("user_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.flatMap { uid =>
          val h = matVec(w, userVec(uid)).map(math.max(0.0, _))
          val sx = sigmoidScores(chain(mapX, h), ey) // x2y scored on decoder_y
          val sy = sigmoidScores(chain(mapY, h), ex) // y2x scored on decoder_x
          (0 until sx.length).iterator.map { j =>
            (uid, j, round6(sx(j)), round6(sy(j)))
          }
        }
      }
      .toDF("user_id", "item_j", "score_x2y", "score_y2x")
  }

  // ---- oracle SQL generation: the same forward pass as expression text ----

  /** Literal SQL for rat() of dynamic user column: ((h60 % 2001) - 1000)/1000.0 */
  private def duckUserVecExpr(j: Int): String =
    s"((${Hashing.duckH60("user_id", "'uv'", s"'$j'")} % 2001) - 1000)/1000.0"

  /** Render a double so both engines parse back the identical IEEE value. */
  private def dlit(d: Double): String =
    if (d == d.toLong.toDouble) s"${d.toLong}.0" else d.toString

  /** SQL computing score for item j of column `user_id`, mirroring
    * [[forward]]'s association order exactly.
    */
  def duckScoreExpr(j: Int): String = {
    val w = weightsW; val e = itemVecs
    val hExprs = (0 until K).map { i =>
      val sum = (0 until K).map(jj => s"(${dlit(w(i)(jj))} * u$jj)").mkString(" + ")
      s"greatest(0.0, $sum)"
    }
    val dot = (0 until K).map(i => s"(h$i * ${dlit(e(j)(i))})").mkString(" + ")
    val us = (0 until K).map(jj => s"${duckUserVecExpr(jj)} AS u$jj").mkString(", ")
    val hs = hExprs.zipWithIndex.map { case (x, i) => s"$x AS h$i" }.mkString(", ")
    s"""SELECT user_id, $j AS item_j,
       |  round(1.0/(1.0 + exp(-($dot))), 6) AS score
       |FROM (SELECT user_id, $hs FROM (SELECT user_id, $us FROM score_users))""".stripMargin
  }

  /** Scalar subquery: the reload-score CHECKSUM for explicit weight
    * matrices — Σ over `usersCte` × all NUM_ITEMS of
    * round6(score)·1e6 as BIGINT (integer sum, association-free).
    * Mirrors [[scoreUsersWith]] + a sum aggregate; q_lifecycle uses one
    * per epoch to hash-verify that scoring from a RELOADED checkpoint
    * reproduces the selected epoch's weights bit-for-bit.
    */
  def duckChecksumSubquery(w: Array[Array[Double]],
      items: Array[Array[Double]], usersCte: String): String = {
    val us = (0 until K).map(jj => s"${duckUserVecExpr(jj)} AS u$jj").mkString(", ")
    val hs = duckMatVecSelect(w, "u", "h", relu = true)
    val terms = (0 until NUM_ITEMS).map { j =>
      val dot = (0 until K).map(i => s"(h$i * ${dlit(items(j)(i))})").mkString(" + ")
      s"CAST(round(round(1.0/(1.0 + exp(-($dot))), 6) * 1000000.0) AS BIGINT)"
    }.mkString(" + ")
    s"""(SELECT CAST(SUM($terms) AS BIGINT)
       |  FROM (SELECT user_id, $hs FROM (SELECT user_id, $us FROM $usersCte)))""".stripMargin
  }

  /** Orthogonal-constraint reconstruction loss (model_my.py:66-70):
    * reg_x = ‖h − (h·W)·Wᵀ‖₁ and reg_y = ‖h − (h·Wᵀ)·W‖₁ per user —
    * the penalty that pushes the shared map toward orthogonality. Row
    * convention: h·W = matVec(Wᵀ, h).
    */
  def orthRegLoss(spark: SparkSession, users: DataFrame): DataFrame = {
    import spark.implicits._
    val w = orthW
    val wt = transpose(w)
    val ww = weightsW // loop-invariant: 64 md5s, never per user
    users.select(col("user_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { uid =>
          val h = matVec(ww, userVec(uid)).map(math.max(0.0, _))
          def l1(a: Array[Double], b: Array[Double]): Double = {
            var s = 0.0
            var i = 0
            while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
            s
          }
          // matVec(wt, h) = h·W; mapping back via ·Wᵀ = matVec(w, _)
          val mx = matVec(wt, h)
          val my = matVec(w, h)
          (uid,
            round6(l1(h, matVec(w, mx))),
            round6(l1(h, matVec(wt, my))))
        }
      }
      .toDF("user_id", "reg_x", "reg_y")
  }

  /** Oracle SQL replaying [[orthRegLoss]]: u → h → (mx, my) → (bx, by) →
    * L1 distances, all in the same ascending association order.
    */
  def duckOrthRegSql(userWhere: String): String = {
    val us = (0 until K).map(jj => s"${duckUserVecExpr(jj)} AS u$jj").mkString(", ")
    val hs = duckMatVecSelect(weightsW, "u", "h", relu = true)
    val hKeep = (0 until K).map(i => s"h$i").mkString(", ")
    val maps = duckMatVecSelect(transpose(orthW), "h", "mx", relu = false) + ", " +
      duckMatVecSelect(orthW, "h", "my", relu = false)
    val backs = duckMatVecSelect(orthW, "mx", "bx", relu = false) + ", " +
      duckMatVecSelect(transpose(orthW), "my", "by", relu = false)
    val regX = (0 until K).map(i => s"abs(h$i - bx$i)").mkString(" + ")
    val regY = (0 until K).map(i => s"abs(h$i - by$i)").mkString(" + ")
    s"""WITH score_users AS (
       |  SELECT DISTINCT o_custkey AS user_id FROM orders WHERE $userWhere
       |), mapped AS (
       |  SELECT user_id, $hKeep, $backs FROM (
       |    SELECT user_id, $hKeep, $maps FROM (
       |      SELECT user_id, $hs FROM (SELECT user_id, $us FROM score_users))))
       |SELECT user_id, round($regX, 6) AS reg_x, round($regY, 6) AS reg_y
       |FROM mapped
       |ORDER BY user_id""".stripMargin
  }

  /** SELECT-list text for out_i = Σ_j m(i)(j)·in_j (optionally ReLU'd),
    * same ascending-j association as [[matVec]].
    */
  private def duckMatVecSelect(m: Array[Array[Double]], in: String,
      out: String, relu: Boolean): String =
    (0 until K).map { i =>
      val sum = (0 until K).map(j => s"(${dlit(m(i)(j))} * $in$j)").mkString(" + ")
      (if (relu) s"greatest(0.0, $sum)" else s"($sum)") + s" AS $out$i"
    }.mkString(", ")

  /** Full oracle SQL replaying [[scoreUsersMapped]]: the user→h chain,
    * both direction map chains as nested selects, then one UNION ALL
    * branch per item over a single `mapped` CTE (the chain is written
    * once, not once per item).
    */
  def duckMappedSql(userWhere: String,
      mapX: Seq[Array[Array[Double]]], mapY: Seq[Array[Array[Double]]],
      nonlinear: Boolean): String = {
    require(mapX.length == mapY.length)
    val us = (0 until K).map(jj => s"${duckUserVecExpr(jj)} AS u$jj").mkString(", ")
    val hs = duckMatVecSelect(weightsW, "u", "h", relu = true)
    var from = s"SELECT user_id, $hs FROM (SELECT user_id, $us FROM score_users)"
    var inX = "h"; var inY = "h"
    val L = mapX.length
    for (l <- 0 until L) {
      val reluStage = nonlinear && l < L - 1
      val outX = if (l == L - 1) "mx" else s"ax${l}_"
      val outY = if (l == L - 1) "my" else s"ay${l}_"
      val sel = duckMatVecSelect(mapX(l), inX, outX, reluStage) + ", " +
        duckMatVecSelect(mapY(l), inY, outY, reluStage)
      from = s"SELECT user_id, $sel FROM ($from)"
      inX = outX; inY = outY
    }
    val branches = (0 until NUM_ITEMS).map { j =>
      val dotX = (0 until K).map(i => s"(mx$i * ${dlit(itemVecsY(j)(i))})").mkString(" + ")
      val dotY = (0 until K).map(i => s"(my$i * ${dlit(itemVecs(j)(i))})").mkString(" + ")
      s"SELECT user_id, $j AS item_j, " +
        s"round(1.0/(1.0 + exp(-($dotX))), 6) AS score_x2y, " +
        s"round(1.0/(1.0 + exp(-($dotY))), 6) AS score_y2x FROM mapped"
    }
    s"""WITH score_users AS (
       |  SELECT DISTINCT o_custkey AS user_id FROM orders WHERE $userWhere
       |), mapped AS ($from)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY user_id, item_j""".stripMargin
  }
}
