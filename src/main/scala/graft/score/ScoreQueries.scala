package graft.score

import graft.{Hashing, QueryDef, Tables}
import graft.ext.VectorOps
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the scoring layer (SURVEY.md §7 P3):
  * the broadcast-weights batch scorer, the BCE loss expression (A8), and
  * ArrayType math over the embeddings table (§2.8 array rows).
  *
  * Float-array parity trick: elements are fixed-pointed
  * (`CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)`) before any
  * reduction, so sums/dots are integer-exact and order-independent in
  * both engines; only final divisions/sqrt (exactly-rounded IEEE ops)
  * touch floating point.
  */
object ScoreQueries {

  private val userSlice = "o_custkey % 20 = 0"

  val defs: Map[String, QueryDef] = Map(

    // ---- mapPartitions + broadcast-weights forward pass (model_my.py:52-64) ----
    "q_dense_score" -> QueryDef({
      val perItem = (0 until Scorer.NUM_ITEMS).map(Scorer.duckScoreExpr)
      s"""WITH score_users AS (
         |  SELECT DISTINCT o_custkey AS user_id FROM orders WHERE $userSlice
         |)
         |${perItem.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY user_id, item_j""".stripMargin
    }) { (spark, d) =>
      val users = Tables.orders(spark, d)
        .filter(expr(userSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      Scorer.scoreUsers(spark, users).orderBy("user_id", "item_j")
    },

    // ---- S3 weight round-trip: persist state_dict as parquet, reload,
    //      score with the RELOADED weights (main_my.py:304-320,351-370).
    //      Same oracle as q_dense_score — parquet doubles round-trip
    //      bit-exactly, so reloaded scores must hash-match it. ----
    "q_checkpoint_score" -> QueryDef({
      val perItem = (0 until Scorer.NUM_ITEMS).map(Scorer.duckScoreExpr)
      s"""WITH score_users AS (
         |  SELECT DISTINCT o_custkey AS user_id FROM orders WHERE $userSlice
         |)
         |${perItem.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY user_id, item_j""".stripMargin
    }) { (spark, d) =>
      // unique per-build dir: a shared fixed path would race
      // delete-vs-read when two JVMs (verify + bench) build concurrently
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ckpt")
      val ckpt = tmpRoot.resolve("weights").toString
      Checkpoint.save(spark, ckpt,
        Map("W" -> Scorer.weightsW, "E" -> Scorer.itemVecs))
      val loaded = Checkpoint.load(spark, ckpt)
      // load() collects the state_dict to the driver, so the on-disk copy
      // is dead past this point — remove it (repeated verify/bench runs
      // were accumulating checkpoint dirs in /tmp)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      val users = Tables.orders(spark, d)
        .filter(expr(userSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      Scorer.scoreUsersWith(spark, users, loaded("W"), loaded("E"))
        .orderBy("user_id", "item_j")
    },

    // ---- base-model cross-domain map: shared orthogonal W, x→y via
    //      row-product h·W, y→x via h·Wᵀ (model_my.py:46-49,61-64).
    //      matVec is column-convention, so h·W = matVec(Wᵀ, h). ----
    "q_score_orth_map" -> QueryDef(
      Scorer.duckMappedSql(userSlice,
        Seq(Scorer.transpose(Scorer.orthW)), Seq(Scorer.orthW),
        nonlinear = false)) { (spark, d) =>
      val users = Tables.orders(spark, d)
        .filter(expr(userSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      Scorer.scoreUsersMapped(spark, users, Scorer.weightsW,
        Seq(Scorer.transpose(Scorer.orthW)), Seq(Scorer.orthW),
        nonlinear = false)
        .orderBy("user_id", "item_j")
    },

    // ---- ablation variant 2: INDEPENDENT per-direction map matrices,
    //      h·W1 and h·W2 (model_my_variant2.py:41-56,71-72) ----
    "q_dense_score_v2" -> QueryDef(
      Scorer.duckMappedSql(userSlice,
        Seq(Scorer.transpose(Scorer.variant2W1)),
        Seq(Scorer.transpose(Scorer.variant2W2)),
        nonlinear = false)) { (spark, d) =>
      val users = Tables.orders(spark, d)
        .filter(expr(userSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      Scorer.scoreUsersMapped(spark, users, Scorer.weightsW,
        Seq(Scorer.transpose(Scorer.variant2W1)),
        Seq(Scorer.transpose(Scorer.variant2W2)),
        nonlinear = false)
        .orderBy("user_id", "item_j")
    },

    // ---- ablation variant 3: two-layer NONLINEAR map per direction,
    //      Wb·relu(Wa·h) (model_my_variant3.py:41-48,57-63) ----
    "q_dense_score_v3" -> QueryDef(
      Scorer.duckMappedSql(userSlice,
        Seq(Scorer.variant3Wa, Scorer.variant3Wb),
        Seq(Scorer.variant3Wc, Scorer.variant3Wd),
        nonlinear = true)) { (spark, d) =>
      val users = Tables.orders(spark, d)
        .filter(expr(userSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      Scorer.scoreUsersMapped(spark, users, Scorer.weightsW,
        Seq(Scorer.variant3Wa, Scorer.variant3Wb),
        Seq(Scorer.variant3Wc, Scorer.variant3Wd),
        nonlinear = true)
        .orderBy("user_id", "item_j")
    },

    // ---- orthogonal-constraint reconstruction loss (model_my.py:66-70):
    //      reg = ||h − (h·W)·Wᵀ||₁ per user and direction — the last
    //      forward-pass output of the reference model ----
    "q_orth_reg_loss" -> QueryDef(
      Scorer.duckOrthRegSql(userSlice)) { (spark, d) =>
      val users = Tables.orders(spark, d)
        .filter(expr(userSlice))
        .select(col("o_custkey").as("user_id")).distinct()
      Scorer.orthRegLoss(spark, users).orderBy("user_id")
    },

    // ---- BCE-with-logits as an aggregable expression (A8, main_my.py:225-228) ----
    "q_sigmoid_bce" -> QueryDef({
      val h = Hashing.duckH60("l_orderkey", "l_linenumber", "'bce'")
      val hy = Hashing.duckH60("l_orderkey", "l_linenumber", "'y'")
      s"""WITH scored AS (
         |  SELECT l_returnflag,
         |    (($h % 12001) - 6000)/1000.0 AS s,
         |    CAST($hy % 2 AS DOUBLE) AS y
         |  FROM lineitem WHERE l_orderkey % 17 = 0
         |), losses AS (
         |  SELECT l_returnflag,
         |    CAST(round((-(2.0 * y * ln(1.0/(1.0 + exp(-s)))
         |         + (1.0 - y) * ln(1.0 - 1.0/(1.0 + exp(-s))))) * 1000000) AS BIGINT)
         |      AS loss_scaled
         |  FROM scored
         |)
         |SELECT l_returnflag, COUNT(*) AS n,
         |       SUM(loss_scaled) / 1000000.0 AS total_loss
         |FROM losses GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }) { (spark, d) =>
      val s = ((Hashing.h60(col("l_orderkey"), col("l_linenumber"), lit("bce")) % 12001L)
        - 6000L).cast("double") / 1000.0
      val y = (Hashing.h60(col("l_orderkey"), col("l_linenumber"), lit("y")) % 2L)
        .cast("double")
      val sig = lit(1.0) / (lit(1.0) + exp(-col("s")))
      Tables.lineitem(spark, d)
        .filter(col("l_orderkey") % 17 === 0)
        .select(col("l_returnflag"), s.as("s"), y.as("y"))
        .withColumn("loss_scaled",
          round(-(lit(2.0) * col("y") * log(sig)
            + (lit(1.0) - col("y")) * log(lit(1.0) - sig)) * 1000000, 0).cast("long"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (sum(col("loss_scaled")) / 1000000.0).as("total_loss"))
        .orderBy("l_returnflag")
    },

    // ---- ArrayType math over embeddings: L1/L2 norms + reversed dot ----
    "q_array_math" -> QueryDef(
      s"""WITH fx AS (
        |  SELECT vec_id, i, n,
        |    ${VectorOps.duckFixed("x")} AS e
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS i,
        |        len(embedding) AS n
        |        FROM embeddings)
        |)
        |SELECT f.vec_id,
        |  SUM(abs(f.e)) / 10000000.0 AS l1,
        |  round(sqrt(CAST(SUM(f.e * f.e) AS DOUBLE) / 100000000000000.0), 6) AS l2,
        |  SUM(f.e * g.e) / 100000000000000.0 AS dot_rev
        |FROM fx f JOIN fx g ON g.vec_id = f.vec_id AND g.i = f.n + 1 - f.i
        |GROUP BY f.vec_id
        |ORDER BY f.vec_id""".stripMargin) { (spark, d) =>
      // fixed_dot is the engine's native codegen'd expression
      // (graft.functions.FixedDot) — the interpreted HOF chain
      // aggregate(zip_with(...)) is what it replaces
      graft.functions.FixedDot.ensureRegistered(spark)
      Tables.embeddings(spark, d)
        .withColumn("fx", VectorOps.fixedEmbedding)
        .select(
          col("vec_id"),
          (expr("aggregate(fx, 0L, (a, x) -> a + abs(x))") / 10000000.0).as("l1"),
          round(sqrt(expr("fixed_dot(fx, fx)").cast("double")
            / 100000000000000.0), 6).as("l2"),
          (expr("fixed_dot(fx, reverse(fx))") / 100000000000000.0).as("dot_rev"))
        .orderBy("vec_id")
    },

    // ---- int8 scalar quantization of embeddings (the storage/serving
    //      prep step: 4× smaller vectors for ANN shards): per-vector
    //      max-abs scale, symmetric round-to-nearest code in [-127,127],
    //      reconstruction-error report. All math is INTEGER on the 1e7
    //      fixed-point grid — the code is VectorOps.quantCodeSql (its
    //      DuckDB twin duckQuantCode), and err is the exact integer
    //      |e·127 − code·s| (units: 1e7-grid × 127). Quantization is
    //      per-vector LOCAL math, so the engine runs it as ONE narrow
    //      higher-order-function pass (transform/zip_with/aggregate
    //      inside the row — the repetition-scoring fusion playbook):
    //      ZERO shuffles at any corpus size; the oracle keeps the
    //      relational element-rows spelling. ----
    "q_embed_quant" -> QueryDef(
      s"""WITH elems AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         ${VectorOps.duckFixed("unnest(embedding)")} AS e
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, MAX(abs(e)) AS s FROM elems GROUP BY vec_id
        |), q AS (
        |  SELECT el.vec_id, el.i, el.e, s.s,
        |         CASE WHEN s.s = 0 THEN 0
        |              ELSE ${VectorOps.duckQuantCode("el.e", "s.s")}
        |         END AS code
        |  FROM elems el JOIN s ON s.vec_id = el.vec_id
        |)
        |SELECT vec_id, MAX(s) AS scale,
        |  CAST(SUM(code * i) AS BIGINT) AS code_sig,
        |  CAST(SUM(code) AS BIGINT) AS code_sum,
        |  CAST(MAX(abs(e * 127 - code * s)) AS BIGINT) AS max_err_q,
        |  CAST(SUM(abs(e * 127 - code * s)) AS BIGINT) AS sum_err_q
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (spark, d) =>
      Tables.embeddings(spark, d)
        .select(col("vec_id"), VectorOps.fixedEmbedding.as("e"))
        .withColumn("s", expr("aggregate(e, 0L, (a, x) -> greatest(a, abs(x)))"))
        .withColumn("code", expr("transform(e, x -> CASE WHEN s = 0 THEN 0L ELSE " +
          s"${VectorOps.quantCodeSql("x", "s")} END)"))
        .select(col("vec_id"), col("s").as("scale"),
          expr("aggregate(zip_with(code, sequence(1L, size(code)), (c, i) -> c * i), 0L, (a, x) -> a + x)")
            .as("code_sig"),
          expr("aggregate(code, 0L, (a, x) -> a + x)").as("code_sum"),
          expr("aggregate(zip_with(e, code, (x, c) -> abs(x * 127 - c * s)), 0L, (a, x) -> greatest(a, x))")
            .as("max_err_q"),
          expr("aggregate(zip_with(e, code, (x, c) -> abs(x * 127 - c * s)), 0L, (a, x) -> a + x)")
            .as("sum_err_q"))
        .orderBy("vec_id")
    },

    // ---- q_auc: exact distributed ROC-AUC of a deterministic linear
    //      score against binary labels, midrank tie handling (the
    //      Mann–Whitney U formulation). The WHOLE computation is
    //      integer-exact: embeddings fixed-pointed (1e7), probe weights
    //      a Knuth multiplicative hash of the dimension index, the
    //      score an exact BIGINT dot, and the tie-aware midrank doubled
    //      (2·rank + c − 1) so no halves appear before the ONE final
    //      double division. 100 TB: the global rank is the op's honest
    //      price — ONE range-partitioned sort of (score, label) pairs
    //      (16 bytes/row, never the vectors); everything after is a
    //      1-row aggregate. The pairwise O(n²) formulation this
    //      replaces never materializes ----
    "q_auc" -> QueryDef(
      s"""WITH scored AS (
        |  SELECT vec_id, label % 2 AS y,
        |    SUM(${VectorOps.duckFixed("x")}
        |        * ((i * 2654435761) % 2001 - 1000)) AS s
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |  GROUP BY vec_id, label
        |), ranked AS (
        |  SELECT y,
        |    2 * rank() OVER (ORDER BY s)
        |      + COUNT(*) OVER (PARTITION BY s) - 1 AS mr2
        |  FROM scored
        |), agg AS (
        |  SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
        |    CAST(SUM(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT) AS pr2
        |  FROM ranked
        |)
        |SELECT n_pos, n_neg,
        |  round(CAST(pr2 - n_pos * (n_pos + 1) AS DOUBLE)
        |    / (2.0 * n_pos * n_neg), 6) AS auc,
        |  round(CAST(pr2 - n_pos * (n_pos + 1) AS DOUBLE)
        |    / (n_pos * CAST(n_neg AS DOUBLE)) - 1.0, 6) AS gini
        |FROM agg""".stripMargin) { (spark, d) =>
      graft.functions.FixedDot.ensureRegistered(spark)
      val scored = Tables.embeddings(spark, d)
        .select((col("label") % 2).as("y"),
          expr(s"""fixed_dot(
            |  ${VectorOps.fixedEmbeddingSql},
            |  transform(sequence(1, size(embedding)),
            |            i -> (cast(i as bigint) * 2654435761L) % 2001 - 1000))"""
            .stripMargin).as("s"))
      val ranked = scored.select(col("y"),
        (lit(2) * rank().over(
            org.apache.spark.sql.expressions.Window.orderBy("s"))
          + count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("s"))
          - 1).as("mr2"))
      ranked.agg(
          sum("y").cast("long").as("n_pos"),
          (count(lit(1)) - sum("y")).cast("long").as("n_neg"),
          sum(when(col("y") === 1, col("mr2")).otherwise(0L)).cast("long")
            .as("pr2"))
        .select(col("n_pos"), col("n_neg"),
          round((col("pr2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
            / (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"),
          round((col("pr2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
            / (col("n_pos") * col("n_neg").cast("double")) - 1.0, 6).as("gini"))
    },

    // ---- q_score_deciles: decile lift / calibration table for the same
    //      deterministic linear scorer q_auc evaluates — the ranking-model
    //      eval a training pipeline reads next to AUC (which deciles carry
    //      the positives, and how monotone is the score). Equal-FREQUENCY
    //      bins via ntile(10) over the exact BIGINT score with vec_id as
    //      the total tiebreaker, so bin membership is deterministic
    //      cross-engine (equal-width bins would leave most bins empty
    //      under a heavy-tailed score). 100 TB: the global sort is the
    //      same 16-byte/row (s, y, vec_id) rank q_auc pays; everything
    //      after is a 10-row aggregate + one window sum over 10 rows.
    //      All arithmetic integer-exact to the final divisions. ----
    "q_score_deciles" -> QueryDef(
      s"""WITH scored AS (
        |  SELECT vec_id, label % 2 AS y,
        |    SUM(${VectorOps.duckFixed("x")}
        |        * ((i * 2654435761) % 2001 - 1000)) AS s
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |  GROUP BY vec_id, label
        |), binned AS (
        |  SELECT y, s, ntile(10) OVER (ORDER BY s DESC, vec_id) AS decile
        |  FROM scored
        |), per_bin AS (
        |  SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos,
        |    CAST(SUM(s) AS BIGINT) AS sum_s
        |  FROM binned GROUP BY decile
        |)
        |SELECT decile, n, pos,
        |  round(CAST(sum_s AS DOUBLE) / n / 10000000.0, 6) AS mean_score,
        |  round(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
        |  round((CAST(pos AS DOUBLE) / n)
        |    / (CAST(SUM(pos) OVER () AS DOUBLE) / SUM(n) OVER ()), 6) AS lift
        |FROM per_bin
        |ORDER BY decile""".stripMargin) { (spark, d) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.FixedDot.ensureRegistered(spark)
      val scored = Tables.embeddings(spark, d)
        .select(col("vec_id"), (col("label") % 2).as("y"),
          expr(s"""fixed_dot(
            |  ${VectorOps.fixedEmbeddingSql},
            |  transform(sequence(1, size(embedding)),
            |            i -> (cast(i as bigint) * 2654435761L) % 2001 - 1000))"""
            .stripMargin).as("s"))
      val binned = scored.select(col("y"), col("s"),
        ntile(10).over(Window.orderBy(col("s").desc, col("vec_id"))).as("decile"))
      val perBin = binned.groupBy("decile").agg(
        count(lit(1)).as("n"),
        sum("y").cast("long").as("pos"),
        sum("s").cast("long").as("sum_s"))
      val all = Window.partitionBy()
      perBin.select(col("decile"), col("n"), col("pos"),
          round(col("sum_s").cast("double") / col("n") / 1e7, 6).as("mean_score"),
          round(col("pos").cast("double") / col("n"), 6).as("pos_rate"),
          round((col("pos").cast("double") / col("n"))
            / (sum("pos").over(all).cast("double") / sum("n").over(all)), 6)
            .as("lift"))
        .orderBy("decile")
    },

    // ---- q_embed_health: the data-quality check a pipeline runs on a
    //      new embedding drop before anything consumes it — per label:
    //      row count, zero-vector count, NaN-bearing count, dimension
    //      constancy (min=max or the drop is malformed), and the norm²
    //      distribution (min/mean/max on the exact 1e14 fixed-point
    //      grid). ONE narrow per-vector pass + one map-side-combinable
    //      label agg; every statistic integer-exact to the final
    //      mirrored mean division ----
    "q_embed_health" -> QueryDef(
      s"""WITH v AS (
        |  SELECT label, len(embedding) AS dim,
        |    CASE WHEN len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
        |         THEN 1 ELSE 0 END AS has_nan,
        |    (SELECT CAST(SUM(q * q) AS BIGINT) FROM (
        |       SELECT ${VectorOps.duckFixed("unnest(embedding)")} AS q)) AS nrm2
        |  FROM embeddings
        |)
        |SELECT label, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN nrm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(SUM(has_nan) AS BIGINT) AS n_nan,
        |  MIN(dim) AS dim_min, MAX(dim) AS dim_max,
        |  MIN(nrm2) AS nrm2_min, MAX(nrm2) AS nrm2_max,
        |  round(CAST(SUM(nrm2) AS DOUBLE) / COUNT(*) / 1e14, 6) AS mean_nrm2
        |FROM v GROUP BY label ORDER BY label""".stripMargin) { (spark, d) =>
      Tables.embeddings(spark, d)
        .select(col("label"), size(col("embedding")).cast("long").as("dim"),
          expr("""CASE WHEN exists(embedding, x -> isnan(CAST(x AS DOUBLE)))
                 |THEN 1L ELSE 0L END""".stripMargin).as("has_nan"),
          expr(s"""aggregate(${VectorOps.fixedEmbeddingSql},
                 |  0L, (s, q) -> s + q * q)""".stripMargin).as("nrm2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("nrm2") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum("has_nan").cast("long").as("n_nan"),
          min("dim").as("dim_min"), max("dim").as("dim_max"),
          min("nrm2").as("nrm2_min"), max("nrm2").as("nrm2_max"),
          round(sum("nrm2").cast("double") / count(lit(1)) / 1e14, 6)
            .as("mean_nrm2"))
        .orderBy("label")
    },

    // ---- q_auc_folds: k-fold cross-validated AUC — the methodology
    //      wrapper around q_auc (is the single AUC number stable, or an
    //      artifact of one split?). Folds are a pure hash function of
    //      vec_id (h60 % 5 — stable under reruns/repartition, the
    //      q_doc_split rule), the midrank rank runs PARTITIONED by fold
    //      (5 independent 16-byte-row sorts instead of one global one),
    //      and the cross-fold mean is summed in micro-units (each fold's
    //      rounded AUC × 1e6 as BIGINT) so the 5-term sum is exact, not
    //      float-order-dependent ----
    "q_auc_folds" -> QueryDef(
      s"""WITH scored AS (
         |  SELECT vec_id, ${Hashing.duckH60("vec_id", "'fold'")} % 5 AS fold,
         |    label % 2 AS y,
         |    SUM(${VectorOps.duckFixed("x")}
         |        * ((i * 2654435761) % 2001 - 1000)) AS s
         |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
         |        generate_subscripts(embedding, 1) AS i
         |        FROM embeddings)
         |  GROUP BY vec_id, label
         |), ranked AS (
         |  SELECT fold, y,
         |    2 * rank() OVER (PARTITION BY fold ORDER BY s)
         |      + COUNT(*) OVER (PARTITION BY fold, s) - 1 AS mr2
         |  FROM scored
         |), per_fold AS (
         |  SELECT fold, CAST(SUM(y) AS BIGINT) AS n_pos,
         |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
         |    round(CAST(SUM(CASE WHEN y = 1 THEN mr2 ELSE 0 END)
         |        - SUM(y) * (SUM(y) + 1) AS DOUBLE)
         |      / (2.0 * SUM(y) * (COUNT(*) - SUM(y))), 6) AS auc
         |  FROM ranked GROUP BY fold
         |)
         |SELECT fold, n_pos, n_neg, auc,
         |  round(CAST(SUM(CAST(round(auc * 1000000) AS BIGINT)) OVER ()
         |    AS DOUBLE) / COUNT(*) OVER () / 1000000.0, 6) AS cv_mean
         |FROM per_fold ORDER BY fold""".stripMargin) { (spark, d) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.FixedDot.ensureRegistered(spark)
      val scored = Tables.embeddings(spark, d)
        .select(col("vec_id"),
          (Hashing.h60(col("vec_id"), lit("fold")) % 5).as("fold"),
          (col("label") % 2).as("y"),
          expr(s"""fixed_dot(
            |  ${VectorOps.fixedEmbeddingSql},
            |  transform(sequence(1, size(embedding)),
            |            i -> (cast(i as bigint) * 2654435761L) % 2001 - 1000))"""
            .stripMargin).as("s"))
      val ranked = scored.select(col("fold"), col("y"),
        (lit(2) * rank().over(Window.partitionBy("fold").orderBy("s"))
          + count(lit(1)).over(Window.partitionBy("fold", "s")) - 1).as("mr2"))
      val perFold = ranked.groupBy("fold").agg(
          sum("y").cast("long").as("n_pos"),
          (count(lit(1)) - sum("y")).cast("long").as("n_neg"),
          round((sum(when(col("y") === 1, col("mr2")).otherwise(0L))
              - sum("y") * (sum("y") + 1)).cast("double")
            / (lit(2.0) * sum("y") * (count(lit(1)) - sum("y"))), 6).as("auc"))
      val all = Window.partitionBy()
      perFold.select(col("fold"), col("n_pos"), col("n_neg"), col("auc"),
          round(sum(round(col("auc") * 1000000).cast("long")).over(all)
            .cast("double") / count(lit(1)).over(all) / 1000000.0, 6)
            .as("cv_mean"))
        .orderBy("fold")
    },

    // ---- q_embed_gram: the distributed Gram / second-moment matrix
    //      E[x xᵀ] over the embedding corpus — the primitive behind PCA,
    //      ZCA whitening, and covariance drift monitoring. The 100 TB
    //      shape is the point: each task accumulates a LOCAL dim×dim
    //      upper triangle over its partition (fixed-point BIGINT cell
    //      sums, flushed into arbitrary-precision accumulators every 4k
    //      rows so no row volume can overflow), then emits exactly 2080
    //      cells — the shuffle carries partitions×2080 tiny rows, never
    //      vectors, and the final merge is one hash agg over DECIMAL(38,0)
    //      partials. Row count rides on the same cells (each partition
    //      stamps its count once per cell), so the whole statistic is ONE
    //      job with no separate count action. Integer-exact to the final
    //      mirrored double division ----
    "q_embed_gram" -> QueryDef(
      s"""WITH $duckGramCtes
         |SELECT i, j, round(CAST(s AS DOUBLE) / n / 1e14, 6) AS cogram
         |FROM g, n ORDER BY i, j""".stripMargin) { (spark, d) =>
      gramCells(spark, d)
        .select(col("i"), col("j"),
          round(col("s").cast("double") / col("n") / 1e14, 6).as("cogram"))
        .orderBy("i", "j")
    },

    // ---- q_embed_pca: dominant principal direction + explained second
    //      moment via POWER ITERATION on the Gram matrix — PCA the way
    //      it actually runs at 100 TB: the corpus-sized work is exactly
    //      q_embed_gram's one-pass cell reduce; the eigensolve happens
    //      on the COLLECTED 2080-cell matrix (bounded by dim², never the
    //      corpus — the safe-collect contract). Cross-engine parity for
    //      an iterative float algorithm comes from the q_kmeans
    //      discipline: the matvec u = S·v runs in EXACT integers (BigInt
    //      / HUGEINT — order-free), and each iteration re-projects onto
    //      a 1e6 fixed-point grid via ONE mirrored double divide+round
    //      (∞-norm normalization — max|u| is an exact integer, where an
    //      L2 norm would square u into overflow). 6 iterations unrolled
    //      in the oracle; λ = Rayleigh quotient of exact integer
    //      quadratic forms, one final mirrored division chain ----
    "q_embed_pca" -> QueryDef(
      s"""WITH $duckGramCtes,
         |sym AS (
         |  SELECT i, j, s FROM g
         |  UNION ALL SELECT j AS i, i AS j, s FROM g WHERE i < j
         |),
         |v0 AS (SELECT unnest(generate_series(1, $PCA_DIM)) AS i,
         |       CAST(1000000 AS BIGINT) AS v),
         |${(1 to PCA_ITERS).map(duckPcaIter).mkString(",\n")},
         |num AS (
         |  SELECT SUM(a.v * sym.s * b.v) AS num
         |  FROM sym JOIN v$PCA_ITERS a ON a.i = sym.i
         |           JOIN v$PCA_ITERS b ON b.i = sym.j
         |), den AS (SELECT SUM(v * v) AS den FROM v$PCA_ITERS)
         |SELECT v$PCA_ITERS.i, CAST(v AS DOUBLE) / 1000000.0 AS component,
         |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / n / 1e14, 6)
         |    AS eigval
         |FROM v$PCA_ITERS, num, den, n ORDER BY i""".stripMargin) { (spark, d) =>
      // bounded collect: dim(dim+1)/2 cells + the row count — never the corpus
      val cells = gramCells(spark, d).collect()
      val n = cells.head.getAs[Long]("n")
      val S = Array.ofDim[BigInt](PCA_DIM + 1, PCA_DIM + 1)
      cells.foreach { r =>
        val (i, j) = (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt)
        val s = BigInt(r.getAs[java.math.BigDecimal]("s").toBigInteger)
        S(i)(j) = s; S(j)(i) = s
      }
      var v = Array.fill(PCA_DIM + 1)(BigInt(1000000)); v(0) = BigInt(0)
      for (_ <- 1 to PCA_ITERS) {
        val u = Array.tabulate(PCA_DIM + 1) { i =>
          if (i == 0) BigInt(0)
          else (1 to PCA_DIM).map(j => S(i)(j) * v(j)).sum
        }
        val mx = u.map(_.abs).max
        // half-AWAY-FROM-ZERO, mirroring the oracle's round(): JVM
        // math.round is half-toward-+inf, which diverges the whole
        // fixed-point trajectory on a negative iterate landing on x.5
        v = u.map { ui =>
          val x = BigDecimal(ui.toDouble * 1000000 / mx.toDouble)
          x.setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
        }
      }
      val num = (for (i <- 1 to PCA_DIM; j <- 1 to PCA_DIM)
        yield v(i) * S(i)(j) * v(j)).sum
      val den = (1 to PCA_DIM).map(i => v(i) * v(i)).sum
      // round through the ENGINE's round(), not driver BigDecimal — the
      // same function the oracle's round() is paired with everywhere
      val eigRaw = num.toDouble / den.toDouble / n / 1e14
      import spark.implicits._
      (1 to PCA_DIM).map(i => (i.toLong, v(i).toDouble / 1000000.0, eigRaw))
        .toDF("i", "component", "eig_raw")
        .select(col("i"), col("component"), round(col("eig_raw"), 6).as("eigval"))
        .orderBy("i")
    })

  /** PCA dims/iterations (q_embed_pca). 6 power iterations from the
    * all-ones start: enough to separate the dominant direction on any
    * non-degenerate spectrum while keeping the oracle's unrolled CTE
    * chain readable; the spec checks convergence against a
    * long-iteration reference.
    */
  private lazy val PCA_DIM = 64
  private lazy val PCA_ITERS = 6

  /** One unrolled power-iteration CTE pair: exact-integer matvec, then
    * the mirrored ∞-norm re-projection onto the 1e6 grid.
    */
  private def duckPcaIter(k: Int): String =
    s"""u$k AS (
       |  SELECT sym.i, SUM(sym.s * p.v) AS u
       |  FROM sym JOIN v${k - 1} p ON p.i = sym.j GROUP BY sym.i
       |), m$k AS (SELECT MAX(abs(u)) AS mx FROM u$k),
       |v$k AS (
       |  SELECT i, CAST(round(CAST(u AS DOUBLE) * 1000000
       |                       / CAST(mx AS DOUBLE)) AS BIGINT) AS v
       |  FROM u$k, m$k
       |)""".stripMargin

  /** Shared oracle CTEs for the Gram family: fixed-point elements `q`,
    * corpus count `n`, and the upper-triangle exact cell sums `g`.
    */
  private lazy val duckGramCtes: String =
    s"""q AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    ${VectorOps.duckFixed("unnest(embedding)")} AS q
      |  FROM embeddings
      |), n AS (SELECT COUNT(*) AS n FROM embeddings),
      |g AS (
      |  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
      |  FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.i >= a.i
      |  GROUP BY a.i, b.i
      |)""".stripMargin

  /** The distributed Gram reduce shared by q_embed_gram and q_embed_pca:
    * (i, j, s DECIMAL(38,0), n) for the upper triangle — per-partition
    * local fixed-point accumulation, shuffle = partitions × 2080 cells.
    */
  private def gramCells(spark: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dim = PCA_DIM
    val cells = dim * (dim + 1) / 2
    val partials = Tables.embeddings(spark, d)
      .select(VectorOps.fixedEmbedding.as("q"))
      .as[Array[Long]]
      .mapPartitions { it =>
        val acc = Array.fill(cells)(java.math.BigInteger.ZERO)
        val loc = new Array[Long](cells)
        var rows = 0L
        // flush on accumulated MAGNITUDE, not row count: one row adds up
        // to rowMax² per cell, so a fixed-row window is only safe for
        // ~unit-scale vectors. magD conservatively bounds max|loc|; flush
        // before it could pass 4e18 (< Long.Max/2, double-slack safe).
        var magD = 0.0
        def flush(): Unit = {
          var c = 0
          while (c < cells) {
            if (loc(c) != 0L) {
              acc(c) = acc(c).add(java.math.BigInteger.valueOf(loc(c)))
              loc(c) = 0L
            }
            c += 1
          }
          magD = 0.0
        }
        it.foreach { qv =>
          var rowMax = 0L
          var k = 0
          while (k < dim) {
            val a = math.abs(qv(k)); if (a > rowMax) rowMax = a; k += 1
          }
          // a SINGLE product qi·qj already overflows long past √Long.Max
          // (|x| ≳ 303 at the 1e7 grid) — no flush policy can save that;
          // fail loudly and point at the upstream scale check
          if (rowMax > 3037000499L)
            throw new IllegalStateException(
              s"gramCells: |q|=$rowMax overflows a single long product; " +
                "validate embedding scale upstream (q_embed_health)")
          val rowMaxSq = rowMax.toDouble * rowMax.toDouble
          if (magD + rowMaxSq > 4.0e18) flush()
          magD += rowMaxSq
          var c = 0
          var i = 0
          while (i < dim) {
            val qi = qv(i)
            var j = i
            while (j < dim) { loc(c) += qi * qv(j); j += 1; c += 1 }
            i += 1
          }
          rows += 1L
        }
        flush()
        if (rows == 0L) Iterator.empty
        else Iterator.range(0, dim).flatMap { i =>
          // cell (i, j) lives at linear index i·dim − i(i−1)/2 + (j − i)
          val base = i * dim - i * (i - 1) / 2 - i
          Iterator.range(i, dim).map { j =>
            (i + 1L, j + 1L, acc(base + j).toString, rows)
          }
        }
      }
      .toDF("i", "j", "s", "rows")
      .select(col("i"), col("j"),
        col("s").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("s"),
        col("rows"))
    partials.groupBy("i", "j")
      .agg(sum("s").as("s"), sum("rows").as("n"))
  }
}
