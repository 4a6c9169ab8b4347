package graft.etl

import graft.{Hashing, Limits}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ETL pipeline proper (SURVEY.md §3 E2): per-user
  * leave-two-out splits, seeded fractional train subsampling, negative
  * sampling, and candidate assembly — re-expressed as declarative,
  * deterministic, distributed DataFrame plans.
  *
  * Determinism: the reference shuffles with `sklearn.utils.shuffle(
  * random_state=2020|72)` (Dataset_CDAE.py:79,103,111,124). Fisher–Yates
  * order is not reproducible cross-engine, so the engine *defines* sampling
  * order as ascending [[Hashing.h60]] with a per-operator salt — seedable,
  * distributed, and replayable bit-exact by the DuckDB oracle
  * (SURVEY.md §7 risk 1).
  *
  * Every operator here shuffles exactly once, on (user_id, domain) — the
  * key a 1000-executor cluster would bucket the interaction log on. The
  * split/subsample operators then window within the partition; the
  * negative samplers run an imperative per-row loop against the broadcast
  * item catalog (see SCALING.md for why: interpreted higher-order
  * functions and catalog-as-join-column both fell over at 10× scale).
  * No U×I materialization anywhere.
  */
object Splits {

  val SEED_SPLIT = "2020"  // leave-two-out order   (Dataset_CDAE.py:103,111)
  val SEED_TRAIN = "72"    // train subsample order (Dataset_CDAE.py:79)
  val SEED_NEG   = "neg"   // negative-sample order (Dataset_CDAE.py:110,123)
  val TRAIN_PCT  = 0.8     // --percent of the sparsity experiments
  val NUM_NEG    = 99      // negatives per user    (Dataset_CDAE.py:110-111)

  private def hOrder(salt: String): Column =
    Hashing.h60(col("user_id"), col("item_id"), col("domain"), lit(salt))

  private def duckHOrder(salt: String): String =
    Hashing.duckH60("user_id", "item_id", "domain", s"'$salt'")

  /** The leave-two-out window's order in full: the (user_id, domain)
    * partition key, then seeded h60 order ([[splitKey]]) with `item_id`
    * as tie-break. [[ranked]] windows in it and [[Interactions]] stores
    * the log sorted by it within each partition, so the window over the
    * persisted log plans no sort of its own. The planner drops that sort
    * only when the stored order and the window's order are the same
    * expressions, hence one definition for both.
    */
  def splitOrder: Seq[Column] = splitOrderBy(splitKey)

  /** The seeded h60 position of [[splitOrder]]. */
  def splitKey: Column = hOrder(SEED_SPLIT)

  /** [[splitOrder]] with `key` in place of [[splitKey]]: how
    * [[Interactions]] sorts on a precomputed key column that it declares
    * equal to [[splitKey]].
    */
  def splitOrderBy(key: Column): Seq[Column] =
    Seq(col("user_id"), col("domain"), key, col("item_id"))

  /** The leave-two-out rank: interactions plus `rn`, each item's
    * position in seeded order within its (user, domain). Over the
    * session's persisted log (hash-partitioned on (user_id, domain) and
    * sorted by [[splitOrder]]) the window plans neither an exchange nor
    * a sort; over any other input it pays ONE (user_id, domain) shuffle
    * and ONE in-partition sort. The splits are a narrow aggregate of
    * this relation, keeping its hash partitioning.
    */
  def ranked(inter: DataFrame): DataFrame = {
    val (key, order) = splitOrder.splitAt(2)
    inter.withColumn("rn",
      row_number().over(Window.partitionBy(key: _*).orderBy(order: _*)))
  }

  /** Leave-two-out split (Dataset_CDAE.py:91-145) as the aggregate of a
    * [[ranked]] relation: per (user, domain) the first item in seeded
    * order is vali, the second is test; degree-1 users get the same item
    * for both (Dataset_CDAE.py:106-108 — the edge that changes metric
    * denominators, SURVEY.md §7 risk 6). Shuffle-free over `ranked`.
    */
  def leaveTwoOut(ranked: DataFrame): DataFrame =
    ranked
      .groupBy("user_id", "domain")
      .agg(
        count(lit(1)).as("deg"),
        min(when(col("rn") === 1, col("item_id"))).as("vali_item"),
        coalesce(min(when(col("rn") === 2, col("item_id"))),
          min(when(col("rn") === 1, col("item_id")))).as("test_item"))

  val duckLeaveTwoOutCte: String =
    s"""ranked AS (
       |  SELECT user_id, domain, item_id,
       |         row_number() OVER (PARTITION BY user_id, domain
       |           ORDER BY ${duckHOrder(SEED_SPLIT)}, item_id) AS rn
       |  FROM interactions
       |), splits AS (
       |  SELECT user_id, domain, COUNT(*) AS deg,
       |    MIN(CASE WHEN rn = 1 THEN item_id END) AS vali_item,
       |    coalesce(MIN(CASE WHEN rn = 2 THEN item_id END),
       |             MIN(CASE WHEN rn = 1 THEN item_id END)) AS test_item
       |  FROM ranked GROUP BY user_id, domain
       |)""".stripMargin

  /** Train set after hold-out removal (Dataset_CDAE.py:73-77): degree>2
    * users drop vali and test; degree≤2 users drop only vali (degree-1 ⇒
    * empty train), then keep the first floor(pct·n + 0.5) items in seeded
    * order (Dataset_CDAE.py:78-84; floor(+0.5) is the engine's defined
    * rounding — identical in both engines, sidestepping banker's-rounding
    * drift, SURVEY.md §2.8). The hold-out columns come from a join back to
    * the [[leaveTwoOut]] splits, the shape the oracle CTE replays.
    */
  def trainSubsample(inter: DataFrame, pct: Double = TRAIN_PCT): DataFrame = {
    val train = inter.join(leaveTwoOut(ranked(inter)), Seq("user_id", "domain"))
      .filter(!(col("item_id") === col("vali_item")) &&
        !(col("deg") > 2 && col("item_id") === col("test_item")))
    val w = Window.partitionBy("user_id", "domain")
      .orderBy(hOrder(SEED_TRAIN), col("item_id"))
    val wAll = Window.partitionBy("user_id", "domain")
    train
      .withColumn("rn", row_number().over(w))
      .withColumn("n_train", count(lit(1)).over(wAll))
      .filter(col("rn") <= floor(lit(pct) * col("n_train") + 0.5))
      .select("user_id", "domain", "item_id", "n_train")
  }

  def duckTrainSubsampleCte(pct: Double): String =
    s"""train0 AS (
       |  SELECT i.user_id, i.domain, i.item_id, s.deg
       |  FROM interactions i JOIN splits s
       |    ON i.user_id = s.user_id AND i.domain = s.domain
       |  WHERE i.item_id <> s.vali_item
       |    AND NOT (s.deg > 2 AND i.item_id = s.test_item)
       |), train_ranked AS (
       |  SELECT user_id, domain, item_id,
       |    row_number() OVER (PARTITION BY user_id, domain
       |      ORDER BY ${duckHOrder(SEED_TRAIN)}, item_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id, domain) AS n_train
       |  FROM train0
       |), train AS (
       |  SELECT user_id, domain, item_id, n_train FROM train_ranked
       |  WHERE rn <= floor($pct * n_train + 0.5)
       |)""".stripMargin

  /** Per-(user, domain) positive-item arrays — the single-shuffle base
    * both negative samplers build on: one hash-partitioned aggregate on
    * (user_id, domain), the key the interaction log would be bucketed by.
    */
  private def userPositives(inter: DataFrame, userFilter: Column): DataFrame =
    inter.filter(userFilter)
      .groupBy("user_id", "domain")
      .agg(collect_set(col("item_id")).as("pos"))

  /** Hash-indexed draws per (user, domain) in the scalable sampler: the
    * first [[NUM_NEG]] draws that are neither a repeat nor a positive are
    * kept, so a user ends with fewer only when more than DRAWS − NUM_NEG
    * draws are wasted.
    */
  val DRAWS = 160

  private def distinctItems(inter: DataFrame): DataFrame =
    inter.select("domain", "item_id").distinct()

  /** Collect the distinct catalog capped at `max + 1` rows — ONE job (a
    * separate count() would run the distinct shuffle twice; measured +6s
    * at 10× scale). Returns None when truncated (catalog exceeds `max`),
    * Some(grouped catalog) when the capped collect is the complete set.
    */
  private def collectCatalogCapped(items: DataFrame,
      max: Long): Option[Map[String, Array[Long]]] = {
    if (max >= Int.MaxValue - 1 || max < 0) return Some(groupCatalog(items.collect()))
    val rows = items.limit(max.toInt + 1).collect()
    if (rows.length > max) None else Some(groupCatalog(rows))
  }

  private def groupCatalog(
      rows: Array[org.apache.spark.sql.Row]): Map[String, Array[Long]] =
    rows.groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).sorted }

  /** Per-domain sorted item catalog as an EXECUTOR BROADCAST (not a join
    * column): element i ↔ dense_id i−1 ([[Interactions.denseItems]]).
    *
    * The r2-initial formulation joined the catalog onto every user row —
    * at 10× scale that shipped and deserialized an 800 KB array per row
    * (measured 21× bench growth for 10× data). A broadcast variable is
    * materialized once per executor: catalogs are ~10⁶ items even at web
    * scale (megabytes), far under broadcast limits. Guarded: a catalog
    * past [[graft.Limits.catalogBroadcast]] fails fast with a pointer to
    * the scalable sampler instead of OOMing the driver mid-collect.
    */
  private def itemCatalog(inter: DataFrame): Map[String, Array[Long]] =
    collectCatalogCapped(distinctItems(inter), Limits.catalogBroadcast).getOrElse {
      throw new IllegalStateException(
        s"item catalog exceeds the ${Limits.catalogBroadcast}-item broadcast " +
          "ceiling; use negativeSampleScalable, which switches to the " +
          "distributed join formulation past the threshold")
    }

  /** Per-(user, domain) sampler input / sampled output rows. */
  final case class PosIn(user_id: Long, domain: String, pos: Array[Long])
  final case class NegOut(user_id: Long, domain: String, item_id: Long, rn: Int)
  final case class NegPacked(user_id: Long, domain: String, items: Array[Long])


  /** Exact negative sampling by set complement (Dataset_CDAE.py:110,123):
    * all domain items the user never touched, in seeded order, first 99.
    * The complement is computed per row against the broadcast item array —
    * O(|slice|·|items|) compute but ZERO extra shuffles. The reference's
    * semantics are O(U×I) by definition, so the operator is gated to a
    * COUNT-bounded user slice: the first `n` distinct users in
    * deterministic h60 order (a distributed TakeOrderedAndProject + tiny
    * broadcast semi-join). A fractional slice (`user_id % m`) keeps the
    * operator quadratic in scale — slice AND catalog both grow with the
    * corpus; a count bound makes it O(n·|catalog|), linear in the corpus
    * (measured 328s → 11s for q_neg_sample at 30×). The slice is
    * semi-joined into the log ahead of the positives aggregate, so only
    * its users' rows are collected; the item catalog still comes from the
    * FULL relation (the complement's universe must not shrink with the
    * slice). The 100 TB path is
    * [[negativeSampleScalable]].
    */
  def negativeSampleExact(inter: DataFrame, n: Int): DataFrame = {
    import inter.sparkSession.implicits._
    val users = inter.select("user_id").distinct()
      .orderBy(graft.Hashing.h60(col("user_id")), col("user_id")).limit(n)
    val bcItems = inter.sparkSession.sparkContext.broadcast(itemCatalog(inter))
    userPositives(inter.join(broadcast(users), Seq("user_id"), "left_semi"), lit(true))
      .select("user_id", "domain", "pos").as[PosIn]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val cat = bcItems.value
        // only the 99 SMALLEST (h, item) keys are needed: an ascending
        // bounded buffer rejects the rest in O(1), vs the full sort of
        // |items| boxed pairs per user the first version did (measured:
        // that sort+GC dominated the query 20:1 at 10× scale).
        it.flatMap { r =>
          val items = cat(r.domain)
          val posSet = new java.util.HashSet[Long](2 * r.pos.length)
          r.pos.foreach(posSet.add)
          val kept = new graft.rank.TopKBuffer(NUM_NEG, descending = false,
            distinct = false)
          val ascii = java.nio.charset.StandardCharsets.US_ASCII
          val prefix = s"${r.user_id}:".getBytes(ascii)
          val suffix = s":${r.domain}:$SEED_NEG".getBytes(ascii)
          var i = 0
          while (i < items.length) {
            val item = items(i)
            if (!posSet.contains(item)) {
              kept.insert(Hashing.h60JvmParts(md, prefix, item.toString, suffix), item)
            }
            i += 1
          }
          Iterator.tabulate(kept.size)(j => NegOut(r.user_id, r.domain, kept.id(j), j + 1))
        }
      }.toDF()
  }

  def duckNegativeSampleCte(userWhere: String): String =
    s"""neg_pool AS (
       |  SELECT u.user_id, it.domain, it.item_id
       |  FROM (SELECT DISTINCT user_id, domain FROM interactions
       |        WHERE $userWhere) u
       |  JOIN (SELECT DISTINCT domain, item_id FROM interactions) it
       |    ON u.domain = it.domain
       |  WHERE NOT EXISTS (SELECT 1 FROM interactions i
       |    WHERE i.user_id = u.user_id AND i.domain = it.domain
       |      AND i.item_id = it.item_id)
       |), negs AS (
       |  SELECT user_id, domain, item_id, rn FROM (
       |    SELECT user_id, domain, item_id,
       |      row_number() OVER (PARTITION BY user_id, domain
       |        ORDER BY ${duckHOrder(SEED_NEG)}, item_id) AS rn
       |    FROM neg_pool)
       |  WHERE rn <= $NUM_NEG
       |)""".stripMargin

  /** Scalable negative sampling — the 100 TB replacement for the O(U×I)
    * complement (SURVEY.md §4.3 "physical notes"): draw [[DRAWS]]
    * hash-indexed candidates per (user, domain) — O(U·draws) — map the
    * dense index to a real item id via the broadcast catalog, drop
    * collisions (first-draw-wins = min r) and positives, keep the first
    * 99 by draw order. Candidate r of a user is
    * `h60(user, r, domain, salt) mod |items(domain)|`. Exactly ONE
    * shuffle (the [[userPositives]] aggregate) and no per-row catalog
    * copies — the r1 formulation spent 4 shuffles of the drawn rows on
    * the same semantics, and the first r2 version shipped the catalog as
    * a join column (O(U·|items|) bytes).
    *
    * Returns one PACKED row per (user, domain): the sampled negatives as
    * an `items` array in draw order. This is the shape the split cache
    * WRITES (r11, VERDICT r10 #6): the long form pushes U·99 rows through
    * shuffle-free parquet encode — ~300M rows and the single longest
    * stage of the 100× q_lifecycle build — while the packed form writes
    * U rows of 99 longs each (same bytes of item data, 99× less row/page
    * overhead). [[explodeNegatives]] gives the long (user_id, domain,
    * item_id, rn) form losslessly (rn = array position + 1, exactly the
    * draw order).
    *
    * `userFilter` restricts the SAMPLED users only — the item catalog and
    * positives stay global, so each user's draws are identical whether or
    * not other users are sampled (what lets callers slice users without
    * changing per-user results). Catalogs past
    * [[graft.Limits.catalogBroadcast]] switch to the all-join distributed
    * formulation ([[distributedNegatives]]) — identical results
    * (SplitsSpec proves row equality), unbounded catalog axis.
    */
  def negativeSampleScalable(inter: DataFrame, userFilter: Column = lit(true)): DataFrame =
    collectCatalogCapped(distinctItems(inter), Limits.catalogBroadcast) match {
      case None =>
        // the distributed long form already shuffles on (user, domain)
        // for its row_number window, so the pack agg reuses that
        // partitioning — no extra exchange
        distributedNegatives(inter, userFilter).groupBy("user_id", "domain")
          .agg(expr("transform(array_sort(collect_list(struct(rn, item_id)))," +
            " x -> x.item_id)").as("items"))
      case Some(c) => packedFromCatalog(inter, c, userFilter)
    }

  /** The long (user_id, domain, item_id, rn) relation from a packed one
    * — position in the items array IS the draw order.
    */
  def explodeNegatives(packed: DataFrame): DataFrame =
    packed.select(col("user_id"), col("domain"),
      posexplode(col("items")).as(Seq("p", "item_id")))
      .select(col("user_id"), col("domain"), col("item_id"),
        (col("p") + 1).cast("int").as("rn"))

  private def packedFromCatalog(inter: DataFrame,
      catalog: Map[String, Array[Long]], userFilter: Column): DataFrame = {
    import inter.sparkSession.implicits._
    val bcItems = inter.sparkSession.sparkContext.broadcast(catalog)
    userPositives(inter, userFilter)
      .select("user_id", "domain", "pos").as[PosIn]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val cat = bcItems.value
        val ascii = java.nio.charset.StandardCharsets.US_ASCII
        it.map { r =>
          val items = cat(r.domain)
          // md5 input is "<user>:<r>:<domain>:<salt>"; stream the fixed
          // prefix/suffix into the digest instead of concatenating a
          // fresh string per draw (the draw loop runs U×DRAWS times)
          val prefix = s"${r.user_id}:".getBytes(ascii)
          val suffix = s":${r.domain}:$SEED_NEG".getBytes(ascii)
          val n = items.length
          val posSet = r.pos.toSet
          val seen = new java.util.HashSet[Long](2 * DRAWS)
          val out = new scala.collection.mutable.ArrayBuffer[Long](NUM_NEG)
          var d = 1
          while (d <= DRAWS && out.length < NUM_NEG) {
            val dense = Hashing.h60JvmParts(md, prefix, d.toString, suffix) % n
            if (seen.add(dense)) {
              val item = items(dense.toInt)
              if (!posSet.contains(item)) out += item
            }
            d += 1
          }
          NegPacked(r.user_id, r.domain, out.toArray)
        }
      }.toDF()
  }

  /** The distributed-join formulation of [[negativeSampleScalable]] in
    * long form — the unbounded-catalog path (10⁸⁺ items, where the
    * broadcast array would OOM the driver). Semantically identical to the
    * broadcast loop: draw r=1..DRAWS dense ids `h60(user, r, domain,
    * salt) mod |items|`, first-draw-wins on collisions (min r per dense
    * id), map dense → item via [[Interactions.denseItems]] as a JOIN
    * keyed (domain, dense_id), anti-join out positives, keep the first
    * [[NUM_NEG]] by draw order. This is exactly the shape the DuckDB
    * oracle CTE ([[duckNegativeSampleScalableCte]]) replays.
    *
    * Cost vs broadcast path: three extra shuffles (dense-id dedup, the
    * dense→item join, the positives anti-join) — all keyed on bounded-
    * cardinality keys, no axis materializes U×I. The per-domain counts
    * are a tiny broadcast.
    */
  private def distributedNegatives(inter: DataFrame,
      userFilter: Column): DataFrame = {
    val di = Interactions.denseItems(inter)
    val nItems = di.groupBy("domain").agg(count(lit(1)).as("n_items"))
    val drawn = inter.filter(userFilter)
      .select("user_id", "domain").distinct()
      .join(broadcast(nItems), "domain")
      .select(col("user_id"), col("domain"), col("n_items"),
        explode(sequence(lit(1), lit(DRAWS))).as("r"))
      .select(col("user_id"), col("domain"), col("r"),
        (Hashing.h60(col("user_id"), col("r"), col("domain"), lit(SEED_NEG))
          % col("n_items")).as("dense_id"))
      .groupBy("user_id", "domain", "dense_id")
      .agg(min(col("r")).as("first_r"))
    drawn
      .join(di, Seq("domain", "dense_id"))
      .join(inter.select("user_id", "domain", "item_id"),
        Seq("user_id", "domain", "item_id"), "left_anti")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "domain").orderBy("first_r")))
      .filter(col("rn") <= NUM_NEG)
      .select("user_id", "domain", "item_id", "rn")
  }

  val duckNegativeSampleScalableCte: String =
    s"""n_items AS (
       |  SELECT domain, COUNT(*) AS n_items FROM dense_items GROUP BY domain
       |), drawn AS (
       |  SELECT user_id, domain, dense_id, MIN(r) AS first_r FROM (
       |    SELECT u.user_id, u.domain,
       |      ${Hashing.duckH60("u.user_id", "t.r", "u.domain", s"'$SEED_NEG'")} % n.n_items AS dense_id,
       |      t.r
       |    FROM (SELECT DISTINCT user_id, domain FROM interactions) u
       |    JOIN n_items n ON u.domain = n.domain
       |    CROSS JOIN (SELECT unnest(generate_series(1, $DRAWS)) AS r) t)
       |  GROUP BY user_id, domain, dense_id
       |), negs_scalable AS (
       |  SELECT user_id, domain, item_id, rn FROM (
       |    SELECT d.user_id, d.domain, di.item_id,
       |      row_number() OVER (PARTITION BY d.user_id, d.domain
       |        ORDER BY d.first_r) AS rn
       |    FROM drawn d
       |    JOIN dense_items di ON d.domain = di.domain AND d.dense_id = di.dense_id
       |    WHERE NOT EXISTS (SELECT 1 FROM interactions i
       |      WHERE i.user_id = d.user_id AND i.domain = d.domain
       |        AND i.item_id = di.item_id))
       |  WHERE rn <= $NUM_NEG
       |)""".stripMargin

  /** The [[leaveTwoOut]] splits of the whole log, persisted once per
    * (session, scale dir): the split table is the pipeline's second
    * shared base relation after the interaction log. Its readers all
    * need every user: q_leave_two_out, the unfiltered [[candidates]]
    * (hence [[candidatesCached]]) and `Metrics.posRanksJoin`'s
    * positives, and a real evaluation run materializes the splits once
    * (SplitCache), not per reader. User-sliced callers do not read it
    * (see [[candidates]]). Lazy persist — the first consumer pays the
    * window.
    */
  def leaveTwoOutCached(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, sfDir, "splits.leaveTwoOut") {
      leaveTwoOut(ranked(Interactions(spark, sfDir))).persist()
    }

  /** The unfiltered [[candidates]] relation persisted once per (session,
    * scale dir), the way `DedupQueries.clusterMembers` memoizes cluster
    * membership: three suite consumers otherwise rebuild the whole
    * splits→negatives→candidates subtree (q_candidates, q_rank_metrics,
    * q_rank_metrics_agg — ~100s EACH at the 100× probe), while a real
    * pipeline materializes the candidate table once per evaluation run.
    * User-SLICED callers are deliberately not routed here: their filter
    * is pushed into the sampler, which beats a post-hoc filter over the
    * full build ~5× when the slice runs alone (Metrics `q_rank_topk`
    * note).
    */
  def candidatesCached(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.cached(spark, sfDir, "splits.candidates") {
      candidates(spark, sfDir).persist()
    }

  /** Candidate assembly (my_utils.py:132-133): the 99 negatives plus the
    * planted held-out positive, per (user, domain), for every user. The
    * positives come from the memoized [[leaveTwoOutCached]] splits.
    */
  def candidates(spark: SparkSession, sfDir: String): DataFrame =
    assemble(Interactions.cached(spark, sfDir), lit(true),
      leaveTwoOutCached(spark, sfDir))

  /** [[candidates]] for the users `userFilter` keeps, without changing
    * any user's candidate set (see [[negativeSampleScalable]]). The
    * slice builds its own splits in its plan, as
    * `leaveTwoOut(ranked(log.filter(userFilter)))`: the filter keeps
    * the persisted log's partitioning and order, so the window over it
    * plans no sort and no exchange, and the slice neither builds nor
    * pins every user's splits (q_rank_topk reads 1/20 of them). Nothing
    * is persisted and no Memo entry is added.
    */
  def candidates(spark: SparkSession, sfDir: String,
      userFilter: Column): DataFrame = {
    val inter = Interactions.cached(spark, sfDir)
    assemble(inter, userFilter, leaveTwoOut(ranked(inter.filter(userFilter))))
  }

  /** The sampled negatives of `userFilter`'s users over `inter` plus the
    * `test_item` of each of `splits`' rows (the same users) as the
    * positive. `inter` is the session's persisted log: the pipeline
    * reads it three times (catalog collect, sampler positives,
    * leave-two-out window) and the CacheManager substitutes it into
    * every identical subtree, so all three are in-memory scans.
    */
  private def assemble(inter: DataFrame, userFilter: Column,
      splits: DataFrame): DataFrame = {
    val negs = explodeNegatives(negativeSampleScalable(inter, userFilter))
      .select(col("user_id"), col("domain"), col("item_id"), lit(0).as("is_positive"))
    val pos = splits
      .select(col("user_id"), col("domain"), col("test_item").as("item_id"),
        lit(1).as("is_positive"))
    negs.unionAll(pos)
  }

  val duckCandidatesCte: String =
    """candidates AS (
      |  SELECT user_id, domain, item_id, 0 AS is_positive FROM negs_scalable
      |  UNION ALL
      |  SELECT user_id, domain, test_item AS item_id, 1 AS is_positive FROM splits
      |)""".stripMargin
}
