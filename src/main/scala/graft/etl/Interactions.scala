package graft.etl

import graft.{Limits, Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SortOrders

/** The engine's interaction log — the long-form DataFrame equivalent of the
  * reference's `dict[user_id → list[item_id]]` pickles per domain
  * (Dataset_CDAE.py:26-33, SURVEY.md §1.1).
  *
  * Derived from the star schema: user = `o_custkey`, item = `l_partkey`,
  * and the two cross-domain item spaces ('x'/'y', movie/book in the
  * reference) are the even/odd partkey halves — every user naturally
  * appears in both domains, replicating the paper's overlapping-user
  * assumption (Dataset_CDAE.py:11, main_my.py:81-95).
  *
  * 100 TB: one shuffled join on the fact key + a distinct (hash
  * aggregate). At cluster scale both fact tables would be bucketed by
  * orderkey making the join shuffle-free; the distinct partial-aggregates
  * map-side. Never densified to a U×I matrix (SURVEY.md §4.3:
  * `main_my.py:83,88` is the scale-fatal step we deliberately avoid).
  */
object Interactions {

  /** Largest single-user share of the orders fact — ONE tiny two-level
    * aggregate (map-side combinable, 1-row result), memoized in [[Memo]].
    */
  private def maxUserShare(spark: SparkSession, sfDir: String): Double =
    Memo.cachedObj(spark, sfDir, "etl.hotUserShare",
        (_: java.lang.Double) => 8L) {
      val r = Tables.orders(spark, sfDir)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .agg(max("n").as("mx"), sum("n").as("tot")).head()
      Double.box(if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
        else r.getLong(0).toDouble / r.getLong(1))
    }

  /** Long-form distinct (user_id, item_id, domain).
    *
    * Physical shape is a SKEW-AWARE dial (r10):
    *
    *  - balanced keys (the common case): repartition by (user_id,
    *    domain) BEFORE the dedup distinct — (u, d) co-locates every
    *    (u, i, d) group, so the dedup aggregate runs exchange-free on
    *    it, and (u, d) is THE downstream key (leave-two-out window,
    *    train re-rank, positives collect), so every such consumer —
    *    including scans of the session-persisted cache, whose stored
    *    partitioning is this one — plans zero further exchanges
    *    (q_lifecycle 100× cold build: ranked materialize 52.8 → 24.5s);
    *  - a hot user past [[graft.Limits.hotUserShare]]: the r9 spread shape
    *    (distinct exchanges on (u, i, d) with map-side partial dedup,
    *    consumers re-exchange for (u, d)) — concentrating the hot
    *    user's RAW pre-dedup rows onto one task measured 2.2× slower
    *    than the spread shape on the zipf axis.
    *
    * The dial costs one memoized 1-row aggregate over orders; both
    * shapes produce the identical relation (InteractionsSpec proves row
    * equality), so consumers and oracles are shape-blind.
    *
    * Layout: both shapes end sorted within each partition by
    * [[Splits.splitOrder]] — (user_id, domain, seeded h60, item_id), the
    * leave-two-out window's order. Two things follow for the persisted
    * log ([[cached]]):
    *
    *  - the columnar cache stores runs: `user_id` and `domain` repeat
    *    row after row instead of arriving in the distinct's hash-map
    *    order, so the sf0.1 log (599,351 rows) caches in 5.06 MB instead
    *    of 9.13 MB (InteractionsSpec bounds the ratio at sf0.01);
    *  - on the one-exchange shape, the split window over the cache
    *    (q_leave_two_out's Memo build, the user-sliced rankers' own
    *    splits, SplitCache's splits write) plans
    *    `Window ← Project ← InMemoryTableScan` with no sort.
    *
    * The price is paid once, by the log's first reader, and the sort
    * keeps it to one h60 per row: it projects [[Splits.splitKey]] as a
    * column, sorts on that column with [[SortOrders.ascendingAs]]
    * declaring it equal to the key expression, then drops the column.
    * The comparator therefore compares a long, never the md5, and the
    * cache stores the same columns as an unsorted log; the sorted plan
    * still reports the [[Splits.splitOrder]] expressions as its order,
    * which is what lets the window over the cache skip its sort. A
    * sort on the expression itself evaluated md5 inside the comparator
    * on every (user_id, domain) tie, and doubled q_user_collect at a
    * ScaleGen 10× copy; with the key column it fell again, 16–17 s →
    * 11.5–12.2 s on a 10× nd copy (4-core host). A cheaper (user_id, domain, item_id) sort
    * compresses the same but leaves the window's sort in place, and
    * measured no wall-time gain.
    * On the spread shape the window re-exchanges anyway, so there the
    * sort buys the compression only; a ScaleGen 10× zipf copy (spread
    * shape) still ran q_lifecycle warm in 18.9 s against 28.3 s unsorted,
    * so the sort is not limited to the one-exchange branch.
    */
  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_custkey").as("user_id"),
        col("l_partkey").as("item_id"),
        when(col("l_partkey") % 2 === 0, "x").otherwise("y").as("domain"))
    val log =
      if (maxUserShare(spark, sfDir) > Limits.hotUserShare) joined.distinct()
      else joined.repartition(col("user_id"), col("domain")).distinct()
    log.withColumn(SplitKeyCol, Splits.splitKey)
      .sortWithinPartitions(Splits.splitOrderBy(
        SortOrders.ascendingAs(col(SplitKeyCol), Splits.splitKey)): _*)
      .drop(SplitKeyCol)
  }

  /** The sort's temporary copy of [[Splits.splitKey]]; never stored. */
  private val SplitKeyCol = "split_key"

  /** [[apply]] persisted for the session — the interaction log is the
    * pipeline's shared base relation (every E2/E3 operator reads it), so
    * the first query materializes it once and the rest scan memory. The
    * CacheManager keys the entry by canonicalized plan, so each sfDir
    * caches independently and every identical subtree in later queries is
    * substituted automatically. The storageLevel gate makes the call
    * idempotent: a plan already cached (e.g. by [[graft.QueryRunner.open]]
    * up front) is returned as-is, so callers can never double-persist —
    * and, critically, must never unpersist what they didn't cache.
    */
  def cached(spark: SparkSession, sfDir: String): DataFrame = {
    val df = apply(spark, sfDir)
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    else df
  }

  /** DuckDB CTE computing the identical relation (for oracle SQL reuse). */
  val duckCte: String =
    """interactions AS (
      |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id,
      |         CASE WHEN l_partkey % 2 = 0 THEN 'x' ELSE 'y' END AS domain
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |)""".stripMargin

  /** Distinct items of one domain with a dense 0-based index
    * (`dense_rank()-1` ordered by raw id) — the id-contiguity invariant the
    * reference merely *assumes* (main_my.py:81-92), produced here as an
    * explicit operator (SURVEY.md §1.3).
    *
    * Scale note: the window partitions per domain, so parallelism equals
    * the domain count — acceptable because item catalogs are bounded
    * (~10⁶ even at web scale). The UNBOUNDED axis (users) is ranked with
    * [[DenseRank.zipIndex]] instead (see q_id_densify).
    */
  def denseItems(inter: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    inter
      .select("domain", "item_id").distinct()
      .withColumn("dense_id",
        row_number().over(Window.partitionBy("domain").orderBy("item_id")) - 1)
  }

  val duckDenseItemsCte: String =
    """dense_items AS (
      |  SELECT domain, item_id,
      |         row_number() OVER (PARTITION BY domain ORDER BY item_id) - 1 AS dense_id
      |  FROM (SELECT DISTINCT domain, item_id FROM interactions)
      |)""".stripMargin
}
