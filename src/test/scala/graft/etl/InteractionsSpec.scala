package graft.etl

import graft.{Limits, SparkSpec}
import graft.functions.H60Expr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The skew-aware interactions shape dial (r10): both physical shapes
  * produce the identical relation, and the dial picks the spread shape
  * exactly when a user exceeds the hot-share ceiling. The log's layout
  * (sorted by `Splits.splitOrder` within its partitions) lets the split
  * window skip its sort and shrinks the columnar cache.
  */
class InteractionsSpec extends SparkSpec {

  /** The log's rows before the distinct, as `Interactions.apply` joins them. */
  private def joinedRows(d: String) = graft.Tables.orders(spark, d)
    .join(graft.Tables.lineitem(spark, d),
      col("l_orderkey") === col("o_orderkey"))
    .select(col("o_custkey").as("user_id"),
      col("l_partkey").as("item_id"),
      when(col("l_partkey") % 2 === 0, "x").otherwise("y").as("domain"))

  /** Run `body` with the session log of `d` persisted, unpersisting it
    * afterwards only if this call persisted it.
    */
  private def withCachedLog[A](d: String)(body: DataFrame => A): A = {
    val owned = Interactions(spark, d).storageLevel == StorageLevel.NONE
    val log = Interactions.cached(spark, d)
    try body(log) finally if (owned) log.unpersist(true)
  }

  /** Storage bytes (memory + disk) of a persisted relation, materialized. */
  private def storedBytes(df: DataFrame): Long = {
    df.count()
    val id = df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.getOrElse(fail("relation is not persisted"))
    spark.sparkContext.getRDDStorageInfo.filter(_.id == id)
      .map(i => i.memSize + i.diskSize).sum
  }

  test("one-exchange and spread shapes produce the identical relation") {
    val joined = joinedRows(sf())
    val spread = joined.distinct()
    val oneExchange =
      joined.repartition(col("user_id"), col("domain")).distinct()
    assert(spread.count() == oneExchange.count())
    assert(spread.exceptAll(oneExchange).isEmpty &&
      oneExchange.exceptAll(spread).isEmpty)
    // and the registered relation equals both
    val registered = Interactions(spark, sf())
    assert(registered.count() == spread.count())
    assert(registered.exceptAll(spread).isEmpty)
  }

  test("the one-exchange shape satisfies the (u, d) window without a new exchange") {
    // uniform test data is far below the hot ceiling, so apply() takes
    // the one-exchange branch; the leave-two-out window over it must
    // plan exactly ONE exchange (the explicit repartition) — the window
    // reuses it
    // string-match the plan: AdaptiveSparkPlanExec hides its input plan
    // from TreeNode.collect, so node-type collects see zero exchanges
    val plan = Splits.leaveTwoOut(Splits.ranked(Interactions(spark, sf())))
      .queryExecution.executedPlan.toString
    val userExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    // the ONE (u, d) repartition; no second full-log exchange between
    // the distinct and the window
    assert(userExchanges == 1,
      s"expected exactly one user_id exchange, plan:\n$plan")
  }

  test("the split window over the persisted log plans no sort outside the cached plan") {
    withCachedLog(sf()) { log =>
      val splits = Splits.leaveTwoOut(Splits.ranked(log))
      splits.collect()
      // the final adaptive plan; a cached scan is a leaf, so the walk
      // stops at it and the sort inside the cached plan is not counted
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => q +: nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val plan = splits.queryExecution.executedPlan
      val all = nodes(plan)
      assert(all.exists(_.isInstanceOf[WindowExec]) &&
        all.exists(_.isInstanceOf[InMemoryTableScanExec]), s"plan:\n$plan")
      assert(!all.exists(_.isInstanceOf[SortExec]),
        s"the split window re-sorts the cached log, plan:\n$plan")
      // nor re-exchanges it: the log's one (u, d) repartition is inside
      // the cached plan
      assert(!all.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"the split window re-exchanges the cached log, plan:\n$plan")
    }
  }

  test("the split-order layout caches the log in at most 0.6x the bytes") {
    val d = sf("sf0.01")
    // the same rows in the order the distinct emits them (the
    // one-exchange shape without the sort); persisted and dropped
    // before the log, whose plan contains this one as a subtree
    val hashOrder = joinedRows(d).repartition(col("user_id"), col("domain"))
      .distinct().persist()
    val unsortedBytes = try storedBytes(hashOrder)
      finally hashOrder.unpersist(true)
    val logBytes = withCachedLog(d)(storedBytes)
    assert(unsortedBytes > 0 && logBytes <= 0.6 * unsortedBytes,
      s"log $logBytes B vs hash order $unsortedBytes B")
  }

  test("the log's sort compares a precomputed split key, never the h60 expression") {
    // every physical node, into cached plans too: other suites may have
    // persisted this log, and then its sort sits in the cached plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = Interactions(spark, sf()).queryExecution.executedPlan
    val sorts = nodes(plan).collect { case s: SortExec => s }
    assert(sorts.nonEmpty, s"the log is not sorted, plan:\n$plan")
    // a SortOrder's other children (its declared equal orderings) are
    // never evaluated; only the compared key is
    val hashed = sorts.flatMap(_.sortOrder.map(_.child))
      .filter(_.exists(_.isInstanceOf[H60Expr]))
    assert(hashed.isEmpty, s"the sort compares $hashed, plan:\n$plan")
  }

  test("the forced spread shape stores the same log in split order") {
    val spreadCeiling = Limits.Ceilings(hotUserShare = 0.0)
    val oneExchange = Interactions(spark, sf())
    val spread = Limits.forcing(spreadCeiling)(Interactions(spark, sf()))
    def repartitions(df: DataFrame) = df.queryExecution.logical.collect {
      case r: RepartitionByExpression => r
    }.size
    assert(repartitions(oneExchange) == 1 && repartitions(spread) == 0,
      "the ceiling did not switch the shape")
    assert(spread.count() == oneExchange.count() &&
      spread.exceptAll(oneExchange).isEmpty &&
      oneExchange.exceptAll(spread).isEmpty)
    // within each partition, rows ascend in (user_id, domain, h60, item_id)
    import spark.implicits._
    val inOrder = spread
      .select(col("user_id"), col("domain"), Splits.splitKey, col("item_id"))
      .as[(Long, String, Long, Long)]
      .mapPartitions { it =>
        val rows = it.toVector
        Iterator((rows.size, rows.zip(rows.drop(1)).forall { case (a, b) =>
          Ordering[(Long, String, Long, Long)].lteq(a, b) }))
      }.collect()
    assert(inOrder.exists(_._1 > 1) && inOrder.forall(_._2),
      s"(rows, in order) per partition: ${inOrder.mkString(", ")}")
    def splits(log: DataFrame) = Splits.leaveTwoOut(Splits.ranked(log))
      .collect().map(_.toSeq).sortBy(_.mkString(","))
    val spreadSplits = splits(spread)
    assert(spreadSplits.nonEmpty && spreadSplits.sameElements(splits(oneExchange)))
  }
}
