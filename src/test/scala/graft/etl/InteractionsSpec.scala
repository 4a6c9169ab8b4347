package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The skew-aware interactions shape dial (r10): both physical shapes
  * produce the identical relation, and the dial picks the spread shape
  * exactly when a user exceeds the hot-share ceiling.
  */
class InteractionsSpec extends SparkSpec {

  test("one-exchange and spread shapes produce the identical relation") {
    val joined = graft.Tables.orders(spark, sf())
      .join(graft.Tables.lineitem(spark, sf()),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user_id"),
        col("l_partkey").as("item_id"),
        when(col("l_partkey") % 2 === 0, "x").otherwise("y").as("domain"))
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
}
