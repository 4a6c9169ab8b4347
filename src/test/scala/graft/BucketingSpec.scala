package graft

import graft.etl.{Bucketing, Interactions, Splits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Bucketed-layout proof: materializing the interaction log bucketed on
  * (user_id, domain) removes the exchange from every downstream operator
  * keyed on it — the "pay the shuffle once" layout a 100 TB deployment
  * would use for the E2/E3 family. Results must be identical to the
  * unbucketed plans; only the physical shape may change.
  */
class BucketingSpec extends SparkSpec {

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def shuffles(p: String): Int =
    """\(\d+\) Exchange""".r.findAllIn(p).size

  private lazy val bucketed: DataFrame = {
    spark.catalog.clearCache()
    Bucketing.writeBucketed(Interactions(spark, sf()),
      s"inter_bucketed_${Bucketing.tableSuffix(sf())}", 4, Seq("user_id", "domain"))
  }

  test("bucketed scan satisfies the aggregate's distribution: no exchange") {
    val agg = bucketed.groupBy("user_id", "domain").count()
    assert(shuffles(fmt(agg)) == 0,
      s"bucket-local aggregate must not shuffle:\n${fmt(agg)}")
    // identical result to the unbucketed plan (which must shuffle)
    val plain = Interactions(spark, sf()).groupBy("user_id", "domain").count()
    assert(shuffles(fmt(plain)) >= 1, "sanity: unbucketed agg shuffles")
    assert(agg.orderBy("user_id", "domain").collect().toSeq ==
      plain.orderBy("user_id", "domain").collect().toSeq)
  }

  test("leave-two-out window runs bucket-local: no exchange above the scan") {
    val split = Splits.leaveTwoOut(Splits.ranked(bucketed))
    assert(shuffles(fmt(split)) == 0,
      s"window + groupBy on the bucket key must not shuffle:\n${fmt(split)}")
    val plain = Splits.leaveTwoOut(Splits.ranked(Interactions(spark, sf())))
    assert(split.orderBy("user_id", "domain").collect().toSeq ==
      plain.orderBy("user_id", "domain").collect().toSeq)
  }

  test("self-join on the bucket key is exchange-free on both sides") {
    val a = bucketed.select("user_id", "domain", "item_id")
    val b = bucketed.groupBy("user_id", "domain").count()
    val joined = a.join(b, Seq("user_id", "domain"))
    val p = fmt(joined)
    assert(shuffles(p) == 0, s"bucketed self-join must not shuffle:\n$p")
    assert(joined.count() == Interactions(spark, sf()).count())
  }
}
