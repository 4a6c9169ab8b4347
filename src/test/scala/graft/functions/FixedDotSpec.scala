package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** fixed_dot: codegen and interpreted paths agree with the HOF
  * formulation; the builder `ensureRegistered` installs constructs the
  * expression.
  */
class FixedDotSpec extends SparkSpec {

  test("fixed_dot equals the interpreted HOF dot product") {
    import spark.implicits._
    FixedDot.ensureRegistered(spark)
    val df = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (2L, Seq(-7L, 0L), Seq(2L, 9L)),
      (3L, Seq.empty[Long], Seq.empty[Long]))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      expr("fixed_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)").as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2)))
    assert(out.find(_.getLong(0) == 1L).get.getLong(1) == 32L)
  }

  test("null elements contribute zero; mismatched lengths use the min") {
    import spark.implicits._
    FixedDot.ensureRegistered(spark)
    val out = Seq((Seq(Some(2L), None, Some(4L)), Seq(Some(10L), Some(10L))))
      .toDF("a", "b")
      .select(expr("fixed_dot(a, b)")).collect().head.getLong(0)
    assert(out == 20L) // 2*10 + (null skipped, len capped at 2)
  }

  test("two fixed_dot calls compile in one codegen scope (no local collision)") {
    import spark.implicits._
    FixedDot.ensureRegistered(spark)
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false") // fail, don't mask
    try {
      val r = Seq((Seq(1L, 2L), Seq(3L, 4L)))
        .toDF("a", "b")
        .select(expr("fixed_dot(a, b)").as("d1"),
          expr("fixed_dot(b, a)").as("d2"),
          expr("fixed_dot(a, a)").as("d3"))
        .collect().head
      assert(r.getLong(0) == 11L && r.getLong(1) == 11L && r.getLong(2) == 5L)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("the registered builder constructs fixed_dot") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val built = FixedDot.builder(Seq(Literal(1L), Literal(2L)))
    assert(built.isInstanceOf[FixedDot])
    assert(FixedDot.identifier.funcName == "fixed_dot")
  }
}
