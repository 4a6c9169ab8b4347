package graft.etl

import graft.{Limits, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Split/sampling semantics against reference-shaped fixtures
  * (FIXTURES.md B1): the degree-1/2/3+ edge cases of Dataset_CDAE.py's
  * leave-two-out (102-121) and train-removal (73-77) branches, and the
  * negative samplers' invariants.
  */
class SplitsSpec extends SparkSpec {

  private lazy val fixture: DataFrame = {
    import spark.implicits._
    // user 1: degree 1 (vali == test); user 2: degree 2 (distinct, empty
    // train at pct<1); user 3: degree 5 (normal); user 4 present in a
    // second domain.
    Seq(
      (1L, 10L, "x"),
      (2L, 10L, "x"), (2L, 11L, "x"),
      (3L, 10L, "x"), (3L, 11L, "x"), (3L, 12L, "x"), (3L, 13L, "x"), (3L, 14L, "x"),
      (4L, 20L, "y"), (4L, 21L, "y"), (4L, 22L, "y"))
      .toDF("user_id", "item_id", "domain")
  }

  /** A catalog ceiling of 0 forces the distributed join formulation. */
  private val catalogPast = Limits.Ceilings(catalogBroadcast = 0)

  /** The scalable sampler's long form under ceilings `c`. */
  private def scalable(userFilter: Column = lit(true),
      c: Limits.Ceilings = Limits.Ceilings()): DataFrame =
    Limits.forcing(c)(Splits.explodeNegatives(
      Splits.negativeSampleScalable(fixture, userFilter)))

  test("leave-two-out: degree-1 user gets vali == test") {
    val s = Splits.leaveTwoOut(Splits.ranked(fixture)).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (deg1, vali1, test1) = s((1L, "x"))
    assert(deg1 == 1 && vali1 == 10L && test1 == 10L)
    val (deg2, vali2, test2) = s((2L, "x"))
    assert(deg2 == 2 && vali2 != test2)
    assert(s((3L, "x"))._1 == 5)
  }

  test("train subsample: holdout removal honors the degree predicate") {
    val train = Splits.trainSubsample(fixture, 1.0)
    val byUser = train.collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val splits = Splits.leaveTwoOut(Splits.ranked(fixture)).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(3), r.getLong(4))).toMap

    // degree-1 user: only item is vali -> train empty
    assert(!byUser.contains((1L, "x")))
    // degree-2 user: only vali removed (deg <= 2 keeps test)
    val (v2, t2) = splits((2L, "x"))
    assert(byUser((2L, "x")) == Set(10L, 11L) - v2)
    assert(byUser((2L, "x")).contains(t2))
    // degree-5 user: both vali and test removed
    val (v3, t3) = splits((3L, "x"))
    assert(byUser((3L, "x")) == Set(10L, 11L, 12L, 13L, 14L) -- Set(v3, t3))
  }

  test("train subsample: pct keeps floor(pct*n + 0.5) per group") {
    val train = Splits.trainSubsample(fixture, 0.5)
    val n3 = train.filter(col("user_id") === 3 && col("domain") === "x").count()
    assert(n3 == 2) // 3 survivors * 0.5 -> floor(1.5 + 0.5) = 2
  }

  test("negative samples exclude positives and respect the cap") {
    // n = 4 slices every fixture user
    val negs = Splits.negativeSampleExact(fixture, n = 4).collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val itemsX = Set(10L, 11L, 12L, 13L, 14L)
    // user 1 interacted with 10 only -> complement is the other 4
    assert(negs((1L, "x")) == itemsX - 10L)
    // user 3 touched everything in x -> no negatives at all
    assert(!negs.contains((3L, "x")))
    // domains are independent item spaces
    assert(negs((1L, "x")).intersect(Set(20L, 21L, 22L)).isEmpty)
  }

  test("scalable sampler: no positives, no duplicates, deterministic") {
    val a = scalable().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val b = scalable().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(a.sorted.sameElements(b.sorted))
    val pos = fixture.collect().map(r => (r.getLong(0), r.getString(2), r.getLong(1))).toSet
    assert(a.forall { case (u, d, i, _) => !pos.contains((u, d, i)) })
    val perUser = a.groupBy(t => (t._1, t._2))
    perUser.values.foreach { rows =>
      assert(rows.map(_._3).distinct.length == rows.length) // unique items
      assert(rows.map(_._4).sorted.sameElements(1 to rows.length)) // dense ranks
    }
  }

  test("packed sampler explodes to exactly the long-form relation, both paths") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).sorted
    val long = rows(scalable())
    val viaPackedB = rows(Splits.explodeNegatives(
      Splits.negativeSampleScalable(fixture)))
    assert(viaPackedB.nonEmpty && viaPackedB.sameElements(long))
    // distributed pack (the past-broadcast-ceiling write shape)
    val viaPackedJ = rows(Splits.explodeNegatives(Limits.forcing(catalogPast)(
      Splits.negativeSampleScalable(fixture))))
    assert(viaPackedJ.sameElements(long))
  }

  test("approximate cardinalities stay within HLL error of exact") {
    val rows = graft.SparkEntry.defs("q_approx_counts").build(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("users_within_5pct"))
      assert(r.getAs[Boolean]("items_within_5pct"))
    }
  }

  test("distributed sampler formulation matches the broadcast path") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).sorted
    val viaBroadcast = rows(scalable())
    val viaJoin = rows(scalable(c = catalogPast))
    assert(viaJoin.nonEmpty)
    assert(viaJoin.sameElements(viaBroadcast))
    // user slicing must not change any sampled user's rows on either path
    val f = col("user_id") === 1L
    val slicedB = rows(scalable(f))
    val slicedJ = rows(scalable(f, catalogPast))
    assert(slicedB.nonEmpty) // else the equalities below pass vacuously
    assert(slicedB.sameElements(viaBroadcast.filter(_._1 == 1L)))
    assert(slicedJ.sameElements(slicedB))
  }
}
