package graft.etl

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2 #3) over generated
  * interaction sets: hold-outs never leak into train, negatives never hit
  * positives. Uses ScalaCheck generators with fixed seeds (plain
  * scalacheck; the scalatest bridge artifact is not vendored).
  */
class SplitPropertiesSpec extends SparkSpec {

  private val interactionsGen: Gen[Seq[(Long, Long, String)]] = for {
    nUsers <- Gen.choose(1, 8)
    degs <- Gen.listOfN(nUsers, Gen.choose(1, 6))
    picks <- Gen.sequence[Seq[Seq[Long]], Seq[Long]](
      degs.map(d => Gen.pick(d, 0L to 19L).map(_.toSeq)))
  } yield picks.zipWithIndex.flatMap { case (items, u) =>
    items.map(i => ((u + 1).toLong, i, if (i % 2 == 0) "x" else "y"))
  }

  private def samples(n: Int): Seq[Seq[(Long, Long, String)]] =
    (1 to n).flatMap(k =>
      interactionsGen.apply(Gen.Parameters.default, Seed(k.toLong)))

  test("holdouts never leak into train; negatives never hit positives") {
    import spark.implicits._
    for (rows <- samples(8) if rows.nonEmpty) {
      val inter = rows.toDF("user_id", "item_id", "domain")
      val splits = Splits.leaveTwoOut(Splits.ranked(inter)).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val interSet = rows.map(r => (r._1, r._3, r._2)).toSet

      // vali/test are actual interactions; degree-1 implies vali == test
      splits.foreach { case ((u, d), (deg, vali, test)) =>
        assert(interSet.contains((u, d, vali)))
        assert(interSet.contains((u, d, test)))
        if (deg == 1) assert(vali == test) else assert(vali != test)
      }

      val train = Splits.trainSubsample(inter, 1.0).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      train.foreach { case (u, d, i) =>
        val (deg, vali, test) = splits((u, d))
        assert(i != vali)
        if (deg > 2) assert(i != test)
      }

      val negs = Splits.explodeNegatives(Splits.negativeSampleScalable(inter))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      negs.foreach { case (u, d, i) =>
        assert(!interSet.contains((u, d, i)), s"negative ($u,$d,$i) is a positive")
      }
    }
  }
}
