package graft.rank

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the one bounded top-k buffer over generated inputs: in
  * both directions, with and without `distinct`, it holds exactly
  * `sortBy(...).take(k)` of what was inserted; merging partial buffers
  * equals inserting in sequence; and its encoded form decodes to the
  * same buffer. Keys and ids come from small ranges so key ties and
  * exact duplicate pairs are planted in most inputs. Fixed seeds, plain
  * scalacheck generators (as SplitPropertiesSpec).
  */
class TopKBufferSpec extends AnyFunSuite {

  private val pairsGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(0, 40)
    keyRange <- Gen.oneOf(2L, 5L, 1000L)
    base <- Gen.listOfN(n, Gen.zip(Gen.choose(-keyRange, keyRange), Gen.choose(0L, 9L)))
    dups <- Gen.someOf(base)
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle(base ++ dups)

  private def samples(n: Int): Seq[Seq[(Long, Long)]] =
    (1 to n).flatMap(s => pairsGen.apply(Gen.Parameters.default, Seed(s.toLong)))

  private def entries(b: TopKBuffer): Seq[(Long, Long)] =
    (0 until b.size).map(j => (b.key(j), b.id(j)))

  private def reference(xs: Seq[(Long, Long)], k: Int, descending: Boolean,
      distinct: Boolean): Seq[(Long, Long)] = {
    val in = if (distinct) xs.distinct else xs
    val sorted = if (descending) in.sortBy { case (key, id) => (-key, id) }
      else in.sortBy { case (key, id) => (key, id) }
    sorted.take(k)
  }

  private def filled(xs: Seq[(Long, Long)], k: Int, descending: Boolean,
      distinct: Boolean): TopKBuffer = {
    val b = new TopKBuffer(k, descending, distinct)
    xs.foreach { case (key, id) =>
      val slot = b.insert(key, id)
      if (slot >= 0) assert((b.key(slot), b.id(slot)) == ((key, id)))
    }
    b
  }

  private val inputs = samples(60)
  private val modes = for (d <- Seq(true, false); u <- Seq(true, false)) yield (d, u)

  test("insertion equals sortBy(...).take(k) in both directions, distinct or not") {
    assert(inputs.exists(xs => xs.distinct.length < xs.length), "no exact duplicates planted")
    assert(inputs.exists(xs => xs.map(_._1).distinct.length < xs.distinct.length),
      "no key ties planted")
    for (xs <- inputs; (desc, dist) <- modes; k <- Seq(1, 2, 3, 7, xs.length + 3)) {
      val got = entries(filled(xs, k, desc, dist))
      assert(got == reference(xs, k, desc, dist),
        s"k=$k descending=$desc distinct=$dist input=$xs")
    }
  }

  test("a full buffer rejects an entry no better than its last") {
    val b = filled(Seq((5L, 1L), (7L, 2L), (6L, 3L)), 3, descending = true, distinct = false)
    assert(b.insert(5L, 1L) == -1) // ties the last: rejected
    assert(b.insert(5L, 9L) == -1) // same key, larger id: worse than the last
    assert(b.insert(5L, 0L) == 2) // same key, smaller id: replaces the last
    assert(entries(b) == Seq((7L, 2L), (6L, 3L), (5L, 0L)))
    val u = filled(Seq((1L, 1L), (3L, 3L)), 3, descending = false, distinct = true)
    assert(u.insert(1L, 1L) == -1) // a member, buffer not full: still dropped
    assert(u.insert(2L, 2L) == 1)
    assert(entries(u) == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("merging random partials equals inserting in sequence") {
    val rnd = new java.util.Random(17)
    for (xs <- inputs; (desc, dist) <- modes; k <- Seq(1, 3, xs.length + 3)) {
      val cuts = Seq.fill(rnd.nextInt(4))(rnd.nextInt(xs.length + 1)).sorted
      val parts = (0 +: cuts).zip(cuts :+ xs.length).map { case (a, z) => xs.slice(a, z) }
      val merged = parts.map(filled(_, k, desc, dist))
        .reduce((a, b) => if (rnd.nextBoolean()) a.merge(b) else b.merge(a))
      assert(entries(merged) == entries(filled(xs, k, desc, dist)),
        s"k=$k descending=$desc distinct=$dist parts=$parts")
    }
  }

  test("the encoded buffer decodes to the same entries and keeps its settings") {
    for (xs <- inputs.take(10); (desc, dist) <- modes) {
      val b = filled(xs, 4, desc, dist)
      val enc = TopKBuffer.encoder(4, desc, dist).asInstanceOf[ExpressionEncoder[TopKBuffer]]
      val back = enc.resolveAndBind().createDeserializer()(enc.createSerializer()(b))
      assert(entries(back) == entries(b))
      assert((back.k, back.descending, back.distinct) == ((4, desc, dist)))
      xs.foreach { case (key, id) => back.insert(key, id); b.insert(key, id) }
      assert(entries(back) == entries(b))
    }
  }
}
