package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the curation operators, independent of the DuckDB
  * oracle: containment values re-derived by brute force, quota
  * arithmetic re-derived in BigInt, bootstrap weight mass ≈ n, and the
  * label-propagation round structure.
  */
class CurateSpec extends SparkSpec {

  private lazy val d = sf()

  test("containment rows match brute-force values and threshold") {
    val out = graft.SparkEntry.defs("q_dedup_containment").build(spark, d)
      .collect()
    assert(out.nonEmpty)
    // brute force over ALL doc pairs (sf0.001 is small): shingle sets in
    // memory, directional containment recomputed per emitted pair
    val sh = TextOps.wordShingleHashes(spark, d, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    out.foreach { r =>
      val (inner, outer, ni, cont) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val exact = (sh(inner) & sh(outer)).size
      assert(ni == exact, s"ni mismatch for ($inner,$outer)")
      val expect = BigDecimal(exact.toDouble / sh(inner).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(cont - expect) < 1e-9)
      assert(cont >= 0.7 && cont <= 1.0 + 1e-9)
    }
    // directional: a fully-contained (identical) pair appears both ways
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = out.filter(_.getDouble(3) == 1.0)
      .filter(r => sh(r.getLong(0)).size == sh(r.getLong(1)).size)
    full.foreach { r =>
      assert(pairs.contains((r.getLong(1), r.getLong(0))),
        "identical pair missing reverse direction")
    }
  }

  test("source quotas re-derive in exact integer arithmetic") {
    val rows = graft.SparkEntry.defs("q_source_quota").build(spark, d)
      .collect()
    assert(rows.nonEmpty)
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTotal = counts.values.sum
    val budget = nTotal / 5
    def wfix(n: Long): Long = math.round(math.sqrt(n.toDouble) * 1e6)
    val tw = counts.values.map(wfix).sum
    rows.foreach { r =>
      val (src, n, quota, kept) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val expect = math.max(
        (BigInt(budget) * BigInt(wfix(n)) / BigInt(tw)).toLong, 1L)
      assert(quota == expect, s"quota mismatch for $src")
      assert(kept == math.min(n, quota), s"kept != min(n, quota) for $src")
    }
    // budget respected up to the one-doc floor per source
    assert(rows.map(_.getLong(3)).sum <= budget + rows.length)
  }

  test("bootstrap weights carry unit mass and CI brackets the mean") {
    val rows = graft.SparkEntry.defs("q_bootstrap_ci").build(spark, d)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi)
      assert(lo <= mean && mean <= hi,
        s"CI [$lo,$hi] does not bracket mean $mean")
    }
    // the engine's own Poisson(1) weights over the query's n×32 draws
    val li = graft.Tables.lineitem(spark, d)
    val n = li.count()
    val h = graft.Hashing.h60(col("l_orderkey"), col("l_linenumber"), col("r"))
    val draws = li.select(col("l_orderkey"), col("l_linenumber"),
        explode(expr("sequence(0, 31)")).as("r"))
      .withColumn("w", CurateQueries.poissonWeight(h))
      .agg(avg("w"), avg(when(col("w") >= 1, 1).otherwise(0)))
      .head()
    val (meanW, p1plus) = (draws.getDouble(0), draws.getDouble(1))
    // unit mass: E[w] = 1 with Poisson variance 1; 5σ at 32n draws
    assert(math.abs(meanW - 1.0) < 5 * math.sqrt(1.0 / (32.0 * n)),
      s"empirical mean weight $meanW")
    // P(w >= 1) = 1 - e^-1 ≈ 0.632; 5σ tolerance at 32n draws
    val tol = 5 * math.sqrt(0.632 * 0.368 / (32.0 * n))
    assert(math.abs(p1plus - (1 - math.exp(-1))) < tol,
      s"empirical P(w>=1)=$p1plus")
  }

  test("abtest chi2 recomputes from the 2x2 table") {
    val r = graft.SparkEntry.defs("q_abtest").build(spark, d).head()
    val (na, xa, nb, xb) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // variants partition the user population
    val users = graft.Tables.events(spark, d)
      .select("user_id").distinct().count()
    assert(na + nb == users)
    assert(xa <= na && xb <= nb)
    val x = xa + xb
    if (x > 0 && x < na + nb) {
      val diff = xa.toDouble * (nb - xb) - xb.toDouble * (na - xa)
      val chi2 = (na + nb) * diff * diff /
        (na.toDouble * nb * x * (na + nb - x))
      assert(math.abs(r.getDouble(6) - chi2) < 1e-4)
      assert(r.getInt(7) == (if (chi2 > 3.841) 1 else 0))
    } else assert(r.isNullAt(6) && r.getInt(7) == 0)
  }

  test("scd2 lookup attributes every coverable purchase exactly once") {
    val out = graft.SparkEntry.defs("q_scd2_lookup").build(spark, d).collect()
    assert(out.nonEmpty)
    // brute force: replay each user's non-purchase state timeline
    val ev = graft.Tables.events(spark, d)
      .select("user_id", "event_type", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getLong(3), r.getDouble(4)))
    val byUser = ev.groupBy(_._1)
    var attributed = 0L
    val stateCount = scala.collection.mutable.Map.empty[String, Long]
    byUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._4))
      val changes = sorted.filter(_._2 != "purchase")
        .foldLeft(Vector.empty[(String, Long)]) { (acc, r) =>
          if (acc.isEmpty || acc.last._1 != r._2) acc :+ (r._2, r._3) else acc
        }
      sorted.filter(_._2 == "purchase").foreach { p =>
        val covering = changes.zipWithIndex.filter { case ((_, from), i) =>
          p._3 >= from &&
            (i == changes.length - 1 || p._3 < changes(i + 1)._2)
        }
        // intervals partition [first_change, ∞): at most one covers
        assert(covering.size <= 1)
        covering.foreach { case ((st, _), _) =>
          attributed += 1
          stateCount(st) = stateCount.getOrElse(st, 0L) + 1
        }
      }
    }
    assert(out.map(_.getLong(1)).sum == attributed)
    out.foreach(r => assert(stateCount(r.getString(0)) == r.getLong(1)))
  }

  test("label propagation respects seed/round structure") {
    val rows = graft.SparkEntry.defs("q_label_prop").build(spark, d)
      .collect()
    val byOrigin = rows.groupBy(_.getString(2))
    val seeds = byOrigin.getOrElse("seed", Array.empty)
    val r1 = byOrigin.getOrElse("r1", Array.empty)
    val r2 = byOrigin.getOrElse("r2", Array.empty)
    assert(seeds.nonEmpty)
    seeds.foreach(r => assert(r.getLong(0) % 2 == 0))
    (r1 ++ r2).foreach(r => assert(r.getLong(0) % 2 == 1))
    // one label per doc across all origins
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // seed labels are the document's lang
    val langs = graft.Tables.documents(spark, d)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    seeds.foreach(r => assert(r.getString(1) == langs(r.getLong(0))))
    // r1 docs have at least one even (seed) neighbor; r2 docs have none
    val vp = DedupQueries
      .minhashVerifiedPairsFrom(graft.Tables.documents(spark, d),
        TextOps.wordShingleHashes(spark, d, 5))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (vp ++ vp.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    r1.foreach(r => assert(nbrs(r.getLong(0)).exists(_ % 2 == 0)))
    r2.foreach(r => assert(!nbrs(r.getLong(0)).exists(_ % 2 == 0)))
  }

  test("q_quantile_norm maps ranks onto the exact global order statistics") {
    val docs = graft.Tables.documents(spark, sf())
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val globalSorted = docs.sortBy(x => (x._3, x._2)).map(_._3)
    val n = docs.length.toLong
    val expected = docs.groupBy(_._1).map { case (src, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._2))
      val nh = sorted.length.toLong
      val norm = sorted.zipWithIndex.map { case (_, i) =>
        globalSorted((((i + 1) * n + nh - 1) / nh - 1).toInt)
      }
      src -> (nh, xs.map(x => BigInt(x._3)).sum, norm.map(BigInt(_)).sum)
    }
    val rows = graft.SparkEntry.defs("q_quantile_norm").build(spark, sf())
      .collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (nh, sumRaw, sumNorm) = expected(r.getString(0))
      assert(r.getAs[Long]("n") == nh)
      assert(math.abs(r.getAs[Double]("mean_raw") - sumRaw.toDouble / nh) < 1e-5)
      assert(r.getAs[Long]("checksum") == sumNorm.toLong)
      assert(math.abs(r.getAs[Double]("mean_norm") - sumNorm.toDouble / nh) < 1e-5)
    }
    // the normalized marginal matches the global one: a source's top doc
    // maps to (near) the global max
    val gMax = globalSorted.last
    assert(expected.values.forall { case (nh, _, _) => nh > 0 } &&
      rows.map(_.getAs[Double]("mean_norm")).max <= gMax)
  }

  test("q_neyman_alloc weights strata by exact N_h*sigma_h") {
    val docs = graft.Tables.documents(spark, sf())
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val stats = docs.groupBy(_._1).map { case (s, xs) =>
      val n = BigInt(xs.length)
      val sx = xs.map(x => BigInt(x._2)).sum
      val sxx = xs.map(x => BigInt(x._2) * x._2).sum
      s -> (xs.length.toLong, n * sxx - sx * sx)
    }
    val wfix = stats.map { case (s, (_, s2)) =>
      s -> math.round(math.sqrt(s2.toDouble))
    }
    val tw = wfix.values.map(BigInt(_)).sum
    val nTotal = docs.length
    val budget = nTotal / 10
    val rows = graft.SparkEntry.defs("q_neyman_alloc").build(spark, sf())
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(0)
      val (n, s2) = stats(src)
      assert(r.getAs[Long]("n_docs") == n)
      val expAlloc = math.min(n,
        math.max((BigInt(budget) * wfix(src) / tw).toLong, 1L))
      assert(r.getAs[Long]("alloc") == expAlloc, s"alloc mismatch for $src")
      assert(r.getAs[Long]("kept") == expAlloc)
      assert(math.abs(r.getAs[Double]("sigma")
        - math.sqrt(s2.toDouble) / n) < 1e-5)
    }
    // variance-proportionality: higher N*sigma never gets a smaller alloc
    // (modulo the 1-doc floor and the N_h cap)
    val byW = rows.filter(r => r.getAs[Long]("alloc") > 1
        && r.getAs[Long]("alloc") < r.getAs[Long]("n_docs"))
      .sortBy(r => wfix(r.getString(0)))
    byW.map(_.getAs[Long]("alloc")).sliding(2).foreach {
      case Array(a, b) => assert(a <= b)
      case _ =>
    }
  }

  test("q_ks_test matches a JVM empirical-CDF brute force") {
    val ev = graft.Tables.events(spark, sf())
      .selectExpr("user_id % 2 AS variant",
        "CAST(round(value * 1000) AS BIGINT) AS v_m").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val a = ev.filter(_._1 == 0).map(_._2).sorted
    val b = ev.filter(_._1 == 1).map(_._2).sorted
    val values = (a ++ b).distinct.sorted
    val dScaled = values.map { v =>
      val ca = a.count(_ <= v).toLong
      val cb = b.count(_ <= v).toLong
      math.abs(ca * b.length - cb * a.length)
    }.max
    val expect = dScaled.toDouble / (a.length.toDouble * b.length)
    val r = graft.SparkEntry.defs("q_ks_test").build(spark, sf()).head()
    assert(r.getAs[Long]("n_a") == a.length && r.getAs[Long]("n_b") == b.length)
    assert(math.abs(r.getAs[Double]("ks_d") - expect) < 1e-6)
    val crit = 1.358 * math.sqrt((a.length.toDouble + b.length)
      / (a.length.toDouble * b.length))
    assert(r.getAs[Int]("significant") == (if (expect > crit) 1 else 0))
  }

  test("q_cuped matches a per-user moment brute force") {
    import java.sql.Timestamp
    val cutoff = Timestamp.valueOf("2024-01-20 00:00:00")
    val ev = graft.Tables.events(spark, sf())
      .select("user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1).map { case (u, es) =>
      val x = es.count(_._2.before(cutoff)).toLong
      val y = es.collect {
        case (_, t, "purchase", v) if !t.before(cutoff) => math.round(v * 1000)
      }.sum
      (u, u % 2, x, y)
    }.toSeq
    val n = byUser.size.toDouble
    val sx = byUser.map(_._3).sum.toDouble
    val sy = byUser.map(_._4).sum.toDouble
    val sxx = byUser.map(u => u._3 * u._3).sum.toDouble
    val sxy = byUser.map(u => u._3 * u._4).sum.toDouble
    val syy = byUser.map(u => BigInt(u._4) * u._4).sum.toDouble
    val vx = n * sxx - sx * sx
    val theta = (n * sxy - sx * sy) / vx
    val varRed = math.pow(n * sxy - sx * sy, 2) / (vx * (n * syy - sy * sy))
    val xbar = sx / n
    val rows = graft.SparkEntry.defs("q_cuped").build(spark, sf()).collect()
    assert(rows.map(_.getAs[Long]("variant")).toSeq == Seq(0L, 1L))
    rows.foreach { r =>
      val arm = byUser.filter(_._2 == r.getAs[Long]("variant"))
      val nv = arm.size.toDouble
      val my = arm.map(_._4).sum / nv
      val mx = arm.map(_._3).sum / nv
      assert(r.getAs[Long]("n") == arm.size)
      assert(math.abs(r.getAs[Double]("mean_y") - my / 1000.0) < 1e-5)
      assert(math.abs(r.getAs[Double]("mean_y_adj")
        - (my - theta * (mx - xbar)) / 1000.0) < 1e-5)
      assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-5)
      assert(r.getAs[Double]("var_red") >= 0.0
        && r.getAs[Double]("var_red") <= 1.0)
      assert(math.abs(r.getAs[Double]("var_red") - varRed) < 1e-5)
    }
  }

  test("q_curate_pipeline: funnel monotone, dedup count independent, quota re-derives") {
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.defs("q_curate_pipeline").build(spark, d)
      .collect()
    assert(rows.nonEmpty)
    // per-source survivor funnel is monotone and the quota bounds kept
    rows.foreach { r =>
      val (raw, ded, qua, cur, quota, kept, sum) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))
      assert(raw >= ded && ded >= qua && qua >= cur && cur >= kept,
        s"funnel not monotone for ${r.getString(0)}: $r")
      assert(kept <= quota, s"kept exceeds quota for ${r.getString(0)}")
      assert((kept == 0) == (sum == 0L) || kept > 0,
        s"checksum/kept inconsistent for ${r.getString(0)}")
    }
    // stage-1 total = global distinct texts (replicas add no new text,
    // so the doubled crawl's dedup survivor count is independently just
    // the corpus's distinct-text count)
    val distinctTexts = graft.Tables.documents(spark, d)
      .agg(countDistinct(col("text"))).head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == distinctTexts,
      "dedup survivors must equal the corpus's distinct texts")
    // quality stage keeps ~the top quintile of dedup survivors (ties
    // can only widen the kept set above 20%)
    val nDed = rows.map(_.getLong(2)).sum.toDouble
    val nQua = rows.map(_.getLong(3)).sum.toDouble
    assert(nQua / nDed >= 0.15 && nQua / nDed <= 0.35,
      s"quality gate kept ${nQua / nDed} of survivors; expected ≈0.2")
    // stage-4 quota re-derives in exact integer arithmetic from the
    // curated counts (the q_source_quota discipline), over sources
    // that survived to stage 4
    val cur = rows.map(r => r.getString(0) -> r.getLong(4))
      .filter(_._2 > 0).toMap
    val budget = cur.values.sum / 5
    def wfix(n: Long): Long = math.round(math.sqrt(n.toDouble) * 1e6)
    val tw = cur.values.map(wfix).sum
    rows.filter(r => r.getLong(4) > 0).foreach { r =>
      val expect = math.max(
        (BigInt(budget) * BigInt(wfix(r.getLong(4))) / BigInt(tw)).toLong, 1L)
      assert(r.getLong(5) == expect, s"quota mismatch for ${r.getString(0)}")
      assert(r.getLong(6) == math.min(r.getLong(4), r.getLong(5)),
        s"kept != min(n_curated, quota) for ${r.getString(0)}")
    }
  }
}
