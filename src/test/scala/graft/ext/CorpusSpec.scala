package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the corpus-health operators (CorpusQueries) at
  * sf0.001: substring-window dedup vs a JVM brute force, the Bloom
  * decontamination twin vs a plain exact plan, both decontaminations
  * past the eval broadcast ceiling, and PSI bookkeeping.
  */
class CorpusSpec extends SparkSpec {

  test("q_substr_dup matches a code-point-exact JVM brute force") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // windows by CODE POINTS (Spark length/substring semantics; the
    // corpus includes zh docs where chars != UTF-16 units)
    def windows(text: String): Set[String] = {
      val cp = text.codePoints().toArray
      if (cp.length < 40) Set.empty
      else (0 to (cp.length - 40) / 10).map { k =>
        new String(cp, k * 10, 40)
      }.toSet
    }
    val perDoc = docs.map { case (id, t) => id -> windows(t) }.toMap
    val df = new scala.collection.mutable.HashMap[String, Int]
    perDoc.values.foreach(_.foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    val expected = perDoc.toSeq
      .map { case (id, ws) =>
        (id, ws.size.toLong, ws.count(df(_) > 1).toLong)
      }
      .filter(_._3 > 0)
      .sortBy(_._1)
    val got = graft.SparkEntry.defs("q_substr_dup").build(spark, sf())
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_dup")))
      .toSeq
    assert(expected.nonEmpty, "fixture should contain cross-doc repeats")
    assert(got == expected)
  }

  test("bloom decontamination equals the plain exact plan") {
    val sh = TextOps.wordShingleHashes(spark, sf(), 5)
    val ev = sh.filter(col("doc_id") % 7 === 0).select("sh").distinct()
      .withColumn("hit", lit(1L))
    val exact = sh.filter(col("doc_id") % 7 =!= 0)
      .join(ev, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_shared"))).toSet
    val bloom = graft.SparkEntry.defs("q_decontaminate_bloom")
      .build(spark, sf()).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_shared"))).toSet
    assert(exact.nonEmpty, "fixture should contain contaminated docs")
    assert(bloom == exact)
  }

  test("both decontaminations return the same rows past the eval broadcast ceiling") {
    // evalBroadcast = 0: the eval side is shuffle-joined, never broadcast
    for (q <- Seq("q_decontaminate", "q_decontaminate_bloom")) {
      def rows() = graft.SparkEntry.defs(q).build(spark, sf()).collect().toSeq
      val default = rows()
      assert(default.nonEmpty, s"$q: fixture should contain contaminated docs")
      assert(graft.Limits.forcing(graft.Limits.Ceilings(evalBroadcast = 0))(rows()) == default, q)
    }
  }

  test("PSI side counts partition the corpus and terms are non-negative") {
    val rows = graft.SparkEntry.defs("q_drift_psi").build(spark, sf())
      .collect()
    assert(rows.nonEmpty)
    val total = spark.read.parquet(sf() + "/documents.parquet").count()
    assert(rows.map(r =>
      r.getAs[Long]("c_a") + r.getAs[Long]("c_b")).sum == total)
    // (p-q)ln(p/q) >= 0 always; totals column constant across rows
    rows.foreach { r =>
      assert(r.getAs[Double]("psi_term") >= 0.0)
      assert(r.getAs[Double]("psi_total") == rows.head.getAs[Double]("psi_total"))
    }
    // psi_total is the micro-unit sum of the per-bucket terms
    val t6 = rows.map(r => math.round(r.getAs[Double]("psi_term") * 1e6)).sum
    assert(math.abs(rows.head.getAs[Double]("psi_total") - t6 / 1e6) < 2e-5)
  }

  test("q_para_dedup matches a JVM keep-first brute force, signature included") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    // units in global (doc_id, unit_idx) order; first occurrence keeps
    val firstSeen = new scala.collection.mutable.HashMap[String, (Long, Int)]
    val units = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val us = (0 to (w.length - 1) / 16)
        .map(u => w.slice(u * 16, u * 16 + 16).mkString(" "))
      us.zipWithIndex.foreach { case (u, i) =>
        if (!firstSeen.contains(u)) firstSeen(u) = (id, i)
      }
      id -> us
    }
    val expected = units.map { case (id, us) =>
      val keptUh = us.zipWithIndex.collect {
        case (u, i) if firstSeen(u) == (id, i) => graft.Hashing.h60Jvm(md, u)
      }
      (id, us.size.toLong, keptUh.size.toLong,
        graft.Hashing.h60Jvm(md, keptUh.mkString(":")))
    }.toSet
    val got = graft.SparkEntry.defs("q_para_dedup").build(spark, sf())
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_units"),
        r.getAs[Long]("kept_units"), r.getAs[Long]("residual_sig"))).toSet
    assert(got == expected)
    // the fixture must actually exercise the drop path
    assert(expected.exists { case (_, n, k, _) => k < n },
      "fixture should contain at least one cross-doc duplicated unit")
  }

  test("q_quality_gate keeps the top quintile against the raw quality scores") {
    val quality = graft.SparkEntry.defs("q_text_quality").build(spark, sf())
      .collect().map(_.getAs[Double]("quality"))
    val rows = graft.SparkEntry.defs("q_quality_gate").build(spark, sf())
      .collect()
    assert(rows.nonEmpty)
    val thr = rows.head.getAs[Double]("threshold")
    rows.foreach(r => assert(r.getAs[Double]("threshold") == thr))
    // per-source kept counts roll up to the corpus-wide ≥-threshold count
    val kept = rows.map(_.getAs[Long]("kept")).sum
    // threshold column is rounded; compare against the same rounding
    assert(kept == quality.count(q =>
      math.round(q * 1e6) >= math.round(thr * 1e6)))
    // the gate keeps roughly the top fifth (ties can widen it)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == quality.length)
    assert(kept >= total / 10 && kept <= total * 2 / 5,
      s"kept $kept of $total — P80 gate out of range")
    assert(rows.forall(_.getAs[Boolean]("approx_in_bound")))
  }

  test("q_rrf_fusion fuses exactly the reciprocal ranks of its two lists") {
    val rows = graft.SparkEntry.defs("q_rrf_fusion").build(spark, sf())
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val rl = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
      val rd = Option(r.getAs[java.lang.Long]("dense_rank")).map(_.toLong)
      assert(rl.nonEmpty || rd.nonEmpty)
      (rl.toSeq ++ rd).foreach(k => assert(k >= 1 && k <= 50))
      val expect = rl.map(k => 1.0 / (60 + k)).getOrElse(0.0) +
        rd.map(k => 1.0 / (60 + k)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-6)
    }
    // output sorted by fused score desc with doc_id tiebreak
    val key = rows.map(r => (-r.getAs[Double]("rrf"), r.getAs[Long]("doc_id")))
    assert(key.sameElements(key.sorted))
    // a doc present in BOTH lists must outrank one at the same lex rank
    // only in one list — the fusion property worth locking: both-list
    // membership occurs in the fixture
    assert(rows.exists(r => r.getAs[java.lang.Long]("lex_rank") != null
      && r.getAs[java.lang.Long]("dense_rank") != null))
  }
}
