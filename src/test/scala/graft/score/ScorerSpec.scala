package graft.score

import graft.SparkSpec

/** Scoring-layer semantics: the S3 checkpoint round-trip and the
  * cross-domain map variants (base orthogonal / v2 independent / v3
  * nonlinear).
  */
class ScorerSpec extends SparkSpec {

  test("checkpoint save/load round-trips weight matrices bit-exactly") {
    val dir = tempDir("ckpt").toString
    val weights = Map("W" -> Scorer.weightsW, "E" -> Scorer.itemVecs,
      "W1" -> Scorer.variant2W1)
    Checkpoint.save(spark, s"$dir/m", weights)
    val loaded = Checkpoint.load(spark, s"$dir/m")
    assert(loaded.keySet == weights.keySet)
    weights.foreach { case (layer, m) =>
      assert(loaded(layer).length == m.length)
      m.indices.foreach(i => assert(loaded(layer)(i).sameElements(m(i))))
    }
  }

  test("reloaded-weight scores are identical to in-memory scores") {
    val inMem = graft.SparkEntry.defs("q_dense_score").build(spark, sf())
      .collect().map(_.toSeq)
    val reloaded = graft.SparkEntry.defs("q_checkpoint_score").build(spark, sf())
      .collect().map(_.toSeq)
    assert(inMem.nonEmpty)
    assert(reloaded.sameElements(inMem))
  }

  test("mapped variants: per-user item coverage, scores in (0,1), distinct maps") {
    def rows(q: String) = graft.SparkEntry.defs(q).build(spark, sf()).collect()
    val orth = rows("q_score_orth_map")
    val v2 = rows("q_dense_score_v2")
    val v3 = rows("q_dense_score_v3")
    assert(orth.nonEmpty && orth.length == v2.length && v2.length == v3.length)
    Seq(orth, v2, v3).foreach { rs =>
      val perUser = rs.groupBy(_.getAs[Long]("user_id"))
      perUser.values.foreach(g => assert(g.length == Scorer.NUM_ITEMS))
      rs.foreach { r =>
        val (sx, sy) = (r.getAs[Double]("score_x2y"), r.getAs[Double]("score_y2x"))
        assert(sx > 0.0 && sx < 1.0 && sy > 0.0 && sy < 1.0)
      }
    }
    // the three variants are genuinely different maps: same users/items,
    // different score surfaces
    def sig(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("item_j"),
        r.getAs[Double]("score_x2y"))).toSet
    assert(sig(orth) != sig(v2))
    assert(sig(v2) != sig(v3))
  }

  test("auc matches the O(n^2) pairwise definition") {
    val r = graft.SparkEntry.defs("q_auc").build(spark, sf()).head()
    val (nPos, nNeg, auc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    // brute force: recompute the same fixed-point scores, then count
    // concordant pairs (ties count half) over every pos×neg pair
    val rows = graft.Tables.embeddings(spark, sf())
      .select("label", "embedding").collect()
      .map { row =>
        val y = row.getInt(0) % 2
        val e = row.getSeq[Float](1)
        val s = e.zipWithIndex.map { case (x, i0) =>
          val fx = math.round(x.toDouble * 1e7)
          val w = (i0 + 1).toLong * 2654435761L % 2001 - 1000
          fx * w
        }.sum
        (y, s)
      }
    val pos = rows.filter(_._1 == 1).map(_._2)
    val neg = rows.filter(_._1 == 0).map(_._2)
    assert(pos.length == nPos && neg.length == nNeg)
    var num2 = 0L // doubled concordance count (ties = 1, wins = 2)
    for (p <- pos; n <- neg)
      num2 += (if (p > n) 2L else if (p == n) 1L else 0L)
    val expect = num2.toDouble / (2.0 * nPos * nNeg)
    assert(math.abs(auc - expect) < 1e-6, s"auc=$auc expect=$expect")
    assert(math.abs(r.getDouble(3) - (2 * expect - 1)) < 1e-5) // gini
  }

  test("q_score_deciles partitions the corpus and lift averages to 1") {
    val rows = graft.SparkEntry.defs("q_score_deciles")
      .build(spark, sf()).collect()
    assert(rows.map(_.getAs[Int]("decile")).toSeq == (1 to 10))
    val total = spark.read.parquet(sf() + "/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    // ntile DESC: mean score must be non-increasing down the deciles
    val means = rows.sortBy(_.getAs[Int]("decile")).map(_.getAs[Double]("mean_score"))
    means.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // n-weighted mean of lift is 1 by construction
    val wLift = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("lift")).sum
    assert(math.abs(wLift / total - 1.0) < 1e-4)
    // pos_rate consistent with pos/n
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("pos_rate")
        - r.getAs[Long]("pos").toDouble / r.getAs[Long]("n")) < 1e-6)
    }
  }

  test("q_embed_health reports a well-formed drop for the fixture") {
    val rows = graft.SparkEntry.defs("q_embed_health").build(spark, sf())
      .collect()
    val total = spark.read.parquet(sf() + "/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      // fixture embeddings are dense 64-dim floats with no NaN/zero rows
      assert(r.getAs[Long]("dim_min") == 64 && r.getAs[Long]("dim_max") == 64)
      assert(r.getAs[Long]("n_nan") == 0 && r.getAs[Long]("n_zero") == 0)
      assert(r.getAs[Long]("nrm2_min") > 0
        && r.getAs[Long]("nrm2_min") <= r.getAs[Long]("nrm2_max"))
      val mean = r.getAs[Double]("mean_nrm2")
      assert(mean * 1e14 >= r.getAs[Long]("nrm2_min")
        && mean * 1e14 <= r.getAs[Long]("nrm2_max"))
    }
  }

  test("q_auc_folds partitions the corpus and cv_mean is the exact fold mean") {
    val rows = graft.SparkEntry.defs("q_auc_folds").build(spark, sf()).collect()
    assert(rows.map(_.getAs[Long]("fold")).toSeq.sorted == (0L to 4L))
    val total = spark.read.parquet(sf() + "/embeddings.parquet").count()
    assert(rows.map(r => r.getAs[Long]("n_pos") + r.getAs[Long]("n_neg")).sum
      == total)
    rows.foreach(r => assert(r.getAs[Double]("auc") >= 0.0
      && r.getAs[Double]("auc") <= 1.0))
    val mean = rows.map(r =>
      math.round(r.getAs[Double]("auc") * 1e6)).sum.toDouble / rows.length / 1e6
    val cv = rows.head.getAs[Double]("cv_mean")
    assert(math.abs(cv - mean) < 1e-6)
    assert(rows.forall(_.getAs[Double]("cv_mean") == cv))
  }

  test("q_embed_gram matches a single-JVM fixed-point brute force") {
    val vecs = spark.read.parquet(sf() + "/embeddings.parquet")
      .selectExpr(
        "transform(embedding, x -> cast(round(cast(x as double) * 10000000, 0) as bigint)) AS q")
      .collect().map(_.getSeq[Long](0).toArray)
    val n = vecs.length
    val dim = vecs.head.length
    val expect = Array.tabulate(dim, dim) { (i, j) =>
      var s = BigInt(0)
      vecs.foreach(v => s += BigInt(v(i)) * v(j))
      math.round(s.toDouble / n / 1e14 * 1e6) / 1e6
    }
    val got = graft.SparkEntry.defs("q_embed_gram").build(spark, sf())
      .collect()
      .map(r => ((r.getAs[Long]("i").toInt - 1, r.getAs[Long]("j").toInt - 1),
        r.getAs[Double]("cogram"))).toMap
    assert(got.size == dim * (dim + 1) / 2)
    got.foreach { case ((i, j), g) =>
      assert(i <= j && g == expect(i)(j), s"cell ($i,$j): $g != ${expect(i)(j)}")
    }
    // diagonal = mean squared element values: strictly positive
    (0 until dim).foreach(i => assert(got((i, i)) > 0.0))
  }

  test("q_embed_pca approximates the dominant eigenpair of the exact Gram") {
    val vecs = spark.read.parquet(sf() + "/embeddings.parquet")
      .selectExpr(
        "transform(embedding, x -> cast(round(cast(x as double) * 10000000, 0) as bigint)) AS q")
      .collect().map(_.getSeq[Long](0).toArray)
    val n = vecs.length
    val dim = vecs.head.length
    val m = Array.tabulate(dim, dim) { (i, j) =>
      vecs.map(v => BigInt(v(i)) * v(j)).sum.toDouble / n / 1e14
    }
    // long-run double power iteration as the convergence reference
    var ref = Array.fill(dim)(1.0)
    for (_ <- 1 to 200) {
      val u = Array.tabulate(dim)(i => (0 until dim).map(j => m(i)(j) * ref(j)).sum)
      val nrm = math.sqrt(u.map(x => x * x).sum)
      ref = u.map(_ / nrm)
    }
    val lamRef = (for (i <- 0 until dim; j <- 0 until dim)
      yield ref(i) * m(i)(j) * ref(j)).sum
    val rows = graft.SparkEntry.defs("q_embed_pca").build(spark, sf()).collect()
    assert(rows.length == dim)
    val comp = rows.sortBy(_.getAs[Long]("i")).map(_.getAs[Double]("component"))
    assert(comp.map(math.abs).max == 1.0, "infinity-norm projection must pin max|v| to 1")
    val lam = rows.head.getAs[Double]("eigval")
    // the Rayleigh quotient of ANY vector is ≤ λmax (exact math — the
    // upper bound holds to fixed-point grid precision), and 6 power
    // iterations must recover most of the dominant mass even on this
    // near-isotropic fixture (small eigengap ⇒ full convergence is not
    // a fair ask at sf0.001)
    assert(lam <= lamRef * 1.001, s"Rayleigh $lam exceeded λmax $lamRef")
    assert(lam >= lamRef * 0.8, s"Rayleigh $lam too far below λmax $lamRef")
    // no direction assert: the fixture's top eigenvalues are nearly
    // degenerate (isotropic random embeddings), so the dominant
    // DIRECTION is ill-conditioned while the dominant VALUE is stable —
    // the λ bracket above is the meaningful convergence check
  }

  test("v1 orthogonal map uses W transposed for the reverse direction") {
    // matVec with transpose(W) must equal the row-vector product h·W
    val h = Array.tabulate(Scorer.K)(i => 0.1 * (i + 1))
    val w = Scorer.orthW
    val viaTranspose = Scorer.matVec(Scorer.transpose(w), h)
    val expected = Array.tabulate(Scorer.K) { j =>
      (0 until Scorer.K).map(i => w(i)(j) * h(i)).sum
    }
    viaTranspose.zip(expected).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }
}
