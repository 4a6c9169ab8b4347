package graft.ext

import graft.{Limits, SparkSpec}
import org.apache.spark.sql.functions._

/** Invariants for the dedup/similarity/text/multimodal extensions at
  * sf0.001 (500 docs / 500 vectors).
  */
class ExtSpec extends SparkSpec {

  /** Past the corpus-broadcast ceiling: what a corpus above 10⁷ vectors
    * runs for top-k, decontamination, hard negatives and the IVF arms.
    */
  private val corpusPast = Limits.Ceilings(corpusBroadcast = 0)

  /** Whether a plan carries the salted join key of the past-ceiling
    * IVF joins (home side replicated per salt, probes salted by id).
    */
  private def salted(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.toString.contains("salt#")

  test("minhash LSH finds exactly the high-jaccard pairs (vs brute force)") {
    val sh = TextOps.wordShingles(spark, sf(), 5)
    // brute-force ground truth over all pairs sharing any shingle
    val truth = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ni"))
      .join(sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
        .select(col("doc_id").as("doc_a"), col("ns").as("ns_a")), "doc_a")
      .join(sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
        .select(col("doc_id").as("doc_b"), col("ns").as("ns_b")), "doc_b")
      .filter(col("ni").cast("double") / (col("ns_a") + col("ns_b") - col("ni")) >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = graft.SparkEntry.defs("q_dedup_minhash").build(spark, sf())
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-duplicates")
    assert(found == truth) // 4x3 banding at jac>=0.5: no false negatives here
  }

  test("simhash hamming pairs are symmetric-free and within bound") {
    val rows = graft.SparkEntry.defs("q_dedup_simhash").build(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val hd = r.getAs[Int]("hamming")
      assert(hd >= 0 && hd <= 3)
      assert(java.lang.Long.bitCount(r.getAs[Long]("sim_a") ^ r.getAs[Long]("sim_b")) == hd)
    }
  }

  test("exact dedup drops exactly the re-ingested rows") {
    val rows = graft.SparkEntry.defs("q_dedup_exact").build(spark, sf()).collect()
    val totalDropped = rows.map(_.getAs[Long]("n_dropped")).sum
    val expected = spark.read.parquet(sf() + "/documents.parquet")
      .filter(col("doc_id") % 3 === 0).count()
    assert(totalDropped == expected)
  }

  test("brute-force top-k: self excluded, ranks dense, cosine in [-1,1]") {
    val rows = graft.SparkEntry.defs("q_sim_topk").build(spark, sf()).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length))
      assert(rs.forall(_.getAs[Long]("vec_id") != q))
      assert(rs.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9))
      // descending cosine by rank
      val ordered = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cos"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
  }

  test("VectorOps.topK equals a sorted brute-force scan, ties by smaller id") {
    // rows given out of id order; 9 and 3 repeat row 5, and 12 and 20
    // are 2× and 4× row 7, so each group has bit-equal cosines to any
    // query (scaling by a power of two is exact in dot, sqrt and divide)
    val base = Array(
      5L -> Array(3L, -1L, 4L), 7L -> Array(-2L, 5L, 1L),
      1L -> Array(0L, 0L, 0L), 2L -> Array(6L, 2L, -3L),
      11L -> Array(-1L, -1L, 2L))
    val rows = base ++ Array(
      9L -> base(0)._2, 3L -> base(0)._2,
      12L -> base(1)._2.map(_ * 2), 20L -> base(1)._2.map(_ * 4))
    val c = VectorOps.Corpus(rows)
    assert(c.ids.sameElements(rows.map(_._1).sorted))
    assert(c.row(4L) < 0)
    def ref(q: Array[Long], k: Int, keep: Long => Boolean) = {
      val qn = math.sqrt(q.map(x => (x * x).toDouble).sum)
      rows.collect { case (id, v) if keep(id) && v.exists(_ != 0L) =>
        val n = math.sqrt(v.map(x => (x * x).toDouble).sum)
        (id, q.zip(v).map { case (a, b) => a * b }.sum.toDouble / (qn * n))
      }.sortBy { case (id, cos) => (-cos, id) }.take(k).toSeq
    }
    val queries = Seq(Array(3L, -1L, 4L), Array(-2L, 5L, 1L), Array(1L, 1L, 0L))
    val keeps: Seq[Long => Boolean] = Seq(_ => true, _ % 2 == 1, _ != 9L)
    var tied = 0
    for (q <- queries; keep <- keeps; k <- 1 to rows.length + 2) {
      val expect = ref(q, k, keep)
      val got = VectorOps.topK(c, q, VectorOps.norm(q), k, j => keep(c.ids(j)))
      assert(got.toSeq == expect, s"q=${q.toSeq} k=$k")
      if (expect.map(_._2).distinct.length < expect.length) tied += 1
    }
    assert(tied > 0, "no planted tie reached a top-k window")
    // a zero query has no cosine
    assert(VectorOps.topK(c, Array(0L, 0L, 0L), 0.0, 3, _ => true).isEmpty)
  }

  test("representative factoring over duplicated vectors is bit-exact") {
    // three copies of every vector under shifted ids, with the pair-exact
    // ceiling forced to the base count (the base holds every distinct
    // vector once): the corpus is past it, the representatives are not.
    // Duplication ratio 3 ≥ 2, so nearDupPairsPastCeiling takes the
    // FACTORED branch (exact loop
    // over one representative per distinct quantized vector + the
    // output-sized within/cross expansion) — which must equal the plain
    // exact loop over the whole duplicated corpus, pair for pair,
    // cosine for cosine
    val OFF = 1000000L
    val tmp = tempDir("rep_factor").toString
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    base.unionByName(base.withColumn("vec_id", col("vec_id") + OFF))
      .unionByName(base.withColumn("vec_id", col("vec_id") + 2 * OFF))
      .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    def rel(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos"))).sorted
    val repsExact = Limits.Ceilings(embedPairExact = base.count())
    val exact = rel(SimilarityQueries.embedNearDup(spark, tmp))
    val factored = rel(Limits.forcing(repsExact)(
      SimilarityQueries.embedNearDupAuto(spark, tmp)))
    // the duplicated fixture must actually exercise both pair kinds:
    // within-group (cos 1.0 synthesized) and cross-group (inherited)
    assert(factored.exists(_._3 == 1.0) && factored.exists(_._3 < 1.0))
    assert(factored.sameElements(exact),
      s"factored ${factored.length} pairs != exact ${exact.length}")
    // the connectivity-reduced edge twin (stars + rep pairs) must
    // produce the SAME component labels as propagating through the
    // full pair relation — same components, same min-id labels
    def labels(edges: org.apache.spark.sql.DataFrame) =
      DedupCluster.connectedComponents(edges).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("label"))).sorted
    val viaPairs = labels(
      SimilarityQueries.embedNearDup(spark, tmp)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    val viaReduced = Limits.forcing(repsExact)(labels(
      SimilarityQueries.nearDupClusterEdges(spark, tmp)))
    assert(viaReduced.nonEmpty && viaReduced.sameElements(viaPairs))
    graft.Memo.release(spark, tmp)
  }

  test("hard-negative representative factoring matches the unfactored banded path row-for-row") {
    // duplicated fixture: 3 copies of every vector (labels copied with
    // them), ids shifted by multiples of 20 so slice membership is
    // preserved — every (vector, label) group has 3 members. The
    // factored path (rep mining + rank-with-ties + member expansion)
    // must reproduce the unfactored banded past-ceiling rows exactly.
    val OFF = 1000000L // multiple of 20: preserves negSlice membership
    val tmp = tempDir("hn_factor").toString
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    base.unionByName(base.withColumn("vec_id", col("vec_id") + OFF))
      .unionByName(base.withColumn("vec_id", col("vec_id") + 2 * OFF))
      .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    // compare on long bits so identical NaN cosines (zero-norm vectors)
    // compare equal — NaN != NaN under ==
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("cos")),
        r.getAs[Int]("rn"))).sorted
    val (un, fa) = Limits.forcing(corpusPast)((
      rows(SimilarityQueries.hardNegatives(spark, tmp, Some(false))),
      rows(SimilarityQueries.hardNegatives(spark, tmp, Some(true)))))
    assert(un.nonEmpty)
    assert(fa.sameElements(un),
      s"factored ${fa.length} rows != unfactored ${un.length}; " +
        s"first diff: ${fa.zip(un).find { case (a, b) => a != b }}")
    graft.Memo.release(spark, tmp)
  }

  test("pair codebooks register as Memo object entries and release drops them") {
    // r13 (VERDICT r12 #4): the compiled pair codebooks lived in
    // TrieMaps outside Memo accounting — never released with the dir,
    // invisible to the byte budget. Now they are Memo object entries:
    // building a candidate plan trains + registers the codebook, release
    // of the dir drops it, and the next build re-trains (telemetry
    // build count increments).
    graft.Memo.release(spark, sf())
    def objEntries = graft.Memo.entries(spark)
      .filter(e => e.startsWith(sf()) && e.contains("sim.pair"))
    // the flat codebook: the query path's candidate plan
    def nearDupCandidates() = SimilarityQueries.nearDupCandidates(spark, sf(),
      graft.Tables.embeddings(spark, sf()), VectorOps.corpusSize(spark, sf()))
    nearDupCandidates()
    val after = objEntries
    assert(after.exists(_.contains("sim.pairFlatCents.k")), s"entries: $after")
    def builds(sub: String) = graft.Memo.telemetry(spark)
      .filter(t => t._1.startsWith(sf()) && t._1.contains(sub))
      .map(_._3).sum
    val flatBuilds = builds("sim.pairFlatCents")
    // cached: a second plan build must NOT re-train
    nearDupCandidates()
    assert(builds("sim.pairFlatCents") == flatBuilds, "second build must hit the cache")
    graft.Memo.release(spark, sf())
    assert(objEntries.isEmpty, s"release must drop codebook entries: $objEntries")
    nearDupCandidates()
    assert(builds("sim.pairFlatCents") == flatBuilds + 1,
      "post-release build must re-train")
    graft.Memo.release(spark, sf())
  }

  test("LSH near-dup branch returns only exact-verified pairs with full identical-pair recall") {
    // force the scale branch (embedPairExact = 0) at fixture size and compare
    // against the exact generator: every LSH pair must appear in the
    // exact set with the same cosine (candidates are exactly verified),
    // and every cos=1.0 pair (identical vectors — the duplicates that
    // dominate real corpora) must be found (identical vectors share
    // every band signature, so the pigeonhole is deterministic)
    val exact = SimilarityQueries.embedNearDup(spark, sf()).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap
    val pairPast = Limits.Ceilings(embedPairExact = 0)
    val lsh = Limits.forcing(pairPast)(
      SimilarityQueries.embedNearDupAuto(spark, sf()).collect())
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"LSH pair $k not exact-verified") }
    // the flat IVF arm, forced past the corpus ceiling at fixture size
    // (so its probes ⋈ home runs as the SALTED join) and run through the
    // same exact verify: precision 1 against the exact set
    def flatArmPast(d: String) = Limits.forcing(corpusPast) {
      val cand = IvfQueries.probePairCandidates(spark, d,
        graft.Tables.embeddings(spark, d), VectorOps.corpusSize(spark, d))
      assert(salted(cand), "past the ceiling the pair join must be salted")
      SimilarityQueries.verifiedNearDup(spark, d, cand).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
          r.getAs[Double]("cos")).toMap
    }
    val flat = flatArmPast(sf())
    assert(flat.nonEmpty)
    flat.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"flat-IVF pair $k not exact-verified") }
    // identical-vector recall needs identical vectors — the sf0.001
    // fixture has none, so build one: every base vector duplicated
    // under a shifted id. Identical vectors share every band signature,
    // so each (v, v+OFF) pair MUST surface with cos 1.0. Duplication 2
    // with the pair-exact ceiling at 0 puts the representatives past it
    // too: the factored build mines them with the union generator
    val OFF = 100000L
    val tmp = tempDir("lsh_dup").toString
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    base.unionByName(base.withColumn("vec_id", col("vec_id") + OFF))
      .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    val dup = Limits.forcing(pairPast)(
      SimilarityQueries.embedNearDupAuto(spark, tmp).collect())
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap
    val dupExact = SimilarityQueries.embedNearDup(spark, tmp).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap
    dup.foreach { case (k, c) =>
      assert(dupExact.get(k).contains(c), s"rep-union pair $k not exact-verified") }
    val nonZero = base.collect().filter { r =>
      r.getAs[scala.collection.Seq[Float]]("embedding")
        .exists(v => math.round(v.toDouble * 1e7) != 0L) }
      .map(_.getAs[Long]("vec_id"))
    assert(nonZero.nonEmpty)
    nonZero.foreach { id =>
      assert(dup.get((id, id + OFF)).contains(1.0),
        s"identical pair ($id, ${id + OFF}) missed by the LSH branch") }
    // identical vectors share their home cell, which each one probes
    val dupFlat = flatArmPast(tmp)
    nonZero.foreach { id =>
      assert(dupFlat.get((id, id + OFF)).contains(1.0),
        s"identical pair ($id, ${id + OFF}) missed by the flat-IVF arm") }
    graft.Memo.release(spark, tmp)
    graft.Memo.release(spark, sf())
  }

  test("LSH ANN results carry exact cosines for EVERY returned pair") {
    import spark.implicits._
    val lsh = graft.SparkEntry.defs("q_sim_lsh").build(spark, sf()).collect()
    assert(lsh.nonEmpty)
    // recompute the exact cosine for every LSH-returned pair directly —
    // not just pairs that happen to be in someone's top-k — and assert
    // equality unconditionally (q_sim_lsh rounds to 6 decimals)
    val pairs = lsh.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSeq
      .toDF("query_id", "vec_id")
    // same rounding as the query's round(cos, 6): HALF_UP away from zero
    val exact = VectorOps.cosineByBroadcast(pairs,
      VectorOps.corpus(graft.Tables.embeddings(spark, sf())))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        BigDecimal(r.getDouble(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(exact(key) == r.getAs[Double]("cos"),
        s"pair $key: LSH cosine ${r.getAs[Double]("cos")} != exact ${exact(key)}")
    }
  }

  test("past the broadcast ceiling, distributed formulations honor their contracts") {
    // corpusBroadcast = 0 forces the path large corpora switch to
    // automatically. Contract split (r9): bruteForceTopK/quantTopK stay
    // EXACT distributed joins — row-identical to the broadcast path.
    // Near-dup (a corpus past both vector ceilings), semanticDecontam
    // and hardNegatives switch to generated candidates + exact verify —
    // every returned row must carry the exact cosine and satisfy the
    // query's predicate, but full recall parity is no longer the claim
    // (a generator may drop pairs it never proposes).
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rn"))).sortBy(t => (t._1, t._4))
    val tB = topk(SimilarityQueries.bruteForceTopK(spark, sf()))
    val tD = topk(Limits.forcing(corpusPast)(
      SimilarityQueries.bruteForceTopK(spark, sf())))
    assert(tB.nonEmpty && tD.sameElements(tB))
    def qtop(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("qcos"), r.getAs[Int]("rn"))).sortBy(t => (t._1, t._4))
    val qB = qtop(SimilarityQueries.quantTopK(spark, sf()))
    val qD = qtop(Limits.forcing(corpusPast)(
      SimilarityQueries.quantTopK(spark, sf())))
    assert(qB.nonEmpty && qD.sameElements(qB))
    // near-dup: generated output is a SUBSET of the exact pair set,
    // cosines bit-equal (candidates are exactly verified)
    def dup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")),
        r.getAs[Double]("cos")))
    val dB = dup(SimilarityQueries.embedNearDup(spark, sf())).toMap
    val dD = dup(Limits.forcing(
      Limits.Ceilings(corpusBroadcast = 0, embedPairExact = 0))(
      SimilarityQueries.embedNearDupAuto(spark, sf())))
    assert(dB.nonEmpty && dD.nonEmpty)
    dD.foreach { case (k, c) =>
      assert(dB.get(k).contains(c), s"banded near-dup pair $k not exact-verified") }
    // decontam: each flagged train vector's reported match must be a real
    // ≥-threshold eval pair with the exact cosine (argmax may differ
    // from the exact path's if the true best match was band-missed)
    val sD = Limits.forcing(corpusPast)(
      SimilarityQueries.semanticDecontam(spark, sf())).collect()
    assert(sD.nonEmpty)
    val decPairs = {
      import spark.implicits._
      sD.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_id"))).toSeq
        .toDF("query_id", "vec_id")
    }
    val decExact = VectorOps.cosineByBroadcast(decPairs,
      VectorOps.corpus(graft.Tables.embeddings(spark, sf())))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        BigDecimal(r.getDouble(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    sD.foreach { r =>
      val key = (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_id"))
      val c = r.getAs[Double]("cos")
      assert(c >= 0.4 && decExact(key) == c,
        s"decontam row $key cos $c not exact/threshold")
      assert(key._2 % 10 == 7 && key._1 % 10 != 7, "slice membership")
    }
    // hard negatives: mined within probed IVF cells through the SALTED
    // probe join; every mined negative is label-valid with the exact
    // cosine; ranks are dense per query
    val hDf = Limits.forcing(corpusPast)(
      SimilarityQueries.hardNegatives(spark, sf()))
    assert(salted(hDf), "past the ceiling the probe join must be salted")
    val hD = topk(hDf)
    assert(hD.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hnPairs = {
      import spark.implicits._
      hD.map(t => (t._1, t._2)).toSeq.toDF("query_id", "vec_id")
    }
    val hnExact = VectorOps.cosineByBroadcast(hnPairs,
      VectorOps.corpus(graft.Tables.embeddings(spark, sf())))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        BigDecimal(r.getDouble(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    hD.foreach { case (q, v, c, _) =>
      assert(labels(q) != labels(v), s"negative ($q,$v) shares the label")
      assert(hnExact((q, v)) == c, s"negative ($q,$v) cosine not exact")
    }
    hD.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
    }
    graft.Memo.release(spark, sf())
  }

  test("hard negatives never share the query's label") {
    val labels = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hn = SimilarityQueries.hardNegatives(spark, sf()).collect()
    assert(hn.nonEmpty)
    hn.foreach { r =>
      assert(labels(r.getAs[Long]("query_id")) != labels(r.getAs[Long]("vec_id")),
        "a hard negative must carry a different label")
    }
  }

  test("IVF ANN neighbors agree with brute-force cosine values") {
    val bf = graft.SparkEntry.defs("q_sim_topk").build(spark, sf())
      .select("query_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = graft.SparkEntry.defs("q_sim_ivf").build(spark, sf()).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(r.getAs[Int]("rn") >= 1 && r.getAs[Int]("rn") <= IvfQueries.TOP_K)
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      bf.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
  }

  test("langid confusion matrix covers every document once") {
    val rows = graft.SparkEntry.defs("q_text_langid").build(spark, sf()).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val docs = spark.read.parquet(sf() + "/documents.parquet").count()
    assert(total == docs)
  }

  test("multimodal decode: histogram sums to byte count, batch-invariant") {
    val feats = Multimodal.decodeFeatures(spark, sf()).collect()
    assert(feats.length == 500)
    feats.foreach { r =>
      val hist = r.getAs[scala.collection.Seq[Long]]("hist")
      assert(hist.length == 16)
      assert(hist.sum == r.getAs[Int]("n_bytes"))
      assert(r.getAs[Int]("width") >= 64 && r.getAs[Int]("width") < 256)
      // resize preserves the aspect fit: longest edge == RESIZE_TO
      assert(math.max(r.getAs[Int]("resized_w"), r.getAs[Int]("resized_h"))
        == Multimodal.RESIZE_TO)
      // frame checksums cover the payload in FRAME_BLOCK strides
      val frames = r.getAs[scala.collection.Seq[Long]]("frame_samples")
      val expFrames = math.min(Multimodal.MAX_FRAMES,
        (r.getAs[Int]("n_bytes") + Multimodal.FRAME_BLOCK - 1) / Multimodal.FRAME_BLOCK)
      assert(frames.length == expFrames)
    }
    // repartitioning must not change decode results (batching is per
    // partition but decode is per row)
    val repart = Multimodal.media(spark, sf()).repartition(13)
    import spark.implicits._
    val again = repart.select("doc_id", "kind", "payload").as[Multimodal.MediaRow]
      .mapPartitions(_.grouped(Multimodal.BATCH).flatMap(_.map(Multimodal.fakeDecode)))
      .toDF().collect()
    assert(again.map(_.getAs[Long]("doc_id")).toSet ==
      feats.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("perceptual-hash LSH finds exactly the hamming<=3 same-kind pairs") {
    val rows = graft.SparkEntry.defs("q_mm_neardup").build(spark, sf()).collect()
    assert(rows.nonEmpty, "re-ingest crawl should contain near-dup payloads")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val hd = r.getAs[Int]("hamming")
      assert(hd >= 0 && hd <= Multimodal.PH_MAX_HAMMING)
      assert(java.lang.Long.bitCount(
        r.getAs[Long]("ph_a") ^ r.getAs[Long]("ph_b")) == hd)
    }
    // pigeonhole completeness: brute force over ALL same-kind signature
    // pairs must find nothing the 15-bit block join missed
    val ph = Multimodal.perceptualHashesOf(Multimodal.media(spark, sf())
        .filter(col("payload").isNotNull && length(col("payload")) > 0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brute = (for {
      (a, ka, pa) <- ph; (b, kb, pb) <- ph
      if a < b && ka == kb &&
        java.lang.Long.bitCount(pa ^ pb) <= Multimodal.PH_MAX_HAMMING
    } yield (a, b)).toSet
    // the query runs on the re-ingest crawl, so compare its original-only
    // subset against the original-only brute force
    val found = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .filter { case (a, b) => a < 999999 && b < 999999 }.toSet
    assert(found == brute)
    // signatures sit in the 60-bit budget (block shifts stay in range)
    ph.foreach { case (_, _, p) => assert(p >= 0 && p < (1L << 60)) }
  }

  test("incremental IVF assignment partitions the corpus and counts the batch") {
    val rows = graft.SparkEntry.defs("q_sim_incremental").build(spark, sf()).collect()
    assert(rows.nonEmpty)
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(size(col("embedding")) > 0)
    val total = emb.count()
    val batch = emb.filter(expr("vec_id % 10 = 7")).count()
    assert(rows.map(r => r.getAs[Long]("n_index") + r.getAs[Long]("n_new")).sum == total)
    assert(rows.map(_.getAs[Long]("n_new")).sum == batch)
    rows.foreach { r =>
      val share = r.getAs[Double]("new_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("ngram array verify equals the row-level join verify") {
    // the shipped q_dedup_ngram runs the sorted-array + native-intersect
    // verify; rebuild the original cand⋈shingles⋈shingles formulation
    // here and require identical (pair, ni, jac) rows
    val sh = TextOps.wordShingleHashes(spark, sf(), 4)
    val buckets = sh.groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, 5))
    val cand = buckets.select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val joinForm = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("ns_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("ns_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("ni"),
        round(col("ni").cast("double") / (col("ns_a") + col("ns_b") - col("ni")), 6)
          .as("jac"))
      .filter(col("jac") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val arrayForm = graft.SparkEntry.defs("q_dedup_ngram").build(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(arrayForm.nonEmpty)
    assert(arrayForm == joinForm)
  }

  test("q_sim_sparse matches a single-JVM tf-idf cosine brute force") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length
    // tf over the 8192-bucket hashed feature space
    val tf = docs.map { case (id, t) =>
      id -> t.split(" ").toSeq
        .groupMapReduce(tok => graft.Hashing.h60Jvm(md, tok) % 8192)(_ => 1L)(_ + _)
    }.toMap
    val df = tf.values.flatMap(_.keys).groupMapReduce(identity)(_ => 1L)(_ + _)
    val rate = df.map { case (f, d) =>
      f -> math.round(math.log(n.toDouble / d) * 1000)
    }
    // top-8 features per doc by (w desc, f asc); norms over the kept set
    val top = tf.map { case (id, m) =>
      id -> m.toSeq.map { case (f, c) => (f, c * rate(f)) }
        .sortBy { case (f, w) => (-w, f) }.take(8).toMap
    }
    val n2 = top.map { case (id, m) => id -> m.values.map(w => w * w).sum }
    val posted = top.values.flatMap(_.keys)
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .collect { case (f, c) if c >= 2 && c <= 50 => f }.toSet
    val ids = top.keys.toSeq.sorted
    val expected = (for {
      ai <- ids.indices; bi <- (ai + 1) until ids.length
      a = ids(ai); b = ids(bi)
      shared = top(a).keySet intersect top(b).keySet intersect posted
      if shared.nonEmpty
      dot = shared.toSeq.map(f => top(a)(f) * top(b)(f)).sum
      cos = math.round(dot.toDouble
        / (math.sqrt(n2(a).toDouble) * math.sqrt(n2(b).toDouble)) * 1e6) / 1e6
      if cos >= 0.5
    } yield (a, b, cos)).toSet
    val got = graft.SparkEntry.defs("q_sim_sparse").build(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture should produce at least one sparse-cosine pair")
  }

  test("q_dedup_sweep partitions the verified pair set into a valid curve") {
    val pairs = graft.SparkEntry.defs("q_dedup_minhash").build(spark, sf())
      .collect().map(_.getAs[Double]("jac"))
    val rows = graft.SparkEntry.defs("q_dedup_sweep").build(spark, sf())
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(rows.nonEmpty)
    // bins cover exactly the verified pairs (threshold 0.5 ⇒ bins ≥ 10)
    assert(rows.iterator.map(_.getAs[Long]("n_pairs")).sum == pairs.length)
    rows.foreach(r => assert(r.getAs[Long]("bin") >= 10))
    // per-bin counts recompute from the raw jac values
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val exp = pairs.count(j => math.min(math.floor(j * 20).toLong, 19L) == bin)
      assert(r.getAs[Long]("n_pairs") == exp, s"bin $bin")
    }
    // cumulative column: non-increasing upward and exact suffix sums
    val byBin = rows.map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_pairs")).toMap
    rows.foreach { r =>
      val suffix = byBin.filter(_._1 >= r.getAs[Long]("bin")).values.sum
      assert(r.getAs[Long]("cum_pairs") == suffix)
    }
  }

  test("q_nearest_centroid matches a single-JVM classifier brute force") {
    val rows = spark.read.parquet(sf() + "/embeddings.parquet")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(round(cast(x as double) * 10000000, 0) as bigint)) AS q")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val dim = rows.head._3.length
    // rounded-mean centroids — the query's 1e7-grid model, not raw sums
    val cents = rows.groupBy(_._2).map { case (l, vs) =>
      l -> Array.tabulate(dim) { i =>
        BigInt(math.round(vs.map(v => BigInt(v._3(i))).sum.toDouble / vs.length))
      }
    }
    val cnorm = cents.map { case (l, s) =>
      l -> math.sqrt(s.map(x => (x * x).toDouble).sum)
    }.filter(_._2 > 0)
    val expected = rows.map { case (_, trueL, v) =>
      val pred = cnorm.keys.toSeq.map { l =>
        val dot = (0 until dim).map(i => cents(l)(i) * v(i)).sum
        (l, dot.toDouble / cnorm(l))
      }.minBy { case (l, s) => (-s, l) }._1
      (trueL, pred)
    }.groupBy(identity).map { case ((t, p), xs) => (t, p, xs.length.toLong) }
      .toSet
    val got = graft.SparkEntry.defs("q_nearest_centroid").build(spark, sf())
      .collect()
      .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label"),
        r.getAs[Long]("n"))).toSet
    assert(got == expected)
    assert(got.iterator.map(_._3).sum == rows.length,
      "every vector classified exactly once")
  }
}
