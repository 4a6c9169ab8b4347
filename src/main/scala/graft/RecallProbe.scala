package graft

/** Dev-only recall probe for the LSH-banded embedding-dedup path
  * (VERDICT r9 #6): on a neardup-mutated scale dir (ScaleGen plants
  * in-capacity replicas at E[cos]≈0.69 and sibling pairs straddling the
  * 0.4 threshold), measure the banded candidate generator's recall
  * against the exact all-pairs anchor — overall, by cosine band, and at
  * the CLUSTER level (transitive closure can recover pairs the banding
  * misses, which is the property q_dedup_embed_cluster actually relies
  * on). Results land in SCALING.md's recall table.
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.RecallProbe /tmp/sf1nd"
  */
object RecallProbe {

  /** Union-find over pair lists (driver-side: the probe dirs hold ≤20k
    * vectors / ≤1M pairs — bounded by the probe, not the corpus).
    */
  private final class UF {
    private val p = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (p.getOrElse(r, r) != r) r = p.getOrElse(r, r)
      var c = x
      while (p.getOrElse(c, c) != c) { val n = p.getOrElse(c, c); p(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) p(ra) = rb }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1nd")
    val spark = LocalSession(
      // the --planted mass metric rides an observe() node under the
      // hits join; a runtime row-level filter injected below it would
      // silently undercount the candidate mass
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val bins = Seq(
      ("identical (cos>0.999999)", (c: Double) => c > 0.999999),
      ("near [0.9,0.999999]", (c: Double) => c >= 0.9 && c <= 0.999999),
      ("near [0.6,0.9)", (c: Double) => c >= 0.6 && c < 0.9),
      ("weak [0.4,0.6)", (c: Double) => c >= 0.4 && c < 0.6))

    // mass-only mode: candidate/verified counts + stage wall times, no
    // exact anchor — usable on dirs too large for the all-pairs loop
    // (e.g. the 100× axes), where MASS is the question and recall is
    // extrapolated from the anchored 10×/30× tables
    if (args.contains("--mass")) {
      args.drop(1).filterNot(_ == "--mass").foreach { mode =>
        val t = System.nanoTime()
        val cand = ext.SimilarityQueries.nearDupCandidates(spark, dir, mode)
        val nCand = cand.count()
        val tc = (System.nanoTime() - t) / 1e9
        val nVer = ext.SimilarityQueries.verifiedNearDup(spark, dir, cand)
          .count()
        println(f"[recall] MASS mode=$mode%-8s candidates=$nCand%12d (${tc}%.1fs) verified=$nVer%10d (${(System.nanoTime() - t) / 1e9}%.1fs total)")
      }
      spark.stop()
      return
    }

    // hard-negative generator ablation (r13, VERDICT r12 #6; r14 runs it
    // through the SHIPPED past-ceiling pipeline — ADVICE r13: the r13
    // sweep measured an unfactored row_number variant while the shipped
    // path is the factored rank()-with-ties mine, so tie-boundary rows
    // and factoring were not exactly what was measured): top-K row recall
    // of the banded and ANN past-ceiling paths against the EXACT
    // broadcast path, on anchored dirs. A row is recalled iff the same
    // (query_id, vec_id) appears in the exact top-K (rank-displacements
    // from a missed better negative count as misses on the displaced
    // rows, which is the honest metric for "did training see the same
    // negatives"). Pass `dial` as an nprobe to measure hnNprobeFor(n)'s
    // value; `nobanded` skips the (measured-lost, slow at 100×) banded
    // arm on re-runs.
    if (args.contains("--hardneg")) {
      val rest = args.drop(1).filterNot(a => a == "--hardneg" || a == "nobanded")
      val nprobes = rest.map(n => if (n == "dial")
          ext.SimilarityQueries.hnNprobeFor(
            ext.VectorOps.corpusSize(spark, dir))
        else n.toInt).toSeq match {
        case Nil => Seq(8)
        case s => s
      }
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      val t0 = System.nanoTime()
      val exact = rows(ext.SimilarityQueries.hardNegatives(spark, dir,
        maxBroadcast = Long.MaxValue))
      println(f"[hardneg] dir=$dir exact rows=${exact.size} (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      if (!args.contains("nobanded")) {
        val t1 = System.nanoTime()
        val banded = rows(ext.SimilarityQueries.hardNegatives(spark, dir,
          maxBroadcast = 0, gen = "banded"))
        println(f"[hardneg] banded    recall=${(banded & exact).size.toDouble / exact.size}%.4f rows=${banded.size} (${(System.nanoTime() - t1) / 1e9}%.1fs)")
      }
      nprobes.foreach { np =>
        val t = System.nanoTime()
        // the SHIPPED path, forced past-ceiling: factoring decision,
        // rank()-with-ties rep mine, member expansion — everything the
        // >10M-vector consumer actually runs, at this probe count
        val ann = rows(ext.SimilarityQueries.hardNegatives(spark, dir,
          maxBroadcast = 0, gen = "ann", nprobeOverride = Some(np)))
        println(f"[hardneg] ann np=$np%-4d recall=${(ann & exact).size.toDouble / exact.size}%.4f rows=${ann.size} (${(System.nanoTime() - t) / 1e9}%.1fs)")
      }
      spark.stop()
      return
    }

    // planted-pair mode (r13, VERDICT r12 #2): recall against the pairs
    // ScaleGen PLANTED rather than the exact all-pairs anchor — usable at
    // any corpus size (the product regime activates past 2.1M vectors,
    // where an O(n²d) anchor is impossible). ScaleGen's neardup replicas
    // are in-capacity iff rep < 100 DIV (pmod(xxhash64(base),100)+1)
    // (generator knowledge — this probe measures the generator's own
    // plant); the anchor is every within-base-group in-capacity pair at
    // verified cos ≥ 0.4, computed exactly per group (groups ≤ 100
    // members — bounded by the capacity rule, never the corpus). Recall
    // per cosine band = planted pairs the candidate generator emits /
    // planted pairs. Cross-base chance pairs are excluded by
    // construction; on anchored dirs the planted set ≈ the exact set
    // (bases are random, cross-base cos ≈ 0), validated at sf1nd.
    if (args.contains("--planted")) {
      val OFF = 10000000L
      val fp = org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 10000000, 0) as bigint))")
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      val planted = Tables.embeddings(spark, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .filter(expr(s"vec_id DIV ${OFF}L < 100 DIV (pmod(xxhash64(vec_id % ${OFF}L), 100) + 1)"))
        .select((col("vec_id") % OFF).as("base"), col("vec_id"), fp.as("e"))
        .as[(Long, Long, Array[Long])]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val vs = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
          val norms = vs.map { case (_, e) =>
            math.sqrt(e.map(x => x * x).sum.toDouble) }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < vs.length) {
            var j = i + 1
            while (j < vs.length) {
              if (norms(i) > 0 && norms(j) > 0) {
                var dot = 0L
                var k = 0
                val (ea, eb) = (vs(i)._2, vs(j)._2)
                while (k < ea.length) { dot += ea(k) * eb(k); k += 1 }
                val cos = BigDecimal(dot.toDouble / (norms(i) * norms(j)))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (cos >= 0.4) out += ((vs(i)._1, vs(j)._1, cos))
              }
              j += 1
            }
            i += 1
          }
          out.iterator
        }.toDF("query_id", "vec_id", "cos").persist()
      val nPlanted = planted.count()
      val plantedArr = planted.as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
      println(f"[recall] dir=$dir PLANTED anchor=$nPlanted (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      args.drop(1).filterNot(_ == "--planted").foreach { mode =>
        val t = System.nanoTime()
        // ONE generator pass (r14): the candidate mass and the planted
        // hits used to be two actions over the un-persisted generator —
        // at the 8.4M product-regime anchor that is ~8.6B candidates
        // built twice. observe() rides the mass count on the hits
        // action's execution instead.
        val hitsDs = ext.SimilarityQueries.nearDupCandidates(spark, dir, mode)
          .observe(s"mass_$mode", count(lit(1)).as("n"))
          .join(broadcast(planted.select("query_id", "vec_id")),
            Seq("query_id", "vec_id"))
          .distinct().as[(Long, Long)]
        val hits = hitsDs.collect().toSet
        val mass = hitsDs.queryExecution.observedMetrics
          .get(s"mass_$mode").map(_.getLong(0)).getOrElse(-1L)
        val sec = (System.nanoTime() - t) / 1e9
        println(f"[recall] PLANTED mode=$mode%-8s candidates=$mass%12d hits=${hits.size}%9d/$nPlanted (${sec}%.1fs total)")
        bins.foreach { case (name, in) =>
          val e = plantedArr.count { case (_, c) => in(c) }
          val b = plantedArr.count { case (k, c) => in(c) && hits.contains(k) }
          println(f"[recall] PLANTED $mode%-8s recall $name%-26s ${if (e == 0) 1.0 else b.toDouble / e}%.4f  ($b/$e)")
        }
      }
      spark.stop()
      return
    }

    val t0 = System.nanoTime()
    val exact =                               // broadcast all-pairs anchor
      ext.SimilarityQueries.embedNearDup(spark, dir, Long.MaxValue)
        .select("vec_a", "vec_b", "cos").as[(Long, Long, Double)]
        .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    val tExact = (System.nanoTime() - t0) / 1e9
    println(f"[recall] dir=$dir exact=${exact.size} (${tExact}%.1fs)")

    // ablation over the past-ceiling candidate arms; "union" is the
    // path q_dedup_embed actually runs past the ceiling. "ivfp<n>"
    // forces the product-regime quantizer (the past-flat-cap form) at
    // probe count n — its recall price vs the flat arm sets
    // IvfQueries.PAIR_NPROBE_PRODUCT.
    // modes may be passed after the dir (ablation subsets re-run fast)
    val modes = if (args.length > 1) args.drop(1).toSeq
      else Seq("banded", "ivf", "union", "ivfp8", "ivfp16", "ivfp32")
    val byMode = modes.map { mode =>
      val t = System.nanoTime()
      val cand = ext.SimilarityQueries.nearDupCandidates(spark, dir, mode)
      val nCand = cand.count()
      val got = ext.SimilarityQueries.verifiedNearDup(spark, dir, cand)
        .select("vec_a", "vec_b", "cos").as[(Long, Long, Double)]
        .collect().map { case (a, b, c) => (a, b) -> c }.toMap
      val sec = (System.nanoTime() - t) / 1e9
      val notInExact = got.keySet -- exact.keySet
      println(f"[recall] mode=$mode%-6s candidates=$nCand%9d pairs=${got.size}%7d (${sec}%.1fs) not-in-exact(should be 0): ${notInExact.size}")
      bins.foreach { case (name, in) =>
        val e = exact.count { case (_, c) => in(c) }
        val b = exact.count { case (k, c) => in(c) && got.contains(k) }
        println(f"[recall] $mode%-6s pair recall $name%-26s ${if (e == 0) 1.0 else b.toDouble / e}%.4f  ($b/$e)")
      }
      mode -> got
    }.toMap
    byMode.get("union").foreach { banded =>
      // cluster-level: does transitive closure through the banded pairs
      // put the same pairs in one cluster as closure through exact pairs?
      def sameClusterPairs(ps: Iterable[(Long, Long)]): UF = {
        val uf = new UF; ps.foreach { case (a, b) => uf.union(a, b) }; uf
      }
      val ufE = sameClusterPairs(exact.keys)
      val ufB = sameClusterPairs(banded.keys)
      val exactPairsList = exact.keys.toArray
      val recovered = exactPairsList.count { case (a, b) => ufB.find(a) == ufB.find(b) }
      println(f"[recall] cluster recall (exact pairs co-clustered under banded closure): ${recovered.toDouble / exactPairsList.length}%.4f ($recovered/${exactPairsList.length})")
      // sanity: banded closure never merges what exact closure separates
      val overMerged = banded.keys.count { case (a, b) => ufE.find(a) != ufE.find(b) }
      println(s"[recall] banded-only merges (should be 0): $overMerged")
    }
    spark.stop()
  }
}
