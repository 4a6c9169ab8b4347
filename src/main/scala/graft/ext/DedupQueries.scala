package graft.ext

import graft.{Hashing, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators (north-star extensions): exact
  * hash dedup, MinHash+LSH banding, SimHash with byte-block candidate
  * generation, and n-gram Jaccard over a rare-shingle inverted index.
  *
  * All four share the same scale shape: narrow shingle explosion, one
  * hash-aggregate keyed by (doc_id[, func]), a self-join ONLY on bounded
  * buckets (band signature / byte block / rare shingle) — never an
  * all-pairs cross join — and a verify pass on the candidate pairs. This
  * is exactly the plan a 100 TB corpus needs: candidate generation is
  * data-partitioned by bucket key, and the verify join touches only
  * candidate pairs (bounded by bucket sizes, controllable via band/row
  * parameters and the rare-shingle document-frequency cap).
  */
object DedupQueries {

  /** MinHash parameters: 12 hash functions in 4 bands of 3 rows. */
  private val NUM_HASH = 12
  private val BAND_ROWS = 3
  private val MINHASH_JAC = 0.5
  private val NGRAM_JAC = 0.5
  /** Rare-shingle inverted index: document-frequency cap for candidates.
    * With 4-gram shingles and df ≤ 5 the candidate set at sf0.1 is ~39k
    * pairs and still covers every pair with Jaccard ≥ 0.5 (measured);
    * 3-grams at df ≤ 10 ballooned to ~460k pairs (37s → ~4s).
    */
  private[ext] val MAX_DF = 5
  private[ext] val NGRAM_K = 4
  private val SIMHASH_BITS = 32
  private val MAX_HAMMING = 3

  /** Exact Jaccard verification of candidate pairs against the distinct
    * shingle sets: |A∩B| / (|A|+|B|−|A∩B|), as a join of the candidate
    * pairs back to the shingle table (touches only candidate docs).
    * Callers pass h60-HASHED shingles ([[TextOps.wordShingleHashes]])
    * so both verify joins shuffle 8-byte longs, not k-gram strings —
    * the oracle hashes identically, so Jaccard-over-hashes is
    * bit-reproducible cross-engine.
    */
  private def jaccardVerify(cand: DataFrame, shingles: DataFrame,
      minJac: Double): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val inter = cand
      .join(shingles.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(shingles.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("ns_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("ns_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("ni"),
        round(col("ni").cast("double") / (col("ns_a") + col("ns_b") - col("ni")), 6)
          .as("jac"))
      .filter(col("jac") >= minJac)
      .orderBy("doc_a", "doc_b")
  }

  /** [[jaccardVerify]] reformulated over a prebuilt per-doc sorted
    * shingle-array relation `(doc_id, shs)`: ni comes from the native
    * two-pointer `sorted_intersect_size` instead of the
    * cand⋈shingles⋈shingles explosion. The row-level verify joins fan
    * each candidate out by the docs' shingle counts (~doc length) and
    * shuffle on (doc_b, sh); here the fan-out is exactly 1 row per
    * candidate — two doc-level array joins plus a codegen'd merge. Same
    * (ni, jac) by construction (shingles are per-doc distinct), so the
    * oracle SQL is untouched. 123s → array form at the 100× probe
    * (SCALING.md r8) with identical hashes. Consumers sharing the k=4
    * index ([[ngramCandPairs]] / [[ngramShingleSets]]) verify against
    * the memoized arrays.
    */
  private[ext] def jaccardVerifyWithSets(cand: DataFrame, sets: DataFrame,
      minJac: Double): DataFrame = {
    graft.functions.SortedIntersectSize.ensureRegistered(cand.sparkSession)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_size(sa, sb)").as("ni"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("nu"))
      .select(col("doc_a"), col("doc_b"), col("ni"),
        round(col("ni").cast("double") / (col("nu") - col("ni")), 6).as("jac"))
      .filter(col("jac") >= minJac)
      .orderBy("doc_a", "doc_b")
  }

  /** Stored incremental-dedup index over the NON-batch corpus, written
    * ONCE per (session, sfDir) as bucketed managed tables: the banded
    * MinHash signatures (bucketed on the (band, sig) candidate-join key)
    * and the per-doc sorted shingle arrays (bucketed on doc_id, the
    * verify join key). This is the relation a production deployment
    * maintains between batches — the per-run query only bands/shingles
    * the batch and joins against these scans (index side exchange-free
    * where the bucketing satisfies the join's distribution).
    */
  private def storedMinhashIndex(spark: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val sfx = graft.etl.Bucketing.tableSuffix(d)
    def idxDocs = Tables.documents(spark, d).filter(col("doc_id") % 10 =!= 3)
    // ONE tokenize pass feeds BOTH index tables (r14): banding and the
    // shingle-set aggregate each re-split and re-shingled the identical
    // 90% corpus slice (and the set side paid an extra (doc_id, sh)
    // exchange for its collect_list). The fused mapPartitions computes,
    // per document in-memory, the string-distinct MinHash minima (the
    // bands contract) AND the hash-distinct sorted shingle array (the
    // sets contract) — bit-identical to the two separate passes; the
    // two bucketed writes just project/explode the memoized relation.
    val fused = graft.Memo.cached(spark, d, "dedup.incrIndexDocs") {
      import spark.implicits._
      idxDocs.select("doc_id", "text").as[(Long, String)]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val utf8 = java.nio.charset.StandardCharsets.UTF_8
          val empty = Array.emptyByteArray
          val k = 5
          it.flatMap { case (docId, text) =>
            if (text == null) Iterator.empty else {
              val w = text.split(" ", -1)
              val seen = new java.util.HashSet[String]
              val hseen = new java.util.HashSet[Long]
              val hs = Array.newBuilder[Long]
              val mins = Array.fill(NUM_HASH)(Long.MaxValue)
              var s = 0
              while (s + k <= w.length) {
                val sh = w.slice(s, s + k).mkString(" ")
                if (seen.add(sh)) {
                  val h = Hashing.h60Jvm(md, sh)
                  if (hseen.add(h)) hs += h
                  val prefix = (sh + ":").getBytes(utf8)
                  var j = 0
                  while (j < NUM_HASH) {
                    val hj = Hashing.h60JvmParts(md, prefix, j.toString, empty)
                    if (hj < mins(j)) mins(j) = hj
                    j += 1
                  }
                }
                s += 1
              }
              if (seen.isEmpty) Iterator.empty
              else {
                val shs = hs.result()
                java.util.Arrays.sort(shs)
                val sigs = (0 until NUM_HASH / BAND_ROWS).map { b =>
                  (b * BAND_ROWS until (b + 1) * BAND_ROWS)
                    .map(mins).mkString(",")
                }.toArray
                Iterator.single((docId, shs, sigs))
              }
            }
          }
        }.toDF("doc_id", "shs", "sigs").persist()
    }
    val bands = graft.Memo.cached(spark, d, "dedup.incrIndexBands") {
      graft.etl.Bucketing.writeBucketed(
        fused.select(col("doc_id"),
          posexplode(col("sigs")).as(Seq("band", "sig"))),
        s"incr_idx_bands_$sfx", 32, Seq("band", "sig"))
    }
    val sets = graft.Memo.cached(spark, d, "dedup.incrIndexSets") {
      graft.etl.Bucketing.writeBucketed(
        fused.select(col("doc_id"), col("shs")),
        s"incr_idx_sets_$sfx", 32, Seq("doc_id"))
    }
    (bands, sets)
  }

  /** Rare-shingle (df 2..MAX_DF) candidate pairs over the word-4-gram
    * h60 index, PERSISTED once per (session, scale dir): q_dedup_ngram
    * and q_dedup_containment consume the IDENTICAL subtree (same k,
    * same df window) — the q_candidates memoization rule. Two-phase
    * build: df counts first (bare longs, map-side combinable), doc
    * lists only for the ≤MAX_DF rare buckets, exploded positionally.
    */
  private[ext] def ngramCandPairs(spark: SparkSession, d: String): DataFrame =
    graft.Memo.cached(spark, d, "dedup.ngramCandPairs") {
      val sh = TextOps.wordShingleHashes(spark, d, NGRAM_K)
      val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= MAX_DF)
        .select("sh")
      sh.join(rare, "sh")
        .groupBy("sh").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(col("ds")).as("doc_a"), col("ds"))
        .select(col("doc_a"), explode(col("ds")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .distinct()
        .persist()
    }

  /** Per-doc sorted word-4-gram h60 arrays (doc_id, shs), persisted once
    * per (session, scale dir) — the verify side shared by the same two
    * consumers.
    */
  private[ext] def ngramShingleSets(spark: SparkSession, d: String): DataFrame =
    graft.Memo.cached(spark, d, "dedup.ngramShingleSets") {
      TextOps.wordShingleHashes(spark, d, NGRAM_K)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("shs"))
        .persist()
    }

  private def duckJaccardVerify(minJac: Double, shTable: String = "shingles"): String =
    s"""sizes AS (
       |  SELECT doc_id, COUNT(*) AS ns FROM $shTable GROUP BY doc_id
       |), inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
       |  FROM cand c
       |  JOIN $shTable sa ON sa.doc_id = c.doc_a
       |  JOIN $shTable sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
       |  GROUP BY c.doc_a, c.doc_b
       |), verified AS (
       |  SELECT i.doc_a, i.doc_b, i.ni,
       |    round(CAST(i.ni AS DOUBLE) / (sa.ns + sb.ns - i.ni), 6) AS jac
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE round(CAST(i.ni AS DOUBLE) / (sa.ns + sb.ns - i.ni), 6) >= $minJac
       |)""".stripMargin

  /** DuckDB CTE chain ending in `verified(doc_a, doc_b, ni, jac)`: word
    * 5-gram shingles → per-band MinHash signatures → banded candidate
    * pairs → exact-Jaccard verify. Shared by `q_dedup_minhash` (emits the
    * pairs) and `q_dedup_cluster` (closes them transitively).
    */
  private[ext] lazy val duckMinhashPairCtes: String =
    s"""${TextOps.duckWordShinglesCte(5)},
       |mh AS (
       |  SELECT doc_id, f.j, MIN(${Hashing.duckH60("sh", "f.j")}) AS mh
       |  FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, ${NUM_HASH - 1})) AS j) f
       |  GROUP BY doc_id, f.j
       |), bands AS (
       |  SELECT doc_id, j // $BAND_ROWS AS band,
       |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY doc_id, j // $BAND_ROWS
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), hsh AS (
       |  SELECT DISTINCT doc_id, ${Hashing.duckH60("sh")} AS sh FROM shingles
       |), ${duckJaccardVerify(MINHASH_JAC, "hsh")}""".stripMargin

  /** Transitive-closure CTEs over the `verified` pair relation (append
    * after [[duckMinhashPairCtes]] under `WITH RECURSIVE`): `comp(doc_id,
    * cluster_id)` labels every paired doc with its component's min
    * doc_id. Shared by `q_dedup_cluster` and the two compositions that
    * consume cluster membership (`q_dedup_keep_best`, `q_dup_profile`).
    */
  private val duckCompCtes: String =
    """edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM verified
      |  UNION SELECT doc_b, doc_a FROM verified
      |), reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
      |), comp AS (
      |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
      |)""".stripMargin

  /** Cluster membership `(doc_id, cluster_id)` from frontier label
    * propagation over the verified MinHash pairs, memoized per
    * (session, scale dir): three queries consume it (report, keep-best,
    * per-source profile) and a real pipeline materializes the cluster
    * table once per dedup run, not per downstream reader. The labels
    * DataFrame is already `localCheckpoint`ed (lineage-free), so caching
    * the reference is safe and re-planning is O(1).
    */
  def clusterMembers(spark: SparkSession, d: String): DataFrame =
    graft.Memo.cached(spark, d, "dedup.clusterMembers") {
      DedupCluster.connectedComponents(
        minhashVerifiedPairs(spark, d).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }

  /** Spark mirror of [[duckMinhashPairCtes]]: verified MinHash duplicate
    * pairs `(doc_a, doc_b, ni, jac)`, unordered, memoized per
    * (session, scale dir): FOUR suite consumers build this identical
    * subtree (cluster membership, the pair report, the threshold sweep,
    * label-prop's dup edges) — ~20-30s each at the 100× probe; the
    * q_candidates memoization rule says pay it once.
    */
  private[ext] def minhashVerifiedPairs(spark: SparkSession,
      d: String): DataFrame =
    graft.Memo.cached(spark, d, "dedup.minhashVerifiedPairs") {
      // REPRESENTATIVE factoring (r11): identical text ⟹ identical
      // shingle set ⟹ identical band signatures AND identical Jaccard
      // against every other document — so band + verify need only run
      // over one representative per distinct text, and the full pair
      // relation is a pure output-sized EXPANSION through the
      // exact-dup groups. On the 100× hot-source axis (replicated,
      // unmutated text: groups of ~100 identical docs) the direct form
      // fanned every within-group candidate (Σ C(m,2) ≈ 2.5×10⁷ pairs)
      // through the shingle-level verify join — ~130 shingle rows per
      // pair, the 907s tail of the zipf capstone — while this form
      // verifies 1/m² of the candidates and synthesizes within-group
      // pairs as (ni = ns, jac = 1.0) directly, which is exactly what
      // the oracle's verify computes for identical sets. Text identity
      // is h60(text) (same identity the q_corpus_final exact stage and
      // its oracle both key on); docs with <5 words have no shingles,
      // are never oracle candidates, and are excluded from grouping.
      val docs = Tables.documents(spark, d)
      // persisted: four downstream joins consume this relation, and
      // recomputing it is a full text scan + whole-text md5 each time
      // (measured 29.7s → see SCALING.md; 16 bytes/doc cached). The
      // persist lands inside this Memo build, so its blocks are
      // entry-attributed and released with the entry.
      val withTh = docs
        .filter(col("text").isNotNull &&
          size(split(col("text"), " ", -1)) >= 5)
        .select(col("doc_id"), graft.Hashing.h60(col("text")).as("th"))
        .persist()
      // COUNT-GATED dial (same rule family as the ANN/broadcast dials):
      // the factoring pays a ~fixed overhead (group joins + a rep-side
      // text shuffle, ~50s at 100×) that only repays when texts
      // actually repeat — on a distinct-text corpus (nd axis: 499 213
      // distinct of 500 000) the direct form measured 77.1 → ~25s.
      // approx_count_distinct suffices: the branch point is a 2×
      // duplication ratio, far outside HLL error.
      val st = withTh.agg(count(lit(1)),
        approx_count_distinct(col("th"))).head()
      val dupRatio =
        if (st.getLong(1) == 0L) 1.0
        else st.getLong(0).toDouble / st.getLong(1)
      if (dupRatio < 2.0) {
        withTh.unpersist(blocking = false)
        minhashVerifiedPairsFrom(docs,
          TextOps.wordShingleHashes(spark, d, 5)).persist()
      } else {
      val groups = withTh.groupBy("th").agg(min(col("doc_id")).as("rep"))
      val members = withTh.join(groups, "th")
      val repDocs = docs
        .join(groups.select(col("rep").as("doc_id")), "doc_id")
      val sh = TextOps.wordShingleHashesRel(repDocs, 5)
      val repPairs = minhashVerifiedPairsFrom(repDocs, sh)
      val within = members
        .select(col("th"), col("rep"), col("doc_id").as("doc_a"))
        .join(members.select(col("th"), col("doc_id").as("doc_b")), "th")
        .filter(col("doc_a") < col("doc_b"))
        .join(sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
          .select(col("doc_id").as("rep"), col("ns")), "rep")
        .select(col("doc_a"), col("doc_b"), col("ns").as("ni"),
          lit(1.0).as("jac"))
      val cross = repPairs
        .select(col("doc_a").as("ra"), col("doc_b").as("rb"),
          col("ni"), col("jac"))
        .join(members.select(col("rep").as("ra"), col("doc_id").as("a")), "ra")
        .join(members.select(col("rep").as("rb"), col("doc_id").as("b")), "rb")
        .select(least(col("a"), col("b")).as("doc_a"),
          greatest(col("a"), col("b")).as("doc_b"), col("ni"), col("jac"))
      within.unionByName(cross).persist()
      }
    }

  /** Band + candidate + shingle-level verify over an explicit documents
    * relation; `sh` must be the shingle relation of the SAME documents.
    * [[minhashVerifiedPairs]] runs it over the corpus or over its text
    * representatives; a bucketed-layout deployment passes
    * `TextOps.wordShingleHashesRel` over documents bucketed on doc_id
    * (`Bucketing.writeBucketed`), so the verify's per-doc aggregates and
    * pair⋈shingle joins read the corpus side exchange-free
    * (BucketedDocsSpec proves plan + value equality).
    */
  private[ext] def minhashVerifiedPairsFrom(docs: DataFrame,
      sh: DataFrame): DataFrame = {
    val bands = minhashBands(docs, 5)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cand, sh, MINHASH_JAC)
  }

  /** (doc_id, band, sig) MinHash band signatures of `docs` in ONE narrow
    * pass: per document, shingle-set dedup + all NUM_HASH mins + band
    * strings happen in-memory inside mapPartitions. The first
    * formulation ran the same integer math as distinct-shuffle →
    * ×NUM_HASH explode → two hash aggregates (3 shuffles of
    * shingle-scale rows; 5.1s → 1.7s warm at sf0.1). Bit-identical to
    * the mh/bands oracle CTEs: h60("sh:j") mins over the distinct
    * shingle set, comma-joined ascending j. The stored-index path bands
    * ONLY the batch slice through this (the index side reads its
    * pre-banded table).
    */
  private def minhashBands(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val empty = Array.emptyByteArray
        it.flatMap { case (docId, text) =>
          // null text → no shingle rows in the oracle (string_split(NULL))
          if (text == null) Iterator.empty else {
          val w = text.split(" ", -1)
          val seen = new java.util.HashSet[String]
          val mins = Array.fill(NUM_HASH)(Long.MaxValue)
          var s = 0
          while (s + k <= w.length) {
            val sh = w.slice(s, s + k).mkString(" ")
            if (seen.add(sh)) {
              val prefix = (sh + ":").getBytes(utf8)
              var j = 0
              while (j < NUM_HASH) {
                val h = Hashing.h60JvmParts(md, prefix, j.toString, empty)
                if (h < mins(j)) mins(j) = h
                j += 1
              }
            }
            s += 1
          }
          // shingle-less docs have no mh rows in the oracle either
          if (seen.isEmpty) Iterator.empty
          else (0 until NUM_HASH / BAND_ROWS).iterator.map { b =>
            (docId, b,
              (b * BAND_ROWS until (b + 1) * BAND_ROWS).map(mins).mkString(","))
          }
          }
        }
      }.toDF("doc_id", "band", "sig")
  }

  /** (doc_id, simhash, bi, blk) SimHash byte blocks in ONE narrow pass —
    * same fusion as [[minhashBands]]: bigram set, per-bit ±1 sums, sign
    * bits and the 4 byte blocks per document, all in-memory. Replaces a
    * 32-way bit explosion through two hash aggregates; bit-identical to
    * the th/bits/sim/blocks oracle CTEs.
    */
  private def simhashBlocks(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select("doc_id", "text").as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, text) =>
          // null text → no shingle rows in the oracle (string_split(NULL))
          if (text == null) Iterator.empty else {
          val w = text.split(" ", -1)
          val seen = new java.util.HashSet[String]
          val sums = new Array[Int](SIMHASH_BITS)
          var s = 0
          while (s + 2 <= w.length) {
            val sh = w(s) + " " + w(s + 1)
            if (seen.add(sh)) {
              val h = Hashing.h60Jvm(md, sh)
              var j = 0
              while (j < SIMHASH_BITS) {
                sums(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
                j += 1
              }
            }
            s += 1
          }
          if (seen.isEmpty) Iterator.empty
          else {
            var sim = 0L
            var j = 0
            while (j < SIMHASH_BITS) { if (sums(j) > 0) sim |= 1L << j; j += 1 }
            (0 until 4).iterator.map(bi =>
              (docId, sim, bi, (sim >> (8 * bi)) & 255L))
          }
          }
        }
      }.toDF("doc_id", "simhash", "bi", "blk")
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- exact dedup: re-ingest scenario, keep min doc_id per content hash ----
    "q_dedup_exact" -> QueryDef(
      """WITH crawl AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 3 = 0
        |), groups AS (
        |  SELECT md5(text) AS h, source, COUNT(*) AS n, MIN(doc_id) AS keep_id
        |  FROM crawl GROUP BY md5(text), source
        |)
        |SELECT source,
        |  COUNT(*) AS n_unique,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dropped,
        |  CAST(SUM(keep_id) AS BIGINT) AS keep_checksum
        |FROM groups GROUP BY source
        |ORDER BY source""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d).select("doc_id", "text", "source")
      val crawl = docs.unionAll(
        docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("source")))
      crawl
        .groupBy(md5(encode(col("text"), "UTF-8")).as("h"), col("source"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique"),
          sum(col("n")).as("n_rows"),
          (sum(col("n")) - count(lit(1))).as("n_dropped"),
          sum(col("keep_id")).as("keep_checksum"))
        .orderBy("source")
    },

    // ---- MinHash + LSH banding over word 5-gram shingles ----
    "q_dedup_minhash" -> QueryDef(
      s"""WITH $duckMinhashPairCtes
         |SELECT doc_a, doc_b, ni, jac FROM verified
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, d) =>
      minhashVerifiedPairs(spark, d).orderBy("doc_a", "doc_b")
    },

    // ---- q_dedup_sweep: the dedup OPERATING CURVE — how many pairs
    //      survive at each candidate threshold. Choosing the dedup
    //      threshold is the judgment call of a curation run; this emits
    //      the distribution that call is made from (0.05-wide Jaccard
    //      bins over the verified pair set + the cumulative pairs-≥-bin
    //      count), so re-running dedup per candidate threshold — a full
    //      pipeline pass each — is replaced by ONE pass + a 10-row
    //      window. Bins are exact integer arithmetic on the rounded
    //      jac; the cumulative sum runs over ≤10 rows ----
    "q_dedup_sweep" -> QueryDef(
      s"""WITH $duckMinhashPairCtes,
         |b AS (
         |  SELECT least(CAST(floor(jac * 20) AS BIGINT), 19) AS bin,
         |         COUNT(*) AS n_pairs
         |  FROM verified GROUP BY 1
         |)
         |SELECT bin, round(bin / 20.0, 2) AS jac_lo, n_pairs,
         |  CAST(SUM(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pairs
         |FROM b ORDER BY bin""".stripMargin) { (spark, d) =>
      minhashVerifiedPairs(spark, d)
        .groupBy(least(floor(col("jac") * 20).cast("long"), lit(19L)).as("bin"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("bin"), round(col("bin") / 20.0, 2).as("jac_lo"),
          col("n_pairs"),
          sum("n_pairs").over(org.apache.spark.sql.expressions.Window
            .orderBy(col("bin").desc)).cast("long").as("cum_pairs"))
        .orderBy("bin")
    },

    // ---- stored-index BUILD for incremental dedup, as its own bench
    //      line: writing the banded-signature + shingle-array tables is
    //      the ONE-TIME deployment cost (the index a production pipeline
    //      maintains between batches), not part of the steady-state
    //      per-batch cost — r9 billed it to q_dedup_incremental's first
    //      run, which made the bench read the build cost as the
    //      incremental cost. Runs FIRST in the harness order
    //      (SparkEntry.orderedQueries); the gate is a READ-BACK of the
    //      stored tables — row counts, bucket/element counts, and an
    //      order-independent bit_xor(h60(...)) content checksum per
    //      part — replayed by DuckDB from the raw parquet, so a wrong or
    //      stale stored index fails the hash. ----
    "q_dedup_index_build" -> QueryDef(
      s"""WITH ${TextOps.duckWordShinglesCte(5)},
         |mh AS (
         |  SELECT doc_id, f.j, MIN(${Hashing.duckH60("sh", "f.j")}) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, ${NUM_HASH - 1})) AS j) f
         |  WHERE doc_id % 10 <> 3
         |  GROUP BY doc_id, f.j
         |), bands AS (
         |  SELECT doc_id, j // $BAND_ROWS AS band,
         |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
         |  FROM mh GROUP BY doc_id, j // $BAND_ROWS
         |), hsh AS (
         |  SELECT DISTINCT doc_id, ${Hashing.duckH60("sh")} AS sh
         |  FROM shingles WHERE doc_id % 10 <> 3
         |), sets AS (
         |  SELECT doc_id, COUNT(*) AS n_el,
         |         string_agg(CAST(sh AS VARCHAR), ',' ORDER BY sh) AS s
         |  FROM hsh GROUP BY doc_id
         |), band_stats AS (
         |  SELECT 'bands' AS part, COUNT(*) AS n_rows,
         |    COUNT(DISTINCT ${Hashing.duckH60("band", "sig")}) AS n_items,
         |    bit_xor(${Hashing.duckH60("doc_id", "band", "sig")}) AS checksum
         |  FROM bands
         |), set_stats AS (
         |  SELECT 'sets' AS part, COUNT(*) AS n_rows,
         |    CAST(SUM(n_el) AS BIGINT) AS n_items,
         |    bit_xor(${Hashing.duckH60("doc_id", "s")}) AS checksum
         |  FROM sets
         |)
         |SELECT * FROM band_stats UNION ALL SELECT * FROM set_stats
         |ORDER BY part""".stripMargin) { (spark, d) =>
      val (idxBands, idxSets) = storedMinhashIndex(spark, d)
      val bandStats = idxBands
        .select(Hashing.h60(col("doc_id"), col("band"), col("sig")).as("chk"),
          Hashing.h60(col("band"), col("sig")).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("bucket")).as("n_items"),
          expr("bit_xor(chk)").as("checksum"))
        .select(lit("bands").as("part"), col("n_rows"), col("n_items"),
          col("checksum"))
      val setStats = idxSets
        .select(Hashing.h60(col("doc_id"), array_join(col("shs"), ",")).as("chk"),
          size(col("shs")).cast("long").as("n_el"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_el")).as("n_items"),
          expr("bit_xor(chk)").as("checksum"))
        .select(lit("sets").as("part"), col("n_rows"), col("n_items"),
          col("checksum"))
      bandStats.unionByName(setStats).orderBy("part")
    },

    // ---- INCREMENTAL dedup: flag a new ingest batch against the
    //      EXISTING corpus index — the shape a 100 TB pipeline actually
    //      runs daily (the full-corpus pair query is the backfill; this
    //      is the steady state). Batch = doc_id % 10 = 3; index = the
    //      rest. The band join is strictly new×index — the index is
    //      never re-paired against itself, so per-ingest cost is
    //      ∝ batch size + matched candidates, not corpus². In
    //      production the index side's band signatures are computed
    //      once and STORED (bucketed by band — Bucketing.writeBucketed
    //      is the layout); here they rebuild from the same narrow pass,
    //      which leaves the plan shape identical. Exact-Jaccard verify
    //      over hashed shingles, then each flagged new doc reports its
    //      BEST index match (highest jac, ties to the smallest doc_id
    //      — deterministic). ----
    "q_dedup_incremental" -> QueryDef(
      s"""WITH ${TextOps.duckWordShinglesCte(5)},
         |mh AS (
         |  SELECT doc_id, f.j, MIN(${Hashing.duckH60("sh", "f.j")}) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, ${NUM_HASH - 1})) AS j) f
         |  GROUP BY doc_id, f.j
         |), bands AS (
         |  SELECT doc_id, j // $BAND_ROWS AS band,
         |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
         |  FROM mh GROUP BY doc_id, j // $BAND_ROWS
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |  WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 <> 3
         |), hsh AS (
         |  SELECT DISTINCT doc_id, ${Hashing.duckH60("sh")} AS sh FROM shingles
         |), ${duckJaccardVerify(MINHASH_JAC, "hsh")}
         |SELECT doc_a AS doc_id, doc_b AS match_id, ni, jac FROM (
         |  SELECT doc_a, doc_b, ni, jac,
         |    row_number() OVER (PARTITION BY doc_a
         |      ORDER BY jac DESC, doc_b) AS rn
         |  FROM verified)
         |WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      // the INDEX side reads two stored tables (banded signatures +
      // per-doc shingle arrays), written once per (session, sfDir) — a
      // production incremental-dedup deployment maintains exactly these
      // as its index; per-run cost is the BATCH slice's banding/shingling
      // plus candidate-bounded verify, not an index recompute (r9 — the
      // r8 form re-banded and re-shingled the whole corpus every run)
      val (idxBands, idxSets) = storedMinhashIndex(spark, d)
      val batchDocs = Tables.documents(spark, d)
        .filter(col("doc_id") % 10 === 3)
      val cand = minhashBands(batchDocs, 5).as("a")
        .join(idxBands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val batchSets = TextOps.wordShingleHashesRel(batchDocs, 5)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("shs"))
      jaccardVerifyWithSets(cand, batchSets.unionByName(idxSets), MINHASH_JAC)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_a")
            .orderBy(col("jac").desc, col("doc_b"))))
        .filter(col("rn") === 1)
        .select(col("doc_a").as("doc_id"), col("doc_b").as("match_id"),
          col("ni"), col("jac"))
        .orderBy("doc_id")
    },

    // ---- repeated-SPAN duplication scoring (the span-level/exact-
    //      substring dedup family, à la suffix-array substring dedup):
    //      hash every 20-char window, count per (doc, window-hash)
    //      occurrences, mark a window DUPLICATED when it appears in ≥ 2
    //      distinct docs, and report each doc's duplicated-position
    //      fraction — the signal span-dedup pipelines threshold on
    //      (catches boilerplate/templating that whole-doc MinHash
    //      misses). 100 TB shape: positions explode narrow (one row per
    //      char), then TWO hash aggs — (doc, h) then h — and a join
    //      back on the 8-byte h; no window function, no all-pairs
    //      anything; df is computed on the (doc, h)-deduped relation so
    //      a hot span costs its doc count, not its occurrence count. ----
    "q_span_dup" -> QueryDef(
      s"""WITH ${TextOps.duckCharShingleHashesCte(20)},
         |per_doc_h AS (
         |  SELECT doc_id, h, COUNT(*) AS c FROM char_hashes GROUP BY doc_id, h
         |), df AS (
         |  SELECT h, COUNT(*) AS nd FROM per_doc_h GROUP BY h
         |), per_doc AS (
         |  SELECT p.doc_id,
         |    CAST(SUM(p.c) AS BIGINT) AS n_pos,
         |    CAST(SUM(CASE WHEN f.nd >= 2 THEN p.c ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM per_doc_h p JOIN df f USING (h)
         |  GROUP BY p.doc_id
         |)
         |SELECT doc_id, n_pos, n_dup,
         |       round(CAST(n_dup AS DOUBLE) / n_pos, 6) AS dup_frac
         |FROM per_doc
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      import spark.implicits._
      val K = 20
      // doc-local fused pass: one JVM md5 per position, per-doc counts
      // built in memory — the relational char explosion re-planned its
      // 150M rows + SQL-expression md5 THREE times (277s at 30×; this
      // form: one narrow pass + one h-shuffle + one semi-join)
      val perDocH = Tables.documents(spark, d).select("doc_id", "text")
        .as[(Long, String)]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, text) =>
            if (text == null || text.length < K) Iterator.empty
            else {
              val m = new java.util.HashMap[Long, Long]()
              var p = 0
              while (p + K <= text.length) {
                m.merge(Hashing.h60Jvm(md, text.substring(p, p + K)),
                  1L, _ + _)
                p += 1
              }
              val b = Array.newBuilder[(Long, Long, Long)]
              m.forEach((h, c) => b += ((id, h, c)))
              b.result().iterator
            }
          }
        }.toDF("doc_id", "h", "c")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // cross-doc document frequency: the ONE unavoidable shuffle (on
      // the 8-byte h); only hashes seen in >= 2 docs survive
      val dupH = perDocH.groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("h")
      val nDup = perDocH.join(dupH, "h")
        .groupBy("doc_id").agg(sum(col("c")).as("n_dup"))
      // total window count needs no explosion at all: len - K + 1
      Tables.documents(spark, d)
        .select(col("doc_id"),
          (length(col("text")) - (K - 1)).cast("long").as("n_pos"))
        .filter(col("n_pos") > 0)
        .join(nDup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pos"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_pos"),
            6).as("dup_frac"))
        .orderBy("doc_id")
    },

    // ---- duplicate-cluster assembly: connected components over the
    //      verified MinHash pairs (the stage AFTER pair finding — a real
    //      dedup pipeline keeps ONE doc per transitive cluster, not one
    //      per pair). cluster_id = min member doc_id = the canonical
    //      keeper; membership is hash-verified against a recursive-CTE
    //      reachability closure in DuckDB.
    "q_dedup_cluster" -> QueryDef(
      s"""WITH RECURSIVE $duckMinhashPairCtes,
         |$duckCompCtes
         |SELECT cluster_id, COUNT(*) AS n_members,
         |       CAST(SUM(doc_id) AS BIGINT) AS member_checksum,
         |       CAST(MAX(doc_id) AS BIGINT) AS max_member
         |FROM comp GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin) { (spark, d) =>
      clusterMembers(spark, d)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          sum(col("doc_id")).as("member_checksum"),
          max(col("doc_id")).as("max_member"))
        .orderBy("cluster_id")
    },

    // ---- keep-best dedup decision: per dup cluster, KEEP the highest-
    //      quality member (the production rule — min-doc_id keepers throw
    //      away better copies). Composes cluster membership with the
    //      q_text_quality score; the rounded quality double is hash-gate-
    //      proven bit-identical cross-engine, so it is a deterministic
    //      ORDER BY key (ties → smallest doc_id). 100 TB: the cluster
    //      table is small relative to the corpus (dup members only), the
    //      quality join shuffles on doc_id, and the argmax window
    //      partitions by cluster_id — all bounded by cluster sizes. ----
    "q_dedup_keep_best" -> QueryDef(
      s"""WITH RECURSIVE $duckMinhashPairCtes,
         |$duckCompCtes,
         |${TextQueries.duckQualityCtes},
         |ranked AS (
         |  SELECT c.cluster_id, c.doc_id, q.quality,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY q.quality DESC, c.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM comp c JOIN quality q USING (doc_id)
         |)
         |SELECT cluster_id, doc_id AS keep_doc, quality AS keep_quality,
         |       n_members, n_members - 1 AS n_dropped
         |FROM ranked WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin) { (spark, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      clusterMembers(spark, d)
        .join(TextQueries.qualityPerDoc(spark, d).select("doc_id", "quality"),
          "doc_id")
        .withColumn("rn",
          row_number().over(w.orderBy(col("quality").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_doc"),
          col("quality").as("keep_quality"), col("n_members"),
          (col("n_members") - lit(1L)).as("n_dropped"))
        .orderBy("cluster_id")
    },

    // ---- E2E corpus materialization (the documents-pipeline capstone,
    //      q_lifecycle's role for this table family): length+quality
    //      gate → exact-dedup keeper (first doc_id per identical text
    //      hash AMONG SURVIVORS) → near-dup cluster keep-best (best
    //      surviving member per MinHash cluster; unlike
    //      q_dedup_keep_best's whole-cluster argmax, the rank here is
    //      over filter survivors — if the cluster's best copy was
    //      quality-filtered, the best REMAINING copy is kept, which is
    //      what a staged pipeline actually produces). Singletons label
    //      themselves via the left join. Output: per-source kept
    //      counts + char mass + doc_id checksum, hash-gating the whole
    //      chain. 100 TB: each stage is one bounded window or join on
    //      an 8-byte key; the cluster table is memoized (built once per
    //      run); nothing rescans text after the quality pass. ----
    "q_corpus_final" -> QueryDef(
      s"""WITH RECURSIVE $duckMinhashPairCtes,
         |$duckCompCtes,
         |${TextQueries.duckQualityCtes},
         |eligible AS (
         |  SELECT d.doc_id, d.source, d.n_chars, d.text, q.quality
         |  FROM documents d JOIN quality q USING (doc_id)
         |  WHERE d.n_chars >= 200 AND q.quality >= 0.5
         |), exact_kept AS (
         |  SELECT doc_id, source, n_chars, quality FROM (
         |    SELECT e.*, row_number() OVER (
         |      PARTITION BY ${Hashing.duckH60("text")} ORDER BY doc_id) AS rn
         |    FROM eligible e)
         |  WHERE rn = 1
         |), labeled AS (
         |  SELECT k.doc_id, k.source, k.n_chars, k.quality,
         |         COALESCE(c.cluster_id, k.doc_id) AS cid
         |  FROM exact_kept k LEFT JOIN comp c USING (doc_id)
         |), survivors AS (
         |  SELECT doc_id, source, n_chars FROM (
         |    SELECT l.*, row_number() OVER (PARTITION BY cid
         |      ORDER BY quality DESC, doc_id) AS krn
         |    FROM labeled l)
         |  WHERE krn = 1
         |)
         |SELECT source, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
         |  CAST(SUM(doc_id) AS BIGINT) AS kept_checksum
         |FROM survivors GROUP BY source
         |ORDER BY source""".stripMargin) { (spark, d) =>
      val w = org.apache.spark.sql.expressions.Window
      // hash the text BEFORE the keeper shuffle: the window then moves
      // (th, doc_id, source, n_chars, quality) — five scalars — instead
      // of full document bodies (measured 20s → ~7s warm at 30×)
      val eligible = Tables.documents(spark, d)
        .join(TextQueries.qualityPerDoc(spark, d).select("doc_id", "quality"),
          "doc_id")
        .filter(col("n_chars") >= 200 && col("quality") >= 0.5)
        .select(col("doc_id"), col("source"), col("n_chars"), col("quality"),
          Hashing.h60(col("text")).as("th"))
      val exactKept = eligible
        .withColumn("rn", row_number().over(
          w.partitionBy("th").orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .select("doc_id", "source", "n_chars", "quality")
      exactKept
        .join(clusterMembers(spark, d), Seq("doc_id"), "left")
        .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("krn", row_number().over(
          w.partitionBy("cid").orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("krn") === 1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"),
          sum(col("doc_id")).as("kept_checksum"))
        .orderBy("source")
    },

    // ---- per-source duplication profile: the report that re-weights a
    //      training mixture after dedup (a source whose docs are 30%
    //      redundant contributes 30% fewer effective documents than its
    //      raw count claims). n_redundant counts members beyond one
    //      keeper per (source, cluster) — a cluster spanning sources
    //      charges each source for its own extra members. 100 TB: comp
    //      is the (small) cluster table, the doc join shuffles on
    //      doc_id, and the output is one row per source — broadcast-
    //      size, exactly what a mixture planner consumes. ----
    "q_dup_profile" -> QueryDef(
      s"""WITH RECURSIVE $duckMinhashPairCtes,
         |$duckCompCtes,
         |src AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
         |), dup AS (
         |  SELECT d.source, COUNT(*) AS n_dup_docs,
         |         COUNT(DISTINCT c.cluster_id) AS n_clusters
         |  FROM comp c JOIN documents d USING (doc_id)
         |  GROUP BY d.source
         |)
         |SELECT s.source, s.n_docs,
         |  COALESCE(p.n_dup_docs, 0) AS n_dup_docs,
         |  COALESCE(p.n_clusters, 0) AS n_clusters,
         |  COALESCE(p.n_dup_docs, 0) - COALESCE(p.n_clusters, 0) AS n_redundant,
         |  round(CAST(COALESCE(p.n_dup_docs, 0) - COALESCE(p.n_clusters, 0) AS DOUBLE)
         |        / s.n_docs, 6) AS dup_ratio,
         |  s.n_docs - (COALESCE(p.n_dup_docs, 0) - COALESCE(p.n_clusters, 0))
         |    AS effective_docs
         |FROM src s LEFT JOIN dup p USING (source)
         |ORDER BY source""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d).select("doc_id", "source")
      val src = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val dup = clusterMembers(spark, d)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("nd"), countDistinct("cluster_id").as("nc"))
      val red = coalesce(col("nd"), lit(0L)) - coalesce(col("nc"), lit(0L))
      src.join(dup, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("nd"), lit(0L)).as("n_dup_docs"),
          coalesce(col("nc"), lit(0L)).as("n_clusters"),
          red.as("n_redundant"),
          round(red.cast("double") / col("n_docs"), 6).as("dup_ratio"),
          (col("n_docs") - red).as("effective_docs"))
        .orderBy("source")
    },

    // ---- SimHash over word bigrams, byte-block LSH, hamming <= 3 ----
    // 4 blocks of 8 bits: any pair within hamming 3 shares at least one
    // identical block (pigeonhole), so block-bucketing finds all of them
    // without an all-pairs join.
    "q_dedup_simhash" -> QueryDef(
      s"""WITH ${TextOps.duckWordShinglesCte(2)},
         |th AS (
         |  SELECT doc_id, ${Hashing.duckH60("sh")} AS h FROM shingles
         |), bits AS (
         |  SELECT doc_id, f.j,
         |    CASE WHEN SUM(CASE WHEN ((h >> f.j) & 1) = 1 THEN 1 ELSE -1 END) > 0
         |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
         |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, ${SIMHASH_BITS - 1})) AS j) f
         |  GROUP BY doc_id, f.j
         |), sim AS (
         |  SELECT doc_id, CAST(SUM(b << j) AS BIGINT) AS simhash FROM bits GROUP BY doc_id
         |), blocks AS (
         |  SELECT doc_id, simhash, f.bi, (simhash >> (8 * f.bi)) & 255 AS blk
         |  FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS bi) f
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM blocks a JOIN blocks b
         |    ON a.bi = b.bi AND a.blk = b.blk AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, sim_a, sim_b,
         |       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
         |FROM pairs
         |WHERE bit_count(xor(sim_a, sim_b)) <= $MAX_HAMMING
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, d) =>
      // Memo entry (r14, VERDICT r13 #7): the signature pass is the
      // query's dominant cost (one narrow scan over every document's
      // text) and the self-join above it would otherwise lean on
      // ReuseExchange to avoid computing it twice; materializing it as
      // a registry entry guarantees compute-once AND lands the cost as
      // a memo/ stage line, so the capstone tail is attributable from
      // the artifact alone (48.4s on zipf 100× had no stages object).
      val blocks = graft.Memo.cached(spark, d, "dedup.simhashBlocks") {
        simhashBlocks(spark, d).persist()
      }
      blocks.as("a")
        .join(blocks.as("b"),
          col("a.bi") === col("b.bi") && col("a.blk") === col("b.blk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
        .distinct()
        .withColumn("hamming", expr("cast(bit_count(sim_a ^ sim_b) as int)"))
        .filter(col("hamming") <= MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    },

    // ---- n-gram Jaccard over a rare-shingle inverted index ----
    // Candidates = doc pairs co-occurring in a shingle with document
    // frequency in [2, MAX_DF]; frequency-capped so no hot shingle ever
    // produces a quadratic bucket (the classic inverted-index guard).
    "q_dedup_ngram" -> QueryDef(
      s"""WITH ${TextOps.duckWordShingleHashesCte(NGRAM_K)},
         |rare AS (
         |  SELECT sh FROM shingles GROUP BY sh
         |  HAVING COUNT(*) BETWEEN 2 AND $MAX_DF
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shingles a
         |  JOIN rare r ON a.sh = r.sh
         |  JOIN shingles b ON b.sh = a.sh AND a.doc_id < b.doc_id
         |), ${duckJaccardVerify(NGRAM_JAC)}
         |SELECT doc_a, doc_b, ni, jac FROM verified
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, d) =>
      // hashed shingles end to end (df counts over h60 values are
      // identical in both engines, so the oracle replays exactly). The
      // inverted index is ONE hash aggregate whose sorted doc lists
      // serve as df filter AND pair source: exploding the ≤MAX_DF-doc
      // buckets replaces the sh⋈rare⋈sh self-join (three shingle-scale
      // shuffles → one), and the verify runs on per-doc sorted arrays
      // with the native intersect instead of re-joining shingle rows —
      // the two costs that held q_dedup_ngram at 123s in the 100× probe
      // (SCALING.md r8). Pair set and (ni, jac) are unchanged, so the
      // oracle SQL keeps the join formulation.
      // df counts FIRST (map-side-combinable longs — collecting doc
      // lists up front builds thousand-element arrays for every hot
      // shingle just to discard them at the size filter: 91s vs the
      // two-phase form at the 100× probe), then doc lists only for the
      // ≤MAX_DF rare buckets, exploded into pairs; both the pair set
      // and the per-doc arrays are memoized and shared with
      // q_dedup_containment
      jaccardVerifyWithSets(ngramCandPairs(spark, d),
        ngramShingleSets(spark, d), NGRAM_JAC)
    })
}
