package graft.ext

import graft.{Hashing, Limits, QueryDef, Tables}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Corpus-health operators for the training-data pipeline: exact
  * cross-document substring duplication, Bloom-prefiltered
  * decontamination, and snapshot distribution drift (PSI).
  *
  * Together with DedupQueries these close the dedup-literature surface:
  * MinHash/SimHash/ngram cover whole-document NEAR duplication,
  * `q_span_dup` covers document-LOCAL repetition, and `q_substr_dup`
  * here covers CROSS-document exact substring duplication — the
  * "Deduplicating Training Data Makes Language Models Better" shape
  * (Lee et al. 2022), re-expressed for Spark: instead of a distributed
  * suffix array (pointer-chasing, hostile to columnar execution), fixed
  * width-W stride-S character windows are h60-hashed and counted — a
  * window shared by two documents IS a repeated substring of length ≥ W,
  * and every repeated substring of length ≥ W + S − 1 is guaranteed to
  * contain at least one aligned shared window (stride pigeonhole), so
  * recall is exact above that length.
  */
object CorpusQueries {

  /** Substring-window width/stride. W bounds the shortest detected
    * repeat; S trades window count (corpus rows × ~len/S) against the
    * guaranteed-detection length W + S − 1 (49 chars here).
    */
  private val SUB_W = 40
  private val SUB_S = 10

  /** Bloom decontamination: eval split (doc_id % 7 — disjoint sizing
    * from q_decontaminate's % 10 so the twin queries differ in data,
    * not just plan) and the filter's false-positive rate. fpp only
    * moves the PREFILTER pass-through volume (the exact confirm join
    * removes every false positive); 1% keeps the filter at
    * ~9.6 bits/key — a 10⁹-shingle benchmark set is ~1.2 GB of bits,
    * broadcastable where the raw key set (8 B/key exact, strings raw)
    * is not.
    */
  private val BLOOM_FPP = 0.01

  /** PSI buckets: fixed domain 0..15 over n_chars div 64 (capped), so
    * the bucket space is scale-independent and add-1 smoothing has a
    * fixed denominator in both engines.
    */
  private val PSI_BUCKETS = 16
  private val PSI_WIDTH = 64

  /** Paragraph-dedup unit width (words per tile). 16 words ≈ a long
    * sentence; the synthetic corpus has no sentence boundaries, so the
    * unit is a fixed tile — a real deployment swaps the splitter, the
    * keep-first/reassemble machinery is unchanged.
    */
  private val PARA_W = 16

  val defs: Map[String, QueryDef] = Map(

    // ---- q_substr_dup: exact cross-document repeated-substring scan.
    //      Plan: one narrow pass explodes ≤ len/S windows per doc and
    //      hashes each to 8 bytes (codegen'd md5 chain, no UDF); DISTINCT
    //      per (doc, window); one map-side-combinable hash agg counts
    //      document frequency per window hash; one 8-byte-key join back
    //      tags shared windows; one per-doc agg rolls up. At 100 TB the
    //      shuffled volume is windows × 16 B — ~len/S × corpus rows of
    //      fixed-width keys, NEVER text — and every stage is a hash agg
    //      or key join Catalyst partitions by the same column. h60
    //      collisions (2⁻⁶⁰) are the exactness caveat, identical in the
    //      oracle (same hash), so the compare is bit-reproducible ----
    "q_substr_dup" -> QueryDef(
      s"""WITH w AS (
         |  SELECT DISTINCT doc_id, wh FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(
         |        generate_series(1, ((length(text) - $SUB_W) // $SUB_S) + 1),
         |        i -> ${Hashing.duckH60(s"substr(text, 1 + (i - 1) * $SUB_S, $SUB_W)")})) AS wh
         |    FROM documents WHERE length(text) >= $SUB_W)
         |),
         |df AS (SELECT wh, COUNT(*) AS nd FROM w GROUP BY wh)
         |SELECT w.doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / COUNT(*), 6) AS dup_frac
         |FROM w JOIN df USING (wh)
         |GROUP BY w.doc_id
         |HAVING SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      val wins = substrWindows(spark, d)
      val dfc = wins.groupBy("wh").agg(count(lit(1)).as("nd"))
      wins.join(dfc, "wh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
        .filter(col("n_dup") > 0)
        .select(col("doc_id"), col("n_windows"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_windows"), 6)
            .as("dup_frac"))
        .orderBy("doc_id")
    },

    // ---- q_decontaminate_bloom: the bounded-broadcast twin of
    //      q_decontaminate. The exact variant must ship the eval key SET
    //      to the join (broadcast under the gate, else a full shuffle of
    //      EVERY train shingle). Here the driver builds a Bloom filter
    //      over the eval shingles (bits ∝ n·ln(1/fpp) — size is bits,
    //      not rows), broadcasts it, and prefilters the train side
    //      BEFORE the confirm join, so the join's train input shrinks
    //      from all shingles to true hits + fpp·total. Exactness holds:
    //      Bloom has no false negatives, and the confirm join (against
    //      the real eval set) removes every false positive — so the
    //      oracle is the plain exact SQL. Per-doc totals are aggregated
    //      pre-filter (map-side combinable). The probe is the custom
    //      graft_bloom_probe expression (BloomBcProbe, r10): the filter
    //      ships as a BROADCAST (executor-once; a binary literal this
    //      size measured ~2× slower, see SCALING.md) while
    //      mightContainLong compiles into the train scan's
    //      WholeStageCodegen span instead of the r9 interpreted per-row
    //      Scala UDF; PlanAuditSpec asserts the plan is UDF-free. ----
    "q_decontaminate_bloom" -> QueryDef(
      s"""WITH ${TextOps.duckWordShingleHashesCte(5)},
         |ev AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 7 = 0),
         |tr AS (SELECT doc_id, sh FROM shingles WHERE doc_id % 7 <> 0)
         |SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(e.sh) AS n_shared,
         |       round(CAST(COUNT(e.sh) AS DOUBLE) / COUNT(*), 6)
         |         AS contamination
         |FROM tr t LEFT JOIN ev e ON e.sh = t.sh
         |GROUP BY t.doc_id
         |HAVING COUNT(e.sh) > 0
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      val sh = TextOps.wordShingleHashes(spark, d, 5)
      val ev = sh.filter(col("doc_id") % 7 === 0).select("sh").distinct()
      // size the filter from the eval DOC count (a one-column scan),
      // not an exact shingle count (a full shingle pass — measured 73s
      // of the 112s total at 100×): docs × 256 over-estimates distinct
      // 5-gram shingles for this corpus (≤ ~n_chars/6 − 4 ≈ 130/doc),
      // which only widens the bit array — false-positive rate can only
      // improve, and the confirm join keeps the output exact regardless
      val nEvDocs: Long = graft.Memo.cachedObj(spark, d,
          "corpus.evalDocCount", (_: java.lang.Long) => 8L) {
        Long.box(graft.Tables.documents(spark, d)
          .filter(col("doc_id") % 7 === 0).count())
      }
      val nEvEst = math.max(nEvDocs * 256L, 1L)
      // native codegen probe over a BROADCAST filter (see BloomBcProbe's
      // scaladoc). A Memo entry: a rebuild reuses the ~8 MB broadcast and
      // skips the eval-side scan; release or eviction destroys it
      val bloom = graft.Memo.cachedObj(spark, d, "corpus.evalBloom",
          (bc: Broadcast[BloomFilter]) => bc.value.bitSize / 8) {
        spark.sparkContext.broadcast(ev.stat.bloomFilter("sh", nEvEst, BLOOM_FPP))
      }
      val probe = graft.functions.BloomBcProbe.column(spark, bloom, col("sh"))
      val tr = sh.filter(col("doc_id") % 7 =!= 0)
      val totals = tr.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val evSmall = nEvEst <= Limits.evalBroadcast
      val confirmed = tr.filter(probe)
        .join(if (evSmall) broadcast(ev) else ev, Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      confirmed.join(totals, "doc_id")
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_shingles"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    },

    // ---- q_integrity: referential-integrity validation — the
    //      constraint-check stage every ingest pipeline runs before
    //      publishing a snapshot (orphaned children mean a partial or
    //      torn upstream export). One row per FK relationship:
    //      child count, orphan count (parent key missing), orphan
    //      fraction. Each check is ONE left join keyed on an 8-byte
    //      column + a 1-row aggregate; Catalyst broadcasts the small
    //      dimension parents (nation) and shuffle-joins the fact-sized
    //      ones — exactly the per-relationship cost floor. The DISTINCT
    //      on parent keys makes the row-count contract independent of
    //      parent-side duplication ----
    "q_integrity" -> QueryDef(
      s"""${Seq(
           ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
           ("events->customer", "events", "user_id", "customer", "c_custkey"),
           ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
           ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
           ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .map { case (name, c, ck, p, pk) =>
          s"""SELECT '$name' AS rel, COUNT(*) AS n_child,
             |  CAST(SUM(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_orphan,
             |  round(CAST(SUM(CASE WHEN pk IS NULL THEN 1 ELSE 0 END)
             |             AS DOUBLE) / COUNT(*), 6) AS orphan_frac
             |FROM $c LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $p) par
             |  ON par.pk = $c.$ck""".stripMargin }
        .mkString("\nUNION ALL\n")}
         |ORDER BY rel""".stripMargin) { (spark, d) =>
      def check(name: String, child: org.apache.spark.sql.DataFrame,
          ck: String, parent: org.apache.spark.sql.DataFrame, pk: String) =
        child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k")).distinct()
            .withColumn("hit", lit(1)), Seq("k"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
          .select(lit(name).as("rel"), col("n_child"), col("n_orphan"),
            round(col("n_orphan").cast("double") / col("n_child"), 6)
              .as("orphan_frac"))
      check("customer->nation", Tables.customer(spark, d), "c_nationkey",
          Tables.nation(spark, d), "n_nationkey")
        .unionAll(check("events->customer", Tables.events(spark, d),
          "user_id", Tables.customer(spark, d), "c_custkey"))
        .unionAll(check("lineitem->orders", Tables.lineitem(spark, d),
          "l_orderkey", Tables.orders(spark, d), "o_orderkey"))
        .unionAll(check("orders->customer", Tables.orders(spark, d),
          "o_custkey", Tables.customer(spark, d), "c_custkey"))
        .unionAll(check("supplier->nation", Tables.supplier(spark, d),
          "s_nationkey", Tables.nation(spark, d), "n_nationkey"))
        .orderBy("rel")
    },

    // ---- q_drift_psi: population stability index between two corpus
    //      snapshots (here the deterministic doc_id parity split; in
    //      production, yesterday's crawl vs today's) over the n_chars
    //      length distribution — the standard "did my ingest change
    //      under me" monitor that schedules a pipeline re-validation.
    //      Plan: ONE hash agg produces per-bucket side counts (map-side
    //      combinable CASE sums), a 1-row totals broadcast closes the
    //      probabilities, and the grand total is a window sum over ≤16
    //      rows. Add-1 smoothing over the FIXED 16-bucket domain keeps
    //      ln finite and the denominator scale-independent. Per-bucket
    //      terms are fixed-pointed to micro-units before the total sum
    //      (the q_entropy discipline) so no float ever accumulates ----
    "q_drift_psi" -> QueryDef(
      s"""WITH b AS (
         |  SELECT least(n_chars // $PSI_WIDTH, ${PSI_BUCKETS - 1}) AS bucket,
         |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
         |  FROM documents GROUP BY 1
         |), n AS (
         |  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
         |         CAST(SUM(c_b) AS BIGINT) AS n_b FROM b
         |), t AS (
         |  SELECT bucket, c_a, c_b,
         |    CAST(c_a + 1 AS DOUBLE) / (n_a + $PSI_BUCKETS) AS pa,
         |    CAST(c_b + 1 AS DOUBLE) / (n_b + $PSI_BUCKETS) AS pb
         |  FROM b, n
         |)
         |SELECT bucket, c_a, c_b,
         |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
         |  round((pa - pb) * ln(pa / pb), 6) AS psi_term,
         |  round(SUM(CAST(round((pa - pb) * ln(pa / pb) * 1e6) AS BIGINT))
         |          OVER () / 1e6, 6) AS psi_total
         |FROM t ORDER BY bucket""".stripMargin) { (spark, d) =>
      val b = Tables.documents(spark, d)
        .groupBy(expr(s"least(n_chars div $PSI_WIDTH, ${PSI_BUCKETS - 1})")
          .as("bucket"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("c_a"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("c_b"))
      val n = b.agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
      val t = b.crossJoin(broadcast(n))
        .withColumn("pa",
          (col("c_a") + 1).cast("double") / (col("n_a") + PSI_BUCKETS))
        .withColumn("pb",
          (col("c_b") + 1).cast("double") / (col("n_b") + PSI_BUCKETS))
      val term = (col("pa") - col("pb")) * log(col("pa") / col("pb"))
      t.select(col("bucket"), col("c_a"), col("c_b"),
          round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
          round(term, 6).as("psi_term"),
          round(sum(expr(
            "CAST(round((pa - pb) * ln(pa / pb) * 1e6) AS BIGINT)"))
            .over(Window.partitionBy(lit(1))) / 1e6, 6).as("psi_total"))
        .orderBy("bucket")
    },

    // ---- q_para_dedup: paragraph-unit exact dedup with keep-first
    //      semantics — the C4/RefinedWeb curation step that removes
    //      REPEATED PASSAGES from otherwise-distinct documents (whole-doc
    //      MinHash keeps both docs; this removes the shared boilerplate
    //      from the later one). Unit = consecutive 16-word tile (the
    //      corpus has no sentence boundaries); the GLOBAL first
    //      occurrence of each unit (min packed (doc_id, unit_idx)) is
    //      kept, every later copy is dropped, and each doc reports its
    //      surviving-unit signature. Plan: one narrow tile+hash pass
    //      emits (doc_id, unit_idx, uh) — 8-byte unit hashes, NEVER
    //      text, cross the wire; keeper = ONE map-side-combinable
    //      min-aggregate per uh (no window sort); one uh-key join tags
    //      survivors; one doc_id rollup builds the ordered signature
    //      from unit hashes (so reassembly is verified without moving a
    //      byte of text). Linear in corpus tokens at any scale ----
    "q_para_dedup" -> QueryDef(
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE text IS NOT NULL
         |), u AS (
         |  SELECT doc_id,
         |    unnest(generate_series(0, (len(w) - 1) // $PARA_W)) AS unit_idx,
         |    unnest(list_transform(generate_series(0, (len(w) - 1) // $PARA_W),
         |      ui -> ${Hashing.duckH60(
                      s"array_to_string(list_slice(w, ui * $PARA_W + 1, ui * $PARA_W + $PARA_W), ' ')")}))
         |      AS uh
         |  FROM w
         |), keeper AS (
         |  SELECT uh, MIN(doc_id * 1048576 + unit_idx) AS kk FROM u GROUP BY uh
         |)
         |SELECT u.doc_id, COUNT(*) AS n_units,
         |  CAST(SUM(CASE WHEN u.doc_id * 1048576 + u.unit_idx = k.kk
         |           THEN 1 ELSE 0 END) AS BIGINT) AS kept_units,
         |  ${Hashing.duckH60(
              """COALESCE(string_agg(CASE WHEN u.doc_id * 1048576 + u.unit_idx = k.kk
                |             THEN CAST(u.uh AS VARCHAR) END, ':' ORDER BY u.unit_idx), '')"""
                .stripMargin)} AS residual_sig
         |FROM u JOIN keeper k USING (uh)
         |GROUP BY u.doc_id
         |ORDER BY u.doc_id""".stripMargin) { (spark, d) =>
      // window-min instead of agg+self-join: ONE scan of the unit
      // relation and ONE uh-keyed exchange tag every row with its
      // unit's global first occurrence (the join form re-ran the whole
      // tile+hash pass for the probe side — 2× the narrow work)
      paraUnits(spark, d)
        // packing guard: doc_id·2^20 + unit_idx is only injective while
        // unit_idx < 2^20 (~16.8M words/doc) and doc_id < 2^43; both
        // engines would compute the SAME wrong packing past that, so the
        // oracle gate can't catch it — fail loudly instead
        .withColumn("pk",
          when(col("unit_idx") < 1048576L && col("doc_id") < 8796093022208L,
            col("doc_id") * 1048576L + col("unit_idx"))
            .otherwise(raise_error(concat(
              lit("q_para_dedup pack overflow: doc_id="),
              col("doc_id").cast("string"),
              lit(" unit_idx="), col("unit_idx").cast("string")))))
        .withColumn("kk", min(col("pk")).over(Window.partitionBy("uh")))
        .withColumn("kept", col("pk") === col("kk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_units"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_units"),
          Hashing.h60(array_join(transform(
              sort_array(collect_list(when(col("kept"),
                struct(col("unit_idx"), col("uh"))))),
              s => s.getField("uh").cast("string")), ":"))
            .as("residual_sig"))
        .orderBy("doc_id")
    })

  /** Distinct (doc_id, window-hash) rows: width-[[SUB_W]] stride-
    * [[SUB_S]] character windows, h60-hashed in the scan's codegen
    * stage. Shared so specs can brute-force against the same window
    * definition.
    */
  /** (doc_id, unit_idx, uh) rows: consecutive [[PARA_W]]-word tiles
    * h60-hashed in the scan's codegen stage — the q_para_dedup unit
    * relation (text never leaves the narrow pass). Shared so specs can
    * brute-force against the same tiling.
    */
  def paraUnits(spark: SparkSession, d: String) =
    Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, (size(w) - 1) div $PARA_W),
             |  ui -> array_join(slice(w, ui * $PARA_W + 1, $PARA_W), ' '))"""
            .stripMargin)).as(Seq("unit_idx", "unit")))
      .select(col("doc_id"), col("unit_idx").cast("long").as("unit_idx"),
        Hashing.h60(col("unit")).as("uh"))

  def substrWindows(spark: SparkSession, d: String) =
    Tables.documents(spark, d)
      .filter(col("text").isNotNull && length(col("text")) >= SUB_W)
      .select(col("doc_id"),
        explode(expr(
          s"sequence(1, CAST((length(text) - $SUB_W) div $SUB_S AS INT) + 1)"))
          .as("i"), col("text"))
      .select(col("doc_id"),
        Hashing.h60(expr(s"substring(text, 1 + (i - 1) * $SUB_S, $SUB_W)"))
          .as("wh"))
      .distinct()
}
