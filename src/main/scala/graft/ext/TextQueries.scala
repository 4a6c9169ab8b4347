package graft.ext

import graft.{Hashing, Limits, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` corpus (north-star extensions):
  * token statistics, quality scoring, corpus-trained language ID, and
  * rolling-hash document fingerprinting (winnowing).
  *
  * Parity rules (QueryDef): ratios are double divisions of exact integers
  * (IEEE-exact, identical in both engines), every division is rounded to 6
  * digits at the end, and all ordering carries doc_id as total tiebreaker.
  *
  * 100 TB: each query is scan → narrow explode → one hash-aggregate keyed
  * by doc_id (or token), i.e. a single shuffle; the language profile is a
  * tiny aggregate a cluster would broadcast to the scoring join.
  */
object TextQueries {

  /** Stopword list for quality scoring (the corpus' closed-class tokens). */
  private val stopwords = Seq("a", "the", "of", "to", "and", "in")

  /** Deny-list pattern for q_text_scrub — word-bounded alternation, valid
    * and identical in Java regex (Spark) and RE2 (DuckDB). A PII scrub
    * swaps the alternation for email/phone/ID patterns; the plumbing —
    * count, replace, digest — is the operator.
    */
  private val scrubPat = "\\b(customer|supplier|order)\\b"
  private val stopSql = stopwords.map(s => s"'$s'").mkString(", ")

  /** Per-doc quality heuristics shared by `q_text_quality` and the
    * dedup keep-best composition (`q_dedup_keep_best`): token count,
    * average token length, stopword ratio, type-token ratio, and the
    * weighted quality score. All ratios round(…, 6) so the doubles are
    * bit-identical cross-engine (hash-gate proven) and therefore safe
    * as deterministic ORDER BY keys downstream.
    */
  def qualityPerDoc(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val nTok = col("n_tok").cast("double")
    TextOps.tokens(spark, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_uniq"),
        sum(length(col("tok"))).as("sum_len"),
        sum(when(col("tok").isin(stopwords: _*), 1).otherwise(0)).as("n_stop"))
      .select(col("doc_id"), col("n_tok"),
        round(col("sum_len").cast("double") / nTok, 6).as("avg_tok_len"),
        round(col("n_stop").cast("double") / nTok, 6).as("stop_ratio"),
        round(col("n_uniq").cast("double") / nTok, 6).as("type_token_ratio"),
        round(least(nTok / 64.0, lit(1.0)) * 0.5
          + (col("n_uniq").cast("double") / nTok) * 0.3
          + (lit(1.0) - col("n_stop").cast("double") / nTok) * 0.2, 6).as("quality"))
  }

  /** DuckDB twin of [[qualityPerDoc]] as CTEs `tokens, per_doc, quality`. */
  lazy val duckQualityCtes: String =
    s"""${TextOps.duckTokensCte},
       |per_doc AS (
       |  SELECT doc_id,
       |    COUNT(*) AS n_tok,
       |    COUNT(DISTINCT tok) AS n_uniq,
       |    CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
       |    CAST(SUM(CASE WHEN tok IN ($stopSql) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM tokens GROUP BY doc_id
       |), quality AS (
       |  SELECT doc_id, n_tok,
       |    round(CAST(sum_len AS DOUBLE) / n_tok, 6) AS avg_tok_len,
       |    round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio,
       |    round(CAST(n_uniq AS DOUBLE) / n_tok, 6) AS type_token_ratio,
       |    round(least(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 0.5
       |          + (CAST(n_uniq AS DOUBLE) / n_tok) * 0.3
       |          + (1.0 - CAST(n_stop AS DOUBLE) / n_tok) * 0.2, 6) AS quality
       |  FROM per_doc
       |)""".stripMargin

  /** Per-stratum cap for q_sample_capped. */
  private val CAP_K = 8

  /** Count-min sketch shape for q_heavy_hitters: depth (independent
    * hash rows) × width (buckets per row). Demo-sized for a 31-token
    * corpus so collisions actually occur (width 16 < vocabulary);
    * production sizes width ≈ e/ε for additive error ε·N.
    */
  val CMS_D = 4
  val CMS_W = 16

  /** Vocabulary size for q_vocab_oov (the synthetic corpus has 31
    * distinct tokens, so 16 leaves roughly half the token TYPES out of
    * vocabulary and exercises the tie-break at the boundary; a real
    * tokenizer-prep pass uses 32k–100k).
    */
  val VOCAB_V = 16

  /** Fixed query-term set for q_text_bm25 (mid-frequency corpus terms). */
  private val bm25Terms = Seq("spark", "hash", "merge", "scan")
  private val BmK1 = "1.2"
  private val BmB = "0.75"
  private val Bm25TopK = 50

  /** DuckDB side of q_text_bm25. Every float op is explicitly cast and
    * fixed-order so the Spark mirror is op-for-op identical.
    */
  private lazy val bm25Sql: String = {
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN tok = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
    }
    val dfCols = bm25Terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
    val terms = bm25Terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |  ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         |           / (CAST(df$i AS DOUBLE) + 0.5))
         |  * ((CAST(tf$i AS DOUBLE) * ($BmK1 + 1.0))
         |     / (CAST(tf$i AS DOUBLE)
         |        + $BmK1 * ((1.0 - $BmB)
         |                   + $BmB * (CAST(dl AS DOUBLE)
         |                             * CAST(nd AS DOUBLE)
         |                             / CAST(a AS DOUBLE)))))
         |ELSE 0.0 END""".stripMargin
    }
    s"""WITH ${TextOps.duckTokensCte},
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS dl, ${tfCols.mkString(", ")}
       |  FROM tokens GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS a,
       |    ${dfCols.mkString(", ")}
       |  FROM per_doc
       |), scored AS (
       |  SELECT doc_id, dl,
       |    round(${terms.mkString("\n + ")}, 6) AS bm25
       |  FROM per_doc CROSS JOIN stats
       |)
       |SELECT doc_id, dl, bm25 FROM scored WHERE bm25 > 0
       |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  /** Spark side of q_text_bm25 — see bm25Sql for the parity contract. */
  private def bm25(spark: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = TextOps.tokens(spark, d).select("doc_id", "tok")
    val perDoc = toks.groupBy("doc_id").agg(
      count(lit(1)).as("dl"),
      bm25Terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("tok") === t, 1).otherwise(0)).cast("long").as(s"tf$i")
      }: _*)
    val stats = perDoc.agg(
      count(lit(1)).as("nd"),
      (sum(col("dl")).cast("long").as("a") +:
        bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("long").as(s"df$i"))): _*)
    val k1 = BmK1.toDouble; val b = BmB.toDouble
    val ndD = col("nd").cast("double"); val aD = col("a").cast("double")
    val dlD = col("dl").cast("double")
    val termCols = bm25Terms.indices.map { i =>
      val tfD = col(s"tf$i").cast("double"); val dfD = col(s"df$i").cast("double")
      when(col(s"tf$i") > 0,
        log(lit(1.0) + (ndD - dfD + lit(0.5)) / (dfD + lit(0.5))) *
          ((tfD * lit(k1 + 1.0)) /
            (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (dlD * ndD / aD)))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        round(termCols.reduce(_ + _), 6).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- per-stratum cap sampling: keep at most K docs per
    //      (source, lang), chosen by deterministic h60 order — the
    //      "cap per domain" curation step that stops one over-crawled
    //      source from dominating a training mix. The row_number <= K
    //      filter triggers Spark's WindowGroupLimit rewrite (asserted in
    //      PlanSpec): each partition keeps a K-bounded heap instead of
    //      sorting whole strata, so a billion-doc stratum costs O(n)
    //      scan + O(K) state, not an O(n log n) sort.
    // ---- deterministic hash train/val/test split report: 80/10/10 by
    //      h60(doc_id, 'split') — the assignment rule a 100 TB corpus
    //      needs (pure function of the key: stable under reruns,
    //      re-partitioning, and incremental ingest — no global sort, no
    //      stored split table). Report = per (source, split): docs +
    //      chars, the stratification audit a pipeline owner reads to
    //      confirm no source is over-represented in eval. One narrow
    //      pass + one hash agg. ----
    "q_doc_split" -> QueryDef(
      s"""SELECT source,
         |  CASE WHEN h % 10 < 8 THEN 'train'
         |       WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM (SELECT source, n_chars,
         |        ${Hashing.duckH60("doc_id", "'split'")} AS h
         |      FROM documents)
         |GROUP BY 1, 2
         |ORDER BY source, split""".stripMargin) { (spark, d) =>
      Tables.documents(spark, d)
        .select(col("source"), col("n_chars"),
          (Hashing.h60(col("doc_id"), lit("split")) % 10).as("m"))
        .select(col("source"), col("n_chars"),
          when(col("m") < 8, "train").when(col("m") === 8, "val")
            .otherwise("test").as("split"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source", "split")
    },

    // ---- corpus filter funnel: per source, how many docs survive each
    //      cleaning stage (length → quality → exact-dedup keeper) — the
    //      yield report every ingest run emits. Cumulative conditional
    //      aggregation: ONE pass over per-doc flags, no per-stage
    //      rescans; the keeper flag reuses the exact-dedup rule (first
    //      doc_id per identical text hash). 100 TB: quality join
    //      shuffles on doc_id, keeper window on the text hash — both
    //      axes bounded; output is sources × 4 counters. ----
    "q_corpus_funnel" -> QueryDef(
      s"""WITH $duckQualityCtes,
         |flags AS (
         |  SELECT d.source, d.doc_id,
         |    d.n_chars >= 200 AS len_ok,
         |    q.quality >= 0.5 AS qual_ok,
         |    row_number() OVER (PARTITION BY ${Hashing.duckH60("d.text")}
         |      ORDER BY d.doc_id) = 1 AS keeper
         |  FROM documents d JOIN quality q ON q.doc_id = d.doc_id
         |)
         |SELECT source,
         |  COUNT(*) AS n_raw,
         |  CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
         |  CAST(SUM(CASE WHEN len_ok AND qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN len_ok AND qual_ok AND keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM flags
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (spark, d) =>
      val flags = Tables.documents(spark, d)
        .join(qualityPerDoc(spark, d).select("doc_id", "quality"), "doc_id")
        .select(col("source"),
          (col("n_chars") >= 200).as("len_ok"),
          (col("quality") >= 0.5).as("qual_ok"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(Hashing.h60(col("text")))
            .orderBy(col("doc_id"))) === 1).as("keeper"))
      flags.groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("len_ok"), 1).otherwise(0)).as("n_len"),
          sum(when(col("len_ok") && col("qual_ok"), 1).otherwise(0)).as("n_quality"),
          sum(when(col("len_ok") && col("qual_ok") && col("keeper"), 1)
            .otherwise(0)).as("n_kept"))
        .orderBy("source")
    },

    "q_sample_capped" -> QueryDef(
      s"""SELECT source, lang, doc_id, rk FROM (
         |  SELECT source, lang, doc_id,
         |    row_number() OVER (PARTITION BY source, lang
         |      ORDER BY ${Hashing.duckH60("doc_id")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $CAP_K
         |ORDER BY source, lang, rk""".stripMargin) { (spark, d) =>
      val w = Window.partitionBy(col("source"), col("lang"))
        .orderBy(Hashing.h60(col("doc_id")), col("doc_id"))
      Tables.documents(spark, d)
        .select("source", "lang", "doc_id")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= CAP_K)
        .orderBy("source", "lang", "rk")
    },

    // ---- decontamination: flag TRAIN docs sharing word 5-grams with an
    //      EVAL slice (benchmark-leakage check; the directional twin of
    //      dedup). The eval membership predicate here is doc_id % 10 — a
    //      real pipeline passes its benchmark table instead; everything
    //      else is the operator. Scale shape: WHEN the eval slice is
    //      genuinely small (real benchmark suites are ≤ millions of
    //      shingles) the distinct eval-shingle set broadcasts and the
    //      100 TB train side never shuffles. The demo predicate makes
    //      eval 10% of the corpus, which would NOT broadcast at scale —
    //      so the builder counts the eval set first and falls back to a
    //      shuffle join past the broadcast ceiling, the same auto-gate
    //      as VectorOps.cosineAuto.
    "q_decontaminate" -> QueryDef(
      s"""WITH ${TextOps.duckWordShinglesCte(5)},
         |hsh AS (
         |  SELECT DISTINCT doc_id, ${Hashing.duckH60("sh")} AS sh FROM shingles
         |), ev AS (
         |  SELECT DISTINCT sh FROM hsh WHERE doc_id % 10 = 0
         |), tr AS (
         |  SELECT doc_id, sh FROM hsh WHERE doc_id % 10 <> 0
         |)
         |SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(e.sh) AS n_shared,
         |       round(CAST(COUNT(e.sh) AS DOUBLE) / COUNT(*), 6) AS contamination
         |FROM tr t LEFT JOIN ev e ON e.sh = t.sh
         |GROUP BY t.doc_id
         |HAVING COUNT(e.sh) > 0
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      val sh = TextOps.wordShingleHashes(spark, d, 5)
      val ev = sh.filter(col("doc_id") % 10 === 0).select("sh").distinct()
        .withColumn("hit", lit(1L))
      // auto-gate: broadcast only a genuinely small eval set. The count
      // is memoized per scale dir (like VectorOps.corpusSize) instead of
      // persist()ing ev: a persist inside a lazily-returned plan can
      // never be unpersisted by this builder and would squat in executor
      // storage for the rest of the session (the r4 cache-pressure class)
      val nEv: Long = graft.Memo.cachedObj(spark, d,
        "text.evalShingleCount", (_: java.lang.Long) => 8L)(Long.box(ev.count()))
      val evSmall = nEv <= Limits.evalBroadcast
      val joined = sh.filter(col("doc_id") % 10 =!= 0)
        .join(if (evSmall) broadcast(ev) else ev, Seq("sh"), "left")
      joined
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6)
            .as("contamination"))
        .filter(col("n_shared") > 0)
        .orderBy("doc_id")
    },

    // ---- count-min sketch + heavy-hitter validation report: the
    //      mergeable frequency sketch built from relational primitives
    //      (h60 row-hashes mod width, one COUNT per cell) — because the
    //      cell math is deterministic integer+md5, the sketch is
    //      replayed EXACTLY in DuckDB, unlike opaque sketch builtins.
    //      Scale shape: ONE map-side-combined hash agg collapses the
    //      token stream to type-level counts (vocabulary-sized — the
    //      agg this report needs anyway), and the cells are built from
    //      the COUNTS: cell(d,b) = Σ counts of types hashing there,
    //      identical to hashing every occurrence but with D·|types| md5
    //      evaluations instead of D·|occurrences| (measured 50× faster
    //      at 30×/100× — SCALING.md; a sketch-only ingest pass that
    //      skips exact counts would use a cheap non-replayable hash
    //      per occurrence, xxhash64, and partial-aggregate to ≤ D·W
    //      rows per mapper — the mergeable-sketch property either way).
    //      The report joins the D·W-cell sketch (broadcast) back to the
    //      exact counts to expose each token's overestimate; production
    //      keeps only the cells and answers point queries from them.
    //      CMS guarantees est ≥ exact; the gate hash-checks the exact
    //      overestimates. ----
    "q_heavy_hitters" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), seeds AS (
         |  SELECT unnest(generate_series(0, ${CMS_D - 1})) AS d
         |), exact AS (
         |  SELECT t, COUNT(*) AS exact_n FROM tok GROUP BY t
         |), cells AS (
         |  SELECT d, ${Hashing.duckH60("d", "t")} % $CMS_W AS b,
         |         CAST(SUM(exact_n) AS BIGINT) AS c
         |  FROM exact CROSS JOIN seeds GROUP BY 1, 2
         |), est AS (
         |  SELECT e.t, e.exact_n, MIN(c.c) AS est_n
         |  FROM exact e CROSS JOIN seeds s
         |  JOIN cells c ON c.d = s.d
         |    AND c.b = ${Hashing.duckH60("s.d", "e.t")} % $CMS_W
         |  GROUP BY e.t, e.exact_n
         |)
         |SELECT t AS token, CAST(exact_n AS BIGINT) AS exact_n,
         |       CAST(est_n AS BIGINT) AS est_n,
         |       CAST(est_n - exact_n AS BIGINT) AS overest
         |FROM est ORDER BY token""".stripMargin) { (spark, d) =>
      val seeds = broadcast(
        spark.range(CMS_D).toDF("d").withColumn("d", col("d").cast("int")))
      val tok = Tables.documents(spark, d)
        .filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ", -1)).as("t"))
      val exact = tok.groupBy("t").agg(count(lit(1)).as("exact_n"))
      val cells = exact.crossJoin(seeds)
        .groupBy(col("d"), (Hashing.h60(col("d"), col("t")) % CMS_W).as("b"))
        .agg(sum(col("exact_n")).as("c"))
      exact.crossJoin(seeds)
        .withColumn("b", Hashing.h60(col("d"), col("t")) % CMS_W)
        .join(broadcast(cells), Seq("d", "b"))
        .groupBy(col("t"), col("exact_n"))
        .agg(min(col("c")).as("est_n"))
        .select(col("t").as("token"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overest"))
        .orderBy("token")
    },

    // ---- vocabulary construction + per-doc OOV rate: the
    //      tokenizer-prep step (build the top-V corpus vocabulary by
    //      frequency, then measure each document's out-of-vocabulary
    //      fraction — the signal that decides whether the tokenizer or
    //      the corpus needs work). Vocab = top-V tokens by count, ties
    //      broken by token string so the boundary is deterministic in
    //      both engines. Scale shape: token counts are ONE hash agg with
    //      map-side combine; top-V is a TakeOrderedAndProject (V rows,
    //      never a global sort); the per-doc side explodes tokens and
    //      BROADCAST-joins the V-row vocab (O(1) per token — a literal
    //      array_contains would be O(V) per token and die at a real 100k
    //      vocab), then aggregates by doc_id. explode preserves doc
    //      locality, so partial aggregation emits ~1 row per doc per
    //      mapper and the one shuffle carries 3 longs per document. ----
    "q_vocab_oov" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), vocab AS (
         |  SELECT t FROM (SELECT t, COUNT(*) AS c FROM tok GROUP BY t)
         |  ORDER BY c DESC, t LIMIT $VOCAB_V
         |), per AS (
         |  SELECT tok.doc_id, COUNT(*) AS n_tok,
         |         CAST(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_oov
         |  FROM tok LEFT JOIN vocab ON vocab.t = tok.t
         |  GROUP BY tok.doc_id
         |)
         |SELECT doc_id, n_tok, n_oov,
         |       round(CAST(n_oov AS DOUBLE) / n_tok, 6) AS oov_ratio
         |FROM per ORDER BY doc_id""".stripMargin) { (spark, d) =>
      val tok = Tables.documents(spark, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("t"))
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(VOCAB_V)
        .select(col("t"), lit(1L).as("hit"))
      tok.join(broadcast(vocab), Seq("t"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ratio",
          round(col("n_oov").cast("double") / col("n_tok"), 6))
        .orderBy("doc_id")
    },

    // ---- within-doc repetition scoring (the Gopher-class quality
    //      filter dedup can't express): duplicate word-3-gram fraction
    //      and the most-repeated gram's count, per document. Repetition
    //      is per-doc-LOCAL math, so the engine runs it as one fused
    //      narrow mapPartitions (split → hash 3-grams → count in a
    //      per-doc map, all in memory bounded by doc length): scan →
    //      map → done, ZERO shuffles at any corpus size — the same
    //      fusion playbook as the minhash/simhash signature passes
    //      (SCALING.md r3). The oracle keeps the relational spelling. ----
    "q_text_repetition" -> QueryDef(
      s"""WITH raw AS (
         |  SELECT doc_id, ${Hashing.duckH60("sh")} AS h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |             i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
         |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
         |), g AS (
         |  SELECT doc_id, h, COUNT(*) AS c FROM raw GROUP BY doc_id, h
         |), per AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |         COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS max_rep
         |  FROM g GROUP BY doc_id
         |)
         |SELECT doc_id, n_grams, n_distinct, max_rep,
         |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_fraction
         |FROM per ORDER BY doc_id""".stripMargin) { (spark, d) =>
      import spark.implicits._
      Tables.documents(spark, d).select("doc_id", "text").as[(Long, String)]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (docId, text) =>
            if (text == null) Iterator.empty else {
              val w = text.split(" ", -1)
              if (w.length < 3) Iterator.empty else {
                val counts = new java.util.HashMap[java.lang.Long, Long]
                var s = 0
                while (s + 3 <= w.length) {
                  val h = Hashing.h60Jvm(md, s"${w(s)} ${w(s + 1)} ${w(s + 2)}")
                  counts.put(h, counts.getOrDefault(h, 0L) + 1L)
                  s += 1
                }
                var total = 0L; var maxRep = 0L
                val vi = counts.values().iterator()
                while (vi.hasNext) {
                  val c = vi.next(); total += c; if (c > maxRep) maxRep = c
                }
                Iterator.single((docId, total, counts.size.toLong, maxRep))
              }
            }
          }
        }
        .toDF("doc_id", "n_grams", "n_distinct", "max_rep")
        // the division/rounding stays a Spark round() column so its
        // HALF_UP semantics match the already-gate-verified relational
        // form (a JVM-side BigDecimal would re-derive round parity)
        .withColumn("rep_fraction",
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    },

    // ---- token counting: whitespace tokens + regex word-run tokens ----
    "q_text_tokens" -> QueryDef(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens,
        |  length(text) AS n_chars,
        |  length(replace(text, ' ', '')) AS n_nonspace
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      Tables.documents(spark, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("n_re_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"))
        .orderBy("doc_id")
    },

    // ---- quality scoring: length/stopword/diversity heuristics ----
    "q_text_quality" -> QueryDef(
      s"""WITH $duckQualityCtes
         |SELECT doc_id, n_tok, avg_tok_len, stop_ratio, type_token_ratio, quality
         |FROM quality
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      qualityPerDoc(spark, d).orderBy("doc_id")
    },

    // ---- q_quality_gate: keep the top quality quintile — the "select
    //      the best X% by classifier score" curation gate (quality
    //      filtering à la CCNet/FineWeb, with this engine's heuristic
    //      score standing in for the model). The threshold is the exact
    //      global P80 of the per-doc quality (ONE percentile over
    //      8-byte rows — the honest exact price; approx_percentile is
    //      the 100 TB dial, and the in_bound flag proves the sketch
    //      lands inside the 3×rank-error bracket exactly like
    //      q_approx_quantiles); the corpus side is then a NARROW
    //      filter against the broadcast 1-row threshold. Per-source
    //      yield report = one conditional agg ----
    "q_quality_gate" -> QueryDef(
      s"""WITH $duckQualityCtes,
         |thr AS (SELECT quantile_cont(quality, 0.8) AS thr FROM quality)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN q.quality >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kept,
         |  round(CAST(SUM(CASE WHEN q.quality >= t.thr THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*), 6) AS kept_frac,
         |  round(t.thr, 6) AS threshold, TRUE AS approx_in_bound
         |FROM quality q
         |JOIN documents d USING (doc_id)
         |CROSS JOIN thr t
         |GROUP BY d.source, t.thr
         |ORDER BY d.source""".stripMargin) { (spark, d) =>
      val acc = 10000
      // bracket: approx_percentile returns an ACTUAL data value while
      // percentile interpolates — on a small/tied corpus a pure
      // rank-error bracket is degenerate (zero width), so the gate
      // widens to ±0.01 quantile: ≥ ±1 order statistic for n ≥ 100, and
      // still 100× the n/acc sketch error at any n
      val dq = 0.01
      val q = qualityPerDoc(spark, d).select("doc_id", "quality")
      val thr = q.agg(
        expr(s"percentile(quality, array(${0.8 - dq}D, 0.8D, ${0.8 + dq}D))")
          .as("ex"),
        expr(s"approx_percentile(quality, 0.8D, $acc)").as("ap"))
        .select(col("ex")(1).as("thr"),
          (col("ap") >= col("ex")(0) && col("ap") <= col("ex")(2))
            .as("approx_in_bound"))
      q.join(Tables.documents(spark, d).select("doc_id", "source"), "doc_id")
        .crossJoin(broadcast(thr))
        .groupBy(col("source"), col("thr"), col("approx_in_bound"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality") >= col("thr"), 1L).otherwise(0L)).as("kept"))
        .select(col("source"), col("n_docs"), col("kept"),
          round(col("kept").cast("double") / col("n_docs"), 6).as("kept_frac"),
          round(col("thr"), 6).as("threshold"), col("approx_in_bound"))
        .orderBy("source")
    },

    // ---- token-bigram LM statistics: top-3 continuations per token
    //      with conditional probability — the count table behind
    //      KenLM-style quality scoring and contamination probes. The
    //      bigram pairs are DOC-LOCAL: built narrowly from the split
    //      array (adjacent element structs, zero shuffle), then ONE
    //      map-side-combinable (tok, next) hash agg; the top-3 rank
    //      filter is the bounded WindowGroupLimit shape over the (far
    //      smaller) type-level table. The oracle spells the same pairs
    //      as a positional self-join — positions are consecutive, so
    //      the relations are identical. ----
    "q_lm_bigram" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |big AS (
         |  SELECT a.tok, b.tok AS next_tok, COUNT(*) AS c
         |  FROM tokens a JOIN tokens b
         |    ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT tok, CAST(SUM(c) AS BIGINT) AS n FROM big GROUP BY tok
         |)
         |SELECT tok, next_tok, c, round(CAST(c AS DOUBLE) / n, 6) AS p, rn
         |FROM (
         |  SELECT big.tok, next_tok, c, n,
         |    row_number() OVER (PARTITION BY big.tok
         |      ORDER BY c DESC, next_tok) AS rn
         |  FROM big JOIN tot ON tot.tok = big.tok)
         |WHERE rn <= 3
         |ORDER BY tok, rn""".stripMargin) { (spark, d) =>
      val big = Tables.documents(spark, d)
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          """CASE WHEN size(w) >= 2
            |THEN transform(sequence(1, size(w) - 1),
            |  i -> struct(element_at(w, CAST(i AS INT)) AS tok,
            |              element_at(w, CAST(i + 1 AS INT)) AS next_tok))
            |ELSE array() END""".stripMargin)).as("pr"))
        .select(col("pr.tok").as("tok"), col("pr.next_tok").as("next_tok"))
        .groupBy("tok", "next_tok").agg(count(lit(1)).as("c"))
      val tot = big.groupBy("tok").agg(sum(col("c")).as("n"))
      big.join(tot, "tok")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("tok")
            .orderBy(col("c").desc, col("next_tok"))))
        .filter(col("rn") <= 3)
        .select(col("tok"), col("next_tok"), col("c"),
          round(col("c").cast("double") / col("n"), 6).as("p"), col("rn"))
        .orderBy("tok", "rn")
    },

    // ---- bigram-LM perplexity scoring (the CCNet-style quality filter:
    //      score every doc by how surprising it is under a corpus-trained
    //      LM; high-ppl docs are noise candidates, low-ppl are
    //      boilerplate candidates). Determinism: each distinct bigram's
    //      −ln p (add-1 smoothed) is fixed-pointed ONCE into integer
    //      micro-nats, so the per-doc accumulation is an exact BIGINT sum
    //      — never a float sum across partitions; exp() runs once per doc
    //      on identical inputs (round-6 absorbs ulp drift, the MmdRbf
    //      contract). 100 TB: the weight table is bounded by the distinct
    //      -bigram vocabulary → broadcast; the corpus sees one narrow
    //      pair explode + one doc_id hash agg ----
    "q_lm_perplexity" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |dp AS (
         |  SELECT a.doc_id, a.tok AS l, b.tok AS r
         |  FROM tokens a JOIN tokens b
         |    ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |), big AS (
         |  SELECT l, r, CAST(COUNT(*) AS BIGINT) AS c2 FROM dp GROUP BY l, r
         |), tot AS (
         |  SELECT l, CAST(SUM(c2) AS BIGINT) AS n FROM big GROUP BY l
         |), vv AS (
         |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tokens
         |), w AS (
         |  SELECT big.l, big.r,
         |    CAST(round(ln((CAST(tot.n AS DOUBLE) + CAST(vv.v AS DOUBLE))
         |                  / (CAST(big.c2 AS DOUBLE) + 1.0)) * 1000000.0)
         |      AS BIGINT) AS nll_u
         |  FROM big JOIN tot ON tot.l = big.l CROSS JOIN vv
         |)
         |SELECT dp.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(w.nll_u) AS BIGINT) AS nll_micro,
         |  round(exp(CAST(SUM(w.nll_u) AS DOUBLE)
         |            / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)), 6) AS ppl
         |FROM dp JOIN w ON w.l = dp.l AND w.r = dp.r
         |GROUP BY dp.doc_id
         |ORDER BY dp.doc_id""".stripMargin) { (spark, d) =>
      val dp = Tables.documents(spark, d)
        .select(col("doc_id"), split(col("text"), " ").as("wd"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(wd) >= 2
            |THEN transform(sequence(1, size(wd) - 1),
            |  i -> struct(element_at(wd, CAST(i AS INT)) AS l,
            |              element_at(wd, CAST(i + 1 AS INT)) AS r))
            |ELSE array() END""".stripMargin)).as("pr"))
        .select(col("doc_id"), col("pr.l").as("l"), col("pr.r").as("r"))
      val big = dp.groupBy("l", "r").agg(count(lit(1)).cast("long").as("c2"))
      val tot = big.groupBy("l").agg(sum(col("c2")).cast("long").as("n"))
      val v = TextOps.tokens(spark, d)
        .select("tok").distinct().count()
      val w = big.join(tot, "l")
        .select(col("l"), col("r"),
          round(log((col("n").cast("double") + lit(v.toDouble))
            / (col("c2").cast("double") + lit(1.0))) * lit(1000000.0))
            .cast("long").as("nll_u"))
      dp.join(broadcast(w), Seq("l", "r"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("nll_u")).cast("long").as("nll_micro"))
        .select(col("doc_id"), col("n_pairs"), col("nll_micro"),
          round(exp(col("nll_micro").cast("double")
            / (col("n_pairs").cast("double") * lit(1000000.0))), 6).as("ppl"))
        .orderBy("doc_id")
    },

    // ---- corpus-trained n-gram language ID ----
    // The classifier is real (per-language token frequency profile,
    // fixed-point integer weights, argmax with deterministic tiebreak);
    // the labels come from the corpus itself, so this doubles as a
    // label-agreement audit. At 100 TB the profile is a tiny broadcast
    // dimension and the scoring join is a map-side hash join.
    "q_text_langid" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |lang_tot AS (
         |  SELECT lang, COUNT(*) AS n_l FROM tokens GROUP BY lang
         |), profile AS (
         |  SELECT t.lang, t.tok,
         |    CAST(round(1000000.0 * COUNT(*) / MIN(lt.n_l)) AS BIGINT) AS w
         |  FROM tokens t JOIN lang_tot lt ON t.lang = lt.lang
         |  GROUP BY t.lang, t.tok
         |), doc_scores AS (
         |  SELECT t.doc_id, p.lang AS cand_lang,
         |    CAST(SUM(p.w) AS BIGINT) AS score
         |  FROM tokens t JOIN profile p ON t.tok = p.tok
         |  GROUP BY t.doc_id, p.lang
         |), pred AS (
         |  SELECT doc_id, cand_lang AS pred_lang FROM (
         |    SELECT doc_id, cand_lang,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, cand_lang) AS rn
         |    FROM doc_scores)
         |  WHERE rn = 1
         |)
         |SELECT d.lang AS actual_lang, p.pred_lang, COUNT(*) AS n
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY d.lang, p.pred_lang
         |ORDER BY actual_lang, pred_lang""".stripMargin) { (spark, d) =>
      val toks = TextOps.tokens(spark, d)
      val langTot = toks.groupBy("lang").agg(count(lit(1)).as("n_l"))
      val profile = toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("n_lt"))
        .join(langTot, "lang")
        .select(col("lang"), col("tok"),
          round(lit(1000000.0) * col("n_lt") / col("n_l"), 0).cast("long").as("w"))
      val scores = toks.select(col("doc_id"), col("tok"))
        .join(broadcast(profile.withColumnRenamed("lang", "cand_lang")), "tok")
        .groupBy("doc_id", "cand_lang")
        .agg(sum(col("w")).as("score"))
      val pred = scores
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand_lang"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang").as("pred_lang"))
      Tables.documents(spark, d).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang").as("actual_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("actual_lang", "pred_lang")
    },

    // ---- winnowing fingerprint: rolling char-8-gram hashes, window-4 min ----
    "q_text_fingerprint" -> QueryDef(
      s"""WITH ${TextOps.duckCharShingleHashesCte(8)},
         |winnowed AS (
         |  SELECT DISTINCT doc_id, wmin FROM (
         |    SELECT doc_id, p,
         |      MIN(h) OVER (PARTITION BY doc_id ORDER BY p
         |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |      COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
         |    FROM char_hashes)
         |  WHERE p <= n_sh - 3
         |), ranked AS (
         |  SELECT doc_id, wmin,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY wmin) AS rn
         |  FROM winnowed
         |)
         |SELECT doc_id, COUNT(*) AS n_fp,
         |  CAST(MIN(wmin) AS BIGINT) AS min_fp,
         |  CAST(SUM(CASE WHEN rn <= 4 THEN wmin ELSE 0 END) AS BIGINT) AS bottom4_sum
         |FROM ranked GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      // winnowing is per-document, so the whole pass fuses into one
      // narrow mapPartitions — the relational formulation exploded
      // |chars| rows through two window shuffles (34.5s → ~1s at the
      // 10× scale dir). The oracle CTE keeps the relational spelling.
      // NOTE: positions use String (UTF-16) units, matching SQL
      // length/substring only for BMP text; a corpus with
      // supplementary-plane chars needs codePoint-based stepping here.
      import spark.implicits._
      Tables.documents(spark, d).select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (docId, text) =>
            val nSh = text.length - 7
            val pMax = nSh - 3
            if (pMax < 1) Iterator.empty
            else {
              val hs = Array.tabulate(nSh)(p0 =>
                graft.Hashing.h60Jvm(md, text.substring(p0, p0 + 8)))
              val mins = new java.util.TreeSet[java.lang.Long]()
              var p = 0
              while (p < pMax) {
                var m = hs(p)
                var k = 1
                while (k <= 3) { if (hs(p + k) < m) m = hs(p + k); k += 1 }
                mins.add(m)
                p += 1
              }
              val it2 = mins.iterator()
              var bottom4 = 0L
              var taken = 0
              while (it2.hasNext && taken < 4) { bottom4 += it2.next(); taken += 1 }
              Iterator.single((docId, mins.size.toLong, mins.first().longValue(), bottom4))
            }
          }
        }
        .toDF("doc_id", "n_fp", "min_fp", "bottom4_sum")
        .orderBy("doc_id")
    },

    // ---- deny-list scrubbing: the blocklist-redaction step of a
    //      training-data pipeline (sensitive/blocked terms masked before
    //      training; same plumbing as PII regexes — the pattern is the
    //      only swap). One narrow codegen pass: match count, redacted
    //      text digest, and the residual length — any wrong or missed
    //      replacement changes the md5. ----
    "q_text_scrub" -> QueryDef(
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$scrubPat')) AS n_redacted,
         |  md5(regexp_replace(text, '$scrubPat', '[X]', 'g')) AS scrub_sig,
         |  length(regexp_replace(text, '$scrubPat', '[X]', 'g')) AS n_chars_scrubbed
         |FROM documents
         |ORDER BY doc_id""".stripMargin) { (spark, d) =>
      // the pattern is passed as a Column literal, NEVER through expr():
      // Spark's SQL parser C-escapes '\b' to backspace inside string
      // literals, silently breaking the word boundary that DuckDB's
      // non-escaping literal preserves
      Tables.documents(spark, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(scrubPat), lit(0)))
          .cast("long").as("n_redacted"),
        md5(regexp_replace(col("text"), scrubPat, "[X]")).as("scrub_sig"),
        length(regexp_replace(col("text"), scrubPat, "[X]"))
          .cast("long").as("n_chars_scrubbed"))
        .orderBy("doc_id")
    },

    // ---- tf-idf term extraction: per-doc top-3 terms by tf·ln(N/df).
    //      Two hash aggregates (term frequency per doc, document
    //      frequency per term) + a broadcast-sized df join + a bounded
    //      per-doc window — the standard distributed tf-idf shape; the
    //      df relation is vocabulary-sized (tiny even at web scale).
    //      ln parity across engines is already exercised by the NDCG
    //      oracle; scores round to 6 digits. ----
    "q_text_tfidf" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM tokens GROUP BY doc_id, tok
         |), df AS (
         |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY tok
         |), n AS (
         |  SELECT COUNT(*) AS n_docs FROM documents
         |), scored AS (
         |  SELECT tf.doc_id, tf.tok,
         |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
         |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
         |)
         |SELECT doc_id, tok, tfidf, rn FROM (
         |  SELECT doc_id, tok, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, tok) AS rn
         |  FROM scored)
         |WHERE rn <= 3
         |ORDER BY doc_id, rn""".stripMargin) { (spark, d) =>
      val toks = TextOps.tokens(spark, d).select("doc_id", "tok")
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = Tables.documents(spark, d).count()
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("tok"))
      tf.join(broadcast(df), "tok")
        .select(col("doc_id"), col("tok"),
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6).as("tfidf"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    },

    // ---- BM25 keyword retrieval (Okapi, k1=1.2 b=0.75): score every doc
    //      against a fixed query-term set and return the top 50 — the
    //      lexical half of a RAG retrieval stack (the dense half is
    //      q_sim_topk/q_sim_lsh). Shape: the SAME per-doc token aggregate
    //      as q_text_tokens computes dl and the ≤4 conditional tf columns
    //      in one pass (pivoted to FIXED columns so the final score is a
    //      fixed-order IEEE sum — never a float groupBy-sum, whose
    //      partition order is nondeterministic); df/N/avgdl reduce to ONE
    //      broadcast row; top-50 is TakeOrderedAndProject. ln drift is
    //      absorbed by round(...,6) (same contract as tf-idf/NDCG). ----
    "q_text_bm25" -> QueryDef(bm25Sql) { (spark, d) => bm25(spark, d) },

    // ---- q_rrf_fusion: reciprocal-rank fusion of the LEXICAL (BM25,
    //      q_text_bm25's exact subtree) and DENSE (fixed-point embedding
    //      dot, q_auc's probe trick) retrieval lists — the standard
    //      hybrid-RAG merge (Cormack et al.: score = Σ 1/(60+rank)).
    //      Ranks, not scores, cross the fusion boundary, so the two
    //      retrievers' incomparable scales never mix; each list is a
    //      top-50 TakeOrderedAndProject with a total tiebreak, the full
    //      outer join runs over ≤100 rows, and the fused score is at
    //      most two IEEE divisions + one add in a fixed written order —
    //      bit-reproducible cross-engine. 100 TB: each retriever keeps
    //      its own documented scale path; fusion cost is O(k) always ----
    "q_rrf_fusion" -> QueryDef(
      s"""WITH lex AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl
         |  FROM ($bm25Sql)
         |), dense AS (
         |  SELECT vec_id AS doc_id,
         |    row_number() OVER (ORDER BY s DESC, vec_id) AS rd
         |  FROM (
         |    SELECT vec_id,
         |      SUM(${VectorOps.duckFixed("x")}
         |          * ((i * 2654435761) % 2001 - 1000)) AS s
         |    FROM (SELECT vec_id, unnest(embedding) AS x,
         |          generate_subscripts(embedding, 1) AS i FROM embeddings)
         |    GROUP BY vec_id
         |    ORDER BY s DESC, vec_id LIMIT 50)
         |)
         |SELECT COALESCE(l.doc_id, e.doc_id) AS doc_id,
         |  l.rl AS lex_rank, e.rd AS dense_rank,
         |  round(COALESCE(1.0 / (60 + l.rl), 0.0)
         |      + COALESCE(1.0 / (60 + e.rd), 0.0), 6) AS rrf
         |FROM lex l FULL JOIN dense e ON e.doc_id = l.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (spark, d) =>
      graft.functions.FixedDot.ensureRegistered(spark)
      val w50 = Window.orderBy(col("bm25").desc, col("doc_id"))
      val lex = bm25(spark, d)
        .select(col("doc_id"), row_number().over(w50).cast("long").as("rl"))
      val dense = graft.Tables.embeddings(spark, d)
        .select(col("vec_id"),
          expr(s"""fixed_dot(
            |  ${VectorOps.fixedEmbeddingSql},
            |  transform(sequence(1, size(embedding)),
            |            i -> (cast(i as bigint) * 2654435761L) % 2001 - 1000))"""
            .stripMargin).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(50)
        .select(col("vec_id").as("doc_id"),
          row_number().over(Window.orderBy(col("s").desc, col("vec_id")))
            .cast("long").as("rd"))
      lex.as("l").join(dense.as("e"), col("l.doc_id") === col("e.doc_id"),
          "full_outer")
        .select(coalesce(col("l.doc_id"), col("e.doc_id")).as("doc_id"),
          col("l.rl").as("lex_rank"), col("e.rd").as("dense_rank"),
          round(coalesce(lit(1.0) / (lit(60) + col("l.rl")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("e.rd")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    },

    // ---- DSIR-style importance scoring: rank out-of-domain docs by how
    //      target-like their hashed-bigram distribution is (data
    //      selection via importance resampling — the standard "pick
    //      web pages that look like the target domain" curation step).
    //      The paper's trick IS the scale story: bigrams hash into a
    //      FIXED 8192-bucket feature space, so the profile/weight table
    //      is O(8192) regardless of corpus size — genuinely
    //      broadcastable at 100 TB where a raw bigram vocabulary is not.
    //      All math is integer: per-bucket per-million rates via floor
    //      division (non-negative, so Spark `div` = DuckDB `//`), weight
    //      = rate_target − rate_background, doc score = Σ count·weight.
    //      Two narrow bigram passes (profile build, scoring) + one
    //      doc_id hash agg — no joins wider than the 8192-row broadcast.
    "q_select_dsir" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |pairs AS (
         |  SELECT a.doc_id, a.source,
         |    ${Hashing.duckH60("a.tok || ' ' || b.tok")} % 8192 AS b
         |  FROM tokens a JOIN tokens b
         |    ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |), prof AS (
         |  SELECT b,
         |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM pairs GROUP BY b
         |), tot AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cb) AS BIGINT) AS tb
         |  FROM prof
         |), w AS (
         |  SELECT b, (1000000 * ct) // tt - (1000000 * cb) // tb AS w
         |  FROM prof CROSS JOIN tot
         |), scored AS (
         |  SELECT p.doc_id, COUNT(*) AS n_pairs, CAST(SUM(w.w) AS BIGINT) AS score
         |  FROM pairs p JOIN w USING (b)
         |  WHERE p.source <> 'src0'
         |  GROUP BY p.doc_id
         |)
         |SELECT doc_id, n_pairs, score, score > 0 AS selected
         |FROM scored ORDER BY doc_id""".stripMargin) { (spark, d) =>
      import spark.implicits._
      // ONE fused narrow pass (the q_span_dup playbook: hash doc-local
      // text in the JVM, never re-run an expression-md5 explosion per
      // consumer): per doc, adjacent-pair h60 % 8192 counted in a local
      // map — the shuffle carries (doc, bucket, count), not occurrences.
      // `split(" ", -1)` keeps trailing empties, matching Spark SQL
      // split / DuckDB string_split.
      val docCounts = Tables.documents(spark, d)
        .select("doc_id", "source", "text").as[(Long, String, String)]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, src, text) =>
            val w = if (text == null) Array.empty[String]
                    else text.split(" ", -1)
            if (w.length < 2) Iterator.empty
            else {
              val m = new java.util.HashMap[Long, Long]()
              var i = 0
              while (i + 1 < w.length) {
                m.merge(Hashing.h60Jvm(md, w(i) + " " + w(i + 1)) % 8192,
                  1L, _ + _)
                i += 1
              }
              val b = Array.newBuilder[(Long, String, Long, Long)]
              m.forEach((bk, c) => b += ((id, src, bk, c)))
              b.result().iterator
            }
          }
        }.toDF("doc_id", "source", "b", "c")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val prof = docCounts.groupBy("b").agg(
        sum(when(col("source") === "src0", col("c")).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= "src0", col("c")).otherwise(0L)).as("cb"))
      val tot = prof.agg(sum(col("ct")).as("tt"), sum(col("cb")).as("tb"))
      val w = prof.crossJoin(broadcast(tot))
        .select(col("b"),
          expr("(1000000 * ct) div tt - (1000000 * cb) div tb").as("w"))
      docCounts.filter(col("source") =!= "src0")
        .join(broadcast(w), "b")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_pairs"),
          sum(col("c") * col("w")).as("score"))
        .select(col("doc_id"), col("n_pairs"), col("score"),
          (col("score") > 0).as("selected"))
        .orderBy("doc_id")
    },

    // ---- PMI collocation mining: the corpus-wide top-50 bigram
    //      collocations by pointwise mutual information with a min-count
    //      support filter — the phrase/tokenizer-merge analysis step
    //      (what BPE merges and stop-phrase lists are read off of).
    //      PMI needs log(c_xy·N / (c_x·c_y)) only for RANKING, and log is
    //      monotone — so the ORDER BY key is the ratio itself, computed
    //      exactly in integers via a documented two-step fixed point:
    //      ((1e6·c_xy) div c_x · N) div c_y. Step one is ≤1e6 (c_xy ≤
    //      c_x), step two ≤1e6·N — no BIGINT overflow at any corpus size,
    //      and both engines floor identically on non-negative operands.
    //      Plan: the type-level bigram table (ONE map-side-combinable
    //      hash agg over doc-local pairs, persisted — it feeds four
    //      consumers) + two marginal aggs + a 1-row total crossJoin;
    //      global top-50 is a TakeOrderedAndProject, never a full sort.
    "q_collocations" -> QueryDef(
      s"""WITH ${TextOps.duckTokensCte},
         |big AS (
         |  SELECT a.tok, b.tok AS next_tok, COUNT(*) AS c
         |  FROM tokens a JOIN tokens b
         |    ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  GROUP BY 1, 2
         |), cx AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cx FROM big GROUP BY tok),
         |cy AS (SELECT next_tok, CAST(SUM(c) AS BIGINT) AS cy FROM big GROUP BY next_tok),
         |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM big)
         |SELECT tok, next_tok, c, cx, cy,
         |  (((1000000 * c) // cx) * n) // cy AS pmi_fp
         |FROM big JOIN cx USING (tok) JOIN cy USING (next_tok) CROSS JOIN n
         |WHERE c >= 5
         |ORDER BY pmi_fp DESC, tok, next_tok LIMIT 50""".stripMargin) { (spark, d) =>
      val big = Tables.documents(spark, d)
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          """CASE WHEN size(w) >= 2
            |THEN transform(sequence(1, size(w) - 1),
            |  i -> struct(element_at(w, CAST(i AS INT)) AS tok,
            |              element_at(w, CAST(i + 1 AS INT)) AS next_tok))
            |ELSE array() END""".stripMargin)).as("pr"))
        .select(col("pr.tok").as("tok"), col("pr.next_tok").as("next_tok"))
        .groupBy("tok", "next_tok").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cx = big.groupBy("tok").agg(sum(col("c")).as("cx"))
      val cy = big.groupBy("next_tok").agg(sum(col("c")).as("cy"))
      val n = big.agg(sum(col("c")).as("n"))
      big.join(cx, "tok").join(cy, "next_tok").crossJoin(broadcast(n))
        .filter(col("c") >= 5)
        .select(col("tok"), col("next_tok"), col("c"), col("cx"), col("cy"),
          expr("(((1000000 * c) div cx) * n) div cy").as("pmi_fp"))
        .orderBy(col("pmi_fp").desc, col("tok"), col("next_tok"))
        .limit(50)
    })
}
