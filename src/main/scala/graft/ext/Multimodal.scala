package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star extensions): image/audio/video
  * as opaque `binary` payloads with typed metadata, plus a batched
  * decode / feature-extract pass.
  *
  * The container has no media codecs, so the DECODE step is a
  * deterministic STUB (`fakeDecode` — byte histogram + header-derived
  * dimensions); everything around it — the binary column, the metadata
  * schema, the mapPartitions batch shape (fixed-size decode batches, the
  * way a GPU/codec worker consumes them), the partition-parallel
  * execution — is real and tested (MultimodalSpec).
  *
  * Payloads are synthesized from `documents.text` bytes so the pipeline
  * is reproducible against the driver tables; swap [[media]]'s payload
  * expression for a real binary column at integration time.
  *
  * 100 TB: payload rows are large, so the scan relies on parquet column
  * pruning (metadata-only queries never read payload bytes) and the
  * decode pass is embarrassingly parallel per partition; batch size
  * bounds decoder memory, and `spark.sql.files.maxPartitionBytes` bounds
  * per-task payload volume.
  */
object Multimodal {

  val BATCH = 64

  /** The typed media table: (doc_id, kind, meta struct, payload binary). */
  def media(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END").as("kind"),
      struct(col("source"), col("lang"), col("n_chars").as("raw_len")).as("meta"),
      encode(col("text"), "UTF-8").as("payload"))

  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])
  final case class DecodedRow(doc_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, hist: Array[Long],
      resized_w: Int, resized_h: Int, frame_samples: Array[Long])

  /** Target edge for the resize stub (aspect-preserving fit). */
  val RESIZE_TO = 64
  /** Frame-sample stride: one "frame" per 256-byte block. */
  val FRAME_BLOCK = 256
  val MAX_FRAMES = 8

  /** Deterministic stand-in for a real codec covering the full stub
    * surface — decode ("dimensions" from header bytes), feature-extract
    * (16-bin byte histogram), resize (aspect-preserving fit to
    * [[RESIZE_TO]]), frame-sample (checksum of every [[FRAME_BLOCK]]-byte
    * block, first [[MAX_FRAMES]]). A real integration replaces ONLY this
    * function; schema, batching and partitioning stay.
    */
  def fakeDecode(r: MediaRow): DecodedRow = {
    val b = r.payload
    val w = 64 + (if (b.length > 0) (b(0) & 0xff) % 192 else 0)
    val h = 64 + (if (b.length > 1) (b(1) & 0xff) % 192 else 0)
    val hist = new Array[Long](16)
    var i = 0
    while (i < b.length) { hist((b(i) & 0xff) % 16) += 1; i += 1 }
    // aspect-preserving fit: longest edge -> RESIZE_TO. Integer HALF_UP
    // rounding (floor((2·e·RESIZE_TO + m) / 2m) ≡ round(e·RESIZE_TO/m))
    // so the arithmetic replays exactly in integer SQL — double rounding
    // is engine-internal, integer division is not.
    val m = math.max(w, h)
    val (rw, rh) = (math.max(1, (2 * w * RESIZE_TO + m) / (2 * m)),
      math.max(1, (2 * h * RESIZE_TO + m) / (2 * m)))
    val nFrames = math.min(MAX_FRAMES, (b.length + FRAME_BLOCK - 1) / FRAME_BLOCK)
    val frames = Array.tabulate(nFrames) { f =>
      var s = 0L
      var j = f * FRAME_BLOCK
      val end = math.min(b.length, j + FRAME_BLOCK)
      while (j < end) { s += (b(j) & 0xff); j += 1 }
      s
    }
    DecodedRow(r.doc_id, r.kind, b.length, w, h, hist, rw, rh, frames)
  }

  /** Batched decode: partitions stream through [[fakeDecode]] in
    * fixed-size batches (the decoder-worker shape — a real codec amortizes
    * model/codec setup across the batch).
    */
  def decodeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    media(spark, sfDir)
      // a null payload (null source text) is undecodable — drop it, like
      // the oracle's WHERE text IS NOT NULL
      .filter(col("payload").isNotNull)
      .select("doc_id", "kind", "payload").as[MediaRow]
      .repartition(spark.sparkContext.defaultParallelism) // decode in parallel
      .mapPartitions(_.grouped(BATCH).flatMap(batch => batch.map(fakeDecode)))
      .toDF()
  }

  /** Perceptual-hash bits: the payload is treated as a [[PH_BITS]]-cell
    * grid of mean byte intensities (the byte-stream analog of aHash's
    * 8×8 grayscale grid); bit j = 1 iff cell j's mean exceeds the global
    * mean. 60 bits keeps every shifted value inside a signed BIGINT in
    * both engines (the h60 hygiene rule).
    */
  val PH_BITS = 60
  /** 4 LSH blocks of 15 bits: any pair within hamming [[PH_MAX_HAMMING]]
    * = 3 shares at least one identical block (pigeonhole), so
    * block-bucketing finds all of them without an all-pairs join — the
    * same guarantee as the SimHash byte-block scheme.
    */
  val PH_BLOCKS = 4
  val PH_MAX_HAMMING = 3

  /** aHash over the payload byte stream: segment j (0-based byte i maps
    * to `i·PH_BITS / n`) scores 1 iff its mean byte value exceeds the
    * whole payload's mean — compared cross-multiplied (`sum_j·n >
    * total·count_j`) so the math is integer-exact and replays in SQL.
    * Unrelated payloads land ~30 hamming apart (each bit is an
    * independent sign test); near-identical payloads flip only the few
    * cells the edit touched. A real integration swaps this for a DCT
    * pHash over the decoded pixel grid; the signature width, blocking
    * and verify stay.
    */
  def perceptualHash(b: Array[Byte]): Long = {
    val n = b.length
    val sums = new Array[Long](PH_BITS)
    val cnts = new Array[Long](PH_BITS)
    var t = 0L
    var i = 0
    while (i < n) {
      val j = ((i.toLong * PH_BITS) / n).toInt
      val v = (b(i) & 0xff).toLong
      sums(j) += v; cnts(j) += 1; t += v
      i += 1
    }
    var ph = 0L
    var j = 0
    while (j < PH_BITS) {
      if (sums(j) * n > t * cnts(j)) ph |= 1L << j
      j += 1
    }
    ph
  }

  /** (doc_id, kind, phash) in ONE fused narrow pass — doc-local byte
    * math inside mapPartitions, zero shuffles at any corpus size (the
    * q_text_repetition/q_span_dup pattern). Callers pass a (doc_id,
    * kind, payload) relation; empty payloads must be excluded upstream —
    * their signature is vacuously 0 and would bucket every empty doc
    * with every other.
    */
  def perceptualHashesOf(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select("doc_id", "kind", "payload").as[MediaRow]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(r => (r.doc_id, r.kind, perceptualHash(r.payload))))
      .toDF("doc_id", "kind", "phash")
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- metadata + content hashing over the binary column ----
    "q_mm_meta" -> QueryDef(
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |  COUNT(*) AS n,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
        |  COUNT(DISTINCT md5(text)) AS n_distinct_content,
        |  MIN(md5(text)) AS min_md5
        |FROM documents
        |GROUP BY 1
        |ORDER BY kind""".stripMargin) { (spark, d) =>
      media(spark, d)
        .select(col("kind"), length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("h"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          max(col("n_bytes")).cast("long").as("max_bytes"),
          countDistinct(col("h")).as("n_distinct_content"),
          min(col("h")).as("min_md5"))
        .orderBy("kind")
    },

    // ---- batched stub decode, ORACLE-GATED ----
    // fakeDecode is deterministic byte math over the UTF-8 payload, so
    // DuckDB replays it from hex(encode(text)): byte i is the i-th hex
    // pair. The histogram checksum collapses algebraically —
    // Σ_k hist[k]·(k+1) = Σ_bytes (b%16 + 1) — and frames_sum is the sum
    // of bytes in the first MAX_FRAMES·FRAME_BLOCK positions. Array
    // columns (hist, frame_samples) are projected to these scalar
    // checksums: the driver's pandas-based compare cannot sort/hash
    // ndarray cells (CORRECTNESS_r02 `err`). Raw arrays stay covered by
    // ExtSpec's decode invariants.
    "q_mm_features" -> QueryDef(
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    hex(encode(text)) AS hx,
         |    CAST(octet_length(encode(text)) AS INT) AS n_bytes
         |  FROM documents WHERE text IS NOT NULL
         |), dims AS (
         |  SELECT doc_id, kind, n_bytes,
         |    64 + CASE WHEN n_bytes > 0
         |      THEN CAST(('0x' || substr(hx, 1, 2)) AS INT) % 192 ELSE 0 END AS width,
         |    64 + CASE WHEN n_bytes > 1
         |      THEN CAST(('0x' || substr(hx, 3, 2)) AS INT) % 192 ELSE 0 END AS height
         |  FROM m
         |), bytes AS (
         |  SELECT doc_id, i, CAST(('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2)) AS INT) AS b
         |  FROM (SELECT doc_id, hx, unnest(generate_series(1, n_bytes)) AS i FROM m)
         |), agg AS (
         |  SELECT doc_id,
         |    CAST(SUM(b % 16 + 1) AS BIGINT) AS hist_checksum,
         |    CAST(SUM(CASE WHEN i <= ${MAX_FRAMES * FRAME_BLOCK} THEN b ELSE 0 END)
         |         AS BIGINT) AS frames_sum
         |  FROM bytes GROUP BY doc_id
         |)
         |SELECT d.doc_id, d.kind, d.n_bytes, d.width, d.height,
         |  COALESCE(a.hist_checksum, 0) AS hist_checksum,
         |  CAST(16 AS INT) AS hist_bins,
         |  CAST(greatest(1, (2 * width * $RESIZE_TO + greatest(width, height))
         |       // (2 * greatest(width, height))) AS INT) AS resized_w,
         |  CAST(greatest(1, (2 * height * $RESIZE_TO + greatest(width, height))
         |       // (2 * greatest(width, height))) AS INT) AS resized_h,
         |  CAST(least($MAX_FRAMES, (d.n_bytes + ${FRAME_BLOCK - 1}) // $FRAME_BLOCK) AS INT)
         |    AS n_frames,
         |  COALESCE(a.frames_sum, 0) AS frames_sum
         |FROM dims d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (spark, d) =>
      decodeFeatures(spark, d)
        .select(col("doc_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"),
          // position-weighted checksum so any bin permutation changes it
          expr("aggregate(zip_with(hist, sequence(1, size(hist)), (h, i) -> h * i), " +
            "0L, (acc, x) -> acc + x)").as("hist_checksum"),
          size(col("hist")).as("hist_bins"),
          col("resized_w"), col("resized_h"),
          size(col("frame_samples")).as("n_frames"),
          expr("aggregate(frame_samples, 0L, (acc, x) -> acc + x)").as("frames_sum"))
        .orderBy("doc_id")
    },

    // ---- perceptual-hash near-duplicate detection over the payload ----
    // The image-dedup twin of q_dedup_simhash: byte-grid aHash signature
    // (stub for a decoded-pixel pHash), 15-bit byte-block LSH
    // (pigeonhole-complete <= PH_MAX_HAMMING), exact hamming verify,
    // kind-restricted (an image is never a near-dup of an audio clip).
    // The probe data is the dedup family's re-ingest crawl with a
    // same-length payload MUTATION (case-flip of ' the ' — the 999999
    // offset preserves doc_id % 3, so a copy keeps its kind): measured at
    // sf0.01, 142/167 mutated copies land within hamming 3 of their
    // original and the tail is genuinely missed — honest recall, not
    // verbatim replication. The oracle replays the signature from
    // hex(encode(text)) byte pairs exactly like q_mm_features. 100 TB:
    // one narrow signature pass over the payload scan, a 4-row-per-doc
    // banded self-join on tiny (bi, blk, kind) keys, verify on 8-byte
    // signatures — never payload bytes — so the shuffle carries
    // signatures, not media.
    "q_mm_neardup" -> QueryDef(
      s"""WITH crawl AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
         |  UNION ALL
         |  SELECT doc_id + 999999, replace(text, ' the ', ' THE ')
         |  FROM documents
         |  WHERE doc_id % 3 = 0 AND text IS NOT NULL
         |    AND octet_length(encode(text)) > 0
         |), m AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    hex(encode(text)) AS hx,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM crawl
         |), bytes AS (
         |  SELECT doc_id, n, i,
         |    CAST(('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2)) AS INT) AS b,
         |    CAST((i - 1) * $PH_BITS // n AS INT) AS j
         |  FROM (SELECT doc_id, hx, n, unnest(generate_series(1, CAST(n AS INT))) AS i
         |        FROM m)
         |), segs AS (
         |  SELECT doc_id, n, j, CAST(SUM(b) AS BIGINT) AS s, COUNT(*) AS c
         |  FROM bytes GROUP BY doc_id, n, j
         |), tot AS (
         |  SELECT doc_id, CAST(SUM(b) AS BIGINT) AS t FROM bytes GROUP BY doc_id
         |), ph AS (
         |  SELECT s.doc_id,
         |    CAST(SUM(CASE WHEN s.s * s.n > t.t * s.c
         |         THEN (CAST(1 AS BIGINT) << s.j) ELSE 0 END) AS BIGINT) AS phash
         |  FROM segs s JOIN tot t USING (doc_id) GROUP BY s.doc_id
         |), blocks AS (
         |  SELECT p.doc_id, m.kind, p.phash, f.bi,
         |         (p.phash >> (15 * f.bi)) & 32767 AS blk
         |  FROM ph p JOIN m USING (doc_id)
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${PH_BLOCKS - 1})) AS bi) f
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.kind,
         |         a.phash AS ph_a, b.phash AS ph_b
         |  FROM blocks a JOIN blocks b
         |    ON a.bi = b.bi AND a.blk = b.blk AND a.kind = b.kind
         |       AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, kind, ph_a, ph_b,
         |       CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
         |FROM pairs
         |WHERE bit_count(xor(ph_a, ph_b)) <= $PH_MAX_HAMMING
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .filter(length(col("payload")) > 0)
      val crawl = docs.unionAll(
        Tables.documents(spark, d)
          .filter(col("doc_id") % 3 === 0 && col("text").isNotNull)
          .select((col("doc_id") + 999999).as("doc_id"),
            encode(expr("replace(text, ' the ', ' THE ')"), "UTF-8").as("payload"))
          .filter(length(col("payload")) > 0))
      val ph = perceptualHashesOf(crawl.select(col("doc_id"),
        expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
          "ELSE 'video' END").as("kind"), col("payload")))
      val blocks = ph.select(col("doc_id"), col("kind"), col("phash"),
          explode(sequence(lit(0), lit(PH_BLOCKS - 1))).as("bi"))
        .withColumn("blk", expr("shiftright(phash, 15 * bi) & 32767"))
      blocks.as("a")
        .join(blocks.as("b"),
          col("a.bi") === col("b.bi") && col("a.blk") === col("b.blk") &&
            col("a.kind") === col("b.kind") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.kind").as("kind"),
          col("a.phash").as("ph_a"), col("b.phash").as("ph_b"))
        .distinct()
        .withColumn("hamming", expr("cast(bit_count(ph_a ^ ph_b) as int)"))
        .filter(col("hamming") <= PH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    })
}
