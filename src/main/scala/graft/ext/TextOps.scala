package graft.ext

import graft.{Hashing, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared text primitives for the LLM-data-pipeline operators (the
  * north-star extensions, BASELINE.json): tokenization, word k-gram
  * shingling, and character k-gram shingling over `documents.text`.
  *
  * Every primitive is a plain codegen'd expression chain (split /
  * transform / explode) with a DuckDB CTE computing the identical
  * relation, so all downstream dedup/similarity/text-analysis queries are
  * oracle-checkable end to end.
  *
  * 100 TB: tokenize/shingle are narrow (no shuffle) — they scale linearly
  * with input and pipeline into whatever aggregation follows. Explosion
  * factor is bounded (≤ one row per token/character), and the follow-up
  * group-bys all key on doc_id or the shingle itself, which is exactly how
  * a cluster would partition a document corpus.
  */
object TextOps {

  /** One row per token occurrence: (doc_id, lang, source, i, tok) with i
    * 1-based.
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("i0", "tok")))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("i0") + 1).as("i"), col("tok"))

  val duckTokensCte: String =
    """tokens AS (
      |  SELECT doc_id, lang, source,
      |         generate_subscripts(string_split(text, ' '), 1) AS i,
      |         unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |)""".stripMargin

  /** Distinct word k-gram shingles per doc: (doc_id, sh). */
  def wordShingles(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val parts = (0 until k).map(o => s"element_at(w, CAST(i + $o AS INT))")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(w) >= $k
           |THEN transform(sequence(1, size(w) - ${k - 1}),
           |              i -> concat_ws(' ', ${parts.mkString(", ")}))
           |ELSE array() END""".stripMargin)).as("sh"))
      .distinct()
  }

  def duckWordShinglesCte(k: Int): String = {
    val parts = (0 until k).map(o => s"w[i + $o]").mkString(" || ' ' || ")
    s"""shingles AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, greatest(len(w) - ${k - 1}, 0)),
       |             i -> $parts)) AS sh
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |)""".stripMargin
  }

  /** Relational twin of [[wordShingleHashes]]: the same distinct h60'd
    * word k-shingles, expressed as split/transform/slice column
    * expressions instead of a typed mapPartitions. Value-identical
    * (BucketedDocsSpec proves it), but — unlike the object-serialization
    * path, which severs attribute lineage — this keeps the input's
    * output partitioning visible to the planner: over a documents table
    * bucketed by doc_id, every downstream per-doc aggregate/distinct
    * plans with ZERO exchanges (HashPartitioning(doc_id) satisfies any
    * clustering keyed on a superset of doc_id). The mapPartitions form
    * stays the default for unbucketed single-file scans, where the
    * explicit repartition IS the parallelism.
    */
  def wordShingleHashesRel(docs: DataFrame, k: Int): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $k), s -> concat_ws(' ', slice(w, s + 1, $k)))"))
        .as("shtxt"))
      .select(col("doc_id"), Hashing.h60(col("shtxt")).as("sh"))
      .distinct()

  /** Distinct word k-gram shingles per doc, HASHED to h60 longs:
    * (doc_id, sh BIGINT). The shuffle-cheap twin of [[wordShingles]] —
    * downstream joins/aggregates shuffle 8-byte keys instead of k-gram
    * strings (~8× smaller payload for 5-grams), which is what a 100 TB
    * dedup verify pass must do. Dedup is BY HASH per doc (so an
    * intra-doc h60 collision — ~2⁻⁶⁰ — still matches the oracle's
    * DISTINCT over hashed values exactly). One fused narrow pass:
    * split + shingle + hash + dedup all in-memory per document.
    */
  def wordShingleHashes(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select("doc_id", "text").as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, text) =>
          // null text → no shingle rows in the oracle (string_split(NULL))
          if (text == null) Iterator.empty else {
            val w = text.split(" ", -1)
            val seen = new java.util.HashSet[Long]
            val out = Array.newBuilder[(Long, Long)]
            var s = 0
            while (s + k <= w.length) {
              val h = Hashing.h60Jvm(md, w.slice(s, s + k).mkString(" "))
              if (seen.add(h)) out += ((docId, h))
              s += 1
            }
            out.result().iterator
          }
        }
      }.toDF("doc_id", "sh")
  }

  /** DuckDB twin of [[wordShingleHashes]] as a CTE named `shingles`
    * (drop-in for the string CTE in hash-keyed dedup plans).
    */
  def duckWordShingleHashesCte(k: Int): String = {
    val parts = (0 until k).map(o => s"w[i + $o]").mkString(" || ' ' || ")
    s"""shingles AS (
       |  SELECT DISTINCT doc_id, ${Hashing.duckH60("sh")} AS sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, greatest(len(w) - ${k - 1}, 0)),
       |             i -> $parts)) AS sh
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |)""".stripMargin
  }

  /** One row per character k-gram occurrence: (doc_id, p, h) where p is
    * the 1-based start position and h = h60 of the k-gram — the rolling
    * hash stream a fingerprinting pass consumes (DuckDB side).
    */
  def duckCharShingleHashesCte(k: Int): String =
    s"""char_hashes AS (
       |  SELECT doc_id, p, ${Hashing.duckH60(s"substr(text, CAST(p AS BIGINT), $k)")} AS h
       |  FROM (
       |    SELECT doc_id, text,
       |      unnest(generate_series(1, greatest(length(text) - ${k - 1}, 0))) AS p
       |    FROM documents)
       |)""".stripMargin
}
