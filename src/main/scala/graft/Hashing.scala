package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing.
  *
  * The reference pipeline's determinism contract is seeded shuffling
  * (`sklearn.utils.shuffle(random_state=2020)`, Dataset_CDAE.py:79,103,111).
  * Neither sklearn's Fisher–Yates order nor Spark's xxhash64 is reproducible
  * in DuckDB, so the engine *defines* sampling order as a 60-bit integer
  * derived from md5 — md5 is bit-identical everywhere, so the DuckDB oracle
  * can replay the exact same order (SURVEY.md §7 risk 1).
  *
  * h60(parts…) = first 15 hex chars of md5(parts joined by ':') as a long.
  * 15 hex digits = 60 bits, always non-negative, fits a BIGINT in both
  * engines. Inputs must be ints/strings (never floats — float→string
  * rendering differs across engines).
  *
  * At 100 TB this is a plain codegen'd expression chain (md5 + substring +
  * conv), no UDF, no shuffle: it vectorizes inside whole-stage codegen.
  */
object Hashing {
  /** Spark side: deterministic 60-bit hash of the given columns.
    *
    * Since r10 the hash itself is the native [[graft.functions.H60Expr]]
    * (md5 bytes → long directly, no hex/conv string round-trips — the
    * chain below allocated four strings per call on paths that run
    * billions of calls at 100×). The null/cast semantics stay in
    * Catalyst: `concat_ws` skips nulls exactly as before, so the value
    * contract is untouched (FunctionsSpec proves equality with the SQL
    * chain). Falls back to the original chain when no active session
    * exists to register the function against (never the case in the
    * harnesses; keeps bare Column construction working).
    */
  def h60(cols: Column*): Column = {
    val joined = concat_ws(":", cols.map(_.cast("string")): _*)
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.functions.H60Expr.ensureRegistered(s)
        call_function("graft_h60", joined)
      case None =>
        conv(substring(md5(joined), 1, 15), 16, 10).cast("long")
    }
  }

  /** DuckDB side of [[h60]]: SQL text computing the identical value.
    * `exprs` are SQL expressions of int/string type.
    */
  def duckH60(exprs: String*): String = {
    val joined = exprs.map(e => s"CAST(($e) AS VARCHAR)").mkString(" || ':' || ")
    s"CAST(('0x' || substr(md5($joined), 1, 15)) AS BIGINT)"
  }

  /** JVM side of [[h60]] for imperative mapPartitions hot loops: first 15
    * md5 hex chars as a long = bytes 0..6 plus the high nibble of byte 7.
    * Caller supplies the pre-joined ':'-separated string and a reusable
    * MessageDigest (digest() resets it).
    */
  def h60Jvm(md: java.security.MessageDigest, s: String): Long =
    first60(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** [[h60Jvm]] with the constant head/tail streamed as bytes — for hot
    * loops where only a small middle varies (avoids re-concatenating the
    * full key per iteration). Equivalent to
    * `h60Jvm(md, prefix + mid + suffix)` for ASCII inputs.
    */
  def h60JvmParts(md: java.security.MessageDigest,
      prefix: Array[Byte], mid: String, suffix: Array[Byte]): Long = {
    md.update(prefix)
    md.update(mid.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    md.update(suffix)
    first60(md.digest())
  }

  /** First 60 bits of an md5 digest as a non-negative long — the one
    * JVM bit extraction, shared with [[graft.functions.H60Expr.hash]].
    */
  private[graft] def first60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }
}
