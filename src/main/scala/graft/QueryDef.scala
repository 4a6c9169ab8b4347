package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a DataFrame builder over a test-data scale
  * directory, plus the equivalent DuckDB oracle SQL its output is
  * hash-compared against (Verify.scala, tools/check.py).
  *
  * Oracle-parity rules used throughout (see SURVEY.md §7 "hard parts"):
  *  - money/metric sums run in DECIMAL (exact, order-independent), then
  *    `round(_, k)` and cast to DOUBLE identically in both engines;
  *  - float arrays are fixed-pointed: `CAST(round(x * 1e7) AS BIGINT)`
  *    before any sum/dot so arithmetic is integer-exact in both engines —
  *    spelled only by [[graft.ext.VectorOps.fixedEmbeddingSql]] (Spark)
  *    and [[graft.ext.VectorOps.duckFixed]] (DuckDB);
  *  - sampling order is [[Hashing.h60]] in both engines;
  *  - every ORDER BY carries a total tiebreaker (unique key column).
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def apply(oracleSql: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, oracleSql)
}

/** Thrown by a query whose OUTPUT (not its plan) is provably beyond a
  * documented budget on the given data — the engine's refusal contract
  * for semantically-quadratic queries on hostile key distributions
  * (q_stream_join on a power-law entity: the pair relation itself is
  * Θ(hot-key purchases × clicks), and no engine escapes Ω(output)).
  * Refusing loudly with a pointer to the bounded twin is the production
  * behavior — the alternative is a job that stalls a cluster for hours
  * and fills its disks. Bench records refusals separately from errors:
  * a refusal is the query KEEPING its contract on data where the
  * contract itself is ill-posed.
  */
final class QueryRefusedException(msg: String)
  extends RuntimeException(msg)
