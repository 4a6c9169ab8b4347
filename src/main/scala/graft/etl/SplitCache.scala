package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once parquet memoization — the engine's version of the
  * reference's split cache (S2, Dataset_CDAE.py:91-145: compute splits +
  * negatives once, pickle them, reload on every later run).
  *
  * Because every derived relation here is deterministic (seeded h60
  * order), recompute ≡ cache: `mode("ignore")` writes only if the path is
  * absent, so concurrent/repeated pipelines converge on identical bytes.
  *
  * 100 TB: this is the pattern for all expensive derived tables —
  * materialize once behind a content-addressed path, let every downstream
  * job scan parquet instead of recomputing the pipeline.
  */
object SplitCache {

  /** Stage timer: records into the bench artifact via StageTiming. */
  private def timed[A](stage: String)(body: => A): A =
    graft.StageTiming.timed(s"splitcache/$stage")(body)

  /** Materialize `df` at `path` unless already present AND complete;
    * return a scan of the materialized table (never the in-memory plan,
    * so downstream consumers get identical data regardless of who wrote
    * it).
    *
    * Cache validity = the `_SUCCESS` marker, not bare path existence: a
    * crashed partial write leaves a directory without the marker, and
    * treating that as authoritative would silently poison every later
    * run. Recovery never overwrites in place — the recompute lands in a
    * sibling temp directory and is RENAMED over the (absent or partial)
    * destination, so a COMMITTED directory is never deleted out from
    * under a concurrent reader: a racing writer whose rename loses finds
    * the destination complete and just discards its temp output.
    *
    * A cache miss reads its output back with the schema it just wrote
    * (every committed copy holds the same deterministic bytes), so no
    * footer-inference job runs; only a cache hit infers the schema.
    */
  def writeOnce(spark: SparkSession, df: => DataFrame, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def complete = fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    // completeness check BEFORE touching df: a cache hit must not even
    // build the recompute plan (mirrors the reference's `if exists: load`
    // gate, Dataset_CDAE.py:92-93)
    val writtenSchema = if (complete) None else {
      val written = df
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, s".${p.getName}.__tmp.${java.util.UUID.randomUUID}")
      written.write.mode("overwrite").parquet(tmp.toString)
      // Commit loop: only a PARTIAL destination (no marker) is ever
      // deleted, and the marker is re-checked IMMEDIATELY before each
      // destructive step — a racing writer that commits between checks
      // wins (its identical deterministic bytes stand) and our temp is
      // discarded. Rename only targets an ABSENT destination (HDFS
      // renames INTO an existing directory — nesting, not replacing),
      // and success is judged by the marker landing at the destination
      // root, not by rename's return value; a failed round cleans any
      // stray nested copy and retries.
      var attempts = 0
      while (!complete && attempts < 3) {
        attempts += 1
        if (!complete) {
          if (fs.exists(p) && !complete) fs.delete(p, true)
          if (!fs.exists(p)) fs.rename(tmp, p)
          if (!complete) {
            val stray = new org.apache.hadoop.fs.Path(p, tmp.getName)
            if (fs.exists(stray)) fs.delete(stray, true)
          }
        }
      }
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // never hand a partial directory to the caller: surface commit
      // failure loudly instead of silently scanning half a cache
      require(complete, s"writeOnce: $path has no _SUCCESS marker after commit")
      Some(written.schema)
    }
    writtenSchema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The reference's split cache in one call: the splits and the sampled
    * negatives for a scale dir, memoized under `cacheDir`.
    *
    * The cold build reads the session's persisted interaction log
    * ([[Interactions.cached]]) and persists nothing of its own: the log
    * is hash-partitioned on (user_id, domain) and stored in
    * [[Splits.splitOrder]], so the splits (`leaveTwoOut(ranked(log))`)
    * are a sort-free window plus one hash aggregate over the cache, and
    * the negatives (`negativeSampleScalable(log)`, which never read the
    * rank) a narrow pass over the same cache. The two writes run
    * concurrently, and the build pins no second copy of the log. The
    * log entry is the session's, shared with every other reader, so it
    * is never unpersisted here (the r4 bench bug evicted it). On a warm
    * cache this is two `_SUCCESS` stats — no job, no persist.
    *
    * Returns scans of the written tables, `(splits, negatives)`: splits
    * `(user_id, domain, deg, vali_item, test_item)`, negatives PACKED
    * `(user_id, domain, items)` — the sampled negatives in draw order,
    * ≤[[Splits.NUM_NEG]] per (user, domain); [[Splits.explodeNegatives]]
    * gives the long form. A cold build reads each back with the schema it
    * just wrote (see [[writeOnce]]), so no read-back runs a
    * footer-inference job. The train subsample is not cached: nothing
    * here trains (the lifecycle's epochs stand in for training with
    * `Lifecycle.epochWeights`), and q_train_subsample gates the operator.
    */
  def cachedPipeline(spark: SparkSession, sfDir: String, cacheDir: String)
      : (DataFrame, DataFrame) = {
    def complete(path: String) = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    }
    val allCached = Seq("splits", "negatives")
      .forall(n => complete(s"$cacheDir/$n"))
    lazy val log = Interactions.cached(spark, sfDir)
    // always-on stage (r14): the log's materialization (orders ⋈
    // lineitem, the distinct and the split-order sort) lands under its
    // own name in every artifact instead of inside whichever write wins
    // the race; on a session whose log is already in memory it is one
    // scan of the cache. The r14 skew probe found the leave-two-out
    // window's hot-(user, domain) partition to be the lifecycle's only
    // axis-dependent cost (89.4s zipf vs 19.1s nd warm, one task's
    // sort); that window now runs inside `splits write`.
    if (!allCached) timed("log materialize") { log.count() }
    // both writes are independent consumers of the one persisted log, so
    // they run concurrently, and both finish before either failure is
    // rethrown: a caller cleaning up `cacheDir` would race a write's
    // temp directory
    val written = graft.Lifecycle.concurrently(Seq(
      () => timed("splits write") { writeOnce(spark,
        Splits.leaveTwoOut(Splits.ranked(log)), s"$cacheDir/splits") },
      // the negatives table is stored PACKED — one (user, domain,
      // items[99]) row instead of 99 long rows (the long form's
      // ~300M-row parquet encode was the single longest stage of the
      // 100× build, VERDICT r10 #6)
      () => timed("negatives write") { writeOnce(spark,
        Splits.negativeSampleScalable(log), s"$cacheDir/negatives") }))
    (written(0), written(1))
  }
}
