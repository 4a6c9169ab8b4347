package graft.etl

import org.apache.spark.sql.DataFrame

/** Bucketed materialization — the cluster-scale companion to
  * [[SplitCache]]: where writeOnce removes RECOMPUTATION, bucketing
  * removes the SHUFFLE that every downstream consumer of a relation
  * would otherwise pay to co-locate it.
  *
  * The whole E2/E3 family (leave-two-out window, train subsample,
  * sampler positives, rank window, hold-out join) hash-distributes the
  * interaction log on (user_id, domain) — the same key, query after
  * query. On a 1000-executor cluster the winning layout is to pay that
  * exchange ONCE: persist the log as a table bucketed by the key, and
  * every aggregate/window/join whose required distribution is satisfied
  * by the bucketing reads bucket-local files with NO Exchange in the
  * plan (BucketingSpec asserts exactly that). The reference has no
  * notion of data layout at all — it reloads pickles into driver RAM
  * (Dataset_CDAE.py:26-33); this is the Spark-native answer to the same
  * "stop re-paying data preparation" goal.
  *
  * Local caveat folded into the design: bucketed scans are only
  * shuffle-free when `spark.sql.sources.bucketing.enabled` is true (the
  * default) and the consumer's keys start with the bucket columns.
  */
object Bucketing {

  /** Materialize `df` as a bucketed, per-bucket-sorted managed table
    * (overwriting any previous copy) and return a scan of it. Buckets
    * and sort share `cols`: sorting within buckets lets sort-merge
    * consumers skip their per-partition sort as well.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "bucketing needs at least one column")
    val spark = df.sparkSession
    // a PREVIOUS JVM may have left the managed location on disk with no
    // entry in this session's in-memory catalog — saveAsTable then
    // refuses to create over it ("managed table location already
    // exists", SPARK-25150; this failed the two incremental queries in
    // the r9 100× bench). Drop any catalog entry, then remove the
    // orphaned location.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // one exchange on the bucket key before the write (r14, guide §6):
    // without it every write TASK emits a file per bucket id it holds —
    // tasks × buckets files (32 × 32 = 1024 at sf0.1; ~1-3 ms of
    // create/commit overhead each) — while repartition(buckets, cols)
    // aligns row→task placement with the bucket hash (both are
    // pmod(Murmur3(cols), buckets)), so each task owns exactly one
    // bucket and the table lands as `buckets` right-sized files. The
    // exchange itself is the same co-location work the bucketed layout
    // exists to pay once.
    df.repartition(buckets,
        cols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode("overwrite")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)
    spark.table(table)
  }

  /** Stable identifier-safe suffix for a source path. */
  def tableSuffix(sfDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.lang.Long.toHexString(graft.Hashing.h60Jvm(md, sfDir))
  }
}
