package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev-only scale amplifier: writes an N× copy of a test-data dir by
  * unioning key-offset replicas — used to measure operator scaling beyond
  * the largest shipped scale factor (the 100 TB design question: which
  * plans grow linearly?). Keys are offset so entity counts scale too
  * (users, items, docs, vectors — not just row counts).
  *
  *   sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10"
  *
  * Optional mode args (4th+): `zipf` — hot-key mode: ~20% of orders land
  * on ONE customer and ~20% of lineitems on ONE supplier (deterministic
  * xxhash64 row selection), modelling the power-law skew a real corpus
  * has and uniform replication hides (the skew and skewed-sampler
  * measurements in SCALING.md). `neardup` — mutated
  * document replication: verbatim replication makes every dup cluster an
  * n-clique, so dedup-family scale numbers measure C(n,2) input growth,
  * not the algorithm. In neardup mode replica i of each document is
  * text-mutated deterministically: long-tail cluster capacities
  * (cap = 100/(u+1), u = xxhash64(doc_id) % 100 — a few big clusters,
  * most singletons), in-capacity replicas get TWO token substitutions
  * (5-gram Jaccard ≈ 0.6-0.7 vs base: above the 0.5 verify threshold but
  * with honest <1 LSH recall, and sibling-replica pairs fall ~0.43 so
  * clusters must close transitively through the base), out-of-capacity
  * replicas get every-3rd-token rewrites (shingle overlap 0 — distinct
  * docs). This makes MinHash recall, verified-pair volume, and
  * propagation round count measurable quantities at 30×/100×.
  */
object ScaleGen {

  /** 1/HOT_MOD of fact rows get the hot key (key = 1). */
  val HOT_MOD = 5

  /** Replica-i embedding mutation for `neardup` mode (r10) — the cosine
    * analog of [[mutateText]], so the embedding-dedup family's banded
    * recall is measurable against planted pairs (not just the identical
    * copies verbatim replication produces, whose recall is trivially 1).
    * Same long-tail capacity rule keyed on the BASE vec_id: in-capacity
    * replicas split 25% verbatim copies (cos 1), 25% near-identical
    * (2/64 sign-flips, cos ≈ 0.94), 50% moderate (10/64 flips, E[cos]
    * ≈ 0.69 ± 0.09 — the J≈0.7 analog, above the 0.4 near-dup threshold
    * with honest spread); sibling-replica pairs flip ~2 independent
    * subsets (cos straddles the threshold, so clusters must close
    * transitively through the base, like the text axis). Out-of-capacity
    * replicas flip ~half the dims (cos ≈ 0 — distinct vectors). Apply
    * before the key offset.
    */
  def mutateEmbedding(i: Long): Column =
    when(col("embedding").isNull, col("embedding"))
      .when(lit(i) === 0, col("embedding"))
      // in-capacity replicas split into the three masses a real corpus
      // has: 25% verbatim copies (cos 1), 25% near-identical (2/64 dims
      // sign-flipped, cos ≈ 0.94), 50% moderate (10/64 flips,
      // E[cos] ≈ 0.69 ± 0.09 — the J≈0.7 analog)
      .when(lit(i) < expr("100 DIV (pmod(xxhash64(vec_id), 100) + 1)"),
        expr(s"""CASE pmod(xxhash64(vec_id, ${i}L, 13L), 4)
                |  WHEN 0 THEN embedding
                |  WHEN 1 THEN transform(embedding, (x, j) ->
                |    CASE WHEN pmod(xxhash64(vec_id, ${i}L, CAST(j AS BIGINT)), 64) < 2
                |    THEN -x ELSE x END)
                |  ELSE transform(embedding, (x, j) ->
                |    CASE WHEN pmod(xxhash64(vec_id, ${i}L, CAST(j AS BIGINT)), 64) < 10
                |    THEN -x ELSE x END)
                |END""".stripMargin))
      .otherwise(
        expr(s"""transform(embedding, (x, j) ->
                |  CASE WHEN pmod(xxhash64(vec_id, ${i}L, CAST(j AS BIGINT)), 2) = 0
                |  THEN -x ELSE x END)""".stripMargin))

  /** Column form of [[mutateEmbedding]] for the crossJoin replicator
    * (`embedonly` mode): the replica index is the `rep` COLUMN instead
    * of a literal, so one crossJoin with `range(n)` replaces an n-leg
    * union — the union plan is fine at n ≤ 100 but the 2.4M-vector
    * recall anchor needs n ≈ 1200 (r13, SCALING.md Round 13).
    * Bit-compatible with [[mutateEmbedding]]: `xxhash64(vec_id, rep, …)`
    * over a long column equals the literal form's value for the same
    * (vec_id, i), so an `embedonly` dir plants the identical structure.
    */
  def mutateEmbeddingRep: Column =
    when(col("embedding").isNull, col("embedding"))
      .when(col("rep") === 0, col("embedding"))
      .when(col("rep") < expr("100 DIV (pmod(xxhash64(vec_id), 100) + 1)"),
        expr("""CASE pmod(xxhash64(vec_id, rep, 13L), 4)
                |  WHEN 0 THEN embedding
                |  WHEN 1 THEN transform(embedding, (x, j) ->
                |    CASE WHEN pmod(xxhash64(vec_id, rep, CAST(j AS BIGINT)), 64) < 2
                |    THEN -x ELSE x END)
                |  ELSE transform(embedding, (x, j) ->
                |    CASE WHEN pmod(xxhash64(vec_id, rep, CAST(j AS BIGINT)), 64) < 10
                |    THEN -x ELSE x END)
                |END""".stripMargin))
      .otherwise(
        expr("""transform(embedding, (x, j) ->
                |  CASE WHEN pmod(xxhash64(vec_id, rep, CAST(j AS BIGINT)), 2) = 0
                |  THEN -x ELSE x END)""".stripMargin))

  /** Replica-i text mutation for `neardup` mode (see object doc). Keyed
    * on the BASE doc_id — apply before the key offset.
    */
  def mutateText(i: Long): Column =
    when(col("text").isNull, col("text"))
      .when(lit(i) === 0, col("text"))
      // INTEGER division: cap = 100 DIV (u+1) — u ≥ 50 ⇒ cap 1 ⇒ half
      // the bases are singletons, the documented long tail. (Spark's `/`
      // is floating-point; 100/99 = 1.01 would have put replica 1
      // in-capacity for 99% of docs — no singletons at all.)
      .when(lit(i) < expr("100 DIV (pmod(xxhash64(doc_id), 100) + 1)"),
        expr(
          s"""concat_ws(' ', transform(split(text, ' '),
             |  (w, j) -> CASE
             |    WHEN j = pmod(xxhash64(doc_id, ${i}L), size(split(text, ' ')))
             |      OR j = pmod(xxhash64(doc_id, ${i}L, 7L), size(split(text, ' ')))
             |    THEN concat('m${i}q', j) ELSE w END))""".stripMargin))
      .otherwise(expr(
        s"""concat_ws(' ', transform(split(text, ' '),
           |  (w, j) -> CASE WHEN j % 3 = ${i % 3}L
           |    THEN concat('z${i}q', j) ELSE w END))""".stripMargin))

  def main(args: Array[String]): Unit = {
    val Array(src, dst, nStr) = args.take(3)
    val n = nStr.toInt
    val modes = args.drop(3).toSet
    val zipf = modes.contains("zipf")
    val neardup = modes.contains("neardup")
    // the raw spark.read.parquet copies below bypass Tables' loaders, so
    // a TIMESTAMP(NANOS) events.ts (which Spark 4 rejects) is read as
    // int64 nanos and copied as such; Tables.events converts on load
    val spark = LocalSession("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    val OFF = 10000000L
    // mirror the driver layout: each table is a single FILE named
    // <table>.parquet (the streaming source's glob filter depends on it).
    // Row groups are kept small (16 MB vs the 128 MB default) because
    // parquet scan parallelism is bounded by ROW GROUPS, not by
    // maxPartitionBytes: a 67 MB single-row-group orders file pinned
    // every first stage of the 30× suite to ONE task on 32 cores. A real
    // deployment gets the same parallelism from many files; single-file
    // layout is a driver-contract artifact, so the row-group size is
    // where the split points must come from.
    def writeSingle(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/_tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (16L * 1024 * 1024).toString)
        .parquet(tmp)
      val fs = new java.io.File(tmp)
      val part = fs.listFiles().find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dst/$name.parquet")
      target.delete()
      java.nio.file.Files.move(part.toPath, target.toPath)
      fs.listFiles().foreach(_.delete()); fs.delete()
    }
    def rep(name: String)(shift: (DataFrame, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until n).map(i => shift(base, i * OFF)).reduce(_ unionAll _)
      writeSingle(out, name)
      println(s"scaled $name -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def copy(name: String): Unit = { // dims keep their keyspace
      val base = spark.read.parquet(s"$src/$name.parquet")
      writeSingle(base, name)
      println(s"copied $name -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // embedonly: write ONLY the embeddings table, replicated by a
    // crossJoin with range(n) under the neardup mutation — the form that
    // scales to the 2.4M-vector recall anchor (n ≈ 1200)
    if (modes.contains("embedonly")) {
      val base = spark.read.parquet(s"$src/embeddings.parquet")
      val out = base.crossJoin(spark.range(0, n).select(col("id").as("rep")))
        .withColumn("embedding", mutateEmbeddingRep)
        .withColumn("vec_id", col("vec_id") + col("rep") * OFF)
        .drop("rep")
      writeSingle(out, "embeddings")
      println(s"scaled embeddings -> ${spark.read.parquet(s"$dst/embeddings.parquet").count()} rows")
      spark.stop()
      return
    }

    def off(c: String, k: Long) = col(c) + k
    // hot-key rewrite: a deterministic 1/HOT_MOD slice of rows moves to
    // key 1 (which exists in every dim), preserving the column's dtype
    def hot(df: DataFrame, keyCol: String, unique: Column): DataFrame =
      if (!zipf) df
      else df.withColumn(keyCol,
        when(pmod(xxhash64(unique), lit(HOT_MOD)) === 0,
          lit(1).cast(df.schema(keyCol).dataType)).otherwise(col(keyCol)))
    copy("region")
    copy("nation")
    copy("supplier")
    rep("customer") { (df, k) => df.withColumn("c_custkey", off("c_custkey", k)) }
    rep("part") { (df, k) => df.withColumn("p_partkey", off("p_partkey", k)) }
    rep("orders") { (df, k) =>
      hot(df.withColumn("o_orderkey", off("o_orderkey", k))
        .withColumn("o_custkey", off("o_custkey", k)),
        "o_custkey", col("o_orderkey"))
    }
    rep("lineitem") { (df, k) =>
      hot(df.withColumn("l_orderkey", off("l_orderkey", k))
        .withColumn("l_partkey", off("l_partkey", k)),
        "l_suppkey", col("l_orderkey") * 16 + col("l_linenumber"))
    }
    rep("events") { (df, k) =>
      // zipf also concentrates the EVENT stream (r9): 1/HOT_MOD of events
      // land on user 1, so the per-user sequence windows (markov,
      // sessionize, gaps) face a genuine hot-partition axis, not just the
      // join-side skew the orders/lineitem hot keys exercise
      hot(df.withColumn("event_id", off("event_id", k))
        .withColumn("user_id", off("user_id", k)),
        "user_id", col("event_id"))
    }
    // zipf also concentrates the DOCUMENT corpus (r10): 1/HOT_MOD of all
    // docs move to ONE existing source value, so the curation family's
    // per-source strata/windows (q_quality_gate, q_source_quota,
    // q_curate_pipeline's √n quotas) face a genuine hot-source axis —
    // the r9 zipf dirs skewed only events/orders and left the documents
    // axis uniform, so those operators' skew behavior was unproven
    val hotSource: String =
      if (zipf) spark.read.parquet(s"$src/documents.parquet")
        .agg(min("source")).first().getString(0)
      else null
    rep("documents") { (df, k) =>
      val mutated =
        if (neardup) df.withColumn("text", mutateText(k / OFF))
        else df
      val shifted = mutated.withColumn("doc_id", off("doc_id", k))
      if (zipf) shifted.withColumn("source",
        when(pmod(xxhash64(col("doc_id")), lit(HOT_MOD)) === 0,
          lit(hotSource)).otherwise(col("source")))
      else shifted
    }
    rep("embeddings") { (df, k) =>
      val mutated =
        if (neardup) df.withColumn("embedding", mutateEmbedding(k / OFF))
        else df
      mutated.withColumn("vec_id", off("vec_id", k))
    }
    spark.stop()
  }
}
