package graft.ext

import graft.SparkSpec
import graft.etl.Bucketing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** "Pay the shuffle once" for the dedup/ANN corpora: documents bucketed
  * by doc_id and embeddings bucketed by vec_id make the families'
  * corpus-side aggregates and joins exchange-free, with results proven
  * equal to the unbucketed paths.
  */
class BucketedDocsSpec extends SparkSpec {

  private def shuffles(df: DataFrame): Int = {
    df.collect() // finalize the adaptive plan
    """Exchange hashpartitioning""".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("per-doc shingle aggregates over bucketed documents plan zero exchanges") {
    val bucketed = Bucketing.writeBucketed(graft.Tables.documents(spark, sf()),
      "t_docs_b", 4, Seq("doc_id"))
    val sizesB = TextOps.wordShingleHashesRel(bucketed, 5)
      .groupBy("doc_id").agg(count(lit(1)).as("ns"))
    assert(shuffles(sizesB) == 0,
      s"bucketed per-doc agg must not shuffle:\n${sizesB.queryExecution.executedPlan}")
    // the identical relational pipeline over the plain single-file scan
    // must shuffle (that is the exchange the layout removes)
    val sizesP = TextOps.wordShingleHashesRel(
        graft.Tables.documents(spark, sf()), 5)
      .groupBy("doc_id").agg(count(lit(1)).as("ns"))
    assert(shuffles(sizesP) >= 1)
    // and the two agree with the mapPartitions production path
    val mp = TextOps.wordShingleHashes(spark, sf(), 5)
      .groupBy("doc_id").agg(count(lit(1)).as("ns"))
    assert(sizesB.collect().toSet == mp.collect().toSet)
  }

  test("minhash verify over the bucketed layout equals q_dedup_minhash") {
    val bucketed = spark.table("t_docs_b")
    val overBucketed = DedupQueries.minhashVerifiedPairsFrom(
        graft.Tables.documents(spark, sf()),
        TextOps.wordShingleHashesRel(bucketed, 5))
      .collect().toSet
    val production = graft.SparkEntry.defs("q_dedup_minhash")
      .build(spark, sf()).collect().toSet
    assert(overBucketed == production)
    assert(production.nonEmpty)
  }

  test("norms over bucketed embeddings plan zero exchanges; cosine agrees") {
    val bucketed = Bucketing.writeBucketed(graft.Tables.embeddings(spark, sf()),
      "t_embs_b", 4, Seq("vec_id"))
    val nB = VectorOps.norms(bucketed)
    assert(shuffles(nB) == 0,
      s"bucketed norm agg must not shuffle:\n${nB.queryExecution.executedPlan}")
    assert(shuffles(VectorOps.norms(graft.Tables.embeddings(spark, sf()))) >= 1)
    // exact re-rank corpus side: same pair cosines, fewer exchanges
    val pairs = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id")).limit(6).collect().map(_.getLong(0))
    val pairDf = spark.createDataFrame(
      pairs.combinations(2).map(p => (p(0), p(1))).toSeq
    ).toDF("query_id", "vec_id")
    val cosB = VectorOps.cosine(bucketed, pairDf)
    val cosP = VectorOps.cosine(graft.Tables.embeddings(spark, sf()), pairDf)
    assert(cosB.collect().toSet == cosP.collect().toSet)
    assert(shuffles(cosB) < shuffles(cosP),
      "bucketed corpus side must remove exchanges from the cosine join")
  }
}
