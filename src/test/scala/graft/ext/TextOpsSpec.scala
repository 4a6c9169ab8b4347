package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge cases for the text primitives: short/degenerate documents must
  * not break shingling or fingerprinting (the CASE guards).
  */
class TextOpsSpec extends SparkSpec {

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("word shingles: short docs produce empty sets, not errors") {
    val df = docsDF(Seq((1L, "a b c d e f"), (2L, "a b"), (3L, "solo")))
    val byDoc = TextOps.wordShingleHashesRel(df, 5).collect().groupBy(_.getLong(0))
    assert(byDoc(1L).length == 2) // 6 words -> 2 shingles
    assert(!byDoc.contains(2L) && !byDoc.contains(3L))
  }

  test("tokens carry 1-based positions and full coverage") {
    val t = TextOps.tokens(spark, sf()).filter(col("doc_id") === 0)
      .orderBy("i").collect()
    assert(t.head.getAs[Int]("i") == 1)
    assert(t.map(_.getAs[Int]("i")).toSeq == (1 to t.length))
  }

  test("charShingleHashes: guards texts shorter than k") {
    // q_text_fingerprint's builder (k = 8, window 4): a text needs
    // 8 + 3 chars for one window; shorter ones, including those under
    // k, yield no row and no error
    val tmp = tempDir("short_docs").toString
    docsDF(Seq((1L, "abcdefghijk"), (2L, "short"), (3L, "abcdefgh")))
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val rows = graft.SparkEntry.defs("q_text_fingerprint").build(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_fp")).toMap
    assert(rows == Map(1L -> 1L))
  }
}
