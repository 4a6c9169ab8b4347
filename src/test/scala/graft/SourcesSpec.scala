package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-format source/sink round-trips (S6's raw-ingest surface): the
  * engine's operators are format-agnostic — CSV and JSON ingests with an
  * explicit schema produce the same relation as the parquet scan.
  */
class SourcesSpec extends SparkSpec {

  private lazy val base = Tables.orders(spark, sf())
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  private def checksum(df: DataFrame): Long =
    // bit_xor: order-independent and overflow-free (ANSI mode rejects a
    // plain SUM of 64-bit hashes)
    df.agg(expr("bit_xor(xxhash64(o_orderkey, o_custkey, o_totalprice, " +
      "o_orderpriority))")).collect().head.getLong(0)

  private def assertRoundTrip(tag: String)(write: String => Unit)(
      read: String => DataFrame): Unit = {
    val dir = tempDir(tag).toString
    write(dir)
    val back = read(dir)
    assert(back.count() == base.count())
    assert(checksum(back) == checksum(base))
  }

  test("csv round-trip preserves the relation") {
    assertRoundTrip("srccsv") {
      base.write.mode("overwrite").option("header", "true").csv(_)
    }(spark.read.schema(schema).option("header", "true").csv(_))
  }

  test("orc round-trip preserves the relation") {
    assertRoundTrip("srcorc")(base.write.mode("overwrite").orc(_))(
      spark.read.orc(_))
  }

  test("json round-trip preserves the relation") {
    assertRoundTrip("srcjson")(base.write.mode("overwrite").json(_))(
      spark.read.schema(schema).json(_))
  }
}
