package graft.rel

import graft.{QueryRunner, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic `events.parquet` fixtures for the refusal contract, and the
  * hot-key one run through the harness runner.
  */
trait HotEventsFixture extends SparkSpec {

  /** Write `rows` as a single parquet FILE named events.parquet under a
    * fresh temp dir (the test-data layout — the streaming source globs
    * for exactly that file name), returning the dir.
    */
  def writeEventsFixture(rows: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    val dir = tempDir("refusal_ev")
    val stage = dir.resolve("_stage")
    rows.coalesce(1).write.parquet(stage.toString)
    val p = java.nio.file.Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(p, dir.resolve("events.parquet"))
    dir.toString
  }

  // 2026-01-01 12:00 UTC in µs: mid-bin, so a few hundred seconds of
  // fixture spread can never straddle a 24h bin boundary
  private val baseUs = 1767268800000000L

  def eventsDf(nHot: Long, eventTypes: Seq[String]): DataFrame = {
    eventTypes.zipWithIndex.map { case (et, i) =>
      spark.range(nHot).select(
        (col("id") + i * 1000000L).as("event_id"),
        // clicks (i=0) land 100s before purchases (i=1), 1µs apart,
        // all inside one 24h bin and one 24h join window
        timestamp_micros(lit(baseUs) + lit(i * 100000000L) + col("id"))
          .as("ts"),
        lit(0L).as("user_id"),
        lit(et).as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
    }.reduce(_ unionAll _)
  }

  /** The hot-key fixture: 15k clicks and 15k purchases of one user in
    * one 24h bin, past q_stream_join's output budget.
    */
  lazy val hotDir = writeEventsFixture(
    eventsDf(15000, Seq("click", "purchase")))

  /** q_stream_join over [[hotDir]], through the harness runner. */
  def refusedRun: QueryRunner.Run[Long] = new QueryRunner(spark, hotDir)
    .run("q_stream_join", SparkEntry.defs("q_stream_join").build)(_.count())

  /** A build that throws "boom", through the harness runner. */
  def failedRun: QueryRunner.Run[Long] = new QueryRunner(spark, hotDir)
    .run("boom", (_, _) => throw new RuntimeException("boom"))(_.count())
}
