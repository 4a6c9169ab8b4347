package graft

import org.apache.spark.sql.types.TimestampType

/** Guard against driver testdata schema drift.
  *
  * The driver regenerates /root/testdata each round, and the parquet
  * encoding of time columns has CHANGED between rounds (TIMESTAMP(NANOS)
  * int64 through round 5, timestamp[us] NTZ from round 7) — which broke
  * every batch events query at analysis time and silently corrupted the
  * streaming reads (micros read as nanos → 1000× time compression,
  * CORRECTNESS_r06 q_events_stream/q_stream_join). These specs fail
  * fast, inside `sbt test`, on the next such drift:
  *
  *  1. every Tables loader must normalize to the canonical engine schema
  *     (time columns = TimestampType, µs precision);
  *  2. every registered query must ANALYZE against the real testdata —
  *     resolution + type-checking of the full plan; for LAZY builders
  *     that is plan-only and instant, while eager builders (triangles,
  *     pagerank, lifecycle, kmeans — whose build() runs bounded actions)
  *     execute at sf0.001, making this doubly a mini execution smoke;
  *  3. the streaming events scan must agree with the batch scan on the
  *     actual timestamp VALUES (the silent-corruption case analysis
  *     can't catch), checked on sf0.001's min/max/count.
  */
class SchemaDriftSpec extends SparkSpec {

  test("Tables normalize time columns to TimestampType at every sf") {
    for (dir <- Seq("sf0.001", "sf0.01")) {
      assert(Tables.events(spark, sf(dir)).schema("ts").dataType == TimestampType)
      assert(Tables.orders(spark, sf(dir)).schema("o_orderdate").dataType == TimestampType)
      assert(Tables.lineitem(spark, sf(dir)).schema("l_shipdate").dataType == TimestampType)
    }
  }

  test("every registered query analyzes against the real testdata") {
    val failures = SparkEntry.defs.toSeq.sortBy(_._1).flatMap { case (name, d) =>
      // streaming queries EXECUTE in build (runBounded starts a query);
      // they are covered by the value-equality test below instead
      if (Set("q_events_stream", "q_stream_dedup", "q_stream_join",
        "q_stream_enrich", "q_stream_session")(name)) None
      else
        try { d.build(spark, sf()).queryExecution.analyzed; None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("streaming events scan agrees with batch scan on timestamp values") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sf())
      .agg(min("ts"), max("ts"), count(lit(1))).head()
    val agg = streaming.EventsStream.readEventsStream(spark, sf())
      .agg(min("ts").as("mn"), max("ts").as("mx"), count(lit(1)).as("n"))
    val st = streaming.EventsStream.runBounded(agg, "schema_drift_probe").head()
    assert(st.getTimestamp(0) == batch.getTimestamp(0), "min ts diverges")
    assert(st.getTimestamp(1) == batch.getTimestamp(1), "max ts diverges")
    assert(st.getLong(2) == batch.getLong(2), "row count diverges")
  }
}
