package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Bench's two JSON lines over the runner's three outcomes (completed,
  * refused on the hot-key fixture, failed), read back with a JSON parser:
  * the key lists and their order are the artifact's contract. And the one
  * JSON writer's escaping, which Verify's `oracle_sql.json` relies on.
  */
class BenchSpec extends rel.HotEventsFixture {

  private val mapper = new ObjectMapper()

  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("bench lines keep their keys over a completed, a refused and a failed run") {
    val completed = new QueryRunner(spark, sf())
      .run("q_integrity", SparkEntry.defs("q_integrity").build)(_.count())
    val runs = Seq(completed, refusedRun, failedRun)
    assert(runs.map(_.outcome.getClass.getSimpleName) ==
      Seq("Completed", "Refused", "Failed"))
    assert(runs.forall(_.counts.jobs >= 0), runs.map(_.counts))
    assert(completed.counts.jobs > 0, completed.counts)
    // a path with a quote and a backslash must survive the writer
    val sfPath = """/tmp/sf "0.1" \ copy"""
    val (fullLine, compactLine) =
      Bench.lines(spark, sfPath, runs, QueryRunner.loadAvg, Bench.gcMs)
    val full = mapper.readTree(fullLine)
    val compact = mapper.readTree(compactLine)
    assert(keys(full) == Seq("metric", "value", "unit", "queries", "errors",
      "refused", "refused_sec", "sf", "load_avg_start", "loads", "cpus",
      "load_avg_end", "gc_time_sec", "peak_heap_mb", "max_heap_mb",
      "memo_budget_mb", "memo_evictions", "memo_entries", "stages", "counts"))
    assert(keys(compact) == Seq("metric", "value", "unit", "n_queries",
      "errors", "refused", "sf", "cpus", "load_avg_start", "load_avg_end",
      "gc_time_sec", "peak_heap_mb", "max_heap_mb", "memo_evictions", "queries"))
    assert(full.get("sf").asText == sfPath && compact.get("sf").asText == sfPath)
    // refused runs leave the timings; failed ones stay, and are errors
    assert(keys(full.get("queries")) == Seq("q_integrity", "boom"))
    assert(keys(full.get("refused_sec")) == Seq("q_stream_join"))
    assert(full.get("errors").get(0).asText == "boom")
    assert(compact.get("refused").get(0).asText == "q_stream_join")
    assert(compact.get("n_queries").asInt == 2)
    val counts = full.get("counts")
    assert(keys(counts) == runs.map(_.name))
    runs.foreach { r =>
      val c = counts.get(r.name)
      assert(keys(c) == Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "build_s"))
      assert(c.get("jobs").asLong == r.counts.jobs && c.get("tasks").asLong == r.counts.tasks)
    }
    assert(compactLine.length < 2000)
  }

  test("the JSON writer round-trips quotes, backslashes and control characters") {
    val sql = Map("q_x" -> "SELECT 1\tAS \"a\",\r\n'\\' AS b, '\u0001' AS c")
    val back = mapper.readValue(QueryRunner.json(sql), classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql)
  }
}
