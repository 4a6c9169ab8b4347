package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query names to dump —
    // the driver always passes two args and gets the full suite
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      args.lift(2).map(_.split(",").toSet).getOrElse(Set.empty)
    def wanted(name: String) = only.isEmpty || only(name)
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // shared-subtree memoization, same as Bench (results unaffected)
    etl.Interactions(spark, sfDir).persist()
    SparkEntry.orderedQueries.foreach { case (name, fn) =>
      if (wanted(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Testdata fingerprint (size + mtime per parquet) as seen AT DUMP
    // TIME: when a driver hash compare later disagrees with a local
    // re-verify, this resolves regenerated-testdata drift vs a real
    // hash bug in one look (the r6/r7 ambiguity — q_scd2 post-mortem).
    val fp = new java.io.File(sfDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${q(f.getName)}: {\"bytes\": ${f.length}, " +
        s"\"mtime_ms\": ${f.lastModified}}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/testdata_fingerprint.json"), fp)
    spark.stop()
  }
}
