package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.{ListMap, TreeMap}

/** Correctness dump: each registered query's result → parquet
  * under `outDir` (one `coalesce(1)` write per query, the action
  * [[QueryRunner]] times), plus `oracle_sql.json` for the DuckDB compare
  * (`tools/check.py`) and `testdata_fingerprint.json`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query names to dump,
    // in that order; with two args the full suite runs
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(",").toSeq).getOrElse(Nil)
    new java.io.File(outDir).mkdirs()
    val runner = QueryRunner.open(sfDir)
    runner(only)((name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      .filterNot(_.outcome.isInstanceOf[QueryRunner.Completed[_]])
      .foreach(r => System.err.println(s"[verify] ${r.name} failed: ${r.outcome}"))
    def write(file: String, v: Any) = Files.writeString(Paths.get(s"$outDir/$file"), QueryRunner.json(v))
    write("oracle_sql.json",
      TreeMap.from(SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only.contains(k) }))
    // Testdata fingerprint (size + mtime per parquet) as seen AT DUMP
    // TIME: when a driver hash compare later disagrees with a local
    // re-verify, this resolves regenerated-testdata drift vs a real
    // hash bug in one look (the r6/r7 ambiguity — q_scd2 post-mortem).
    write("testdata_fingerprint.json", ListMap.from(new java.io.File(sfDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => f.getName -> ListMap("bytes" -> f.length, "mtime_ms" -> f.lastModified))))
    runner.spark.stop()
  }
}
