package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: graft.Verify <sfDir> <outDir> [query...]. Trailing names dump
  * only those queries, and oracle_sql.json then holds only their SQL, so
  * scripts/check.py checks just that subset; with exactly two arguments
  * it dumps the full suite. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    only.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: no query named '$n' — skipped"))
    // cpus partitions, not the input-derived count: sf0.01 would derive
    // one, and the gate must keep running multi-partition plans
    val spark = GraftSession.start(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // no coalesce(1): a single-task write serializes at larger sf; the
    // driver reads the per-query directory as a glob either way
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // between-query sweep of leaked localCheckpoint blocks — the
      // SparkEntry.queries execution contract (the ContextCleaner's
      // periodic GC is far slower than a 318-query run)
      SparkEntry.sweepQueryState(spark)
    }
    graft.queries.ExportQueries.unpersistAll()
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
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
