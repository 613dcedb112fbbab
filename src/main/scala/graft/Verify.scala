package graft
import java.nio.file.{Files, Paths}
import graft.core.{Preflight, Sessions}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Usage:
  *   sbt "runMain graft.Verify <sfDir> <outDir> [query ...]"
  * Runs on [[graft.core.Sessions.local]]: SPARK_GRAFT_CPUS cores, else all.
  * Each query runs under [[Preflight.bounded]] with the run budget: a
  * query that throws or hangs is one `[verify] <name> failed` line. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (local dev)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        Preflight.bounded(spark, s"verify-$name", Preflight.RunBudgetMs) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }.left.foreach(m => System.err.println(s"[verify] $name failed: $m"))
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the no-oracle queries' documented justification — distinguishes
    // "unverifiable by design" (sketches, Spark-native hash fns) from
    // "unverified" in the correctness artifact
    val reasons = SparkEntry.noOracleReasons
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle_reasons.json"), reasons)
    spark.stop()
  }

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (<0x20): a tab or CR in catalog SQL or in an error message would
    * otherwise make the consumer's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
