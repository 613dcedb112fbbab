package graft
import graft.core.{Json, Preflight, Sessions}
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
    writeOracles(outDir)
    spark.stop()
  }

  /** Writes each verifiable query's DuckDB SQL to oracle_sql.json and
    * each other query's documented justification to
    * no_oracle_reasons.json, which tells "unverifiable by design"
    * (sketches, Spark-native hash fns) from "unverified" in the
    * correctness artifact. tools/check_oracle.py reads both. */
  def writeOracles(outDir: String): Unit = {
    Json.mapper.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    Json.mapper.writeValue(new java.io.File(s"$outDir/no_oracle_reasons.json"), SparkEntry.noOracleReasons)
  }
}
