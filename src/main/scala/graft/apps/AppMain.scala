package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{EngineConfig, Sessions}
import graft.mr.MapReduce
import graft.sinks.TextKVSink
import graft.sources.Sources

/** Executable parity with the reference's two shipped binaries
  * (`./WordCounter config_WordCounter.txt`, `./InvertedIndex
  * config_InvertedIndex.txt` — `src/WordCounter.cpp:45-85`,
  * `src/InvertedIndex.cpp:43-74`): read the O14 config file, run the
  * app over INPUTFILE with N_WORKER reducers, write O8-format
  * `output` files under DATADIR. Exit codes mirror the reference's
  * error surface: -1 missing input (`include/MapReduceMaster.h:454-460`),
  * non-zero on task failure.
  *
  * Usage: `sbt "runMain graft.apps.WordCountMain <configFile>"`
  *        `sbt "runMain graft.apps.InvertedIndexMain <configFile>"`
  * The session is [[graft.core.Sessions.builder]] on SPARK_GRAFT_MASTER,
  * else `local[N_WORKER]`, with N_WORKER shuffle partitions.
  */
private[apps] object AppRunner {

  /** Runs `app` on `spark` as the config file at `configPath` says.
    * The caller owns the session. */
  def run(spark: SparkSession, configPath: String,
          app: (SparkSession, String, Int) => DataFrame): Int = {
    val cfg = EngineConfig.load(configPath)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(cfg.inputFile))) {
      System.err.println(s"input file not found: ${cfg.inputFile}")
      return -1 // reference: map controller returns -1 on missing input
    }
    try {
      val out = app(spark, cfg.inputFile, cfg.nWorker)
      TextKVSink.write(out, "key", "values", s"${cfg.dataDir.stripSuffix("/")}/output", cfg.nWorker)
      0
    } catch {
      case e: Throwable => System.err.println(s"job failed: ${e.getMessage}"); -2
    }
  }

  /** The executables' entry: [[run]] on the session described above,
    * which it stops afterwards. */
  def standalone(configPath: String, app: (SparkSession, String, Int) => DataFrame): Int = {
    val nWorker = EngineConfig.load(configPath).nWorker
    val spark = Sessions.builder(
        sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$nWorker]"), nWorker)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, configPath, app) finally spark.stop()
  }
}

/** Reference app 1 as an executable (`src/WordCounter.cpp:45`). */
object WordCountMain {
  private[apps] val app: (SparkSession, String, Int) => DataFrame = (spark, input, _) =>
    WordCount.viaFacade(Sources.textLines(spark, input)).toDF("key", "values")

  def main(args: Array[String]): Unit = {
    val rc = AppRunner.standalone(args.headOption.getOrElse("config_WordCounter.txt"), app)
    if (rc != 0) sys.exit(rc)
  }
}

/** Reference app 2 as an executable (`src/InvertedIndex.cpp:43`). */
object InvertedIndexMain {
  private[apps] val app: (SparkSession, String, Int) => DataFrame = (spark, input, n) =>
    InvertedIndex.viaFacade(Sources.textLines(spark, input), n).toDF("key", "values")

  def main(args: Array[String]): Unit = {
    val rc = AppRunner.standalone(args.headOption.getOrElse("config_InvertedIndex.txt"), app)
    if (rc != 0) sys.exit(rc)
  }
}
