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

  def run(configPath: String,
          app: (SparkSession, String, Int) => DataFrame): Int = {
    val cfg = EngineConfig.load(configPath)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(cfg.inputFile))) {
      System.err.println(s"input file not found: ${cfg.inputFile}")
      return -1 // reference: map controller returns -1 on missing input
    }
    // reuse an already-running session (tests, notebooks); only own —
    // and therefore stop — a session this runner itself created. On
    // the reuse path getOrCreate MUTATES the existing session's
    // runtime conf with EVERY builder config it can apply, so each
    // key the builder sets is saved first (value or absence) and
    // restored after the job — a shared session must not come back
    // from a config-file-driven app with its parallelism, time zone or
    // UI conf silently changed (the N_WORKER output-file contract — at most
    // N key-sorted files, merged output as the parity contract — is
    // TextKVSink's, not this conf's).
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filter(s => !s.sparkContext.isStopped)
    val preexisting = existing.isDefined
    val saved = existing.map(s => Sessions.Confs.map(k => k -> s.conf.getOption(k)))
    val spark = Sessions.builder(
        sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[${cfg.nWorker}]"), cfg.nWorker)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = app(spark, cfg.inputFile, cfg.nWorker)
      TextKVSink.write(out, "key", "values", s"${cfg.dataDir.stripSuffix("/")}/output", cfg.nWorker)
      0
    } catch {
      case e: Throwable => System.err.println(s"job failed: ${e.getMessage}"); -2
    } finally {
      saved.foreach(_.foreach { case (k, v) =>
        // non-modifiable keys (static conf getOrCreate couldn't apply
        // either) throw on set/unset — nothing was mutated, skip them
        try v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      })
      if (!preexisting) spark.stop()
    }
  }
}

/** Reference app 1 as an executable (`src/WordCounter.cpp:45`). */
object WordCountMain {
  private[apps] val app: (SparkSession, String, Int) => DataFrame = (spark, input, _) =>
    WordCount.viaFacade(Sources.textLines(spark, input)).toDF("key", "values")

  def main(args: Array[String]): Unit = {
    val rc = AppRunner.run(args.headOption.getOrElse("config_WordCounter.txt"), app)
    if (rc != 0) sys.exit(rc)
  }
}

/** Reference app 2 as an executable (`src/InvertedIndex.cpp:43`). */
object InvertedIndexMain {
  private[apps] val app: (SparkSession, String, Int) => DataFrame = (spark, input, n) =>
    InvertedIndex.viaFacade(Sources.textLines(spark, input), n).toDF("key", "values")

  def main(args: Array[String]): Unit = {
    val rc = AppRunner.run(args.headOption.getOrElse("config_InvertedIndex.txt"), app)
    if (rc != 0) sys.exit(rc)
  }
}
