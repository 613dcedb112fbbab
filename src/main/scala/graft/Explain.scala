package graft

import graft.core.{Preflight, Sessions}
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan and isolated timings for
  * named catalog queries. Usage:
  *   sbt "runMain graft.Explain <sfDir> <query> [query ...]"
  * With no query names: lists the catalog. Runs on
  * [[graft.core.Sessions.local]]: SPARK_GRAFT_CPUS cores, else all.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Sessions.local()
    if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    else run(spark, sfDir, names)
    spark.stop()
  }

  /** Explains each query, then writes the built frame once to warm it
    * and twice more to time it. The build (with the explain) runs under
    * [[Preflight.bounded]] and each write is a [[Preflight.timed]] run,
    * which drains the scratch caches after it, so every write does the
    * same work. A query that throws or hangs prints one
    * `[explain] <name> failed` line and the next name still runs.
    * Returns each name's two write times in seconds, or its failure
    * message. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Either[String, Seq[Double]])] =
    names.map { name =>
      val secs = for {
        df <- Preflight.bounded(spark, s"explain-$name", Preflight.RunBudgetMs) {
          val df = SparkEntry.queries(name)(spark, sfDir)
          println(s"========== $name ==========")
          df.explain("formatted")
          df
        }
        _ <- Preflight.timed(spark, s"explain-$name-warm")(df)
        r1 <- Preflight.timed(spark, s"explain-$name-run1")(df)
        r2 <- Preflight.timed(spark, s"explain-$name-run2")(df)
      } yield Seq(r1, r2)
      secs match {
        case Left(m) => Console.err.println(s"[explain] $name failed: $m")
        case Right(ts) => ts.zipWithIndex.foreach { case (t, i) => println(f"[$name run${i + 1}] $t%.2f s") }
      }
      name -> secs
    }
}
