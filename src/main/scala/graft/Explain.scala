package graft

import graft.core.{Preflight, Sessions}
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Explains each query, warms it once and times two writes of it.
    * The build (with the explain and the warm-up) and each timed write
    * run under [[Preflight.bounded]] with the run budget, which drains
    * the scratch caches after each, so every write does the same work.
    * A query that throws or hangs prints one `[explain] <name> failed`
    * line and the next name still runs. Returns each name's two write
    * times in seconds, or its failure message. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Either[String, Seq[Double]])] =
    names.map { name =>
      def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      def timed(df: DataFrame, i: Int) =
        Preflight.bounded(spark, s"explain-$name-run$i", Preflight.RunBudgetMs) {
          val t0 = System.nanoTime()
          write(df)
          (System.nanoTime() - t0) / 1e9
        }
      val secs = for {
        df <- Preflight.bounded(spark, s"explain-$name", Preflight.RunBudgetMs) {
          val df = SparkEntry.queries(name)(spark, sfDir)
          println(s"========== $name ==========")
          df.explain("formatted")
          write(df)
          df
        }
        r1 <- timed(df, 1)
        r2 <- timed(df, 2)
      } yield Seq(r1, r2)
      secs match {
        case Left(m) => Console.err.println(s"[explain] $name failed: $m")
        case Right(ts) => ts.zipWithIndex.foreach { case (t, i) => println(f"[$name run${i + 1}] $t%.2f s") }
      }
      name -> secs
    }
}
