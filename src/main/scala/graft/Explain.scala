package graft

import graft.core.Sessions

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
    if (names.isEmpty) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    } else names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"========== $name ==========")
      df.explain("formatted")
      // warm once, then time twice; scratch caches drained per run so
      // every run does the same work (and nothing leaks across queries)
      df.write.format("noop").mode("overwrite").save()
      graft.core.ScratchCache.drain()
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[$name run$i] ${(System.nanoTime() - t0) / 1e9}%.2f s")
        graft.core.ScratchCache.drain()
      }
    }
    spark.stop()
  }
}
