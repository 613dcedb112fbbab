package graft.core

import graft.SparkTestBase

/** The session factory every runner and the test base build through.
  * getOrCreate applies the factory's runtime confs to the shared
  * session, so each test restores the shared width afterwards. */
class SessionsSpec extends SparkTestBase {

  private val width = "spark.sql.shuffle.partitions"
  private val tz = "spark.sql.session.timeZone"

  test("a factory-built session has the requested width, UTC and Spark's default AQE on") {
    val shared = spark.conf.get(width)
    spark.conf.set(tz, "America/New_York") // so the factory's UTC is observable
    val s = Sessions.builder("local[4, 2]", 3).getOrCreate()
    try {
      assert(s.conf.get(width) == "3")
      assert(s.conf.get(tz) == "UTC")
      // the factory sets no AQE conf: the runners rely on Spark's default
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    } finally { s.conf.set(width, shared); s.conf.set(tz, "UTC") }
  }

  test("local() is as wide as SPARK_GRAFT_CPUS, else the available processors") {
    val shared = spark.conf.get(width)
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = Sessions.local()
    try assert(s.conf.get(width) == n.toString)
    finally s.conf.set(width, shared)
  }
}
