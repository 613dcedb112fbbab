package graft.core

import org.apache.spark.sql.SparkSession

/** The one way every runner and the test base build a SparkSession.
  *
  * Each session gets the same fixed settings: the master, a shuffle
  * width, the UTC session time zone (the oracle's timestamps are UTC)
  * and no web UI. AQE and its partition coalescing are left at Spark's
  * default, which is on; SessionsSpec pins that default.
  *
  * Measured and reverted (r22): lowering AQE's post-shuffle partition
  * floor (coalescePartitions.minPartitionSize, default 1m) to 64k for
  * every query sped q237's CPU-dense small band frame 4.1→1.7 s but
  * cost 1.5× on small queries whose tiny stages belong on one core
  * (q61, q68, q93). q237 repartitions its band keys at the operator
  * instead.
  */
object Sessions {
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A local session as wide as the box: `SPARK_GRAFT_CPUS` cores when
    * set, otherwise every available processor, with as many shuffle
    * partitions. */
  def local(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = builder(s"local[$n]", n).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
