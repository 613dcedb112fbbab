package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions

/** Dev tool: replicate a driver SF directory `factor`× into a local
  * bench directory, so scale claims can be validated one order of
  * magnitude above the largest provided fixture (sf0.1 → "sf1")
  * instead of extrapolated. BENCH ONLY — the DuckDB oracle still runs
  * at sf0.01; nothing under /root/testdata is touched.
  *
  * Scaling model (mirrors how the TPC-H key space grows with SF):
  *  - region/nation are fixed dimensions → copied once;
  *  - every key column (order/part/supp/cust/event/user/doc/vec) gets
  *    a per-replica offset, consistently across tables, so join
  *    fan-outs and per-key densities stay constant — more users, more
  *    orders per run of the same shape, never 10× rows on one key;
  *  - documents.text gets a per-replica suffix token so the corpus
  *    scales as near-duplicates (shared shingles, distinct content),
  *    not as 10-deep exact-duplicate clusters that would collapse
  *    under q40 and stress nothing else.
  *
  * Usage: sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"
  * (on [[graft.core.Sessions.local]]: SPARK_GRAFT_CPUS cores, else all)
  */
object ScaleUp {

  private val keyCols = Set(
    "c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey",
    "event_id", "user_id", "doc_id", "vec_id")

  /** Larger than any key at the source SF, so replica key ranges never
    * collide. */
  private val Offset = 100000000L

  /** Write the `factor`× replica of `src` into `dst` — callable from
    * specs (ScaleUp-at-spec-scale for output-normalized scaling
    * assertions) as well as [[main]]. */
  def write(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts

    /** Replica key ranges overlap silently if any source key reaches
      * the per-replica offset — that would corrupt join fan-outs in
      * every derived bench number, so check the actual data, not the
      * assumption (one cheap max() per key column). */
    def assertKeysBelowOffset(t: DataFrame, table: String): Unit = {
      val present = t.columns.filter(keyCols)
      if (present.nonEmpty) {
        val maxes = t.agg(max(col(present.head).cast("long")),
            present.tail.toSeq.map(c => max(col(c).cast("long"))): _*)
          .head()
        present.zipWithIndex.foreach { case (c, idx) =>
          // null max = empty table / all-null column — nothing to overlap
          if (!maxes.isNullAt(idx)) {
            val m = maxes.getLong(idx)
            require(m < Offset,
              s"$table.$c max $m >= replica offset $Offset; raise Offset or shrink the source")
          }
        }
      }
    }

    def replicate(t: DataFrame, i: Int, table: String): DataFrame = {
      val keyed = t.columns.foldLeft(t) { (df, c) =>
        if (keyCols(c)) df.withColumn(c, col(c) + lit(i * Offset)) else df
      }
      if (table == "documents" && i > 0)
        keyed.withColumn("text", concat(col("text"), lit(s" rep$i")))
      else keyed
    }

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: copied")
    }
    Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      assertKeysBelowOffset(base, t)
      val out = (0 until factor).map(i => replicate(base, i, t)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: x$factor -> ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local()
    write(spark, src, dst, factor)
    spark.stop()
  }
}
