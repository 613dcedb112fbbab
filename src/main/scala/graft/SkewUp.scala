package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions

/** Dev tool: write an ADVERSARIALLY SKEWED variant of a testdata SF
  * directory, so the scale claims behind the dedup/similarity caps are
  * stress-tested against the distributions that break naive plans,
  * instead of only asserted on the benign synthetic corpus. BENCH/SPEC
  * ONLY — the DuckDB oracle still runs on the unmodified testdata.
  *
  * Injected hazards (each targets a specific guard):
  *  - `spam`: a cluster of IDENTICAL documents far larger than
  *    [[graft.dedup.Banding.MaxBandBucket]] — the n²/2 hot-band-key
  *    fan-out that the band cap must exclude (q42/q44/q46/q75).
  *  - `template`: near-identical documents (a shared base of its own,
  *    one unique token each) — the boilerplate cluster whose band
  *    buckets must stay capped even though signatures are not all
  *    identical.
  *  - `stopsat`: stopword-saturated long documents — the hot-term df
  *    skew q68 sidesteps by broadcasting the df aggregate, and bulk
  *    chunk volume for q80's sharded packing window.
  *  - dominant embedding label — one label holding most vectors, the
  *    skewed quadratic join q45's label-block cap must bound; also
  *    floods one LSH bucket region for q74.
  *
  * All generated content is deterministic (ids and token formulas
  * only), so spec assertions on the output are exact.
  *
  * Usage: sbt "runMain graft.SkewUp /root/testdata/sf0.1 /tmp/graft_skew 2000 1000 500 20000"
  * (on [[graft.core.Sessions.local]]: SPARK_GRAFT_CPUS cores, else all)
  */
object SkewUp {

  /** 40-token base of the identical-doc spam cluster. */
  private val template = (1 to 40).map(i => s"tpl$i").mkString(" ")
  /** The template cluster's OWN 40-token base — deliberately disjoint
    * from the spam cluster's, so the two hazards occupy different band
    * buckets and each guard's truncation behavior is observable in
    * isolation (with a shared base, spam's lower doc_ids win every
    * truncated bucket slot and the template cluster is shadowed). */
  private val tplBase = (1 to 40).map(i => s"tmb$i").mkString(" ")
  /** 10 stopwords; repeated 40× = a 400-token saturated doc. */
  private val stopRun = Array.fill(40)("the of and to a in is it for on").mkString(" ")

  private def docRows(spark: SparkSession, n: Int, offset: Long,
                      textExpr: String, tag: String): DataFrame =
    spark.range(n.toLong)
      .select((col("id") + offset).as("doc_id"))
      .withColumn("text", expr(textExpr))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit(tag))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Write the skewed variant of `src` into `dst`. Dimension and fact
    * tables are copied as-is (so the full catalog stays runnable);
    * documents/embeddings get the adversarial unions appended. */
  def write(spark: SparkSession, src: String, dst: String,
            spamN: Int, templateN: Int, stopN: Int, domN: Int): Unit = {
    // events.ts is TIMESTAMP(NANOS) — readable only as long (same
    // setting Tables.events uses); the copy preserves the raw longs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    val spam = docRows(spark, spamN, 2000000L, s"'$template'", "spam")
    val tpl = docRows(spark, templateN, 3000000L,
      s"concat('$tplBase', ' uniq', CAST(doc_id AS STRING))", "template")
    val stop = docRows(spark, stopN, 4000000L,
      s"concat('$stopRun', ' tail', CAST(doc_id AS STRING))", "stopsat")
    spark.read.parquet(s"$src/documents.parquet")
      .unionByName(spam).unionByName(tpl).unionByName(stop)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // dominant label 9999; deterministic pseudo-random unit-scale floats
    val dom = spark.range(domN.toLong)
      .select((col("id") + 1000000L).as("vec_id"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), d -> CAST(pmod(vec_id * 31 + d * 7, 97) / 48.5 - 1.0 AS FLOAT))"))
      .withColumn("label", lit(9999).cast("int"))
    spark.read.parquet(s"$src/embeddings.parquet")
      .unionByName(dom)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_skew")
    val spamN = args.lift(2).map(_.toInt).getOrElse(2000)
    val templateN = args.lift(3).map(_.toInt).getOrElse(1000)
    val stopN = args.lift(4).map(_.toInt).getOrElse(500)
    val domN = args.lift(5).map(_.toInt).getOrElse(20000)
    val spark = Sessions.local()
    write(spark, src, dst, spamN, templateN, stopN, domN)
    Seq("documents", "embeddings").foreach { t =>
      println(s"[skewup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
