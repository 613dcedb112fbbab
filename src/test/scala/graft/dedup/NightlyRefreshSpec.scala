package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Gates q241's composed nightly pipeline beyond the DuckDB
  * hash-match:
  *
  *  1. ARTIFACT PLAN: the executed plan reads BOTH persisted stores
  *     (q94's sigstore, q239's ivfstore) — the corpus's signatures and
  *     centroids join in from parquet, not from a recompute.
  *  2. FUNNEL MONOTONICITY: per source, n_batch ≥ n_admitted ≥ n_new,
  *     n_known ≤ n_grams, n_vecs ≤ n_new, n_cells ≤ n_vecs — the
  *     stages only ever narrow.
  *  3. CONSERVATION: n_batch sums to the batch carve's cardinality and
  *     n_vecs sums to the survivors that have an embedding.
  *  4. STAGE AGREEMENT: the pipeline's near-dup stage agrees with q94
  *     on every doc both evaluate — a doc admitted by the digest gate
  *     gets exactly q94's is_new verdict (restricting the batch side
  *     frees band-cap slots, which can only ADD corpus candidates —
  *     lower row_number ranks — so agreement here pins that the extra
  *     candidates never flip a verdict on this fixture).
  */
class NightlyRefreshSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/documents.parquet"))

  test("plan reads both artifacts; funnel narrows; counts conserve; q94 agreement") {
    assume(fixture)
    val sig = DedupQueries.sigStore(spark, dir)
    val ivf = graft.sim.SimilarityQueries.ivfStore(spark, dir)
    val df = DedupQueries.queries("q241_nightly_refresh")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(sig), s"pipeline must scan the sigstore artifact: $sig")
    assert(plan.contains(ivf), s"pipeline must scan the ivfstore artifact: $ivf")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, na, nn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (ng, nk) = (r.getLong(4), r.getLong(5))
      val (nv, nc) = (r.getLong(7), r.getLong(8))
      assert(nb >= na && na >= nn, s"funnel must narrow: $r")
      assert(nk <= ng, s"known grams cannot exceed grams: $r")
      assert(nv <= nn && nc <= nv, s"vector placement bounded by survivors: $r")
    }
    graft.core.ScratchCache.drain()

    // conservation vs the carve
    val batchN = graft.core.Tables.documents(spark, dir)
      .filter(expr("substring(md5(concat('batch|', CAST(doc_id AS STRING))), 1, 1) IN ('0', '1')"))
      .count()
    assert(rows.map(_.getLong(1)).sum == batchN,
      "n_batch must tile the batch carve exactly")

    // stage agreement: recompute the admission stage independently
    // (digest gate + first-ingest-wins — ~10 lines of SQL, no shared
    // code with the pipeline's frame), restrict q94's full-batch
    // verdicts to that admitted set, and compare per-source counts
    // with the pipeline's n_admitted / n_new. The near-dup comparison
    // rides on the fixture: restricting the batch side frees band-cap
    // slots, which can only ADD corpus candidates — on this fixture no
    // verdict flips (asserted), so the pipeline's chain reproduces the
    // composition of its parts end-to-end.
    val admitted = spark.sql(
      s"""WITH split AS (
         |  SELECT doc_id, text, source,
         |    substring(md5(concat('batch|', CAST(doc_id AS STRING))), 1, 1) IN ('0', '1') AS is_batch
         |  FROM parquet.`$dir/documents.parquet`
         |)
         |SELECT doc_id, source FROM (
         |  SELECT s.doc_id, s.source, md5(s.text) AS digest,
         |    row_number() OVER (PARTITION BY md5(s.text) ORDER BY s.doc_id) AS rk
         |  FROM split s WHERE s.is_batch AND s.text IS NOT NULL
         |) b WHERE rk = 1 AND digest NOT IN (
         |  SELECT md5(text) FROM split WHERE NOT is_batch AND text IS NOT NULL
         |)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    graft.core.ScratchCache.drain()
    val admPerSource = admitted.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == admPerSource.getOrElse(r.getString(0), 0L),
        s"n_admitted diverged from the independent digest gate: $r")
    }
    val admittedIds = admitted.map(_._1).toSet
    val q94New = DedupQueries.queries("q94_incremental_dedup")(spark, dir)
      .filter(col("is_new") === 1).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    graft.core.ScratchCache.drain()
    val expectedNewPerSource = admitted.filter(a => q94New(a._1))
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getLong(3) == expectedNewPerSource.getOrElse(r.getString(0), 0L),
        s"n_new diverged from q94-restricted-to-admitted: $r")
    }
    info(s"funnel: batch=$batchN admitted=${rows.map(_.getLong(2)).sum} " +
      s"new=${rows.map(_.getLong(3)).sum} vecs=${rows.map(_.getLong(7)).sum}")
  }
}
