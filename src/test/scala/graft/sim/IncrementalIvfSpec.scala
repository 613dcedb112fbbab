package graft.sim

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Gates q239's incremental-IVF contract — the pieces the DuckDB
  * hash-match can't see on its own:
  *
  *  1. ARTIFACT DETERMINISM: two independent [[SimilarityQueries
  *     .writeIvfIndex]] builds over the same corpus produce identical
  *     centroid and load frames (the persisted index is a pure
  *     function of the corpus — run N+1 can trust run N's parquet).
  *  2. ROUND-TRIP EXACTNESS: the parquet-stored centroids equal the
  *     live [[SimilarityQueries.trainedCentsOf]] frame bit-for-bit
  *     (centroid coordinates are exact integer sums in doubles, so
  *     the store loses nothing — the property the oracle's
  *     recompute-from-raw replay depends on).
  *  3. REPLAY READS THE STORE: q239's plan scans the ivfstore parquet
  *     for centroids and corpus loads — the corpus side of the drift
  *     comparison joins in from the artifact, not from a re-scan.
  *  4. GATE GROUND TRUTH: the natural ~1/8 carve stays below the
  *     noise-scaled retrain gate (pure sampling noise, l1 ≈ 1× the
  *     binomial floor), while a planted +0.5 model shift on the batch
  *     flags retrain on every row — the q204 plant discipline giving
  *     the verdict both sides of its truth table.
  *  5. CONSERVATION: batch loads sum to the carve's cardinality and
  *     the reported cells are exactly the trained centroids.
  */
class IncrementalIvfSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/embeddings.parquet"))

  // deleteOnExit is useless for dirs that become non-empty — clean up
  // the parquet trees explicitly when the test ends
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ivfspec").toString

  test("two independent index builds produce identical centroids and loads") {
    assume(fixture)
    val (a, b) = (tmp(), tmp())
    try {
      SimilarityQueries.writeIvfIndex(spark, dir, a)
      SimilarityQueries.writeIvfIndex(spark, dir, b)
      def slurp(path: String): (Set[String], Set[String]) = (
        spark.read.parquet(s"$path/cents")
          .select(col("cent_id").cast("string"), col("cv").cast("string"))
          .collect().map(_.mkString("|")).toSet,
        spark.read.parquet(s"$path/loads")
          .select(col("cell"), col("n_corpus"))
          .collect().map(_.mkString("|")).toSet)
      assert(slurp(a) == slurp(b), "index artifact must be a pure function of the corpus")
    } finally Seq(a, b).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("stored centroids round-trip the live training frame exactly") {
    assume(fixture)
    val store = SimilarityQueries.ivfStore(spark, dir)
    val stored = spark.read.parquet(s"$store/cents")
      .select(col("cent_id").cast("long"), col("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val corpus = SimilarityQueries.withVec(spark, dir)
      .filter(not(expr(SimilarityQueries.q239CarveExpr)))
    val live = SimilarityQueries.trainedCentsOf(spark, corpus)
      .select(col("cent_id").cast("long"), col("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    assert(stored == live, "parquet round-trip must be bit-exact (integer-sum centroids)")
  }

  test("the replay's corpus side comes from the store, and the gate has ground truth") {
    assume(fixture)
    val store = SimilarityQueries.ivfStore(spark, dir)
    val natural = SimilarityQueries.q239Plan(spark, dir)
    // (3) the executed plan reads the persisted index for both
    // centroids and loads — the corpus never re-enters the plan except
    // through the artifact
    val plan = natural.queryExecution.executedPlan.toString
    assert(plan.contains(store), s"replay must scan the ivfstore artifact: $store")
    // pinned shape: every join in the replay is broadcast-built (the
    // centroid cross join and the O(cells) artifact joins) — nothing
    // batch- or corpus-sized ever sorts or shuffles for a join
    assert(!plan.contains("SortMergeJoin"), "replay must not sort-merge anything")
    val rows = natural.collect()
    assert(rows.nonEmpty)
    // (4a) natural carve: sampling noise only — below the gate everywhere
    assert(rows.forall(_.getLong(6) == 0L),
      s"natural carve must not flag retrain: ${rows.map(_.getLong(6)).toSeq}")
    val l1 = rows.head.getLong(4); val noise = rows.head.getLong(5)
    assert(l1 < 3 * noise, s"natural l1=$l1 must sit under 3x noise=$noise")
    // (5) conservation: batch loads sum to the carve cardinality; the
    // cell universe is exactly the trained centroid set
    val batchN = SimilarityQueries.withVec(spark, dir)
      .filter(expr(SimilarityQueries.q239CarveExpr)).count()
    assert(rows.map(_.getLong(2)).sum == batchN,
      "every batch vector must land in exactly one cell")
    val cents = spark.read.parquet(s"$store/cents")
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == cents,
      "reported cells must be exactly the trained centroids")
    // (4b) planted +0.5 model shift on the batch: the share swing is a
    // SHIFT, not noise — it must clear the same gate the natural carve
    // stayed under, on every row (the verdict column is constant)
    val shifted = SimilarityQueries.q239Plan(spark, dir, batchShift = 0.5).collect()
    assert(shifted.forall(_.getLong(6) == 1L),
      s"planted shift must flag retrain: l1=${shifted.head.getLong(4)} noise=${shifted.head.getLong(5)}")
    info(f"natural l1=$l1%d ppm vs noise floor=$noise%d ppm (ratio ${l1.toDouble / noise}%.2f); " +
      f"planted l1=${shifted.head.getLong(4)}%d ppm (ratio ${shifted.head.getLong(4).toDouble / shifted.head.getLong(5)}%.2f)")
  }

  test("the retrain arm end-to-end: flagged shift -> rebuild over the merged corpus -> gate quiet") {
    assume(fixture)
    val storeB = tmp()
    try {
      val storeA = SimilarityQueries.ivfStore(spark, dir)
      // day N: a model shift arrives with the batch and the monitor flags
      val shifted = SimilarityQueries.withVec(spark, dir)
        .filter(expr(SimilarityQueries.q239CarveExpr))
        .withColumn("v", expr("transform(v, x -> x + 0.5D)"))
      val flagged = SimilarityQueries.ivfGate(spark, shifted, storeA).collect()
      assert(flagged.forall(_.getLong(6) == 1L), "the shift must flag retrain")
      // act on the verdict (the arm r19 never executed): merge the
      // flagged batch into the corpus and rebuild the persisted index
      val corpus = SimilarityQueries.withVec(spark, dir)
        .filter(not(expr(SimilarityQueries.q239CarveExpr)))
      val merged = corpus.unionByName(shifted)
      val t0 = System.nanoTime()
      SimilarityQueries.rebuildIvfIndex(spark, merged, storeB)
      val rebuildSec = (System.nanoTime() - t0) / 1e9
      // post-rebuild balance, q219-style: loads tile the merged corpus
      // exactly and the refreshed quantizer is non-degenerate
      val loads = spark.read.parquet(s"$storeB/loads")
        .select(col("cell"), col("n_corpus")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nMerged = merged.count()
      assert(loads.values.sum == nMerged, "rebuilt loads must tile the merged corpus")
      assert(loads.values.count(_ > 0) > 1, "rebuilt quantizer must have >1 live cell")
      assert(loads.values.max < nMerged, "no cell may own the whole merged corpus")
      // day N+1: a fresh deterministic carve OF the merged distribution
      // (an independent hash, so it is a plain random sample of the
      // post-shift corpus) gates QUIET against the rebuilt store — the
      // monitor is reset and ingest resumes on the incremental path
      val next = merged.filter(expr(
        "substring(md5(concat('day2|', CAST(vec_id AS STRING))), 1, 1) IN ('0', '1')"))
      val quiet = SimilarityQueries.ivfGate(spark, next, storeB).collect()
      assert(quiet.nonEmpty)
      assert(quiet.forall(_.getLong(6) == 0L),
        s"post-rebuild gate must be quiet: l1=${quiet.head.getLong(4)} noise=${quiet.head.getLong(5)}")
      assert(quiet.map(_.getLong(2)).sum == next.count(),
        "every next-day vector must land in exactly one rebuilt cell")
      info(f"rebuild wall ${rebuildSec}%.2f s over $nMerged%d merged vectors; " +
        f"post-rebuild l1=${quiet.head.getLong(4)}%d ppm vs noise=${quiet.head.getLong(5)}%d ppm")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(storeB))
  }
}
