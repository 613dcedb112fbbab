package graft.dedup

import graft.SparkTestBase

/** The q94 incremental contract: a corpus-signature artifact written by
  * run N must let run N+1 ingest a batch WITHOUT re-shingling the
  * corpus, and produce exactly the recompute-both-sides answer —
  * because the artifact stores UNCAPPED band rows and the consumer
  * re-applies the bucket cap over the batch∪corpus union, the two
  * paths share cap semantics bit-for-bit. */
class IncrementalDedupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def ready = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/documents.parquet"))

  test("artifact round-trip: incremental result is bit-identical to the recompute path") {
    assume(ready)
    val direct = DedupQueries.q94Recompute(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.core.ScratchCache.drain()
    // the CATALOG entry is the incremental path (sigStore +
    // q94Incremental) — what verify/bench measure; pin it against the
    // recompute-both-sides twin, which is also the oracle SQL's shape
    val incr = DedupQueries.queries("q94_incremental_dedup")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(incr.nonEmpty, "incremental run returned no batch docs")
    assert(incr == direct,
      s"incremental vs direct diverged; first diff: ${
        incr.zip(direct).find { case (a, b) => a != b }}")
  }

  test("the catalog entry's plan reads the signature artifact, not a corpus recompute") {
    assume(ready)
    val plan = DedupQueries.queries("q94_incremental_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-sigstore-"),
      s"catalog q94 does not read the memoized signature artifact:\n$plan")
    val docScanLines = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet")).toList
    assert(docScanLines.nonEmpty, "no documents scan found (batch side must read it)")
    assert(docScanLines.forall(_.contains("DataFilters: [substring(md5(")),
      s"a documents scan without the batch-carve filter — corpus side re-read documents:\n${
        docScanLines.mkString("\n")}")
  }

  test("the corpus branch reads the parquet artifact, not documents") {
    assume(ready)
    val path = java.nio.file.Files.createTempDirectory("graft-sigstore2").toString
    DedupQueries.writeCorpusSignatures(spark, dir, path)
    graft.core.ScratchCache.drain()
    val plan = DedupQueries.q94Incremental(spark, dir, path)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"$path/bands"), s"corpus bands not read from artifact:\n$plan")
    assert(plan.contains(s"$path/sets"), s"corpus sets not read from artifact:\n$plan")
    // every documents scan must carry the batch-carve predicate AS A
    // DATA FILTER ON THE SCAN — i.e. only the ~1/8 batch rows ever
    // reach shingling/hashing. The recompute path can't have this
    // (it materializes is_batch as a column and filters per-branch
    // after the shared cache), so its presence on every scan IS the
    // proof that no corpus doc is re-processed.
    val docScanLines = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet")).toList
    assert(docScanLines.nonEmpty, s"no documents scan found (batch side must read it):\n$plan")
    assert(docScanLines.forall(_.contains("DataFilters: [substring(md5(")),
      s"a documents scan without the batch-carve filter — corpus side re-read documents:\n${
        docScanLines.mkString("\n")}")
  }

  test("a planted cross-carve exact duplicate is matched at jaccard 1.0 through the artifact") {
    import spark.implicits._
    // doc 11 lands on the BATCH side of the md5 carve, doc 1 on the
    // corpus side (first hex of md5("batch|11") ∈ {0,1}; of "batch|1"
    // not) — identical text, so the incremental path must band them
    // together, verify jaccard 1.0, and report is_new = 0. Catches a
    // shared-logic regression (carve, threshold, band width) that
    // round-trip equality alone cannot, since both paths would break
    // identically.
    val dup = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val stage = java.nio.file.Files.createTempDirectory("graft-planted").toString
    Seq(
      (11L, dup, "en", "t", dup.length.toLong),
      (1L, dup, "en", "t", dup.length.toLong),
      (2L, "entirely different words nothing shared here at all today folks", "en", "t", 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$stage/documents.parquet")
    try {
      val art = s"$stage/sigs"
      DedupQueries.writeCorpusSignatures(spark, stage, art)
      graft.core.ScratchCache.drain()
      val got = DedupQueries.q94Incremental(spark, stage, art)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(4))).toMap
      assert(got.keySet == Set(11L), s"batch side must be exactly doc 11: ${got.keySet}")
      val (nCand, matchDoc, isNew) = got(11L)
      assert(nCand >= 1 && matchDoc.contains(1L) && isNew == 0L,
        s"planted duplicate not recalled through the artifact: ${got(11L)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  test("artifact stores uncapped bands with the expected schema") {
    assume(ready)
    val path = java.nio.file.Files.createTempDirectory("graft-sigstore3").toString
    DedupQueries.writeCorpusSignatures(spark, dir, path)
    val bands = spark.read.parquet(s"$path/bands")
    val sets = spark.read.parquet(s"$path/sets")
    assert(bands.columns.sorted.toSeq == Seq("band_key", "band_no", "doc_id"))
    assert(sets.columns.sorted.toSeq == Seq("doc_id", "sset"))
    assert(bands.count() > 0 && sets.count() > 0)
    // every corpus doc carries K/2 = 4 band rows (uncapped write)
    val perDoc = bands.groupBy("doc_id").count().select("count").distinct().collect()
    assert(perDoc.map(_.getLong(0)).toSet == Set(4L),
      s"expected exactly 4 band rows per doc: ${perDoc.mkString(",")}")
  }
}
