package graft.dedup

import graft.SparkTestBase

/** Min-label propagation semantics, pinned on graphs small enough to
  * check by hand — especially the transitive chain that pair-wise
  * keep-lowest dedup gets wrong. */
class ConnectedComponentsSpec extends SparkTestBase {

  private def run(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val v = vertices.toDF("doc_id")
    val e = edges.toDF("doc_a", "doc_b")
    val out = ConnectedComponents.components(v, "doc_id", e, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.ScratchCache.drain()
    out
  }

  test("chain A-B, B-C collapses transitively; disjoint pair and singleton untouched") {
    val comp = run(Seq(1L, 2L, 3L, 4L, 5L, 6L), Seq(1L -> 2L, 2L -> 3L, 4L -> 5L))
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("long chain converges to the global min regardless of edge direction") {
    // 9-8, 8-7, ..., 2-1: min label must travel the whole chain
    val comp = run((1L to 9L), (2L to 9L).map(i => i -> (i - 1)))
    assert(comp.values.toSet == Set(1L), comp.toString)
  }

  test("empty edge set leaves every vertex a singleton") {
    val comp = run(Seq(10L, 20L), Seq.empty)
    assert(comp == Map(10L -> 10L, 20L -> 20L))
  }

  test("reliable checkpoint path (checkpointDir) computes identical components") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      val v = (1L to 9L).toDF("doc_id")
      val e = (2L to 9L).map(i => i -> (i - 1)).toDF("doc_a", "doc_b")
      val comp = org.apache.spark.CheckpointDirs.withDir(spark.sparkContext, dir.toString) {
        ConnectedComponents.components(v, "doc_id", e, "doc_a", "doc_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(comp.values.toSet == Set(1L), comp.toString)
      // the reliable path actually wrote round state to the dir
      val wrote = java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint must persist round state to the checkpoint dir")
      graft.core.ScratchCache.drain()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("exhausting maxIter before the fixpoint fails loudly, never returns partial labels") {
    import spark.implicits._
    val v = (1L to 9L).toDF("doc_id")
    val e = (2L to 9L).map(i => i -> (i - 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.components(v, "doc_id", e, "doc_a", "doc_b", maxIter = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
    graft.core.ScratchCache.drain()
  }
}
