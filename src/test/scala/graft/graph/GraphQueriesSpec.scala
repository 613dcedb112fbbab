package graft.graph

import graft.SparkTestBase

/** Pins the link-graph queries on the driver fixture: the synthesized
  * graph's shape (hub at doc 0, capped source lists), the reverse-graph
  * semantics, and PageRank's fixed-point invariants. */
class GraphQueriesSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/documents.parquet"))

  test("q132: reverse graph — every page's sources are ascending, capped at 64, in_degree true") {
    assume(fixture)
    val out = GraphQueries.queries("q132_reverse_links")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val raw = r.getAs[String]("sources")
      val sources = if (raw.isEmpty) Seq.empty[Long] else raw.split(",").map(_.toLong).toSeq
      assert(sources == sources.sorted, s"page ${r.getLong(0)}: sources not ascending")
      assert(sources.length <= 64)
      val deg = r.getAs[Long]("in_degree")
      assert(deg >= sources.length.toLong)
      if (deg <= 64) assert(sources.length.toLong == deg)
    }
    // pages 0..6 are the mod-7 hubs (~N/7 in-links each at 500 docs):
    // their true in_degree overflows the 64-source cap
    (0L to 6L).foreach { p =>
      val hub = out.find(_.getAs[Long]("page_id") == p).get
      assert(hub.getAs[Long]("in_degree") > 64L, s"hub $p should overflow the cap")
      assert(hub.getAs[String]("sources").split(",").length == 64)
    }
  }

  test("q132: reverse-link semantics — planted check for page 10 (a non-hub)") {
    assume(fixture)
    val out = GraphQueries.queries("q132_reverse_links")(spark, dir).collect()
    val p10 = out.find(_.getAs[Long]("page_id") == 10L).get
    // sources of 10: i div 2 = 10 → {20,21}; i div 3 = 10 → {30,31,32};
    // i mod 7 = 10 is impossible — exactly these five
    assert(p10.getAs[String]("sources") == "20,21,30,31,32")
    assert(p10.getAs[Long]("in_degree") == 5L)
  }

  test("q133: PageRank — hub dominates, floors hold, deterministic across runs") {
    assume(fixture)
    val run1 = GraphQueries.queries("q133_pagerank")(spark, dir).collect()
    graft.core.ScratchCache.drain()
    val run2 = GraphQueries.queries("q133_pagerank")(spark, dir).collect()
    graft.core.ScratchCache.drain()
    assert(run1.map(_.toSeq).toSeq == run2.map(_.toSeq).toSeq,
      "fixed-point PageRank must be bit-identical across runs")
    val byId = run1.map(r => r.getAs[Long]("page_id") -> r.getAs[Long]("rank")).toMap
    // every rank ≥ the damping floor; leaf pages (no inlinks) sit exactly on it
    assert(run1.forall(_.getAs[Long]("rank") >= 150000L))
    val maxId = byId.keys.max
    assert(byId(maxId) == 150000L, "the highest doc id has no inlinks — rank = floor")
    // authority concentrates in the mod-7 hubs: the top-ranked page is one
    val top = run1.maxBy(_.getAs[Long]("rank"))
    assert(top.getAs[Long]("page_id") < 7L,
      s"expected a mod-7 hub on top, got page ${top.getAs[Long]("page_id")}")
    assert(top.getAs[Long]("rank") > 2L * 150000L, "hub rank should clear the floor decisively")
  }

  test("q155: k-core peeling trajectory matches a brute-force oracle; plan stays constant-size") {
    assume(fixture)
    val df = GraphQueries.queries("q155_kcore")(spark, dir)
    // the round-12 regression this spec exists to prevent: without an
    // eager localCheckpoint per peeling round the analyzed plan nests
    // ~2^rounds copies of the graph pipeline and CONSTRUCTION alone
    // hangs the driver. r21's shape checkpoints ONE node-sized deg
    // frame per round and keeps alive/edges as one-step lazy plans over
    // that leaf, so each trajectory row contributes a CONSTANT ~6
    // leaves (und + deg references) — ~52 for 9 rounds, LINEAR in
    // rounds; the unbounded version has thousands (when it finishes
    // analyzing at all).
    val leaves = df.queryExecution.analyzed.collectLeaves()
    assert(leaves.size <= 60, s"plan has ${leaves.size} leaves — lineage not truncated per round")
    val out = df.collect()
    graft.core.ScratchCache.drain()
    // brute-force peel on the fixture graph (k = 4, 8 rounds, planted
    // 10-clique "link farm" on docs 0..9 — q155's own addition)
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    val und = docs.flatMap(i => Seq(i / 2, i / 3, i % 7).filter(_ != i)
      .map(j => (math.min(i, j), math.max(i, j)))).toSet ++
      (for (a <- 0L until 10L; b <- a + 1 until 10L) yield (a, b))
    var alive = und.flatMap { case (a, b) => Seq(a, b) }
    var edges = und
    val expected = (0 to 8).map { i =>
      val row = (i.toLong, alive.size.toLong, edges.size.toLong)
      if (i < 8) {
        val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (v, vs) => v -> vs.size }
        alive = deg.filter(_._2 >= 4).keySet.toSet
        edges = edges.filter { case (a, b) => alive(a) && alive(b) }
      }
      row
    }
    val got = out.map(r => (r.getAs[Long]("round"), r.getAs[Long]("n_alive"), r.getAs[Long]("n_edges"))).toSeq
    assert(got == expected, s"trajectory mismatch:\n got $got\n exp $expected")
    // peeling is monotone and this graph's periphery cascades per
    // round until only the planted clique remains: the 4-core IS the
    // link farm, found exactly
    val aliveSeq = got.map(_._2)
    assert(aliveSeq.zip(aliveSeq.tail).forall { case (x, y) => y <= x }, "n_alive must be non-increasing")
    assert(aliveSeq.head > aliveSeq.last, "peeling should drop the sub-4-core periphery")
    assert(aliveSeq(7) == aliveSeq(8), "trajectory should reach its fixpoint by round 7 on the fixture")
    assert(got.last == ((8L, 10L, 45L)),
      "the 4-core on the sf0.001 fixture is exactly the planted 10-clique")
  }

  test("q155: reliable-checkpoint mode peels the same trajectory and writes real checkpoints") {
    assume(fixture)
    // the cluster-grade variant (r13 advice): localCheckpoint blocks
    // die with a lost executor mid-peel; checkpoint(dir) survives.
    // The context's checkpoint dir picks it, as for
    // ConnectedComponents.components.
    val ckDir = java.nio.file.Files.createTempDirectory("graft-kcore-ck")
    try {
      val local = GraphQueries.kcoreTrajectory(spark, dir).collect()
      graft.core.ScratchCache.drain()
      val reliable = org.apache.spark.CheckpointDirs.withDir(spark.sparkContext, ckDir.toString) {
        GraphQueries.kcoreTrajectory(spark, dir).collect()
      }
      graft.core.ScratchCache.drain()
      def traj(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(traj(reliable) == traj(local),
        "reliable-checkpoint peel must produce the identical trajectory")
      // the rounds actually checkpointed to the reliable dir
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(ckDir)
      val nFiles = try stream.iterator().asScala.count(java.nio.file.Files.isRegularFile(_))
        finally stream.close()
      assert(nFiles > 0, "reliable mode must write checkpoint files to the given dir")
    } finally {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(ckDir)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case scala.util.control.NonFatal(_) => () })
      finally stream.close()
    }
  }

  test("q164: reliable-checkpoint mode computes the identical scores and writes real checkpoints") {
    assume(fixture)
    // same checkpoint-dir contract as kcoreTrajectory / ConnectedComponents:
    // localCheckpoint blocks die with a lost executor mid-run;
    // checkpoint(dir) survives — the cluster-grade mode for 2·Iters
    // normalization rounds.
    val ckDir = java.nio.file.Files.createTempDirectory("graft-hits-ck")
    try {
      val local = GraphQueries.hitsScores(spark, dir).collect()
      graft.core.ScratchCache.drain()
      val reliable = org.apache.spark.CheckpointDirs.withDir(spark.sparkContext, ckDir.toString) {
        GraphQueries.hitsScores(spark, dir).collect()
      }
      graft.core.ScratchCache.drain()
      def scores(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(scores(reliable) == scores(local),
        "reliable-checkpoint HITS must produce identical scores")
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(ckDir)
      val nFiles = try stream.iterator().asScala.count(java.nio.file.Files.isRegularFile(_))
        finally stream.close()
      assert(nFiles > 0, "reliable mode must write checkpoint files to the given dir")
    } finally {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(ckDir)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case scala.util.control.NonFatal(_) => () })
      finally stream.close()
    }
  }

  test("q164: HITS matches a brute-force oracle; plan bounded; mod-7 hubs dominate authority") {
    assume(fixture)
    val df = GraphQueries.queries("q164_hits")(spark, dir)
    // the normalization crossJoin references each round's raw frame
    // twice — without the per-half-round checkpoint the plan would be
    // 4^8 × base (the q155 analyzer hang); checkpointed, it stays flat
    val leaves = df.queryExecution.analyzed.collectLeaves()
    assert(leaves.size <= 40, s"plan has ${leaves.size} leaves — lineage not truncated")
    val out = df.collect().map(r =>
      (r.getAs[Long]("page_id"), r.getAs[Long]("auth"), r.getAs[Long]("hub")))
    graft.core.ScratchCache.drain()
    // brute-force HITS on the same synthesized graph
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    val edges = docs.flatMap(i => Seq(i / 2, i / 3, i % 7).filter(_ != i)
      .map(j => (i, j))).distinct
    val scale = 1000000L
    var hub = docs.map(_ -> scale).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 8) {
      val aRaw = docs.map(v => v ->
        edges.collect { case (u, w) if w == v => hub(u) }.sum).toMap
      val aTot = aRaw.values.sum
      auth = aRaw.map { case (v, a) => v -> (a * scale) / aTot }
      val hRaw = docs.map(u => u ->
        edges.collect { case (x, v) if x == u => auth(v) }.sum).toMap
      val hTot = hRaw.values.sum
      hub = hRaw.map { case (u, h) => u -> (h * scale) / hTot }
    }
    val expected = docs.sorted.map(v => (v, auth(v), hub(v)))
    assert(out.toSeq == expected.toSeq,
      s"HITS mismatch; first diff: ${out.zip(expected).find(p => p._1 != p._2)}")
    // the planted structure: every doc links to doc_id % 7, so the
    // seven mod-7 pages hold ~N/7 in-links — they must dominate auth
    val topAuth = out.sortBy(-_._2).take(5).map(_._1).toSet
    assert(topAuth.forall(_ < 7L),
      s"top authorities must be the mod-7 hub pages, got $topAuth")
  }

  test("q143: triangle count matches a brute-force oracle; orientation bounds the wedges") {
    assume(fixture)
    val out = GraphQueries.queries("q143_triangle_count")(spark, dir).collect().head
    graft.core.ScratchCache.drain()
    // brute-force oracle on the small fixture graph (undirected, canonical)
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    val und = docs.flatMap(i => Seq(i / 2, i / 3, i % 7).filter(_ != i)
      .map(j => (math.min(i, j), math.max(i, j)))).toSet
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triangles = und.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b) // canonical a < b < c
    }.sum
    assert(out.getAs[Long]("n_triangles") == triangles.toLong,
      s"expected $triangles triangles, got ${out.getAs[Long]("n_triangles")}")
    assert(out.getAs[Long]("n_edges") == und.size.toLong)
    // the point of the degree orientation: wedges examined stay FAR
    // under the naive per-middle-node Σ deg·(deg−1)/2 (the mod-7 hubs
    // alone would contribute ~(N/7)² each unoriented)
    val naiveWedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(out.getAs[Long]("n_wedges") < naiveWedges / 3,
      s"oriented wedges ${out.getAs[Long]("n_wedges")} vs naive $naiveWedges")
  }
}
