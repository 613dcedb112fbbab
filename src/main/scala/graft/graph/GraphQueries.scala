package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Oracle, Query, QueryCatalog, ScratchCache, Tables}
import graft.core.Lineage.truncate

/** Link-graph analytics over the document corpus — the web-curation
  * signals (who links whom, which pages carry authority) a crawl
  * pipeline computes before per-domain policy decisions.
  *
  * q132 implements the REFERENCE'S OWN missing app: CMakeLists.txt
  * lists a `ReverseWeblinkGraph` target (`CMakeLists.txt:35-37`,
  * commented out, no source file shipped) — the canonical MapReduce
  * example (map: emit (target, source) per link; reduce: collect each
  * target's sources). This is that app, Spark-first, plus q133's
  * PageRank over the same graph.
  *
  * The corpus has no link column, so a deterministic link set is
  * SYNTHESIZED: doc i links to i/2, i/3 (integer division — long
  * low-id-bound chains, the depth PageRank needs to propagate
  * through) and i mod 7 (seven HUB pages holding ~N/7 in-links each —
  * the skew that makes the source-list cap and the authority ranking
  * mean something). Self-links dropped, edges deduped; both engines
  * replay the identical graph from the same expression, so everything
  * downstream is hash-checkable.
  *
  * Scale shape: q132 is one exchange on the target id; the per-target
  * source list is CAPPED (first 64 ascending) so a hub's output row
  * stays bounded while in_degree reports the true count — the q21
  * collect-set discipline under skew. q133 is O(iterations) id-keyed
  * join rounds — the [[graft.dedup.ConnectedComponents]] propagation
  * shape, never a whole-graph window — with edges and out-degrees
  * persisted once and reused by all 8 rounds. Rank arithmetic is
  * FIXED-POINT integer (rank scaled by 10⁶; damping as
  * `(85 · Σ(rank DIV outdeg)) DIV 100`): deterministic under any
  * partitioning and replayed bit-for-bit by the DuckDB twin —
  * floating-point PageRank would hash-mismatch on addition order
  * alone. Dangling mass (doc 0 has no outlinks) is dropped, the
  * standard simplification; ranks CONVERGE relatively, which is what
  * authority ordering needs. */
object GraphQueries extends QueryCatalog {

  /** Shared synthesized edge set: (src, dst), self-links dropped,
    * deduped. */
  private def linksOf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id AS src",
        "explode(array(doc_id div 2, doc_id div 3, doc_id % 7)) AS dst")
      .filter(col("src") =!= col("dst"))
      .distinct()

  private val linksSql =
    """SELECT DISTINCT doc_id AS src, t AS dst
      |  FROM (SELECT doc_id, unnest([doc_id // 2, doc_id // 3, doc_id % 7]) AS t
      |        FROM documents)
      |  WHERE doc_id <> t""".stripMargin

  // ---------------------------------------------------------------- q132
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // The cap is applied BEFORE anything is collected: a hub's full
    // source list never materializes in one aggregation buffer (the
    // old collect-then-slice held ~N/7 ids per hub buffer at any
    // scale). rank ≤ 64 over (dst, src) is pushed map-side by
    // WindowGroupLimit — each task forwards at most 64 rows per dst —
    // and the true in_degree comes from a separate count aggregate
    // that shares the dst partitioning. sort_array on the ≤64-element
    // list pins the output order without trusting aggregation input
    // order.
    val links = ScratchCache.persist(linksOf(s, dir))
    val capped = links
      .withColumn("rn", row_number().over(Window.partitionBy($"dst").orderBy($"src")))
      .filter($"rn" <= 64)
      .groupBy($"dst")
      .agg(array_join(sort_array(collect_list($"src")), ",").as("sources"))
    val deg = links.groupBy($"dst").agg(count(lit(1)).as("in_degree"))
    capped.join(deg, "dst")
      .select($"dst".as("page_id"), $"in_degree", $"sources")
      .orderBy($"page_id")
  }
  private val q132Sql =
    s"""WITH links AS (
       |$linksSql
       |)
       |SELECT dst AS page_id, CAST(count(*) AS BIGINT) AS in_degree,
       |  array_to_string(list_slice(list_sort(list(src)), 1, 64), ',') AS sources
       |FROM links GROUP BY dst ORDER BY page_id""".stripMargin

  // ---------------------------------------------------------------- q133
  private val Iters = 8
  private val Scale = 1000000L // rank 1.0 ≡ 10⁶; damping 0.85 ≡ 85/100

  private def q133(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val links = ScratchCache.persist(linksOf(s, dir))
    val outdeg = links.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    // Out-degrees fused into the edge frame ONCE, before the loop —
    // joining them per round re-shuffled the edge set 8 times — and the
    // persisted edges PRE-PARTITIONED on src, so every round's join
    // reads the in-memory partitioning instead of exchanging the (much
    // bigger) edge side again; only the node-sized rank frame moves per
    // round. Join strategy inside the loop is left to AQE: at fixture
    // scale it broadcasts the ~1 MB rank frame, at web scale (rank =
    // every page — NOT broadcastable) it degrades to the id-keyed
    // shuffle join this loop is shaped for.
    val linksDeg = ScratchCache.persist(
      links.join(outdeg, "src").repartition($"src"))
    val nodes = ScratchCache.persist(
      Tables.documents(s, dir).select($"doc_id".as("page_id")))
    // r22 NOTE (measured and REVERTED, guide §1): folding the rank
    // expression into the contribution pass — linksDeg LEFT JOIN
    // contrib with the rank formula inline, removing the per-round
    // nodes join — was tried and is 1.4–1.8× SLOWER at bench SF
    // (probe: 51→35 jobs but 29→76+ executor-seconds). The INNER join
    // below keeps BOTH sides broadcastable: AQE broadcasts the
    // persisted, round-invariant linksDeg side (BuildLeft, the SAME
    // subtree every round → one BroadcastExchange reused by rounds
    // 2..8) and streams only the node-sized rank frame per round. A
    // left join can only build its right side, which forces the
    // per-round (non-reusable) contrib to broadcast and the E-sized
    // edge frame to stream through every round's map stage.
    var rank = nodes.withColumn("rank", lit(Scale))
    for (_ <- 1 to Iters) {
      val contrib = linksDeg
        .join(rank.withColumnRenamed("page_id", "src"), "src")
        .select($"dst".as("page_id"), expr("rank DIV outdeg").as("c"))
        .groupBy($"page_id").agg(sum($"c").as("contrib"))
      rank = nodes.join(contrib, Seq("page_id"), "left")
        .select($"page_id",
          expr(s"CAST(150000 + (85 * coalesce(contrib, 0L)) DIV 100 AS BIGINT)").as("rank"))
    }
    rank.orderBy($"page_id")
  }
  private val q133Sql = {
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT n.page_id,
         |    CAST(150000 + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT l.dst AS page_id, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS contrib
         |    FROM links l
         |    JOIN outdeg o ON l.src = o.src
         |    JOIN r${i - 1} r ON l.src = r.page_id
         |    GROUP BY l.dst
         |  ) c USING (page_id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH links AS (
       |$linksSql
       |), outdeg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM links GROUP BY src
       |), nodes AS (
       |  SELECT doc_id AS page_id FROM documents
       |), r0 AS (
       |  SELECT page_id, CAST($Scale AS BIGINT) AS rank FROM nodes
       |),
       |$iters
       |SELECT page_id, rank FROM r$Iters ORDER BY page_id""".stripMargin
  }

  // ---------------------------------------------------------------- q164
  /** HITS hubs & authorities over the link graph — the third classic
    * link-analysis signal beside reverse-links (q132) and PageRank
    * (q133): auth(v) = Σ hub(u) over in-links, hub(u) = Σ auth(v)
    * over out-links, L1-normalized each round. A crawl pipeline reads
    * authorities as "pages worth keeping" and hubs as "directory/spam
    * pages linking broadly".
    *
    * Determinism: all sums are exact integers; per-round
    * normalization is `(score · 10⁶) DIV total` — scores are
    * NON-NEGATIVE, so Spark's truncating DIV and DuckDB's flooring
    * `//` agree (the sign caveat that forces q163 into
    * cross-multiplication doesn't bite here).
    *
    * Scale shape: the q133 loop discipline with one twist — HITS
    * joins the edge set on BOTH endpoints (hub pass keys on dst, auth
    * pass on src), so the edge frame is persisted TWICE, pre-
    * partitioned each way; 2× edge storage buys zero edge exchanges
    * in all 2·Iters joins, and only node-sized score frames move per
    * round. Normalization totals are 1-row aggregates broadcast back
    * by crossJoin — which references the round's raw frame TWICE, so
    * each raw frame is EAGERLY truncated first (the q155 discipline,
    * [[graft.core.Lineage.truncate]]): without the cut, the double reference doubles the
    * plan per half-round and the analyzer walk is 4^Iters by round 8
    * — the exact r12 driver hang. Cost is 2·Iters node-sized
    * checkpoint jobs, the price every iterative-with-normalization
    * DataFrame algorithm pays. */
  private[graph] def hitsScores(s: SparkSession, dir: String): DataFrame = {
    // `auth` is first assigned inside the loop
    require(Iters >= 1, s"HITS needs at least one round, got $Iters")
    import s.implicits._
    val links = ScratchCache.persist(linksOf(s, dir))
    val bySrc = ScratchCache.persist(links.repartition($"src"))
    val byDst = ScratchCache.persist(links.repartition($"dst"))
    val nodes = ScratchCache.persist(
      Tables.documents(s, dir).select($"doc_id".as("page_id")))
    // r22 (guide §2.3/§2.4): the per-round frames carry ONLY nodes
    // with a non-zero raw score — a node absent from the in-link
    // (out-link) aggregate had a = 0, so its normalized score was
    // (0 · Scale) DIV t = 0 and it contributed exactly 0 to every
    // downstream sum. Dropping those rows inside the loop removes
    // the 2·Iters node-frame left joins the old loop paid per run
    // (the O(V) nodes frame re-joined before every checkpoint),
    // shrinks each checkpointed frame to the reachable nodes, and
    // leaves the totals unchanged (missing rows summed as 0). The
    // full node frame is reconstructed ONCE at the end with the same
    // coalesce-to-0 the loop used to apply per round.
    var hub = nodes.withColumn("hub", lit(Scale))
    var auth: DataFrame = null
    for (_ <- 1 to Iters) {
      val aRaw = truncate(
        bySrc.join(hub.withColumnRenamed("page_id", "src"), "src")
          .groupBy($"dst".as("page_id")).agg(sum($"hub").as("a")))
      auth = aRaw.crossJoin(broadcast(aRaw.agg(sum($"a").as("t"))))
        .selectExpr("page_id", s"CAST((a * $Scale) DIV t AS BIGINT) AS auth")
      val hRaw = truncate(
        byDst.join(auth.withColumnRenamed("page_id", "dst"), "dst")
          .groupBy($"src".as("page_id")).agg(sum($"auth").as("h")))
      hub = hRaw.crossJoin(broadcast(hRaw.agg(sum($"h").as("t"))))
        .selectExpr("page_id", s"CAST((h * $Scale) DIV t AS BIGINT) AS hub")
    }
    nodes.join(auth, Seq("page_id"), "left")
      .join(hub, Seq("page_id"), "left")
      .select($"page_id", coalesce($"auth", lit(0L)).as("auth"),
        coalesce($"hub", lit(0L)).as("hub"))
      .orderBy($"page_id")
  }
  private def q164(s: SparkSession, dir: String): DataFrame =
    hitsScores(s, dir)

  // ---------------------------------------------------------------- q196
  /** TrustRank spam mass (Gyöngyi, Garcia-Molina & Pedersen, VLDB
    * 2004) — the crawl-admission signal q133's raw PageRank cannot
    * give: rank says a page is popular, trust says its popularity is
    * REACHABLE FROM a vetted seed set. Two chains run fused over the
    * same edge frame — pr (q133's exact arithmetic, teleport to every
    * page) and tr (teleport ONLY to md5-carved trusted seeds, the
    * stand-in for a curated whitelist, which at scale is a tiny
    * broadcast side input). Each non-seed page gets a trust CLASS —
    * `trusted` (normalized trust ≥ half its normalized rank),
    * `low_trust` (some trust reached it, but below half), `no_trust`
    * (zero trust reached it in Iters damped rounds — inlink mass
    * living entirely in regions the seed set cannot see, the
    * link-farm signature) — the decision table a crawl-admission
    * policy prices per class instead of a single binary bit. The
    * share comparison is cross-multiplied in DECIMAL(38,0)/HUGEINT
    * (2·tr·Σpr vs pr·Σtr): at 100 TB node counts, pr·Σtr overflows
    * int64 (q163's discipline), and no division ever happens so both
    * engines agree bit-for-bit.
    *
    * Scale shape: q133's loop discipline exactly — edges fused with
    * out-degrees ONCE and pre-partitioned on src, both chains ride
    * the SAME per-round join (two integer columns instead of one, so
    * TrustRank costs one extra column, not one extra traversal), only
    * node-sized frames move per round; the final totals are a 1-row
    * aggregate broadcast back. */
  private[graph] val trustSeedExpr =
    "CASE WHEN substring(md5(concat('trust|', CAST(page_id AS STRING))), 1, 1) = '0' THEN 1 ELSE 0 END"

  /** Fused pr/tr chains over explicit node and link frames — exposed
    * so TrustRankSpec can replay a planted graph against a BigInt
    * trajectory oracle. nodesIn: (page_id, is_seed); linksIn:
    * (src, dst). */
  private[graph] def trustRankOf(nodesIn: DataFrame, linksIn: DataFrame): DataFrame = {
    val s = nodesIn.sparkSession
    import s.implicits._
    val links = ScratchCache.persist(linksIn)
    val outdeg = links.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    // r22 NOTE (measured and REVERTED): the q133-style fold-the-rank-
    // into-the-contribution-pass rewrite (linksDeg LEFT JOIN contrib,
    // is_seed fused into the edge frame) was tried and is ~1.5× SLOWER
    // at bench SF for the same reason as q133 — the left join forces
    // the per-round contrib to be the broadcast side, so the E-sized
    // edge frame streams through every round, while the INNER join
    // below lets AQE broadcast the round-invariant linksDeg subtree
    // once (BuildLeft) and reuse it across all rounds.
    val linksDeg = ScratchCache.persist(
      links.join(outdeg, "src").repartition($"src"))
    val nodes = ScratchCache.persist(
      nodesIn.selectExpr("page_id", "CAST(is_seed AS BIGINT) AS is_seed"))
    var rank = nodes
      .withColumn("pr", lit(Scale))
      .withColumn("tr", expr(s"is_seed * $Scale"))
    for (_ <- 1 to Iters) {
      val contrib = linksDeg
        .join(rank.select($"page_id".as("src"), $"pr", $"tr"), "src")
        .select($"dst".as("page_id"),
          expr("pr DIV outdeg").as("cp"), expr("tr DIV outdeg").as("ct"))
        .groupBy($"page_id").agg(sum($"cp").as("cp"), sum($"ct").as("ct"))
      rank = nodes.join(contrib, Seq("page_id"), "left")
        .select($"page_id", $"is_seed",
          expr("CAST(150000 + (85 * coalesce(cp, 0L)) DIV 100 AS BIGINT)").as("pr"),
          expr("CAST(is_seed * 150000 + (85 * coalesce(ct, 0L)) DIV 100 AS BIGINT)").as("tr"))
    }
    val fin = ScratchCache.persist(rank)
    val tot = fin.agg(sum($"pr").cast("long").as("pr_total"),
      sum($"tr").cast("long").as("tr_total"))
    fin.crossJoin(broadcast(tot))
      .selectExpr("page_id", "pr", "tr", "is_seed",
        s"""CASE WHEN is_seed = 1 THEN 'seed'
           |     WHEN tr = 0 THEN 'no_trust'
           |     WHEN CAST(2 AS DECIMAL(38,0)) * tr * pr_total
           |          < CAST(pr AS DECIMAL(38,0)) * tr_total THEN 'low_trust'
           |     ELSE 'trusted' END AS trust_class""".stripMargin.replace("\n", " "))
      .orderBy($"page_id")
  }

  private def q196(s: SparkSession, dir: String): DataFrame =
    trustRankOf(
      Tables.documents(s, dir).selectExpr("doc_id AS page_id")
        .selectExpr("page_id", s"$trustSeedExpr AS is_seed"),
      linksOf(s, dir))
  private val q196Sql = {
    val rounds = (1 to Iters).map { i =>
      s"""t$i AS (
         |  SELECT n.page_id, n.is_seed,
         |    CAST(150000 + (85 * coalesce(c.cp, 0)) // 100 AS BIGINT) AS pr,
         |    CAST(n.is_seed * 150000 + (85 * coalesce(c.ct, 0)) // 100 AS BIGINT) AS tr
         |  FROM nodes n LEFT JOIN (
         |    SELECT l.dst AS page_id,
         |      CAST(sum(r.pr // o.outdeg) AS BIGINT) AS cp,
         |      CAST(sum(r.tr // o.outdeg) AS BIGINT) AS ct
         |    FROM links l
         |    JOIN outdeg o ON l.src = o.src
         |    JOIN t${i - 1} r ON l.src = r.page_id
         |    GROUP BY l.dst
         |  ) c USING (page_id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH links AS (
       |$linksSql
       |), outdeg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM links GROUP BY src
       |), nodes AS (
       |  SELECT doc_id AS page_id,
       |    CASE WHEN substring(md5('trust|' || CAST(doc_id AS VARCHAR)), 1, 1) = '0'
       |         THEN 1 ELSE 0 END AS is_seed
       |  FROM documents
       |), t0 AS (
       |  SELECT page_id, is_seed, CAST($Scale AS BIGINT) AS pr,
       |    CAST(is_seed * $Scale AS BIGINT) AS tr
       |  FROM nodes
       |),
       |$rounds,
       |tot AS (
       |  SELECT CAST(sum(pr) AS BIGINT) AS pr_total,
       |    CAST(sum(tr) AS BIGINT) AS tr_total
       |  FROM t$Iters
       |)
       |SELECT page_id, pr, tr, CAST(is_seed AS BIGINT) AS is_seed,
       |  CASE WHEN is_seed = 1 THEN 'seed'
       |       WHEN tr = 0 THEN 'no_trust'
       |       WHEN CAST(2 AS HUGEINT) * tr * tot.pr_total
       |            < CAST(pr AS HUGEINT) * tot.tr_total THEN 'low_trust'
       |       ELSE 'trusted' END AS trust_class
       |FROM t$Iters, tot ORDER BY page_id""".stripMargin
  }
  private val q164Sql = {
    val rounds = (1 to Iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT n.page_id, coalesce(x.a, 0) AS a
         |  FROM nodes n LEFT JOIN (
         |    SELECT l.dst AS page_id, CAST(sum(h.hub) AS BIGINT) AS a
         |    FROM links l JOIN h${i - 1} h ON l.src = h.page_id
         |    GROUP BY l.dst
         |  ) x USING (page_id)
         |), a$i AS MATERIALIZED (
         |  SELECT page_id,
         |    CAST((a * $Scale) // (SELECT sum(a) FROM ar$i) AS BIGINT) AS auth
         |  FROM ar$i
         |), hr$i AS MATERIALIZED (
         |  SELECT n.page_id, coalesce(x.h, 0) AS h
         |  FROM nodes n LEFT JOIN (
         |    SELECT l.src AS page_id, CAST(sum(a.auth) AS BIGINT) AS h
         |    FROM links l JOIN a$i a ON l.dst = a.page_id
         |    GROUP BY l.src
         |  ) x USING (page_id)
         |), h$i AS MATERIALIZED (
         |  SELECT page_id,
         |    CAST((h * $Scale) // (SELECT sum(h) FROM hr$i) AS BIGINT) AS hub
         |  FROM hr$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH links AS MATERIALIZED (
       |$linksSql
       |), nodes AS MATERIALIZED (
       |  SELECT doc_id AS page_id FROM documents
       |), h0 AS (
       |  SELECT page_id, CAST($Scale AS BIGINT) AS hub FROM nodes
       |),
       |$rounds
       |SELECT a.page_id, a.auth, h.hub
       |FROM a$Iters a JOIN h$Iters h USING (page_id)
       |ORDER BY a.page_id""".stripMargin
  }

  // ---------------------------------------------------------------- q143
  /** Triangle count with DEGREE-ORDERED orientation — the
    * Schank–Wagner / classic MapReduce trick that makes triangle
    * counting survive hub skew: each undirected edge is oriented from
    * its lower-(degree, id) endpoint toward the higher, so a hub's
    * edges all point INTO it and wedges are built from OUT-edges only.
    * A naive wedge join on the middle node explodes as Σ deg² (the
    * seven mod-7 hubs here hold ~N/7 edges each → N²/49 wedges
    * apiece); oriented, Σ outdeg² is bounded because no high-degree
    * node keeps a large out-list (amortized O(m·√m) total work). Both
    * the orientation and the joins replay verbatim in DuckDB, so the
    * exact counts hash-match. Output: one row of global graph stats —
    * edges, oriented wedges examined, triangles closed. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val links = linksOf(s, dir)
    // undirected unique edges: canonical (lo, hi) pairs
    val und = ScratchCache.persist(links
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct())
    val deg = und.selectExpr("a AS v").unionAll(und.selectExpr("b AS v"))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    // orient: (u → w) iff (deg, id) of u < (deg, id) of w
    val oriented = ScratchCache.persist(und
      .join(deg.select($"v".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"v".as("b"), $"deg".as("db")), "b")
      .selectExpr(
        "CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u",
        "CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS w"))
    // r22 (guide §1/§5): materialize the oriented cache EAGERLY. The
    // wedge self-join's two exchange stages are independent, AQE
    // launches them concurrently, and concurrent readers of a cold
    // cached partition each recompute its child — measured: BOTH map
    // stages ran the full und⋈deg⋈deg orientation pipeline (~10 s of
    // duplicated CPU per run). One count() populates the cache once;
    // the consumers then scan memory.
    oriented.count()
    // wedges from out-edges of the same u, canonical (x < y by id);
    // closed against the ID-canonical undirected edge set — a single
    // equi-join (closing against `oriented` would need an OR of
    // equalities, which Spark can only nested-loop)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("x"), col("e2.w").as("y"))
    val closed = wedges.join(und, $"x" === $"a" && $"y" === $"b", "left_semi")
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nWedges = wedges.agg(count(lit(1)).as("n_wedges"))
    val nTri = closed.agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
  }
  private val q143Sql =
    s"""WITH links AS (
       |$linksSql
       |), und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM links
       |), deg AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1
       |), oriented AS (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN a ELSE b END AS u,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN b ELSE a END AS w
       |  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v
       |), wedges AS (
       |  SELECT e1.w AS x, e2.w AS y
       |  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u AND e1.w < e2.w
       |), closed AS (
       |  SELECT * FROM wedges wg
       |  WHERE EXISTS (SELECT 1 FROM und WHERE a = wg.x AND b = wg.y)
       |)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM closed) AS n_triangles""".stripMargin

  // ---------------------------------------------------------------- q155
  /** k-core peeling (k = 4, 8 fixed rounds) — the graph-curation
    * density filter (spam/link-farm analysis, community seeding):
    * repeatedly drop every node with fewer than k surviving undirected
    * neighbors; what remains is the 4-core. The synthesized link graph
    * alone has min-degree 3 everywhere (every doc emits 3 out-links)
    * and NO stable 4-core — its i→i/2 chains halve away round after
    * round — so q155 additionally plants a 10-node CLIQUE on docs 0–9
    * (the "link farm" the density filter exists to find; 45 edges,
    * same deterministic expression in both engines). Output is the
    * peeling TRAJECTORY — (round, n_alive, n_edges) for rounds 0..8 —
    * which shows the periphery cascading off (each dropped node can
    * strand its neighbors below k, so the chain tails peel one level
    * per round: n_alive halves) until only the planted clique
    * survives. Fixed round count keeps both engines bit-identical;
    * peeling is monotone, so equal consecutive counts ⇔ a fixpoint
    * (flat at (10 nodes, 45 edges) from round 6 on the sf0.001
    * fixture).
    *
    * Scale shape: the [[graft.dedup.ConnectedComponents]] loop
    * discipline — every round is two id-keyed semi-joins (edges
    * restricted to survivors) plus one degree aggregate, with ONE
    * eager truncation per round: the NODE-sized degree frame
    * (r21 — previously both the survivor and edge frames were
    * checkpointed; materializing O(V) per round instead of O(E) halves
    * the eager jobs and, at web scale, stops writing the edge set to
    * the block store every round). alive(i) and edges(i) are one-step
    * lazy plans over the previous round's deg leaf, so plan depth
    * stays CONSTANT. Lazy `persist()` is NOT enough here: it caches
    * blocks but leaves the logical plan intact, and an un-truncated
    * loop nests ~2^rounds plan copies and the ANALYZER's clone walk
    * hangs the driver before a single task launches (the round-12
    * failure: 300+ s of plan-clone CPU at construction). Checkpointing
    * replaces each round's lineage with its materialized rows — the
    * scale-limiting resource in iterative DataFrame algorithms is the
    * DRIVER's plan, which no cluster size fixes. The per-round outputs
    * stay lazy 1-row aggregates over the checkpointed frames (9
    * constant-size plans unioned into one final job — no driver-side
    * collect per round); construction therefore runs the peeling jobs
    * eagerly, like every other artifact-building catalog query. */
  private val CoreK = 4L
  private val CoreRounds = 8
  private val CliqueN = 10

  /** The k-core peeling; each round's cut is
    * [[graft.core.Lineage.truncate]], as in
    * [[graft.dedup.ConnectedComponents.components]]. */
  def kcoreTrajectory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the planted link farm: all 45 pairs over docs 0..9 — two 10-row
    // range leaves, broadcast-joined; a constant-size frame at any SF
    val clique = s.range(CliqueN).toDF("a")
      .crossJoin(s.range(CliqueN).toDF("b")).filter($"a" < $"b")
    val und = ScratchCache.persist(linksOf(s, dir)
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .unionAll(clique)
      .distinct())
    // EAGER truncation per round, never bare persist: see the
    // scaladoc — persist caches blocks but the plan still nests
    // 2^rounds deep and analysis hangs the driver. After each
    // checkpoint the frame is a leaf, so every downstream plan is
    // constant-size. Checkpointed blocks are freed by the
    // ContextCleaner once the returned frame is dropped (same
    // lifetime story as ConnectedComponents' rounds).
    //
    // r21 (guide §2.4/§5): ONE checkpoint per round instead of two,
    // and it is the NODE-sized degree frame, not the EDGE-sized
    // survivor frame — at web scale that materializes O(V) per round
    // instead of O(E). alive(i) and edges(i) stay LAZY one-step plans
    // over the previous round's checkpointed deg (constant plan
    // depth, the same driver-analyzer guarantee as before: deg is a
    // leaf, edges references it twice, deg(i+1) references edges
    // once). The trajectory row for round i counts the same lazy
    // frames the next round consumes — identical values, half the
    // eager materialization jobs (17 → 9 per run).
    def degOf(e: DataFrame): DataFrame =
      e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
    // deg(i) is the ONLY checkpointed frame of round i; alive(i+1)
    // and edges(i+1) are one-step lazy plans over that leaf.
    // n_alive(0) = |distinct endpoints| = |deg(0)| keys.
    //
    // r22 (guide §2.4, ADVICE item): the trajectory row for round
    // i < CoreRounds derives BOTH counts from checkpointed degree
    // leaves — n_alive(i) = |{v : deg(i-1)(v) ≥ k}| and n_edges(i) =
    // Σ deg(i) DIV 2 (each surviving edge contributes one to each
    // endpoint) — instead of re-counting the lazy `edges` plan. The
    // O(E) edge-restriction semi-joins of round i now execute exactly
    // ONCE (eagerly, inside the deg(i) checkpoint job) rather than
    // twice (again in the final unioned trajectory job): the final
    // job reads only checkpoint blocks, plus the single live edge
    // count of round CoreRounds, which checkpoints no degree frame.
    // coalesce: an empty round would make sum(deg) NULL where the
    // old count(*) said 0 (unreachable here — the planted clique has
    // degree 9 ≥ k and survives every round — but kept exact).
    def edgesFromDeg(d: DataFrame): DataFrame =
      d.agg(expr("coalesce(sum(deg), 0L) DIV 2").cast("long").as("n_edges"))
    var deg = truncate(degOf(und))
    val rows = collection.mutable.Buffer.empty[DataFrame]
    rows += deg.agg(count(lit(1)).as("n_alive")).crossJoin(edgesFromDeg(deg))
      .select(lit(0L).as("round"), $"n_alive", $"n_edges")
    for (i <- 1 to CoreRounds) {
      val alive = deg.filter($"deg" >= CoreK).select($"v") // from deg(i-1)
      val edges = und
        .join(alive.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select($"a", $"b")
      val aliveCnt = alive.agg(count(lit(1)).as("n_alive"))
      val edgeCnt = if (i < CoreRounds) {
        deg = truncate(degOf(edges))
        edgesFromDeg(deg)
      } else edges.agg(count(lit(1)).as("n_edges"))
      rows += aliveCnt.crossJoin(edgeCnt)
        .select(lit(i.toLong).as("round"), $"n_alive", $"n_edges")
    }
    rows.reduce(_ unionAll _).orderBy($"round")
  }

  private def q155(s: SparkSession, dir: String): DataFrame =
    kcoreTrajectory(s, dir)
  // Every recursive CTE level is MATERIALIZED: DuckDB inlines plain
  // CTEs at each reference, and each level references the previous one
  // 2–3 times, so the un-materialized plan nests ~2^rounds copies of
  // `und` (measured: 8 rounds exhausts the fd limit opening the same
  // parquet file thousands of times) — the exact blowup the Spark side
  // solves with Lineage.truncate, solved the DuckDB way.
  private val q155Sql = {
    val rounds = (1 to CoreRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT v FROM (
         |    SELECT v, count(*) AS deg
         |    FROM (SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |    GROUP BY v
         |  ) WHERE deg >= $CoreK
         |),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM und
         |  WHERE a IN (SELECT v FROM d$i) AND b IN (SELECT v FROM d$i)
         |)""".stripMargin
    }.mkString(",\n")
    val rows = (0 to CoreRounds).map { i =>
      val (av, ev) = if (i == 0) ("a0", "e0") else (s"d$i", s"e$i")
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $av) AS n_alive,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $ev) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH links AS (
       |$linksSql
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM links
       |    UNION ALL
       |    SELECT x.range AS a, y.range AS b
       |    FROM range($CliqueN) x, range($CliqueN) y WHERE x.range < y.range
       |  )
       |), a0 AS (
       |  SELECT DISTINCT v FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
       |), e0 AS MATERIALIZED (SELECT a, b FROM und),
       |$rounds
       |$rows
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q202
  /** Community detection by synchronous LABEL PROPAGATION (Raghavan et
    * al. 2007) over the undirected link graph — the domain/site
    * community map a curation pipeline reads before mixture balancing
    * (communities, not single domains, are the real duplication and
    * topical units of the web). Asynchronous LPA is nondeterministic
    * by construction; this is the deterministic synchronous variant:
    * every node starts as its own label, and each round every node
    * simultaneously adopts the most frequent label among its
    * neighbors, ties broken by SMALLEST label, isolated nodes keeping
    * their own. [[LpaRounds]] fixed rounds (community detection uses
    * LPA as a few-sweep heuristic — it converges in ~5 sweeps on real
    * graphs and oscillates if run forever, so a fixed budget IS the
    * algorithm), then a per-community roll-up.
    *
    * Scale shape: the undirected edge frame is built ONCE, persisted
    * pre-partitioned on the neighbor id so every round's
    * edges⋈labels join reuses the in-memory partitioning (q133's
    * discipline) and only the node-sized label frame moves per round.
    * Each round is: that join, one (node, label) exchange with
    * map-side partial counts, and a per-node argmax as a
    * max(struct(cnt, -lbl)) HASH aggregate — O(1) state per node,
    * never a per-node sort. A hub's million in-links combine map-side
    * into per-label counts before the exchange. O(rounds) linear
    * passes, exactly the PageRank/k-core loop family. */
  private val LpaRounds = 4

  /** The shared UNDIRECTED edge frame (both orientations, deduped),
    * persisted pre-partitioned on the neighbor id so every loop
    * round's edges⋈labels join reuses the in-memory partitioning. */
  private def undirectedOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val links = ScratchCache.persist(linksOf(s, dir))
    ScratchCache.persist(
      links.select($"src", $"dst")
        .union(links.select($"dst".as("src"), $"src".as("dst")))
        .distinct()
        .repartition($"dst"))
  }

  /** q202's converged (node, lbl) frame after [[LpaRounds]] synchronous
    * sweeps — factored out so q214's modularity audit scores the SAME
    * communities q202 reports. */
  private def lpaLabels(s: SparkSession, dir: String, und: DataFrame): DataFrame = {
    // round 1 runs unconditionally, before the `2 to LpaRounds` loop
    require(LpaRounds >= 1, s"LPA needs at least one round, got $LpaRounds")
    import s.implicits._
    val nodes = ScratchCache.persist(
      Tables.documents(s, dir).select($"doc_id".as("node")))
    // r22 (guide §2.3/§2.4): the loop iterates on the argmax frame
    // `best` directly instead of rebuilding a full node-sized label
    // frame per round. This is exact because the per-round join only
    // reads labels of NEIGHBORS (und.dst), every dst of und is
    // non-isolated, every non-isolated node appears as a src of und
    // (both orientations are present), and every src gets a best row
    // each round — so best covers every label the next round's join can
    // ask for. Isolated nodes keep their own id throughout and are
    // reattached once at the end (the same coalesce the old loop paid
    // per round). Round 1's votes against the identity labeling
    // labels_0(dst) = dst need no join at all: every (src, dst) vote
    // has cnt = 1 (und is deduped), so the argmax by (cnt desc, lbl
    // asc) is simply min(dst) per src.
    var best = und.groupBy($"src".as("node")).agg(min($"dst").as("new_lbl"))
    for (_ <- 2 to LpaRounds) {
      val votes = und
        .join(best.select($"node".as("dst"), $"new_lbl".as("lbl")), "dst")
        .groupBy($"src".as("node"), $"lbl")
        .agg(count(lit(1)).as("cnt"))
      // argmax as max(struct(cnt, -lbl)) — a HASH aggregate with O(1)
      // per-node state; (cnt desc, lbl asc) ≡ max on (cnt, -lbl)
      // since labels are non-negative ids
      best = votes
        .groupBy($"node")
        .agg(max(struct($"cnt", ($"lbl" * -1L).as("neg"))).as("m"))
        .select($"node", ($"m.neg" * -1L).as("new_lbl"))
    }
    nodes.join(best, Seq("node"), "left")
      .select($"node", coalesce($"new_lbl", $"node").as("lbl"))
  }

  private def q202(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = lpaLabels(s, dir, undirectedOf(s, dir))
    labels.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_nodes"), min($"node").as("min_node"),
        max($"node").as("max_node"))
      .orderBy($"n_nodes".desc, $"community".asc)
  }
  /** Shared oracle CTE chain replaying [[lpaLabels]]: links → und →
    * l0 → (votes, best, l_i) per round, ending at l[[LpaRounds]].
    * lazy val: q214Sql composes over it (the r15 init-order rule). */
  private lazy val lpaCtesSql = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""v$i AS (
         |  SELECT u.src AS node, l.lbl, count(*) AS cnt
         |  FROM und u JOIN l${i - 1} l ON u.dst = l.node
         |  GROUP BY 1, 2
         |), b$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
         |    FROM v$i)
         |  WHERE rn = 1
         |), l$i AS MATERIALIZED (
         |  SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
         |  FROM l${i - 1} p LEFT JOIN b$i b ON p.node = b.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""links AS (
       |$linksSql
       |), und AS MATERIALIZED (
       |  SELECT src, dst FROM links UNION SELECT dst AS src, src AS dst FROM links
       |), l0 AS (
       |  SELECT doc_id AS node, doc_id AS lbl FROM documents
       |),
       |$rounds""".stripMargin
  }
  private lazy val q202Sql =
    s"""WITH $lpaCtesSql
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(min(node) AS BIGINT) AS min_node,
       |  CAST(max(node) AS BIGINT) AS max_node
       |FROM l$LpaRounds GROUP BY lbl
       |ORDER BY n_nodes DESC, community""".stripMargin

  // ---------------------------------------------------------------- q213
  /** ANCHOR-TEXT term profiles — the classic web-retrieval signal
    * (anchor words pointing AT a page describe it better than its own
    * body; every large-scale link corpus aggregates them per target
    * before indexing). The corpus has no anchor column, so the anchor
    * of a link is SYNTHESIZED deterministically as the first
    * [[AnchorTerms]] tokens of the SOURCE document (the "link context"
    * a real extractor would take around the href). Per target page:
    * the top-3 anchor terms by inbound occurrence count (ties to the
    * lexicographically smallest term) plus the true in-link count.
    *
    * Scale shape: anchors are a bounded 3-token slice taken MAP-SIDE
    * on the document scan, so the links⋈anchors join moves 3 tokens
    * per edge, never the document body. Term counting is one
    * (dst, term) exchange with map-side partial counts — a mod-7
    * hub's ~N/7 in-links combine into ≤|vocab| cells per partition
    * before the shuffle. The top-3 is a per-dst window over those
    * ALREADY-AGGREGATED term rows (bounded by the page's distinct
    * anchor vocabulary, not its in-degree), never a per-link sort. */
  private val AnchorTerms = 3
  private def q213(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val anchors = Tables.documents(s, dir)
      .select($"doc_id".as("src"),
        slice(expr(graft.text.TextQueries.toksExpr), 1, AnchorTerms).as("terms"))
    val linked = ScratchCache.persist(
      linksOf(s, dir).join(anchors, "src").select($"dst", $"terms"))
    val termCnt = linked
      .select($"dst", explode($"terms").as("term"))
      .groupBy($"dst", $"term")
      .agg(count(lit(1)).as("cnt"))
    val inlinks = linked.groupBy($"dst").agg(count(lit(1)).as("n_inlinks"))
    termCnt
      .withColumn("rank", row_number().over(
        Window.partitionBy($"dst").orderBy($"cnt".desc, $"term".asc)).cast("long"))
      .filter($"rank" <= 3)
      .join(inlinks, "dst")
      .select($"dst".as("page_id"), $"rank", $"term", $"cnt", $"n_inlinks")
      .orderBy($"page_id", $"rank")
  }
  private lazy val q213Sql =
    s"""WITH links AS (
       |$linksSql
       |), a AS (
       |  SELECT doc_id AS src,
       |    list_slice(${graft.text.TextQueries.toksSql}, 1, $AnchorTerms) AS terms
       |  FROM documents
       |), linked AS (
       |  SELECT l.dst, a.terms FROM links l JOIN a USING (src)
       |), tc AS (
       |  SELECT dst, term, count(*) AS cnt
       |  FROM (SELECT dst, unnest(terms) AS term FROM linked)
       |  GROUP BY dst, term
       |), il AS (
       |  SELECT dst, count(*) AS n_inlinks FROM linked GROUP BY dst
       |), r AS (
       |  SELECT dst, term, cnt,
       |    row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, term ASC) AS rank
       |  FROM tc
       |)
       |SELECT r.dst AS page_id, CAST(r.rank AS BIGINT) AS rank, r.term,
       |  CAST(r.cnt AS BIGINT) AS cnt, CAST(il.n_inlinks AS BIGINT) AS n_inlinks
       |FROM r JOIN il ON r.dst = il.dst
       |WHERE r.rank <= 3
       |ORDER BY page_id, rank""".stripMargin

  // ---------------------------------------------------------------- q214
  /** Community MODULARITY audit over q202's LPA communities — the
    * quality score that tells you whether the propagation found real
    * structure (Newman 2004: Q = Σ_c [e_c/m − (d_c/2m)²], the standard
    * community-detection acceptance metric). Per community this emits
    * the EXACT INTEGER numerator of its modularity contribution over
    * the common denominator (2m)²:  q_num = intra_rows·2m − d_c²,
    * where intra_rows counts both orientations of intra-community
    * edges (= 2·e_c), 2m is the total orientation count, and d_c the
    * community degree mass — so Σ q_num / (2m)² IS Newman's Q, with
    * zero floating point anywhere (IEEE addition order would
    * hash-mismatch across engines; BIGINT is exact up to ~3·10⁹
    * orientations ≈ 10⁹ docs on this generator — the 100 TB path
    * widens the two products to DECIMAL(38,0), same plan).
    *
    * Scale shape: labels come from [[lpaLabels]] (the q202 loop, built
    * once); membership tagging is TWO node-keyed joins of the
    * persisted edge frame (src side, then dst side — each a |E| → |V|
    * hash join); everything after is O(1)-state hash aggregates on
    * community keys plus one broadcast of the single-row 2m scalar. */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = undirectedOf(s, dir)
    val labels = ScratchCache.persist(lpaLabels(s, dir, und))
    val twoM = und.agg(count(lit(1)).as("two_m"))
    val deg = und.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    val tagged = und
      .join(labels.select($"node".as("src"), $"lbl".as("lbl_src")), "src")
      .join(labels.select($"node".as("dst"), $"lbl".as("lbl_dst")), "dst")
    val intra = tagged.filter($"lbl_src" === $"lbl_dst")
      .groupBy($"lbl_src".as("community"))
      .agg(count(lit(1)).as("intra_rows"))
    val mass = labels.join(deg, Seq("node"), "left")
      .groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce($"deg", lit(0L))).as("deg_sum"))
    mass.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(twoM))
      .select($"community", $"n_nodes",
        coalesce($"intra_rows", lit(0L)).as("intra_rows"),
        $"deg_sum", $"two_m",
        (coalesce($"intra_rows", lit(0L)) * $"two_m" -
          $"deg_sum" * $"deg_sum").as("q_num"))
      .orderBy($"q_num".desc, $"community".asc)
  }
  private lazy val q214Sql =
    s"""WITH $lpaCtesSql,
       |tm AS (SELECT count(*) AS two_m FROM und),
       |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
       |tagged AS (
       |  SELECT ls.lbl AS lbl_src, ld.lbl AS lbl_dst
       |  FROM und u
       |  JOIN l$LpaRounds ls ON u.src = ls.node
       |  JOIN l$LpaRounds ld ON u.dst = ld.node
       |), intra AS (
       |  SELECT lbl_src AS community, count(*) AS intra_rows
       |  FROM tagged WHERE lbl_src = lbl_dst GROUP BY lbl_src
       |), mass AS (
       |  SELECT l.lbl AS community, count(*) AS n_nodes,
       |    sum(coalesce(d.deg, 0)) AS deg_sum
       |  FROM l$LpaRounds l LEFT JOIN deg d ON l.node = d.node
       |  GROUP BY l.lbl
       |)
       |SELECT m.community, CAST(m.n_nodes AS BIGINT) AS n_nodes,
       |  CAST(coalesce(i.intra_rows, 0) AS BIGINT) AS intra_rows,
       |  CAST(m.deg_sum AS BIGINT) AS deg_sum,
       |  CAST(tm.two_m AS BIGINT) AS two_m,
       |  CAST(coalesce(i.intra_rows, 0) * tm.two_m
       |       - m.deg_sum * m.deg_sum AS BIGINT) AS q_num
       |FROM mass m LEFT JOIN intra i ON m.community = i.community, tm
       |ORDER BY q_num DESC, m.community""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q213_anchor_terms", q213, Oracle.Sql(q213Sql)),
    Query("q214_modularity", q214, Oracle.Sql(q214Sql)),
    Query("q132_reverse_links", q132, Oracle.Sql(q132Sql)),
    Query("q133_pagerank", q133, Oracle.Sql(q133Sql)),
    Query("q143_triangle_count", q143, Oracle.Sql(q143Sql)),
    Query("q155_kcore", q155, Oracle.Sql(q155Sql)),
    Query("q164_hits", q164, Oracle.Sql(q164Sql)),
    Query("q196_trustrank", q196, Oracle.Sql(q196Sql)),
    Query("q202_label_propagation", q202, Oracle.Sql(q202Sql)),
  )
}
