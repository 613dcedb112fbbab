package graft.ingest

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the raw-ingest contracts the oracle hash-match can't see
  * directly: the quarantine set is EXACTLY the planted corruption (no
  * over- or under-capture), clean values round-trip the render→read
  * path bit-for-bit, the parser prunes unread columns (the 100 TB
  * claim), and q158's accounting tiles the good rows exactly. */
class IngestSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/documents.parquet"))

  /** JVM twin of the planted md5 selectors. */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def jsonBad(docId: Long) = md5hex(s"crlf|$docId").head == '0'
  private def csvBad(okey: Long) = md5hex(s"csvbad|$okey").head == '0'
  private def dupSel(docId: Long) = md5hex(s"dup|$docId").head == '0'
  private def blockSel(domain: String) = md5hex(s"block|$domain").head < '2'
  private def robotsSel(domain: String) = md5hex(s"robots|$domain").head < '4'

  test("jsonl quarantine is exactly the planted corrupt set; clean docs all parse") {
    assume(fixture)
    val parsed = IngestSpec.readJsonl(spark, dir).cache()
    val allIds = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = allIds.filter(jsonBad)
    assert(planted.nonEmpty, "fixture must plant at least one corrupt line")
    val corrupt = parsed.filter(col("_corrupt").isNotNull)
    assert(corrupt.count() == planted.size.toLong)
    // a malformed line parses NO fields — the whole row is quarantined
    assert(corrupt.filter(col("doc_id").isNotNull).count() == 0)
    val good = parsed.filter(col("_corrupt").isNull)
      .select("doc_id").collect().map(_.getLong(0))
    assert(good.toSet == allIds -- planted,
      "every non-planted doc must parse cleanly; every planted one must not")
    // planted recrawls parse cleanly too: exactly one extra row per
    // clean dup-planted doc, none for planted-corrupt docs
    val dups = (allIds -- planted).filter(dupSel)
    assert(dups.nonEmpty, "fixture must plant at least one recrawl")
    assert(good.length.toLong == (allIds -- planted).size.toLong + dups.size,
      "row count must be clean originals + one recrawl per dup-planted doc")
    assert(good.groupBy(identity).collect { case (id, rs) if rs.length > 1 => id }
      .toSet == dups, "doubly-parsed ids must be exactly the planted recrawls")
    parsed.unpersist()
  }

  test("jsonl values round-trip render→permissive-read bit-for-bit") {
    assume(fixture)
    val base = graft.core.Tables.documents(spark, dir)
      .selectExpr("doc_id", "text", "lang", "source", "n_chars",
        s"${graft.dedup.UrlCanon.rawUrlSql} AS url")
      .collect().map(r => r.getLong(0) -> r).toMap
    val good = IngestSpec.readJsonl(spark, dir).filter(col("_corrupt").isNull)
      .collect()
    assert(good.nonEmpty)
    good.foreach { r =>
      val b = base(r.getAs[Long]("doc_id"))
      assert(r.getAs[String]("text") == b.getAs[String]("text"))
      assert(r.getAs[String]("lang") == b.getAs[String]("lang"))
      // a recrawl line's raw url carries one extra '#dup' fragment
      val u = r.getAs[String]("url")
      assert(u == b.getAs[String]("url") || u == b.getAs[String]("url") + "#dup")
      assert(r.getAs[Long]("n_chars") == b.getAs[Long]("n_chars"))
    }
    val dupUrls = good.filter(_.getAs[String]("url").endsWith("#dup"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(dupUrls == base.keySet.filter(id => !jsonBad(id) && dupSel(id)),
      "'#dup' urls must be exactly the planted recrawl set")
  }

  test("csv type-garbage rows quarantine whole-row; clean rows keep exact doubles") {
    assume(fixture)
    val parsed = IngestSpec.readCsv(spark, dir).cache()
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("o_orderkey", "o_totalprice", "o_orderpriority")
      .collect().map(r => r.getLong(0) -> r).toMap
    val planted = base.keySet.filter(csvBad)
    assert(planted.nonEmpty)
    val corrupt = parsed.filter(col("_corrupt").isNotNull)
    assert(corrupt.count() == planted.size.toLong)
    // PERMISSIVE keeps the parseable fields of a bad row; the garbage
    // column is null and the raw line is captured
    assert(corrupt.filter(col("o_totalprice").isNotNull).count() == 0)
    assert(corrupt.filter(col("o_orderkey").isNull).count() == 0)
    val good = parsed.filter(col("_corrupt").isNull).collect()
    good.foreach { r =>
      val b = base(r.getAs[Long]("o_orderkey"))
      assert(r.getAs[Double]("o_totalprice") == b.getAs[Double]("o_totalprice"),
        s"double round-trip drifted for key ${r.getAs[Long]("o_orderkey")}")
      assert(r.getAs[String]("o_orderpriority") == b.getAs[String]("o_orderpriority"))
    }
    parsed.unpersist()
  }

  test("q156's scan prunes text out of the parser (ReadSchema) — the 100 TB claim") {
    assume(fixture)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = IngestQueries.queries("q156_jsonl_ingest")(spark, dir)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      (p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }) ++
        kids.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("jsonl")))
      .getOrElse(fail("no jsonl FileSourceScanExec in the plan"))
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols.contains("lang") && readCols.contains("n_chars"))
    assert(!readCols.contains("text"),
      s"q156 never touches text, but the parser reads it: $readCols")
  }

  test("q158 accounting tiles the good rows: admitted + dup-dropped + rejected = parsed docs") {
    assume(fixture)
    val out = IngestQueries.queries("q158_crawl_admission")(spark, dir).collect()
    assert(out.nonEmpty)
    val total = out.map(r => r.getAs[Long]("n_admitted") +
      r.getAs[Long]("n_dup_dropped") + r.getAs[Long]("n_rejected")).sum
    val allIds = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    // parsed rows = clean originals + one planted recrawl per dup doc
    val goodRows = allIds.count(id => !jsonBad(id)).toLong +
      allIds.count(id => !jsonBad(id) && dupSel(id)).toLong
    assert(total == goodRows,
      s"accounting ($total) must tile the ${goodRows} cleanly-parsed rows")
    // the dedup stage must actually fire: every planted recrawl that
    // passes the gate collapses onto its original's (domain, key)
    assert(out.map(_.getAs[Long]("n_dup_dropped")).sum > 0,
      "planted recrawls must produce at least one dedup drop")
    assert(out.map(_.getAs[Long]("n_rejected")).sum > 0)
    assert(out.forall(r => r.getAs[Long]("n_admitted") >= 0))
  }

  test("q160 policy verdicts tile the fetches; blocklist wins over robots; dim is broadcast") {
    assume(fixture)
    val df = IngestQueries.queries("q160_policy_admission")(spark, dir)
    val out = df.collect()
    assert(out.nonEmpty)
    // every fetch gets exactly one verdict
    out.foreach { r =>
      assert(r.getAs[Long]("n_fetched") == r.getAs[Long]("n_blocked") +
        r.getAs[Long]("n_robots") + r.getAs[Long]("n_admitted"),
        s"verdicts must tile n_fetched for ${r.getAs[String]("domain")}")
    }
    // the md5-carved policy membership, re-derived JVM-side
    out.foreach { r =>
      val d = r.getAs[String]("domain")
      if (blockSel(d))
        assert(r.getAs[Long]("n_blocked") == r.getAs[Long]("n_fetched") &&
          r.getAs[Long]("n_robots") == 0L,
          s"blocked domain $d must block ALL fetches — blocklist outranks robots")
      else {
        assert(r.getAs[Long]("n_blocked") == 0L)
        if (!robotsSel(d)) assert(r.getAs[Long]("n_robots") == 0L,
          s"domain $d has no robots rule but robots rejections")
      }
    }
    // the fixture must exercise all three verdicts
    assert(out.map(_.getAs[Long]("n_blocked")).sum > 0)
    assert(out.map(_.getAs[Long]("n_robots")).sum > 0)
    assert(out.map(_.getAs[Long]("n_admitted")).sum > 0)
    // the policy dim joins BROADCAST — the 100 TB fetch side is never
    // shuffled for policy enforcement
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"policy dim must broadcast-join the fetch stream:\n$plan")
  }

  test("q159 corpus build: splits partition q158's admitted survivors; packing arithmetic exact") {
    assume(fixture)
    val out = IngestQueries.queries("q159_corpus_build")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
    // the end-to-end doc count must equal the admission chain's
    // admitted-unique total — same ingest, canon, dedup, gate
    val admitted = IngestQueries.queries("q158_crawl_admission")(spark, dir)
      .collect().map(_.getAs[Long]("n_admitted")).sum
    assert(out.map(_.getAs[Long]("n_docs")).sum == admitted,
      "q159 survivors must be exactly q158's admitted uniques")
    out.foreach { r =>
      val toks = r.getAs[Long]("n_tokens")
      assert(toks > 0L)
      assert(r.getAs[Long]("n_seqs") == (toks + 2047L) / 2048L,
        "n_seqs must be ceil(n_tokens / 2048) exactly")
    }
    // 98/1/1 over domains: train dominates on any non-trivial fixture
    val bySplit = out.map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("val", 0L) &&
      bySplit.getOrElse("train", 0L) > bySplit.getOrElse("test", 0L))
  }

  private def prevSel(id: Long) = md5hex(s"prev|$id").head != 'f'
  private def curSel(id: Long) = md5hex(s"cur|$id").head != 'e'
  private def chgSel(id: Long) = md5hex(s"chg|$id").head < '3'
  private def moveSel(id: Long) = !prevSel(id) && md5hex(s"move|$id").head < '8'

  test("q162 snapshot diff: verdict sets replay the planted membership exactly; diff tiles the union") {
    assume(fixture)
    val allIds = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val prev = allIds.filter(prevSel)
    val cur = allIds.filter(curSel)
    // moved-away ghosts live in prev under offset ids, never in cur —
    // each is one extra 'removed' (the old URL did disappear)
    val ghosts = allIds.count(moveSel).toLong
    val expAdded = (cur -- prev).size.toLong
    val expRemoved = (prev -- cur).size.toLong + ghosts
    val expChanged = (cur & prev).count(chgSel).toLong
    val expUnchanged = (cur & prev).count(!chgSel(_)).toLong
    // every verdict class must be non-empty or the diff is vacuous
    assert(expAdded > 0 && expRemoved > 0 && expChanged > 0 && expUnchanged > 0)
    val out = IngestQueries.queries("q162_snapshot_diff")(spark, dir).collect()
    def tot(c: String) = out.map(_.getAs[Long](c)).sum
    assert(tot("n_added") == expAdded, s"added ${tot("n_added")} != $expAdded")
    assert(tot("n_removed") == expRemoved)
    assert(tot("n_changed") == expChanged)
    assert(tot("n_unchanged") == expUnchanged)
    assert(tot("n_added") + tot("n_removed") + tot("n_changed") + tot("n_unchanged")
      == (cur ++ prev).size.toLong + ghosts, "diff must tile the snapshot union")
  }

  test("q169 moved pages: the digest re-join finds exactly the planted moves among the added") {
    assume(fixture)
    val allIds = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val added = allIds.filter(id => curSel(id) && !prevSel(id))
    val expMoved = added.count(moveSel).toLong
    val expNew = added.count(!moveSel(_)).toLong
    assert(expMoved > 0 && expNew > 0, "fixture must plant both moves and truly-new pages")
    val out = IngestQueries.queries("q169_moved_pages")(spark, dir).collect()
    def tot(c: String) = out.map(_.getAs[Long](c)).sum
    assert(tot("n_added") == added.size.toLong)
    assert(tot("n_moved") == expMoved,
      s"moved ${tot("n_moved")} != $expMoved — digest re-join must find exactly the planted moves")
    assert(tot("n_new") == expNew)
    out.foreach(r => assert(r.getAs[Long]("n_added") ==
      r.getAs[Long]("n_moved") + r.getAs[Long]("n_new")))
  }

  test("q171 html extract: stripping round-trips every page to exactly title + chrome + body text") {
    assume(fixture)
    val got = IngestQueries.q171Docs(spark, dir)
      .select("doc_id", "source", "title", "text_only").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, src, text) =>
      val (gs, title, stripped) = got(id)
      assert(gs == src)
      assert(title == s"Doc $id - $src", s"doc $id title extraction broke: $title")
      // independent Scala-side construction of the expected visible
      // text — the regex pipeline must recover exactly this, with the
      // script payload GONE (an md5 hex leak would land here)
      val expected = (s"Doc $id - $src Home | About | $src " +
        text.trim.replaceAll("\\s+", " ") + s" (c) crawl of $src")
      assert(stripped == expected, s"doc $id round-trip: <$stripped> != <$expected>")
      assert(!stripped.contains("var f="), s"doc $id leaked script content")
    }
    // density gate must be non-vacuous at this fixture: both classes
    val out = IngestQueries.queries("q171_html_extract")(spark, dir).collect()
    val low = out.map(_.getAs[Long]("n_low_text")).sum
    val all = out.map(_.getAs[Long]("n_docs")).sum
    assert(low > 0 && low < all,
      s"70% density split must separate pages at this fixture ($low/$all)")
  }

  test("q172 crawl frontier: count-arithmetic + covering-bucket cut replays the brute-force priority selection") {
    assume(fixture)
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, _) => curSel(id) }
    // brute force: class per page, rank by (prio, id), keep rank<=budget
    val byFeed = docs.groupBy(_._2).map { case (src, pages) =>
      val classed = pages.map { case (id, _) =>
        val prio = if (!prevSel(id)) 1L else if (chgSel(id)) 0L else 2L
        (prio, id)
      }.sortBy(identity)
      val v = "0123456789abcdef".indexOf(md5hex(s"budget|$src").head) + 1
      val budget = math.max(1L, pages.length.toLong * v / 12)
      val sel = classed.take(budget.toInt)
      (src, (budget, sel.count(_._1 == 0L).toLong, sel.count(_._1 == 1L).toLong,
        sel.count(_._1 == 2L).toLong, sel.last._2))
    }
    val out = IngestQueries.queries("q172_crawl_frontier")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == byFeed.keySet)
    byFeed.foreach { case (src, exp) =>
      assert(out(src) == exp, s"$src: ${out(src)} != $exp")
    }
    // non-vacuity: the fixture must exercise both a budget CUT and a
    // fully-selected feed, and every class must be selected somewhere
    val cut = byFeed.count { case (src, (b, c, n, u, _)) => c + n + u == b }
    val full = byFeed.count { case (src, (b, c, n, u, _)) => c + n + u < b }
    assert(cut > 0, "no feed hit its budget — boundary cut untested")
    assert(byFeed.values.map(_._2).sum > 0 && byFeed.values.map(_._3).sum > 0 &&
      byFeed.values.map(_._4).sum > 0, "all three priority classes must select somewhere")
    // priority monotonicity: selecting any unchanged page implies the
    // feed's changed and new pages were all taken first
    out.foreach { case (src, (_, c, n, u, _)) =>
      if (u > 0) {
        val pages = docs.filter(_._2 == src).map(_._1)
        assert(c == pages.count(id => prevSel(id) && chgSel(id)).toLong &&
          n == pages.count(id => !prevSel(id)).toLong,
          s"$src selected unchanged pages before exhausting higher classes")
      }
    }
  }

  test("q174 site boilerplate: brute-force replay; chrome flagged, the 1/3-aligned footer fragment is NOT") {
    // sf0.01, not sf0.001: with ~2 pages per site the 50% bar is
    // degenerate (every page-unique segment trivially clears it)
    val bdir = "/root/testdata/sf0.01"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$bdir/documents.parquet")))
    val pages = graft.core.Tables.documents(spark, bdir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // independent reconstruction of q171's extracted text + segments
    def segsOf(id: Long, src: String, text: String): Seq[String] = {
      val toks = (s"Doc $id - $src Home | About | $src " +
        text.trim.replaceAll("\\s+", " ") + s" (c) crawl of $src").split(" ").toSeq
      toks.grouped(3).map(_.mkString(" ")).toSeq
    }
    val bySite = pages.groupBy(_._2).map { case (src, ps) =>
      val perPage = ps.map { case (id, _, text) => segsOf(id, src, text).distinct }
      val nd = perPage.flatten.groupBy(identity).map { case (s2, xs) => (s2, xs.length.toLong) }
      val occToks = ps.flatMap { case (id, _, text) => segsOf(id, src, text) }
        .groupBy(identity).map { case (s2, xs) => (s2, xs.length.toLong * s2.split(" ").length) }
      val n = ps.length.toLong
      val boiler = nd.filter { case (_, d) => d * 2 >= n }.keySet
      val dropped = occToks.filter(o => boiler(o._1)).values.sum
      val total = occToks.values.sum
      (src, (n, nd.size.toLong, boiler.size.toLong, dropped, total,
        dropped * 1000000L / total, boiler))
    }
    val out = IngestQueries.queries("q174_site_boilerplate")(spark, bdir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.keySet == bySite.keySet)
    bySite.foreach { case (src, (n, ds, bs, dr, tot, ppm, boiler)) =>
      assert(out(src) == ((n, ds, bs, dr, tot, ppm)), s"$src: ${out(src)}")
      // the planted nav chrome aligns on EVERY page → must be flagged
      assert(boiler.contains(s"$src Home |") && boiler.contains(s"About | $src"),
        s"$src nav chrome not flagged: $boiler")
      assert(bs < ds, s"$src flagged everything — detection vacuous")
    }
    // the footer fragment tumbling-aligns only when body length ≡ 0
    // (mod 3) — expectation 1/3 of a site's pages, so MOST sites keep
    // it below the 50% bar (a site whose bodies skew to one residue
    // can legitimately clear it): the threshold must separate chrome
    // from coincidental alignment on the majority of sites
    val footerClears = bySite.values.count(_._7.contains("(c) crawl of"))
    assert(footerClears * 2 < bySite.size,
      s"footer fragment cleared the 50% bar on $footerClears/${bySite.size} sites — threshold vacuous")
  }

  test("q167 robots parse: block attribution exact — badbot's Disallow never leaks into wildcard rules") {
    assume(fixture)
    def delayVal(domain: String) =
      ("0123456789abcdef".indexOf(md5hex(s"delay|$domain").charAt(1)) + 1).toLong
    def delaySel(domain: String) = md5hex(s"delay|$domain").head < '8'
    val out = IngestQueries.queries("q167_robots_parse")(spark, dir).collect()
    assert(out.nonEmpty)
    var sawRule = 0; var sawNone = 0; var sawDelay = 0
    out.foreach { r =>
      val d = r.getAs[String]("domain")
      val wd = r.getAs[String]("wildcard_disallow")
      val cd = r.getAs[Long]("crawl_delay")
      val n = r.getAs[Long]("n_disallow_rules")
      if (robotsSel(d)) { assert(wd == "/p/1", s"$d: parsed '$wd'"); sawRule += 1 }
      else { assert(wd == "(none)", s"$d: badbot's 'Disallow: /' leaked into wildcard: '$wd'"); sawNone += 1 }
      if (delaySel(d)) { assert(cd == delayVal(d), s"$d delay $cd != ${delayVal(d)}"); sawDelay += 1 }
      else assert(cd == 0L)
      assert(n == 1L + (if (robotsSel(d)) 1L else 0L),
        s"$d must count badbot's rule plus the wildcard one: $n")
    }
    // the fixture must exercise all branches of the parser
    assert(sawRule > 0 && sawNone > 0 && sawDelay > 0)
  }

  test("q200 policy churn: transition matrix tiles the fetches, actions are the pure " +
    "(old,new) function, epoch-1 marginals replay q160, both dims broadcast") {
    assume(fixture)
    val df = IngestQueries.queries("q200_policy_churn")(spark, dir)
    val out = df.collect()
    assert(out.nonEmpty)
    val verdicts = Set("blocked_domain", "robots", "admitted")
    // action is a PURE function of the (old, new) verdict pair — the
    // compliance semantics: leaving 'admitted' is a purge obligation,
    // entering it is a recrawl opportunity, diagonal is a no-op
    out.foreach { r =>
      val (o, n, a) = (r.getAs[String]("old_verdict"),
        r.getAs[String]("new_verdict"), r.getAs[String]("action"))
      assert(verdicts(o) && verdicts(n), s"unknown verdict in ($o,$n)")
      val expect =
        if (o == n) "unchanged"
        else if (o == "admitted") "purge"
        else if (n == "admitted") "recrawl"
        else "blocked_shift"
      assert(a == expect, s"($o,$n) labeled $a, want $expect")
      assert(r.getAs[Long]("n_pages") > 0L &&
        r.getAs[Long]("n_domains") > 0L && r.getAs[Long]("n_chars") > 0L)
    }
    // matrix cells are unique and tile the fetch universe: the
    // old-verdict marginals must equal q160's per-verdict totals (same
    // fetches frame, same epoch-1 rules)
    val cells = out.map(r => (r.getAs[String]("old_verdict"), r.getAs[String]("new_verdict")))
    assert(cells.distinct.length == cells.length, "duplicate matrix cells")
    val q160Out = IngestQueries.queries("q160_policy_admission")(spark, dir).collect()
    def q160Total(c: String) = q160Out.map(_.getAs[Long](c)).sum
    def marginal(v: String) =
      out.filter(_.getAs[String]("old_verdict") == v).map(_.getAs[Long]("n_pages")).sum
    assert(marginal("blocked_domain") == q160Total("n_blocked"))
    assert(marginal("robots") == q160Total("n_robots"))
    assert(marginal("admitted") == q160Total("n_admitted"))
    // both churn directions must be exercised by the independent carves
    val actions = out.map(_.getAs[String]("action")).toSet
    assert(actions("purge"), "fixture must plant at least one purge cell")
    assert(actions("recrawl"), "fixture must plant at least one recrawl cell")
    assert(actions("unchanged"))
    // both epochs' policy dims ride ONE broadcast to the fetch stream —
    // zero corpus-scale exchanges beyond the ≤9-cell roll-up
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"policy dim must broadcast-join the fetch stream:\n$plan")
  }
}

object IngestSpec {
  // expose the module's private readers via the same store the queries
  // use — go through a tiny shim built on the public rawStore
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.types._
  private val jsonlSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("text", StringType),
    StructField("_corrupt", StringType)))
  private val csvSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType), StructField("_corrupt", StringType)))
  def readJsonl(s: SparkSession, dir: String): DataFrame =
    s.read.schema(jsonlSchema)
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(IngestQueries.rawStore(s, dir)._1)
  def readCsv(s: SparkSession, dir: String): DataFrame =
    s.read.schema(csvSchema)
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(IngestQueries.rawStore(s, dir)._2)
}
