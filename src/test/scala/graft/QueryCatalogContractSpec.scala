package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver-contract regression net over the whole catalog (analysis
  * only — apart from the Canary and entry() checks, no query executes):
  *  - declared catalog names are unique, within a module and across
  *    modules (the derived maps would silently drop a duplicate);
  *  - every oracleSql key has a query;
  *  - the stores' detail keys and their declared readers (BENCH_DETAIL's
  *    build keys, Bench's deferred preflight) are pinned; no query that
  *    does not declare a store builds it;
  *  - Canary and Explain turn a query that throws into one failed
  *    entry, and the next query still runs;
  *  - no catalog output column is array-/map-/struct-typed — the
  *    driver's pandas sort+hash crashes on unhashable cells (the
  *    round-1 q18/q21/q31/q37 failure mode). Library APIs keep typed
  *    arrays; catalog outputs serialize them. */
class QueryCatalogContractSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("catalog names are unique within and across modules") {
    val all = SparkEntry.declared.map(_.name)
    val dups = all.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate catalog names: $dups")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracleSql key has a catalog query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("the no-oracle set and noOracleReasons coincide exactly") {
    // every query without an oracle must carry a documented
    // unverifiable-by-design reason — and no reason may be stale
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val reasons = SparkEntry.noOracleReasons.keySet
    assert(noOracle == reasons,
      s"undocumented no-oracle queries: ${noOracle -- reasons}; stale reasons: ${reasons -- noOracle}")
  }

  test("stores: detail keys and the deferred set are pinned") {
    val stores = SparkEntry.stores
    // BENCH_DETAIL.json's schema: one *_build key per store
    assert(stores.map(_.detailKey).distinct.size == stores.size)
    assert(stores.map(_.detailKey).toSet == Set(
      "q94_sigstore_build", "q239_ivfstore_build", "q75_labelstore_build",
      "q134_bucketstore_build", "q151_partstore_build", "q153_aggstore_build",
      "q156_rawstore_build", "q162_prevstore_build", "q166_orcstore_build",
      "q167_robotsstore_build", "q142_evostore_build"))
    // every query Bench preflights only after the store builds
    assert(SparkEntry.declared.filter(_.reads.nonEmpty).map(_.name).toSet == Set(
      "q94_incremental_dedup", "q239_ivf_incremental", "q241_nightly_refresh",
      "q75_dedup_clusters", "q100_canonical_docs", "q222_cluster_size_histogram",
      "q134_bucketed_join", "q142_schema_evolution",
      "q151_partition_pruning", "q153_incremental_agg",
      "q156_jsonl_ingest", "q157_csv_ingest", "q158_crawl_admission",
      "q159_corpus_build", "q160_policy_admission", "q161_stream_raw_ingest",
      "q200_policy_churn", "q208_fetch_drain", "q162_snapshot_diff", "q166_orc_roundtrip", "q167_robots_parse",
      "q169_moved_pages", "q172_crawl_frontier",
      "q192_recrawl_schedule", "q199_crawl_roi"))
  }

  test("no oracle SQL contains an init-order-nulled fragment") {
    // r14 regression: a strict-val init cycle (TextQueries.q198Sql ->
    // UrlCanon.q163Sql -> TextQueries.scoreSql, declared later) baked
    // the literal string "null" into two oracles. Reproduce the worst
    // init order first — touch TextQueries before anything else — then
    // scan every oracle for a nulled interpolation. Legitimate SQL
    // spells NULL in constructs like IFNULL/COALESCE/IS NULL, never as
    // a bare lowercase `null AS` / `(null)` fragment.
    graft.text.TextQueries.toString // force init in the poisoning order
    // a nulled Scala interpolation always renders LOWERCASE `null`;
    // this repo's SQL spells the keyword NULL — so any bare lowercase
    // `null` token IS a poisoned fragment (position-pattern variants
    // missed r15's `CASE WHEN null THEN null`; the lexical rule can't)
    val nulled = "(?<![A-Za-z0-9_])null(?![A-Za-z0-9_])".r
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if sql == null => s"$name: oracle SQL itself is null"
      case (name, sql) if nulled.findFirstIn(sql).isDefined =>
        s"$name: ${nulled.findFirstIn(sql).get.trim}"
    }
    assert(offenders.isEmpty,
      s"oracle SQL with a nulled interpolated fragment (object-init cycle): $offenders")
  }

  test("no catalog output column is array/map/struct typed (driver hashability)") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lineitem.parquet")))
    // Every query that declares no store read is constructed first, on
    // a session no store has been built for; a store built by then has
    // an undeclared reader (Bench would preflight that reader before
    // the timed build). The session is replaced after each such
    // builder so every undeclared reader is named, not just the first.
    val stores = SparkEntry.stores
    val (readers, others) = SparkEntry.declared.sortBy(_.name).partition(_.reads.nonEmpty)
    var session = spark.newSession()
    val undeclared = collection.mutable.Buffer.empty[String]
    // bounded per query (r12: one never-returning builder hung this
    // very test along with Bench/Verify) — a hang or error here is a
    // NAMED offender, not a dead suite
    def offendersOf(q: graft.core.Query): Seq[String] = {
      val name = q.name
      graft.core.Preflight.bounded(session, s"contract-$name",
          graft.core.Preflight.AnalysisBudgetMs) { q.build(session, dir).schema } match {
        case Left(msg) => Seq(s"$name: builder failed preflight: $msg")
        case Right(schema: StructType) => schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
        }.toSeq
      }
    }
    val offenders = others.flatMap { q =>
      val found = offendersOf(q)
      val built = stores.filter(_.built(session, dir))
      if (built.nonEmpty) {
        undeclared += s"${q.name} builds ${built.map(_.name).mkString(", ")}"
        session = spark.newSession()
      }
      found
    } ++ readers.flatMap(offendersOf)
    assert(undeclared.isEmpty,
      s"store readers that do not declare the store: $undeclared")
    assert(offenders.isEmpty,
      s"serialize these with array_join/to_json for the driver harness: $offenders")
  }

  test("Canary floor step: a throwing query is one failed entry; the next query still times") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lineitem.parquet")))
    val floor = Canary.floor(spark, dir, runs = 2) _
    val failed = floor("q00_no_such_canary")
    assert(failed.left.exists(_.contains("q00_no_such_canary")), s"expected a named failure: $failed")
    val ok = floor("q01_pricing_summary")
    assert(ok.exists(s => s > 0 && s < graft.core.Preflight.RunBudgetMs / 1000.0), s"expected a finite floor: $ok")
  }

  test("Explain: an unknown query prints one failure and the next name still runs") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lineitem.parquet")))
    val out = new java.io.ByteArrayOutputStream()
    val err = new java.io.ByteArrayOutputStream()
    val res = Console.withOut(out) { Console.withErr(err) {
      Explain.run(spark, dir, Seq("q00_no_such_query", "q01_pricing_summary"))
    } }
    val failures = err.toString("UTF-8").linesIterator.filter(_.startsWith("[explain]")).toSeq
    assert(failures.size == 1 && failures.head.contains("q00_no_such_query failed"), s"failure lines: $failures")
    assert(res.map(_._1) == Seq("q00_no_such_query", "q01_pricing_summary"))
    assert(res.head._2.isLeft)
    assert(res(1)._2.exists(ts => ts.size == 2 && ts.forall(_ > 0)), s"expected two timed runs: ${res(1)}")
    assert(out.toString("UTF-8").contains("========== q01_pricing_summary =========="))
  }

  test("entry() — the driver's smoke flagship — returns rows on the sf0.001 fixture") {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet")))
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty, "driver smoke-checks rows>0 — entry must never return empty")
    graft.core.ScratchCache.drain()
  }
}
