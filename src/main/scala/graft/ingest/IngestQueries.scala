package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Det, Oracle, Query, QueryCatalog, Store, Tables}
import graft.dedup.UrlCanon

/** Raw crawl ingest — the one shape a 100 TB curation pipeline hits
  * BEFORE every other stage in this catalog: semi-structured text
  * dumps (WARC/WET-style JSON-lines, CSV exports) with real-world
  * corruption (truncated records, type garbage), read tolerantly so
  * one bad line quarantines ONE row instead of failing the scan.
  * Heritage: the reference engine's only input format is raw text
  * lines split across workers (`include/MapReduceMaster.h:182-213`,
  * the per-worker file-chunk scan q30/O1 re-expresses); this module is
  * that ingest path grown up — schema-on-read with PERMISSIVE
  * corrupt-record capture (`columnNameOfCorruptRecord`), the
  * Spark-native equivalent of the crawl loader every LLM data pipeline
  * starts with.
  *
  * The raw store is DERIVED deterministically from the parquet corpus
  * (documents → JSONL, orders → CSV) with corruption planted by
  * md5-selector — both engines can therefore predict exactly which
  * records are bad, so the DuckDB oracle recomputes every result from
  * the base tables and the hash-match proves the parse ROUND-TRIPS:
  * values survive render→corrupt→permissive-read bit-for-bit and the
  * quarantine set is exactly the planted set.
  *
  * Scale shape: JSONL/CSV are line-splittable, so the scan
  * parallelizes like any text source (no single-reader choke); parsing
  * is map-side (corrupt capture included — no driver involvement, no
  * exception churn); q156/q157 shuffle only final per-group partial
  * aggregates, and column pruning reaches the PARSER (ReadSchema drops
  * `text` when a query doesn't touch it — at 100 TB that is most of
  * the bytes; IngestSpec pins it). q158 chains ingest into the q129
  * canonicalization + per-(domain, key) dedup + quality gate: regex
  * canon is map-side, then ONE exchange on (domain, key) and a
  * domain-keyed roll-up — the key includes the url/content digest, so
  * a single-domain flood spreads across tasks (q129's partitioning
  * contract). */
object IngestQueries extends QueryCatalog {

  /** Planted-corruption selectors — shared verbatim with the oracle. */
  private val jsonBadSql = "substring(md5('crlf|' || doc_id), 1, 1) = '0'"
  private val csvBadSql = "substring(md5('csvbad|' || o_orderkey), 1, 1) = '0'"
  /** Planted-RECRAWL selector: ~1/16 of clean docs get a second JSONL
    * line whose url differs only by a `#dup` fragment — the real-world
    * duplicate shape (the same page fetched twice with URL noise).
    * Canonicalization strips fragments, so both lines collapse to one
    * (domain, key) — without this the fixture's doc_id arithmetic
    * (collision needs agreement mod lcm(7,41,5)=1435, > corpus size)
    * makes q158's dedup stage structurally vacuous at test SFs. */
  private val dupSelSql = "substring(md5('dup|' || doc_id), 1, 1) = '0'"
  /** q158's quality gate (chars), ~18% of the fixture below it. */
  private val MinChars = 150L

  /** One raw dump per (session, corpus): `jsonl/` renders each
    * document as a JSON object line (truncated by one char — always
    * the closing brace — for planted-bad docs, so the line is
    * guaranteed malformed), plus one RECRAWL line per planted-dup doc
    * (url + '#dup', exercising fragment-stripping canonicalization and
    * q158's dedup stage); `csv/` renders orders with type garbage
    * ("N/A" in the DOUBLE price column) for planted-bad keys. The
    * corpus RENDER is test scaffolding (a real pipeline receives the
    * raw files), so its cost must not land on the timed ingest queries
    * that read the dump. q200 and q208 read it through [[fetches]]. */
  val rawStore = new Store[(String, String)]("rawstore", "q156_rawstore_build")((s, dir, base) => {
    val jsonlPath = base.resolve("jsonl").toString
    val csvPath = base.resolve("csv").toString
    val docs = Tables.documents(s, dir)
      .selectExpr("doc_id", "text", "lang", "source", "n_chars",
        s"${UrlCanon.rawUrlSql} AS url", s"$jsonBadSql AS bad",
        s"$dupSelSql AS dup")
    // struct field order is the rendered field order; the reader
    // binds by NAME, so order is presentation only
    def render(d: DataFrame) = d.withColumn("line", to_json(struct(
      col("doc_id"), col("url"), col("lang"), col("source"),
      col("n_chars"), col("text"))))
    val originals = render(docs)
      .select(when(col("bad"),
          expr("substring(line, 1, length(line) - 1)")).otherwise(col("line"))
        .as("value"))
    // recrawls: a clean second fetch of the same page, raw url noisier
    // by one fragment (stripped by canonicalization → same dedup key)
    val recrawls = render(docs.filter(!col("bad") && col("dup"))
        .withColumn("url", concat(col("url"), lit("#dup"))))
      .select(col("line").as("value"))
    originals.unionAll(recrawls).write.mode("overwrite").text(jsonlPath)
    val orders = Tables.orders(s, dir)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority", s"$csvBadSql AS bad")
    // render guard (r13 advice): concat_ws silently SKIPS null
    // columns — a null would shift fields left and mis-parse the row
    // into unplanned quarantine — and the unquoted render breaks on
    // embedded commas. Fail loudly at build time instead.
    val badRender = orders.filter(
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority").map(col(_).isNull).reduce(_ || _) ||
        col("o_orderstatus").contains(",") || col("o_orderpriority").contains(","))
      .count()
    require(badRender == 0,
      s"$badRender orders rows have null or comma-bearing render columns — " +
        "the unquoted CSV render would silently mis-parse them")
    orders.select(concat_ws(",",
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"),
        when(col("bad"), lit("N/A")).otherwise(col("o_totalprice").cast("string")),
        col("o_orderpriority")).as("value"))
      .write.mode("overwrite").text(csvPath)
    (jsonlPath, csvPath)
  })

  private val jsonlSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("text", StringType),
    StructField("_corrupt", StringType)))

  private def readJsonl(s: SparkSession, dir: String): DataFrame =
    s.read.schema(jsonlSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(rawStore(s, dir)._1)

  /** Streaming twin of [[readJsonl]]: the same schema'd permissive
    * parse over a FILE-SOURCE stream — the continuous crawl loader
    * (new dump files appear in the directory; each micro-batch parses
    * only the new files, quarantine riding the same scan).
    * `maxFilesPerTrigger=1` forces one file per micro-batch so the
    * spec proves multi-batch incremental aggregation, not a single
    * batch in disguise. */
  def readJsonlStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(jsonlSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("maxFilesPerTrigger", 1)
      .json(rawStore(s, dir)._1)

  private val csvSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType), StructField("_corrupt", StringType)))

  private def readCsv(s: SparkSession, dir: String): DataFrame =
    s.read.schema(csvSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(rawStore(s, dir)._2)

  // ---------------------------------------------------------------- q156
  /** JSONL ingest roll-up: per-language doc counts + char volume over
    * cleanly-parsed rows, with the quarantined (malformed) rows as one
    * "(corrupt)" bucket. ONE pass — the corrupt branch rides the same
    * scan as the parsed branch (a separate corrupt-only count would
    * both rescan and trip Spark's corrupt-column-only restriction);
    * the hash-match proves the quarantine set is exactly the planted
    * set and every clean value round-tripped. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    readJsonl(s, dir)
      .groupBy(when($"_corrupt".isNotNull, lit("(corrupt)"))
        .otherwise($"lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"_corrupt".isNotNull, lit(0L)).otherwise($"n_chars")).as("sum_chars"))
      .orderBy($"lang")
  }
  private val q156Sql =
    s"""WITH sel AS (
       |  SELECT lang, n_chars, $jsonBadSql AS bad FROM documents
       |  UNION ALL
       |  SELECT lang, n_chars, FALSE AS bad FROM documents
       |  WHERE NOT ($jsonBadSql) AND $dupSelSql
       |)
       |SELECT CASE WHEN bad THEN '(corrupt)' ELSE lang END AS lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN bad THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars
       |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q157
  /** CSV ingest roll-up: per-priority order counts + exact-decimal
    * revenue over cleanly-parsed rows, type-garbage rows ("N/A" where
    * a DOUBLE belongs) quarantined into "(corrupt)". Proves the
    * numeric round-trip: double → string render → schema'd CSV read →
    * Det.moneySum matches the oracle's direct aggregation of the base
    * table bit-for-bit. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    readCsv(s, dir)
      .groupBy(when($"_corrupt".isNotNull, lit("(corrupt)"))
        .otherwise($"o_orderpriority").as("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Det.moneySum(when($"_corrupt".isNotNull, lit(0.0)).otherwise($"o_totalprice"))
          .as("revenue"))
      .orderBy($"o_orderpriority")
  }
  private val q157Sql =
    s"""WITH sel AS (
       |  SELECT o_orderpriority, o_totalprice, $csvBadSql AS bad FROM orders
       |)
       |SELECT CASE WHEN bad THEN '(corrupt)' ELSE o_orderpriority END AS o_orderpriority,
       |  CAST(count(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlSum("CASE WHEN bad THEN 0.0 ELSE o_totalprice END")} AS revenue
       |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q158
  /** End-to-end crawl admission: JSONL ingest → URL canonicalization
    * (q129's exact fragments, applied to the INGESTED url string — the
    * real pipeline order, parse first then canon) → per-(domain,
    * policy-key) dedup keep-lowest → quality gate, rolled up per
    * registered domain: admitted uniques, near-duplicate drops, and
    * quality rejections. Corrupt lines never reach the chain (the
    * quarantine IS the first filter). The oracle replays the whole
    * chain from `documents` — hash equality proves parse + canon +
    * dedup + gate all agree end to end. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chain = fetches(s, dir)
      .selectExpr("doc_id", "text", "n_chars", "domain", "canon_url",
        s"${UrlCanon.policySql} AS policy")
      .selectExpr("n_chars", "domain", s"${UrlCanon.keySql} AS key")
      .withColumn("pass", $"n_chars" >= MinChars)
    val perKey = chain.filter($"pass")
      .groupBy($"domain", $"key").agg(count(lit(1)).as("cnt"))
    val adm = perKey.groupBy($"domain")
      .agg(count(lit(1)).as("n_admitted"), sum($"cnt" - 1).as("n_dup_dropped"))
    val rej = chain.groupBy($"domain")
      .agg(sum(when($"pass", 0L).otherwise(1L)).as("n_rejected"))
    rej.join(adm, Seq("domain"), "left")
      .na.fill(0L, Seq("n_admitted", "n_dup_dropped"))
      // explicit final projection so engine and oracle agree positionally
      .select($"domain", $"n_admitted", $"n_dup_dropped", $"n_rejected")
      .orderBy($"domain")
  }
  private val q158Sql = {
    import UrlCanon._
    s"""WITH docs AS (
       |  SELECT doc_id, text, n_chars, source FROM documents WHERE NOT ($jsonBadSql)
       |  UNION ALL
       |  -- planted recrawls: same page, url differs only by a fragment
       |  -- the canon strips, so the replay can reuse the base raw_url
       |  SELECT doc_id, text, n_chars, source FROM documents
       |  WHERE NOT ($jsonBadSql) AND $dupSelSql
       |), raw AS (
       |  SELECT doc_id, text, n_chars, $rawUrlSql AS raw_url FROM docs
       |), st AS (
       |  SELECT doc_id, text, n_chars, ${strippedSql("raw_url")} AS u FROM raw
       |), hp AS (
       |  SELECT doc_id, text, n_chars, ${hostSql("u")} AS host,
       |         ${pathSql("u")} AS pathn, ${idParamSql("u")} AS idp FROM st
       |), cd AS (
       |  SELECT doc_id, text, n_chars, ${domainSql("host")} AS domain,
       |         ${canonSql("host", "pathn", "idp")} AS canon_url FROM hp
       |), pol AS (
       |  SELECT doc_id, text, n_chars, domain, canon_url, $policySql AS policy FROM cd
       |), keyed AS (
       |  SELECT n_chars, domain, $keySql AS key FROM pol
       |), flags AS (
       |  SELECT domain, key, n_chars >= $MinChars AS pass FROM keyed
       |), perkey AS (
       |  SELECT domain, key, count(*) AS cnt FROM flags WHERE pass GROUP BY domain, key
       |), adm AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_admitted,
       |         CAST(sum(cnt - 1) AS BIGINT) AS n_dup_dropped
       |  FROM perkey GROUP BY domain
       |), rej AS (
       |  SELECT domain,
       |         CAST(count(*) FILTER (WHERE NOT pass) AS BIGINT) AS n_rejected
       |  FROM flags GROUP BY domain
       |)
       |SELECT rej.domain, CAST(coalesce(n_admitted, 0) AS BIGINT) AS n_admitted,
       |  CAST(coalesce(n_dup_dropped, 0) AS BIGINT) AS n_dup_dropped, n_rejected
       |FROM rej LEFT JOIN adm ON rej.domain = adm.domain
       |ORDER BY rej.domain""".stripMargin
  }

  // ---------------------------------------------------------------- q160
  /** Crawl-policy admission — the reference's O2 input filter
    * (`include/MapReduceMaster.h`: each worker is handed only its
    * assigned input slice) generalized to POLICY: a per-domain
    * blocklist + robots-style path rules decide which fetched pages
    * enter the pipeline at all. The policy dim (one row per distinct
    * registered domain: blocked flag + optional disallowed path
    * prefix, both md5-carved so the oracle replays membership) is tiny
    * relative to the corpus at any scale — it is BROADCAST to the
    * fetch stream, so policy enforcement is map-side with zero
    * exchanges on the 100 TB side; the only shuffle is the final
    * per-domain roll-up. Verdict precedence: blocked domain >
    * robots-disallowed path > admitted. */
  private val blockSelSql = "substring(md5('block|' || domain), 1, 1) < '2'"
  private val robotsSelSql = "substring(md5('robots|' || domain), 1, 1) < '4'"
  private val RobotsPrefix = "/p/1"

  /** Shared ingest→canon prefix: cleanly-parsed fetches (recrawls
    * included — they are fetches) with registered domain + canonical
    * path/url components. */
  private def fetches(s: SparkSession, dir: String): DataFrame =
    readJsonl(s, dir)
      .filter(col("_corrupt").isNull)
      .selectExpr("doc_id", "text", "n_chars", s"${UrlCanon.strippedSql("url")} AS u")
      .selectExpr("doc_id", "text", "n_chars",
        s"${UrlCanon.hostSql("u")} AS host",
        s"${UrlCanon.pathSql("u")} AS pathn",
        s"${UrlCanon.idParamSql("u")} AS idp")
      .selectExpr("doc_id", "text", "n_chars", "pathn",
        s"${UrlCanon.domainSql("host")} AS domain",
        s"${UrlCanon.canonSql("host", "pathn", "idp")} AS canon_url")

  private def q160(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = fetches(s, dir)
    // the policy dim: one row per distinct domain. Derived here from
    // the corpus for determinism; a real pipeline reads it as an
    // external table — either way it is domain-cardinality-sized and
    // broadcast, never shuffled against the fetch stream.
    val policyDim = f.select($"domain").distinct()
      .selectExpr("domain", s"$blockSelSql AS is_blocked",
        s"CASE WHEN $robotsSelSql THEN '$RobotsPrefix' END AS robots_prefix")
    f.join(broadcast(policyDim), Seq("domain"))
      .withColumn("verdict",
        when($"is_blocked", lit("blocked_domain"))
          .when($"robots_prefix".isNotNull && $"pathn".startsWith(RobotsPrefix),
            lit("robots"))
          .otherwise(lit("admitted")))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_fetched"),
        sum(when($"verdict" === "blocked_domain", 1L).otherwise(0L)).as("n_blocked"),
        sum(when($"verdict" === "robots", 1L).otherwise(0L)).as("n_robots"),
        sum(when($"verdict" === "admitted", 1L).otherwise(0L)).as("n_admitted"))
      .orderBy($"domain")
  }
  private val q160Sql = {
    import UrlCanon._
    s"""WITH docs AS (
       |  SELECT doc_id, source FROM documents WHERE NOT ($jsonBadSql)
       |  UNION ALL
       |  SELECT doc_id, source FROM documents
       |  WHERE NOT ($jsonBadSql) AND $dupSelSql
       |), raw AS (
       |  SELECT doc_id, $rawUrlSql AS raw_url FROM docs
       |), st AS (
       |  SELECT doc_id, ${strippedSql("raw_url")} AS u FROM raw
       |), hp AS (
       |  SELECT doc_id, ${hostSql("u")} AS host, ${pathSql("u")} AS pathn FROM st
       |), dm AS (
       |  SELECT doc_id, pathn, ${domainSql("host")} AS domain FROM hp
       |), v AS (
       |  SELECT domain,
       |    CASE WHEN $blockSelSql THEN 'blocked_domain'
       |         WHEN $robotsSelSql AND pathn LIKE '$RobotsPrefix%' THEN 'robots'
       |         ELSE 'admitted' END AS verdict
       |  FROM dm
       |)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_fetched,
       |  CAST(count(*) FILTER (WHERE verdict = 'blocked_domain') AS BIGINT) AS n_blocked,
       |  CAST(count(*) FILTER (WHERE verdict = 'robots') AS BIGINT) AS n_robots,
       |  CAST(count(*) FILTER (WHERE verdict = 'admitted') AS BIGINT) AS n_admitted
       |FROM v GROUP BY domain ORDER BY domain""".stripMargin
  }

  // ---------------------------------------------------------------- q208
  /** Politeness-constrained FETCH-DRAIN plan — the crawler-ops table
    * between policy admission (q160) and frontier scheduling (q172):
    * a polite fetcher serializes each domain's queue at that domain's
    * robots Crawl-delay (q167's carved rules; 1 s default politeness
    * when absent), so a domain's wall-clock drain time is
    * n_pages · delay — NOT fleet-parallelizable, because politeness
    * is per-domain. The plan prices every domain's queue (admitted
    * pages only: blocked domains fetch nothing, robots-disallowed
    * paths are skipped) and bins drain time into power-of-two-hours
    * bit-length buckets (q184's exact-integer idiom) — the top bucket
    * is the list of domains that need a delay renegotiation or a
    * frontier cap before the next crawl cycle.
    *
    * Scale shape: q160's exactly — map-side canon chain, the policy
    * dim (now carrying the delay) broadcast, ONE domain exchange with
    * O(1) count state; the drain arithmetic runs on the
    * |domains|-row aggregate. */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = fetches(s, dir)
    val policyDim = f.select($"domain").distinct()
      .selectExpr("domain", s"$blockSelSql AS is_blocked",
        s"CASE WHEN $robotsSelSql THEN '$RobotsPrefix' END AS robots_prefix",
        s"CAST(CASE WHEN $delaySelSql THEN $delayValSql ELSE 1 END AS BIGINT) AS delay_s")
    f.join(broadcast(policyDim), Seq("domain"))
      .filter(!$"is_blocked" &&
        !($"robots_prefix".isNotNull && $"pathn".startsWith(RobotsPrefix)))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_pages"), min($"delay_s").as("delay_s"))
      .withColumn("drain_s", $"n_pages" * $"delay_s")
      .withColumn("bucket",
        when($"drain_s" < 3600L, 0L)
          .otherwise(length(bin(expr("drain_s DIV 3600"))).cast("long")))
      .select($"domain", $"n_pages", $"delay_s", $"drain_s", $"bucket")
      .orderBy($"domain")
  }
  // lazy: reads delaySelSql/delayValSql declared further down this file —
  // a strict val here evaluates mid-object-init and bakes `null` into
  // the oracle (the exact q163/q165 bug class; guarded in
  // QueryCatalogContractSpec)
  private lazy val q208Sql = {
    import UrlCanon._
    s"""WITH docs AS (
       |  SELECT doc_id, source FROM documents WHERE NOT ($jsonBadSql)
       |  UNION ALL
       |  SELECT doc_id, source FROM documents WHERE NOT ($jsonBadSql) AND $dupSelSql
       |), raw AS (
       |  SELECT doc_id, $rawUrlSql AS raw_url FROM docs
       |), st AS (
       |  SELECT doc_id, ${strippedSql("raw_url")} AS u FROM raw
       |), hp AS (
       |  SELECT doc_id, ${hostSql("u")} AS host, ${pathSql("u")} AS pathn FROM st
       |), dm AS (
       |  SELECT doc_id, pathn, ${domainSql("host")} AS domain FROM hp
       |), adm AS (
       |  SELECT domain FROM dm
       |  WHERE NOT ($blockSelSql)
       |    AND NOT ($robotsSelSql AND pathn LIKE '$RobotsPrefix%')
       |), g AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_pages,
       |    CAST(CASE WHEN $delaySelSql THEN $delayValSql ELSE 1 END AS BIGINT) AS delay_s
       |  FROM adm GROUP BY domain
       |)
       |SELECT domain, n_pages, delay_s,
       |  CAST(n_pages * delay_s AS BIGINT) AS drain_s,
       |  CAST(CASE WHEN n_pages * delay_s < 3600 THEN 0
       |       ELSE length(bin(n_pages * delay_s // 3600)) END AS BIGINT) AS bucket
       |FROM g ORDER BY domain""".stripMargin
  }

  // ---------------------------------------------------------------- q200
  /** Policy-churn PURGE/RECRAWL audit — the compliance diff run when a
    * fresh robots/blocklist sweep lands: every fetched page is judged
    * under the RULE EPOCH THAT ADMITTED IT (q160's dim) and under the
    * new epoch's rules, and the (old_verdict, new_verdict) transition
    * matrix is the action ledger — `purge` cells are pages the corpus
    * must DELETE (robots revoked consent / domain newly blocked: the
    * opt-out obligation, with char mass so storage and retraining cost
    * are priced), `recrawl` cells are pages policy now permits (the
    * backfill queue), diagonal cells are no-ops. Real pipelines run
    * exactly this diff on every policy refresh; admission-time
    * filtering alone (q160) cannot honor a revocation that arrives
    * AFTER the page was admitted.
    *
    * Both epochs' rules are md5-carved per domain (independent
    * carves, so all transition directions are populated and the
    * oracle replays membership exactly).
    *
    * Scale shape: q160's exactly — ONE policy dim per epoch, both
    * domain-cardinality-sized, broadcast to the fetch stream; verdicts
    * are map-side codegen and the only exchange is the ≤9-cell
    * (old_verdict, new_verdict) roll-up. Distinct-domain counts ride
    * the same rollup. Zero new corpus-scale shuffles. */
  private val block2SelSql = "substring(md5('block2|' || domain), 1, 1) < '2'"
  private val robots2SelSql = "substring(md5('robots2|' || domain), 1, 1) < '4'"

  private def q200(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = fetches(s, dir)
    val policyDim = f.select($"domain").distinct()
      .selectExpr("domain",
        s"$blockSelSql AS blocked1", s"$robotsSelSql AS robots1",
        s"$block2SelSql AS blocked2", s"$robots2SelSql AS robots2")
    f.join(broadcast(policyDim), Seq("domain"))
      .withColumn("old_verdict",
        when($"blocked1", lit("blocked_domain"))
          .when($"robots1" && $"pathn".startsWith(RobotsPrefix), lit("robots"))
          .otherwise(lit("admitted")))
      .withColumn("new_verdict",
        when($"blocked2", lit("blocked_domain"))
          .when($"robots2" && $"pathn".startsWith(RobotsPrefix), lit("robots"))
          .otherwise(lit("admitted")))
      .withColumn("action",
        when($"old_verdict" === $"new_verdict", lit("unchanged"))
          .when($"old_verdict" === "admitted", lit("purge"))
          .when($"new_verdict" === "admitted", lit("recrawl"))
          .otherwise(lit("blocked_shift")))
      .groupBy($"old_verdict", $"new_verdict", $"action")
      .agg(count(lit(1)).as("n_pages"),
        countDistinct($"domain").as("n_domains"),
        sum($"n_chars".cast("long")).as("n_chars"))
      .orderBy($"old_verdict", $"new_verdict")
  }
  private val q200Sql = {
    import UrlCanon._
    s"""WITH docs AS (
       |  SELECT doc_id, source, n_chars FROM documents WHERE NOT ($jsonBadSql)
       |  UNION ALL
       |  SELECT doc_id, source, n_chars FROM documents
       |  WHERE NOT ($jsonBadSql) AND $dupSelSql
       |), raw AS (
       |  SELECT doc_id, n_chars, $rawUrlSql AS raw_url FROM docs
       |), st AS (
       |  SELECT doc_id, n_chars, ${strippedSql("raw_url")} AS u FROM raw
       |), hp AS (
       |  SELECT doc_id, n_chars, ${hostSql("u")} AS host, ${pathSql("u")} AS pathn FROM st
       |), dm AS (
       |  SELECT doc_id, n_chars, pathn, ${domainSql("host")} AS domain FROM hp
       |), v AS (
       |  SELECT domain, n_chars,
       |    CASE WHEN $blockSelSql THEN 'blocked_domain'
       |         WHEN $robotsSelSql AND pathn LIKE '$RobotsPrefix%' THEN 'robots'
       |         ELSE 'admitted' END AS old_verdict,
       |    CASE WHEN $block2SelSql THEN 'blocked_domain'
       |         WHEN $robots2SelSql AND pathn LIKE '$RobotsPrefix%' THEN 'robots'
       |         ELSE 'admitted' END AS new_verdict
       |  FROM dm
       |)
       |SELECT old_verdict, new_verdict,
       |  CASE WHEN old_verdict = new_verdict THEN 'unchanged'
       |       WHEN old_verdict = 'admitted' THEN 'purge'
       |       WHEN new_verdict = 'admitted' THEN 'recrawl'
       |       ELSE 'blocked_shift' END AS action,
       |  CAST(count(*) AS BIGINT) AS n_pages,
       |  CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM v GROUP BY old_verdict, new_verdict
       |ORDER BY old_verdict, new_verdict""".stripMargin
  }

  // ---------------------------------------------------------------- q159
  /** The ONE corpus-build number a platform team quotes: the full
    * admission chain run END TO END as a single measured query —
    * permissive ingest (quarantine) → URL canonicalization → per-
    * (domain, policy-key) dedup KEEP-LOWEST (survivor identity kept,
    * not just counts) → quality gate → group-aware 98/1/1 domain split
    * (q154's exact thresholds — near-dup pages can never straddle
    * train/eval) → packing plan: per split, surviving docs, whitespace
    * tokens, and the 2048-token sequence count those tokens pack into.
    *
    * Scale shape: everything through the gate is map-side on the scan;
    * then ONE exchange on (domain, key) for the keep-lowest (min_by —
    * never a self-join), the split is a map-side hash of the group key
    * already in hand, and the final roll-up is a 3-group partial
    * aggregate. Two shuffles total at any corpus size, and the second
    * moves 3 rows per task. */
  private val SeqTokens = 2048L
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val surv = fetches(s, dir)
      .selectExpr("doc_id", "text", "n_chars", "domain", "canon_url",
        s"${UrlCanon.policySql} AS policy")
      .selectExpr("doc_id", "text", "n_chars", "domain", s"${UrlCanon.keySql} AS key")
      .filter($"n_chars" >= MinChars)
      .groupBy($"domain", $"key")
      .agg(expr("min_by(text, doc_id)").as("text"))
    surv
      .selectExpr("text", s"CAST(${UrlCanon.groupSplitHash} AS BIGINT) AS u16")
      .selectExpr("text",
        """CASE WHEN u16 < 64225 THEN 'train'
          |     WHEN u16 < 64880 THEN 'val'
          |     ELSE 'test' END AS split""".stripMargin)
      .select($"split",
        size(expr(graft.text.TextQueries.toksExpr)).cast("long").as("n_toks"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        expr(s"(sum(n_toks) + ${SeqTokens - 1}) DIV $SeqTokens").as("n_seqs"))
      .orderBy($"split")
  }
  private val q159Sql = {
    import UrlCanon._
    s"""WITH docs AS (
       |  SELECT doc_id, text, n_chars, source FROM documents WHERE NOT ($jsonBadSql)
       |  UNION ALL
       |  SELECT doc_id, text, n_chars, source FROM documents
       |  WHERE NOT ($jsonBadSql) AND $dupSelSql
       |), raw AS (
       |  SELECT doc_id, text, n_chars, $rawUrlSql AS raw_url FROM docs
       |), st AS (
       |  SELECT doc_id, text, n_chars, ${strippedSql("raw_url")} AS u FROM raw
       |), hp AS (
       |  SELECT doc_id, text, n_chars, ${hostSql("u")} AS host,
       |         ${pathSql("u")} AS pathn, ${idParamSql("u")} AS idp FROM st
       |), cd AS (
       |  SELECT doc_id, text, n_chars, ${domainSql("host")} AS domain,
       |         ${canonSql("host", "pathn", "idp")} AS canon_url FROM hp
       |), pol AS (
       |  SELECT doc_id, text, n_chars, domain, canon_url, $policySql AS policy FROM cd
       |), keyed AS (
       |  SELECT doc_id, text, n_chars, domain, $keySql AS key FROM pol
       |), surv AS (
       |  SELECT domain, key, arg_min(text, doc_id) AS text
       |  FROM keyed WHERE n_chars >= $MinChars GROUP BY domain, key
       |), sp AS (
       |  SELECT CASE WHEN u16 < 64225 THEN 'train'
       |              WHEN u16 < 64880 THEN 'val'
       |              ELSE 'test' END AS split,
       |         CAST(len(${graft.text.TextQueries.toksSql}) AS BIGINT) AS n_toks
       |  FROM (SELECT text, CAST($groupSplitHash AS BIGINT) AS u16 FROM surv)
       |)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  CAST((sum(n_toks) + ${SeqTokens - 1}) // $SeqTokens AS BIGINT) AS n_seqs
       |FROM sp GROUP BY split ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- q161
  /** Per-SOURCE ingest accounting — the dashboard a crawl operator
    * watches while dumps land: docs, char volume, and language spread
    * per source feed, with malformed lines as one "(corrupt)" feed.
    * The transform is MODE-AGNOSTIC (plain groupBy/agg, no event
    * time), so the identical function runs batch for the DuckDB
    * oracle AND over the file-source stream ([[readJsonlStream]]) —
    * IngestStreamSpec proves a one-file-per-micro-batch streaming run
    * converges to this batch answer bit-for-bit, which is the same
    * batch≡stream strategy the q60-family uses. Scale: parse is
    * map-side per micro-batch, state is one row per source — bounded
    * regardless of corpus size or stream length. */
  def sourceRollup(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(when(col("_corrupt").isNotNull, lit("(corrupt)"))
        .otherwise(col("source")).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_corrupt").isNotNull, lit(0L)).otherwise(col("n_chars")))
          .as("sum_chars"),
        // size(collect_set) not countDistinct: distinct aggregates are
        // unsupported on streaming frames, the set is lang-cardinality
        // bounded, and the values are identical in batch
        size(collect_set(when(col("_corrupt").isNull, col("lang"))))
          .cast("long").as("n_langs"))

  private def q161(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sourceRollup(readJsonl(s, dir)).orderBy($"source")
  }
  private val q161Sql =
    s"""WITH sel AS (
       |  SELECT source, lang, n_chars, $jsonBadSql AS bad FROM documents
       |  UNION ALL
       |  SELECT source, lang, n_chars, FALSE AS bad FROM documents
       |  WHERE NOT ($jsonBadSql) AND $dupSelSql
       |)
       |SELECT CASE WHEN bad THEN '(corrupt)' ELSE source END AS source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN bad THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars,
       |  CAST(count(DISTINCT CASE WHEN bad THEN NULL ELSE lang END) AS BIGINT) AS n_langs
       |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Crawl SNAPSHOT DIFF — the re-crawl delta a CommonCrawl-style
    * pipeline computes before touching the heavy dedup stages: which
    * pages were added, which disappeared, which changed content, which
    * are byte-identical since the previous crawl. The previous crawl
    * lives as a PERSISTED digest artifact (doc_id, source, 32-hex
    * digest — q94's signature-store discipline: 16 bytes/page at any
    * corpus size, built once per snapshot, replayed by every diff),
    * and the query is ONE full-outer join of the current scan against
    * it on doc_id plus a source-keyed roll-up. Membership and change
    * are md5-carved (prev ~15/16, cur ~15/16 independent → added and
    * removed both non-empty; ~3/16 of carried pages changed, their
    * previous digest replayed as md5('old|'||text)), so the DuckDB
    * oracle reconstructs both snapshots from `documents` and the
    * hash-match proves the whole diff.
    *
    * Scale shape: both sides shuffle once on the high-cardinality
    * doc_id (sort-merge; bucketing the artifact co-locates the next
    * diff), the roll-up is source-cardinality rows. Never a
    * broadcast: at 100 TB BOTH sides are corpus-sized. */
  private val prevSelSql = "substring(md5('prev|' || doc_id), 1, 1) <> 'f'"
  private val curSelSql = "substring(md5('cur|' || doc_id), 1, 1) <> 'e'"
  private val chgSelSql = "substring(md5('chg|' || doc_id), 1, 1) < '3'"
  private val prevDigestSql =
    s"CASE WHEN $chgSelSql THEN md5('old|' || text) ELSE md5(text) END"
  /** Planted MOVES: ~half the docs absent from the previous snapshot
    * BY ID carried their content under a DIFFERENT id there (a page
    * that moved URLs between crawls) — a ghost (doc_id + 10⁹, source,
    * md5(text)) row in the previous-crawl store. q162 counts the
    * ghost as removed (the old URL did disappear); q169 re-connects
    * the pair by content digest. */
  private val moveSelSql =
    s"NOT ($prevSelSql) AND substring(md5('move|' || doc_id), 1, 1) < '8'"
  private val GhostOffset = 1000000000L

  /** The previous-crawl digest artifact — the persisted state a daily
    * re-crawl diffs against. Snapshot N-1's one-off output; timed runs
    * of its readers measure the diff joins only. q192 and q199 read it
    * through [[snapshotVerdictCounts]]. */
  val prevStore = new Store[String]("prevcrawl", "q162_prevstore_build")((s, dir, path) => {
    val docs = Tables.documents(s, dir)
    docs.filter(expr(prevSelSql))
      .selectExpr("doc_id", "source", s"$prevDigestSql AS digest")
      .unionAll(docs.filter(expr(moveSelSql))
        .selectExpr(s"doc_id + ${GhostOffset}L AS doc_id", "source",
          "md5(text) AS digest"))
      .write.mode("overwrite").parquet(path.toString)
    path.toString
  })

  /** Per-source verdict counts of the id-keyed snapshot diff — shared
    * by q162's report and q192's recrawl schedule. */
  private def snapshotVerdictCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prev = s.read.parquet(prevStore(s, dir))
      .select($"doc_id".as("p_id"), $"source".as("p_source"), $"digest".as("p_digest"))
    val cur = Tables.documents(s, dir)
      .filter(expr(curSelSql))
      .selectExpr("doc_id AS c_id", "source AS c_source", "md5(text) AS c_digest")
    cur.join(prev, $"c_id" === $"p_id", "full_outer")
      .select(coalesce($"c_source", $"p_source").as("source"),
        when($"p_id".isNull, "added")
          .when($"c_id".isNull, "removed")
          .when($"c_digest" =!= $"p_digest", "changed")
          .otherwise("unchanged").as("verdict"))
      .groupBy($"source")
      .agg(sum(when($"verdict" === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when($"verdict" === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when($"verdict" === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when($"verdict" === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
  }
  private def q162(s: SparkSession, dir: String): DataFrame =
    snapshotVerdictCounts(s, dir).orderBy(col("source"))

  // ---------------------------------------------------------------- q192
  /** Recrawl-interval recommendation — the crawl-ops schedule computed
    * FROM q162's snapshot churn: a source's change rate (added +
    * removed + changed over all verdicts, exact ppm) maps to a
    * standard refresh class (≥ 50% churn between snapshots → hourly,
    * ≥ 10% → daily, ≥ 1% → weekly, else monthly), and the schedule
    * prices itself: daily fetch volume = live pages × (24 /
    * interval_hours), in exact ×1000 integers. Σ daily_fetches over
    * sources is the fleet's fetch budget — the number a crawl team
    * provisions against (change-rate-proportional revisit policy, the
    * Cho & Garcia-Molina 2003 shape with bucketed intervals so the
    * whole schedule stays exact-integer and oracle-checkable).
    *
    * Scale shape: q162's one full-outer diff on doc_id, then
    * |sources|-row arithmetic. */
  private[ingest] def recrawlScheduleOf(counts: DataFrame): DataFrame = counts
    .withColumn("n_cur", expr("n_added + n_changed + n_unchanged"))
    .withColumn("churn_ppm", expr(
      "CASE WHEN n_added + n_removed + n_changed + n_unchanged = 0 THEN 0 " +
      "ELSE (n_added + n_removed + n_changed) * 1000000 DIV " +
      "(n_added + n_removed + n_changed + n_unchanged) END"))
    .withColumn("interval_class",
      when(col("churn_ppm") >= 500000L, "hourly")
        .when(col("churn_ppm") >= 100000L, "daily")
        .when(col("churn_ppm") >= 10000L, "weekly")
        .otherwise("monthly"))
    .withColumn("interval_hours",
      when(col("interval_class") === "hourly", 1L)
        .when(col("interval_class") === "daily", 24L)
        .when(col("interval_class") === "weekly", 168L)
        .otherwise(720L))
    .withColumn("daily_fetches_x1000", expr("n_cur * 24000 DIV interval_hours"))
    .select(col("source"), col("n_cur"), col("churn_ppm"), col("interval_class"),
      col("interval_hours"), col("daily_fetches_x1000"))
    .orderBy(col("source"))
  private def q192(s: SparkSession, dir: String): DataFrame =
    recrawlScheduleOf(snapshotVerdictCounts(s, dir))
  private val q162Sql =
    s"""WITH prev AS (
       |  SELECT doc_id AS p_id, source AS p_source, $prevDigestSql AS p_digest
       |  FROM documents WHERE $prevSelSql
       |  UNION ALL
       |  -- planted moved-away ghosts: the content lived at another id
       |  SELECT doc_id + $GhostOffset AS p_id, source AS p_source,
       |    md5(text) AS p_digest
       |  FROM documents WHERE $moveSelSql
       |), cur AS (
       |  SELECT doc_id AS c_id, source AS c_source, md5(text) AS c_digest
       |  FROM documents WHERE $curSelSql
       |), v AS (
       |  SELECT coalesce(c_source, p_source) AS source,
       |    CASE WHEN p_id IS NULL THEN 'added'
       |         WHEN c_id IS NULL THEN 'removed'
       |         WHEN c_digest <> p_digest THEN 'changed'
       |         ELSE 'unchanged' END AS verdict
       |  FROM cur FULL OUTER JOIN prev ON c_id = p_id
       |)
       |SELECT source,
       |  CAST(count(*) FILTER (WHERE verdict = 'added') AS BIGINT) AS n_added,
       |  CAST(count(*) FILTER (WHERE verdict = 'removed') AS BIGINT) AS n_removed,
       |  CAST(count(*) FILTER (WHERE verdict = 'changed') AS BIGINT) AS n_changed,
       |  CAST(count(*) FILTER (WHERE verdict = 'unchanged') AS BIGINT) AS n_unchanged
       |FROM v GROUP BY source ORDER BY source""".stripMargin
  private val q192Sql =
    s"""WITH counts AS (${q162Sql.replace("ORDER BY source", "")}),
       |d AS (
       |  SELECT source, n_added + n_changed + n_unchanged AS n_cur,
       |    CASE WHEN n_added + n_removed + n_changed + n_unchanged = 0 THEN 0
       |         ELSE (n_added + n_removed + n_changed) * 1000000
       |              // (n_added + n_removed + n_changed + n_unchanged) END AS churn_ppm
       |  FROM counts
       |),
       |c AS (
       |  SELECT source, n_cur, churn_ppm,
       |    CASE WHEN churn_ppm >= 500000 THEN 'hourly'
       |         WHEN churn_ppm >= 100000 THEN 'daily'
       |         WHEN churn_ppm >= 10000 THEN 'weekly'
       |         ELSE 'monthly' END AS interval_class,
       |    CASE WHEN churn_ppm >= 500000 THEN 1
       |         WHEN churn_ppm >= 100000 THEN 24
       |         WHEN churn_ppm >= 10000 THEN 168
       |         ELSE 720 END AS interval_hours
       |  FROM d
       |)
       |SELECT source, CAST(n_cur AS BIGINT) AS n_cur,
       |  CAST(churn_ppm AS BIGINT) AS churn_ppm, interval_class,
       |  CAST(interval_hours AS BIGINT) AS interval_hours,
       |  CAST(n_cur * 24000 // interval_hours AS BIGINT) AS daily_fetches_x1000
       |FROM c ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Crawl ROI ledger — the budget meeting's one table: what does a
    * source's refresh schedule COST in daily fetches (q192's
    * churn-priced plan) versus what it YIELDS in admitted training
    * tokens (q194's funnel, after holdout/dedup/decontam/lang/quality
    * have all had their turn). Tokens-per-fetch is the unit a crawl
    * team actually argues about — a churny domain that admits nothing
    * is pure fetch burn ("starve"), a stable archive that admits
    * everything is nearly free ("rich") — and the class thresholds
    * make the ledger an actionable keep/downgrade/drop list rather
    * than two disconnected dashboards.
    *
    * Exact arithmetic: tok_per_fetch_x1000 = admitted_toks × 10⁶ DIV
    * daily_fetches_x1000 (both engines floor on non-negatives). The
    * product runs in DECIMAL(38,0) (HUGEINT in the oracle) because at
    * 100 TB a source's admitted token mass alone approaches int64 ×
    * 10⁶ overflow; the QUOTIENT (milli-tokens per fetch) stays far
    * inside int64, which is exactly the envelope where DECIMAL(38,0)
    * DIV is exact.
    *
    * Scale shape: both inputs end |sources|-sized; the join and class
    * arithmetic are dimension-table work. The corpus-scale cost is the
    * two upstream scans this query composes (q162's one id-keyed
    * full-outer diff; q194's one digest exchange + broadcast
    * decontam semi-join) — no new corpus-sized exchange is added. */
  private[ingest] val RoiRichX1000 = 10000L  // ≥ 10 admitted tokens per fetch
  private[ingest] val RoiViableX1000 = 4000L // ≥ 4 admitted tokens per fetch

  /** The ROI arithmetic over a (source, interval_class,
    * daily_fetches_x1000) schedule and a (source, n_admitted_docs,
    * admitted_toks) yield frame — exposed for CrawlRoiSpec's planted
    * miss-path and boundary replay. */
  private[ingest] def crawlRoiOf(sched: DataFrame, adm: DataFrame): DataFrame = {
    val s = sched.sparkSession
    import s.implicits._
    sched.select($"source".as("s_source"), $"interval_class", $"daily_fetches_x1000")
      .join(adm.select($"source".as("a_source"), $"n_admitted_docs", $"admitted_toks"),
        $"s_source" === $"a_source", "full_outer")
      .select(coalesce($"s_source", $"a_source").as("source"),
        coalesce($"interval_class", lit("none")).as("interval_class"),
        coalesce($"daily_fetches_x1000", lit(0L)).as("daily_fetches_x1000"),
        coalesce($"n_admitted_docs", lit(0L)).as("n_admitted_docs"),
        coalesce($"admitted_toks", lit(0L)).as("admitted_toks"))
      .withColumn("tok_per_fetch_x1000", expr(
        "CASE WHEN daily_fetches_x1000 = 0 THEN 0 ELSE " +
        "CAST(CAST(admitted_toks AS DECIMAL(38,0)) * 1000000 DIV daily_fetches_x1000 AS BIGINT) END"))
      .withColumn("roi_class",
        when($"daily_fetches_x1000" === 0L, "no_refresh")
          .when($"tok_per_fetch_x1000" >= RoiRichX1000, "rich")
          .when($"tok_per_fetch_x1000" >= RoiViableX1000, "viable")
          .otherwise("starve"))
      .orderBy($"source")
  }

  private def q199(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sched = recrawlScheduleOf(snapshotVerdictCounts(s, dir))
    val adm = graft.dedup.DedupQueries.funnelVerdictsOf(Tables.documents(s, dir))
      .filter($"verdict" === "admitted")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_admitted_docs"), sum($"n_toks").as("admitted_toks"))
    crawlRoiOf(sched, adm)
  }
  private val q199Sql =
    s"""WITH sched AS (${q192Sql.replace("ORDER BY source", "")}),
       |adm AS (
       |  SELECT source, n_docs AS n_admitted_docs, n_toks AS admitted_toks
       |  FROM (${graft.dedup.DedupQueries.q194Sql.replace("ORDER BY source, verdict", "")}) fv
       |  WHERE verdict = 'admitted'
       |),
       |j AS (
       |  SELECT coalesce(s.source, a.source) AS source,
       |    coalesce(s.interval_class, 'none') AS interval_class,
       |    CAST(coalesce(s.daily_fetches_x1000, 0) AS BIGINT) AS daily_fetches_x1000,
       |    CAST(coalesce(a.n_admitted_docs, 0) AS BIGINT) AS n_admitted_docs,
       |    CAST(coalesce(a.admitted_toks, 0) AS BIGINT) AS admitted_toks
       |  FROM sched s FULL OUTER JOIN adm a ON s.source = a.source
       |),
       |r AS (
       |  SELECT *, CASE WHEN daily_fetches_x1000 = 0 THEN 0 ELSE
       |    CAST(CAST(admitted_toks AS HUGEINT) * 1000000 // daily_fetches_x1000 AS BIGINT) END
       |    AS tok_per_fetch_x1000
       |  FROM j
       |)
       |SELECT source, interval_class, daily_fetches_x1000, n_admitted_docs,
       |  admitted_toks, CAST(tok_per_fetch_x1000 AS BIGINT) AS tok_per_fetch_x1000,
       |  CASE WHEN daily_fetches_x1000 = 0 THEN 'no_refresh'
       |       WHEN tok_per_fetch_x1000 >= $RoiRichX1000 THEN 'rich'
       |       WHEN tok_per_fetch_x1000 >= $RoiViableX1000 THEN 'viable'
       |       ELSE 'starve' END AS roi_class
       |FROM r ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q169
  /** MOVED-PAGE detection — the refinement q162's id-keyed diff
    * cannot see: an "added" page whose CONTENT already existed in the
    * previous snapshot under a different id is a URL move, not new
    * data, and double-counting it inflates every growth metric (and
    * re-trains on it). Added docs (current minus previous BY ID) are
    * re-joined against the previous snapshot's digest set BY CONTENT:
    * digest hit ⇒ moved, miss ⇒ truly new. Rolled up per source.
    *
    * Scale shape: one anti-join on doc_id (both sides shuffle once,
    * high-cardinality key) then one left join on digest against the
    * DISTINCT digest set — digests are unique per content, so this
    * key is also high-cardinality and skew-free; the artifact side is
    * 16 bytes/page. Never a broadcast: both sides corpus-sized at
    * 100 TB. */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prev = s.read.parquet(prevStore(s, dir))
    val added = Tables.documents(s, dir)
      .filter(expr(curSelSql))
      .selectExpr("doc_id", "source", "md5(text) AS digest")
      .join(prev.select($"doc_id".as("p_id")), $"doc_id" === $"p_id", "left_anti")
    added
      .join(prev.select($"digest".as("p_digest")).distinct(),
        $"digest" === $"p_digest", "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_added"),
        sum(when($"p_digest".isNotNull, 1L).otherwise(0L)).as("n_moved"),
        sum(when($"p_digest".isNull, 1L).otherwise(0L)).as("n_new"))
      .orderBy($"source")
  }
  private val q169Sql =
    s"""WITH prev AS (
       |  SELECT doc_id AS p_id, $prevDigestSql AS p_digest
       |  FROM documents WHERE $prevSelSql
       |  UNION ALL
       |  SELECT doc_id + $GhostOffset AS p_id, md5(text) AS p_digest
       |  FROM documents WHERE $moveSelSql
       |), added AS (
       |  SELECT doc_id, source, md5(text) AS digest
       |  FROM documents d WHERE $curSelSql
       |    AND NOT EXISTS (SELECT 1 FROM prev WHERE p_id = d.doc_id)
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_added,
       |  CAST(count(*) FILTER (WHERE digest IN (SELECT p_digest FROM prev)) AS BIGINT) AS n_moved,
       |  CAST(count(*) FILTER (WHERE digest NOT IN (SELECT p_digest FROM prev)) AS BIGINT) AS n_new
       |FROM added GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q174
  /** PER-SITE BOILERPLATE detection over extracted page text — the
    * stage after q171 in a real crawl pipeline, and the domain-local
    * complement of q111's corpus-wide segment dedup: a text segment
    * that recurs on at least HALF of one site's pages is that site's
    * chrome (nav, footer, cookie banner) and should be dropped from
    * every page before training — but the SAME segment on two pages of
    * different sites is quotation, not chrome, which is exactly the
    * distinction q111's corpus-global ≥2-docs rule cannot make. Runs
    * on q171's extracted text, so the planted nav/footer chrome is the
    * ground truth: the tumbling segments that align across a site's
    * pages get flagged, the footer fragment that only aligns on ~1/3
    * of pages (tumbling windows shift with body length mod 3) stays
    * below the 50% bar — the threshold is doing real work (pinned in
    * IngestSpec).
    *
    * Scale shape: render+strip+segment are map-side; ONE
    * (site, segment-digest) exchange carrying 16-byte digests (the
    * q108/q111 discipline — segment text never shuffles past the
    * explode), page counts per site ride a broadcast. A flooded site
    * concentrates one count cell per distinct segment, never memory. */
  private val SegToks = 3
  private def q174(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = q171Docs(s, dir).select($"doc_id", $"source", $"text_only")
    val segs = pages
      .select($"doc_id", $"source", split($"text_only", " ").as("toks"))
      .select($"doc_id", $"source", explode(expr(
        s"transform(sequence(0, (size(toks) - 1) DIV $SegToks), " +
          s"i -> concat_ws(' ', slice(toks, i * $SegToks + 1, $SegToks)))")).as("seg"))
      .select($"doc_id", $"source", md5($"seg").as("seg_md5"),
        size(split($"seg", " ")).cast("long").as("seg_toks"))
    val np = pages.groupBy($"source").agg(count(lit(1)).as("n_pages"))
    segs.groupBy($"source", $"seg_md5")
      .agg(countDistinct($"doc_id").as("nd"),
        sum($"seg_toks").as("occ_toks"))
      .join(broadcast(np), "source")
      .withColumn("is_boiler", $"nd" * 2 >= $"n_pages")
      .groupBy($"source")
      .agg(max($"n_pages").as("n_pages"),
        count(lit(1)).as("n_distinct_segs"),
        sum(when($"is_boiler", 1L).otherwise(0L)).as("n_boiler_segs"),
        sum(when($"is_boiler", $"occ_toks").otherwise(0L)).as("dropped_tokens"),
        sum($"occ_toks").as("total_tokens"))
      .withColumn("drop_ppm", expr("(dropped_tokens * 1000000) DIV total_tokens"))
      .orderBy($"source")
  }
  private val q174Sql =
    s"""WITH h AS (
       |  SELECT doc_id, source, ${q171Render("CAST(doc_id AS VARCHAR)")} AS html
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, source,
       |    string_split(${q171Strip(raw"\s+", ", 'g'")}, ' ') AS toks
       |  FROM h
       |), segs AS (
       |  SELECT doc_id, source,
       |    md5(array_to_string(toks[i * $SegToks + 1 : i * $SegToks + $SegToks], ' ')) AS seg_md5,
       |    CAST(len(toks[i * $SegToks + 1 : i * $SegToks + $SegToks]) AS BIGINT) AS seg_toks
       |  FROM (SELECT doc_id, source, toks,
       |          unnest(generate_series(0, (len(toks) - 1) // $SegToks)) AS i
       |        FROM p)
       |), np AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_pages FROM p GROUP BY 1
       |), per AS (
       |  SELECT s.source, seg_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
       |    CAST(sum(seg_toks) AS BIGINT) AS occ_toks, max(n_pages) AS n_pages
       |  FROM segs s JOIN np ON s.source = np.source
       |  GROUP BY s.source, seg_md5
       |)
       |SELECT source, max(n_pages) AS n_pages,
       |  CAST(count(*) AS BIGINT) AS n_distinct_segs,
       |  CAST(count(*) FILTER (WHERE nd * 2 >= n_pages) AS BIGINT) AS n_boiler_segs,
       |  CAST(coalesce(sum(occ_toks) FILTER (WHERE nd * 2 >= n_pages), 0) AS BIGINT) AS dropped_tokens,
       |  CAST(sum(occ_toks) AS BIGINT) AS total_tokens,
       |  CAST((coalesce(sum(occ_toks) FILTER (WHERE nd * 2 >= n_pages), 0) * 1000000)
       |    // sum(occ_toks) AS BIGINT) AS drop_ppm
       |FROM per GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q172
  /** CRAWL FRONTIER scheduling — the step after q162's diff and
    * before the next fetch: given per-page re-crawl classes
    * (changed=0 > new=1 > unchanged=2) and a per-feed fetch budget,
    * pick the budget-many highest-priority pages and report the
    * selection per feed: class counts plus the exact boundary page
    * (`last_selected_id`). The ORACLE does it the obvious way — rank
    * every page per feed by (priority, doc_id) and keep rank ≤ budget.
    * The ENGINE never ranks the corpus: class COUNTS fix each class's
    * exact quota by arithmetic (least/greatest over the running class
    * total), and only the boundary page needs an order statistic —
    * the r-th smallest id within ONE (feed, class), found by q137's
    * covering-bucket selection (256-cell id histogram names the
    * covering cell; only that ~N/256 slice ranks). Hash equality
    * proves count-arithmetic + distributed selection ≡ the naive
    * priority sort.
    *
    * Scale shape: one id-keyed join against the digest artifact
    * (q162's exchange), one (feed, class, cell) aggregate with O(1)
    * state, windows over ≤3 class rows / ≤256 cell rows per feed, and
    * a final rank over one covering slice. A flooded feed's slice is
    * flood/256 — bounded the same way q149's grouped selection is.
    * Budgets here are md5-carved per feed (deterministic stand-in);
    * production budgets come from q165's apportionment and join in
    * identically. */
  private val budgetValSql =
    "instr('0123456789abcdef', substring(md5('budget|' || source), 1, 1))"
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val prev = s.read.parquet(prevStore(s, dir))
    val cls = graft.core.ScratchCache.persist(Tables.documents(s, dir)
      .filter(expr(curSelSql))
      .selectExpr("doc_id", "source", "md5(text) AS digest")
      .join(prev.selectExpr("doc_id AS p_id", "digest AS p_digest"),
        $"doc_id" === $"p_id", "left")
      .select($"source", $"doc_id",
        when($"p_id".isNull, 1L)
          .when($"p_digest" =!= $"digest", 0L).otherwise(2L).as("prio")))
    // r22 NOTE (measured and REVERTED): eagerly materializing this
    // cache (cls.count() before the consumers) was tried — AQE runs the
    // consumers' independent map stages concurrently and cold-cache
    // readers duplicate the corpus-scan+md5 pipeline up to 4× — but the
    // eager count is a BARRIER that serialized work the duplicates had
    // overlapped with, and wall time got ~15% WORSE (2.7→3.3 s probe).
    // The duplicated CPU here buys wall-clock overlap on an
    // otherwise-idle box; q143's oriented frame is the case where the
    // same dedup does pay.
    val bounds = cls.agg(min($"doc_id").as("mind"), max($"doc_id").as("maxd"))
      .withColumn("w", expr("greatest(1L, (maxd - mind) DIV 256 + 1)"))
    val cells = graft.core.ScratchCache.persist(
      cls.crossJoin(broadcast(bounds))
        .groupBy($"source", $"prio",
          expr("least(255L, (doc_id - mind) DIV w)").as("cell"))
        .agg(count(lit(1)).as("cnt")))
    val classes = cells.groupBy($"source", $"prio").agg(sum($"cnt").as("n_class"))
    val bud = classes.groupBy($"source").agg(sum($"n_class").as("n_pages"))
      .selectExpr("source", "n_pages",
        s"greatest(1L, (n_pages * $budgetValSql) DIV 12) AS budget")
    val classWin = Window.partitionBy($"source").orderBy($"prio")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val quota = classes
      .withColumn("cum", sum($"n_class").over(classWin))
      .join(bud, "source")
      .withColumn("n_sel",
        greatest(lit(0L), least($"n_class", $"budget" - ($"cum" - $"n_class"))))
    // the boundary (feed, class): highest-priority-number class that
    // still selects anything — its n_sel is the within-class rank r
    val boundary = quota.filter($"n_sel" > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"prio".desc)))
      .filter($"rk" === 1)
      .select($"source".as("b_source"), $"prio".as("b_prio"), $"n_sel".as("r"))
    val cellWin = Window.partitionBy($"source", $"prio").orderBy($"cell")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cover = cells
      .withColumn("bcum", sum($"cnt").over(cellWin))
      .join(boundary, $"source" === $"b_source" && $"prio" === $"b_prio")
      .filter($"bcum" >= $"r" && $"bcum" - $"cnt" < $"r")
      .select($"b_source", $"b_prio", $"cell".as("b_cell"),
        $"r", ($"bcum" - $"cnt").as("bcum_before"))
    val lastId = cls.crossJoin(broadcast(bounds))
      .withColumn("cell", expr("least(255L, (doc_id - mind) DIV w)"))
      .join(cover, $"source" === $"b_source" && $"prio" === $"b_prio" &&
        $"cell" === $"b_cell")
      .withColumn("rkc", row_number().over(
        Window.partitionBy($"source").orderBy($"doc_id")))
      .filter($"rkc" === $"r" - $"bcum_before")
      .select($"source".as("l_source"), $"doc_id".as("last_selected_id"))
    quota.groupBy($"source", $"budget")
      .agg(sum(when($"prio" === 0L, $"n_sel").otherwise(0L)).as("n_sel_changed"),
        sum(when($"prio" === 1L, $"n_sel").otherwise(0L)).as("n_sel_new"),
        sum(when($"prio" === 2L, $"n_sel").otherwise(0L)).as("n_sel_unchanged"))
      .join(lastId, $"source" === $"l_source")
      .select($"source", $"budget", $"n_sel_changed", $"n_sel_new",
        $"n_sel_unchanged", $"last_selected_id")
      .orderBy($"source")
  }
  private val q172Sql =
    s"""WITH prev AS (
       |  SELECT doc_id AS p_id, $prevDigestSql AS p_digest
       |  FROM documents WHERE $prevSelSql
       |  UNION ALL
       |  SELECT doc_id + $GhostOffset AS p_id, md5(text) AS p_digest
       |  FROM documents WHERE $moveSelSql
       |), cls AS (
       |  SELECT d.source, d.doc_id,
       |    CASE WHEN p.p_id IS NULL THEN 1
       |         WHEN p.p_digest <> md5(d.text) THEN 0 ELSE 2 END AS prio
       |  FROM documents d LEFT JOIN prev p ON p.p_id = d.doc_id
       |  WHERE $curSelSql
       |), bud AS (
       |  SELECT source, greatest(1, (CAST(count(*) AS BIGINT) * $budgetValSql) // 12) AS budget
       |  FROM cls GROUP BY source
       |), rk AS (
       |  SELECT source, prio, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY prio, doc_id) AS rn
       |  FROM cls
       |), sel AS (
       |  SELECT rk.source, prio, doc_id, rn, budget
       |  FROM rk JOIN bud USING (source) WHERE rn <= budget
       |)
       |SELECT source, CAST(budget AS BIGINT) AS budget,
       |  CAST(count(*) FILTER (WHERE prio = 0) AS BIGINT) AS n_sel_changed,
       |  CAST(count(*) FILTER (WHERE prio = 1) AS BIGINT) AS n_sel_new,
       |  CAST(count(*) FILTER (WHERE prio = 2) AS BIGINT) AS n_sel_unchanged,
       |  CAST(max_by(doc_id, rn) AS BIGINT) AS last_selected_id
       |FROM sel GROUP BY source, budget ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q167
  /** robots.txt PARSING — q160 consumes per-domain policy rules; this
    * is where they come from in a real crawler: fetched robots.txt
    * BODIES parsed into rules. The store renders one record per
    * domain ({domain, body}) with the shapes a parser must survive —
    * comment lines, a wildcard `User-agent: *` block (planted
    * `Disallow: /p/1` for the q160 robots domains, `Allow: /`
    * otherwise, an optional `Crawl-delay`), a blank line, and a
    * second `User-agent: badbot` block whose `Disallow: /` must NOT
    * leak into the wildcard rules. The parse: explode body lines with
    * positions, classify map-side by regex, attribute each line to
    * its governing User-agent via a last-ignoreNulls window
    * PARTITIONED BY DOMAIN (one robots file ≈ a handful of lines —
    * the window partition is file-sized, never corpus-sized), then
    * one per-domain roll-up. The oracle recomputes the planted rules
    * DIRECTLY from the md5 selectors — hash equality proves the
    * parser extracts exactly the rules the generator planted,
    * block-attribution included. */
  private val delaySelSql = "substring(md5('delay|' || domain), 1, 1) < '8'"
  private val delayValSql =
    "(instr('0123456789abcdef', substring(md5('delay|' || domain), 2, 1)))"

  /** A crawl fetches robots.txt bodies once per domain; timed q167
    * runs measure the PARSE. */
  val robotsStore = new Store[String]("robots", "q167_robotsstore_build")((s, dir, path) => {
    Tables.documents(s, dir)
      .selectExpr(s"${UrlCanon.rawUrlSql} AS raw_url")
      .selectExpr(s"${UrlCanon.strippedSql("raw_url")} AS u")
      .selectExpr(s"${UrlCanon.hostSql("u")} AS host")
      .selectExpr(s"${UrlCanon.domainSql("host")} AS domain")
      .distinct()
      // concat_ws's null-skip is INTENTIONAL here: the absent
      // Crawl-delay line simply doesn't render (unlike the CSV
      // store, where a skipped field would shift columns)
      .selectExpr("domain", s"""concat_ws('\\n',
        |  '# robots.txt for ' || domain,
        |  'User-agent: *',
        |  CASE WHEN $robotsSelSql THEN 'Disallow: $RobotsPrefix' ELSE 'Allow: /' END,
        |  CASE WHEN $delaySelSql THEN 'Crawl-delay: ' || $delayValSql END,
        |  '',
        |  'User-agent: badbot',
        |  'Disallow: /') AS body""".stripMargin)
      .select(to_json(struct(col("domain"), col("body"))).as("value"))
      .write.mode("overwrite").text(path.toString)
    path.toString
  })

  private def q167(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rob = s.read.schema(StructType(Seq(
        StructField("domain", StringType), StructField("body", StringType))))
      .json(robotsStore(s, dir))
    val attributed = rob
      .select($"domain", posexplode(split($"body", "\n")).as(Seq("ln", "line")))
      .selectExpr("domain", "ln",
        "regexp_extract(line, '^User-agent: (.+)$', 1) AS agent0",
        "regexp_extract(line, '^Disallow: (.+)$', 1) AS dis",
        "regexp_extract(line, '^Crawl-delay: ([0-9]+)$', 1) AS cd")
      .withColumn("agent", last(when($"agent0" =!= "", $"agent0"), ignoreNulls = true)
        .over(Window.partitionBy($"domain").orderBy($"ln")))
    attributed.groupBy($"domain")
      .agg(
        coalesce(max(when($"agent" === "*" && $"dis" =!= "", $"dis")), lit("(none)"))
          .as("wildcard_disallow"),
        coalesce(max(when($"agent" === "*" && $"cd" =!= "", $"cd".cast("long"))), lit(0L))
          .as("crawl_delay"),
        sum(when($"dis" =!= "", 1L).otherwise(0L)).as("n_disallow_rules"))
      .orderBy($"domain")
  }
  private val q167Sql = {
    import UrlCanon._
    s"""WITH raw AS (
       |  SELECT $rawUrlSql AS raw_url FROM documents
       |), st AS (
       |  SELECT ${strippedSql("raw_url")} AS u FROM raw
       |), h AS (
       |  SELECT ${hostSql("u")} AS host FROM st
       |), d AS (
       |  SELECT DISTINCT ${domainSql("host")} AS domain FROM h
       |)
       |SELECT domain,
       |  CASE WHEN $robotsSelSql THEN '$RobotsPrefix' ELSE '(none)' END AS wildcard_disallow,
       |  CAST(CASE WHEN $delaySelSql THEN $delayValSql ELSE 0 END AS BIGINT) AS crawl_delay,
       |  CAST(1 + CASE WHEN $robotsSelSql THEN 1 ELSE 0 END AS BIGINT) AS n_disallow_rules
       |FROM d ORDER BY domain""".stripMargin
  }

  // ---------------------------------------------------------------- q171
  /** HTML MAIN-TEXT EXTRACTION — the WET-extraction step between raw
    * fetch and every text stage in this catalog: crawled pages arrive
    * as markup, and the corpus the pipeline actually trains on is the
    * visible text plus a text-to-markup density signal (boilerplate-
    * heavy pages are low-quality before a single token is scored —
    * the jusText/trafilatura decision, distilled to its scalable
    * core). Pages are rendered deterministically from `documents`
    * (title, a script block carrying an md5 payload, nav/footer chrome
    * around the body text — both engines replay the render
    * bit-for-bit), then parsed back: script blocks stripped FIRST
    * (their content is text-invisible but tag-free regex would leak
    * it), then all tags, then whitespace normalized. Per-source
    * roll-up: chars in vs visible chars out, density in exact ppm, and
    * the count of boilerplate-heavy pages (< 70% visible).
    *
    * Scale shape: pure map-side regex per page (the q79/q129 regex
    * discipline — no UDF, codegen'd `RegExpReplace`), then ONE
    * source-keyed exchange with O(1) aggregate state per group. A
    * flooded source concentrates counts, never memory. IngestSpec pins
    * the contract the roll-up hides: per-page round-trip (stripping
    * recovers exactly title + chrome + body text), title extraction,
    * and a non-vacuous density split. */
  private def q171Render(cast: String): String =
    "'<html><head><title>Doc ' || " + cast + " || ' - ' || source || '</title>' || " +
      "'<script>var f=\"' || md5(text) || '\";</script>' || " +
      "'</head><body><nav>Home | About | ' || source || '</nav>' || " +
      "'<p>' || text || '</p>' || " +
      "'<footer>(c) crawl of ' || source || '</footer></body></html>'"
  /** Script blocks first ([^<] is safe: the planted payload is
    * tag-free), then tags, then whitespace runs. */
  private def q171Strip(ws: String, flags: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(html, " +
      s"'<script>[^<]*</script>', ' '$flags), '<[^>]*>', ' '$flags), '$ws', ' '$flags))"
  private[graft] def q171Docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "source",
        s"${q171Render("CAST(doc_id AS STRING)")} AS html")
      .selectExpr("doc_id", "source", "html",
        "regexp_extract(html, '<title>([^<]*)</title>', 1) AS title",
        s"${q171Strip("\\\\s+", "")} AS text_only")
  private def q171(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q171Docs(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"html")).as("n_html_chars"),
        sum(length($"text_only")).as("n_text_chars"),
        sum(when(length($"text_only").cast("long") * 1000000L <
          lit(700000L) * length($"html").cast("long"), 1L).otherwise(0L))
          .as("n_low_text"))
      .select($"source", $"n_docs", $"n_html_chars", $"n_text_chars",
        expr("(n_text_chars * 1000000) DIV n_html_chars").as("text_ratio_ppm"),
        $"n_low_text")
      .orderBy($"source")
  }
  private val q171Sql =
    s"""WITH h AS (
       |  SELECT doc_id, source, ${q171Render("CAST(doc_id AS VARCHAR)")} AS html
       |  FROM documents
       |), p AS (
       |  SELECT source, length(html) AS hl,
       |    length(${q171Strip(raw"\s+", ", 'g'")}) AS tl
       |  FROM h
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(hl) AS BIGINT) AS n_html_chars,
       |  CAST(sum(tl) AS BIGINT) AS n_text_chars,
       |  CAST((CAST(sum(tl) AS HUGEINT) * 1000000) // sum(hl) AS BIGINT) AS text_ratio_ppm,
       |  CAST(count(*) FILTER (WHERE CAST(tl AS BIGINT) * 1000000 < 700000 * CAST(hl AS BIGINT)) AS BIGINT) AS n_low_text
       |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q221
  /** LICENSE-MIX accounting — the data-governance ledger a training
    * run is audited against: every document carries a license class
    * (here carved deterministically from an md5 of the doc id into
    * four equal-prior buckets — the corpus has no license column, and
    * the carve makes the ledger arithmetic oracle-checkable end to
    * end), and the ledger reports per (license, lang): doc and token
    * mass, each license-lang cell's share of total training tokens in
    * exact ppm, and the trainable verdict (everything but
    * `restricted`). The Σ(trainable tokens) this table exposes is the
    * number a model card's "trained on N tokens of licensed data"
    * claim is audited against.
    *
    * Scale shape: license classification and token counting are
    * MAP-SIDE on the scan; ONE (license, lang) exchange with O(1) sum
    * state (≤ 4×|langs| cells at any corpus size) plus a broadcast
    * single-row token total.
    *
    * Headroom: `n_tokens * 1000000` is BIGINT — exact while a cell
    * holds < 2^63/1e6 ≈ 9.2e12 tokens (~37 TB of text at ~4 B/token —
    * under the 100 TB design point). Spark would WRAP silently past
    * that where DuckDB errors, so the 100 TB path widens the product
    * to DECIMAL(38,0)/HUGEINT before the multiply (q214's
    * discipline) — same plan, one cast. */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lic = """CASE
      | WHEN substring(md5(concat('lic|', CAST(doc_id AS STRING))), 1, 1) < '4' THEN 'cc-by'
      | WHEN substring(md5(concat('lic|', CAST(doc_id AS STRING))), 1, 1) < '8' THEN 'cc0'
      | WHEN substring(md5(concat('lic|', CAST(doc_id AS STRING))), 1, 1) < 'c' THEN 'web-crawl'
      | ELSE 'restricted' END""".stripMargin
    val d = Tables.documents(s, dir)
      .selectExpr(s"$lic AS license", "lang",
        s"CAST(size(${graft.text.TextQueries.toksExpr}) AS BIGINT) AS nt")
    val cells = d.groupBy($"license", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
    val tot = cells.agg(sum($"n_tokens").as("all_t"))
    cells.crossJoin(broadcast(tot))
      .selectExpr("license", "lang", "n_docs", "n_tokens",
        "CAST(n_tokens * 1000000 DIV all_t AS BIGINT) AS token_share_ppm",
        "license <> 'restricted' AS trainable")
      .orderBy($"license", $"lang")
  }
  private lazy val q221Sql = {
    val lic = """CASE
      | WHEN substring(md5('lic|' || CAST(doc_id AS VARCHAR)), 1, 1) < '4' THEN 'cc-by'
      | WHEN substring(md5('lic|' || CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 'cc0'
      | WHEN substring(md5('lic|' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'web-crawl'
      | ELSE 'restricted' END""".stripMargin
    s"""WITH d AS (
       |  SELECT $lic AS license, lang,
       |    CAST(len(${graft.text.TextQueries.toksSql}) AS BIGINT) AS nt
       |  FROM documents
       |), cells AS (
       |  SELECT license, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY license, lang
       |), t AS (SELECT sum(n_tokens) AS all_t FROM cells)
       |SELECT license, lang, n_docs, n_tokens,
       |  CAST(n_tokens * 1000000 // all_t AS BIGINT) AS token_share_ppm,
       |  license <> 'restricted' AS trainable
       |FROM cells, t ORDER BY license, lang""".stripMargin
  }

  val declared: Seq[Query] = Seq(
    Query("q221_license_mix", q221, Oracle.Sql(q221Sql)),
    Query("q156_jsonl_ingest", q156, Oracle.Sql(q156Sql), reads = Seq(rawStore)),
    Query("q157_csv_ingest", q157, Oracle.Sql(q157Sql), reads = Seq(rawStore)),
    Query("q158_crawl_admission", q158, Oracle.Sql(q158Sql), reads = Seq(rawStore)),
    Query("q159_corpus_build", q159, Oracle.Sql(q159Sql), reads = Seq(rawStore)),
    Query("q160_policy_admission", q160, Oracle.Sql(q160Sql), reads = Seq(rawStore)),
    Query("q161_stream_raw_ingest", q161, Oracle.Sql(q161Sql), reads = Seq(rawStore)),
    Query("q162_snapshot_diff", q162, Oracle.Sql(q162Sql), reads = Seq(prevStore)),
    Query("q192_recrawl_schedule", q192, Oracle.Sql(q192Sql), reads = Seq(prevStore)),
    Query("q199_crawl_roi", q199, Oracle.Sql(q199Sql), reads = Seq(prevStore)),
    Query("q200_policy_churn", q200, Oracle.Sql(q200Sql), reads = Seq(rawStore)),
    Query("q208_fetch_drain", q208, Oracle.Sql(q208Sql), reads = Seq(rawStore)),
    Query("q167_robots_parse", q167, Oracle.Sql(q167Sql), reads = Seq(robotsStore)),
    Query("q169_moved_pages", q169, Oracle.Sql(q169Sql), reads = Seq(prevStore)),
    Query("q171_html_extract", q171, Oracle.Sql(q171Sql)),
    Query("q172_crawl_frontier", q172, Oracle.Sql(q172Sql), reads = Seq(prevStore)),
    Query("q174_site_boilerplate", q174, Oracle.Sql(q174Sql)),
  )
}
