package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Query, QueryCatalog, Store}

/** Driver contract — see SURVEY.md §7.
  *
  * Aggregates every module's query catalog. Each catalog declares its
  * queries once ([[graft.core.Query]]); the maps below are derived from
  * those declarations. Each entry is a (SparkSession, sfDir) =>
  * DataFrame; `oracleSql` carries the DuckDB twin of each query for the
  * driver's hash-match correctness gate.
  */
object SparkEntry {
  /** All query catalogs, in SURVEY.md §7.1 build order. */
  def catalogs: Seq[QueryCatalog] = Seq(
    rel.RelQueries,
    text.TextQueries,
    dedup.DedupQueries,
    sim.SimilarityQueries,
    streaming.StreamQueries,
    multimodal.MultimodalQueries,
    graph.GraphQueries,
    layout.LayoutQueries,
    ingest.IngestQueries,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. q159 is the engine's thesis in one query: permissive
    * crawl ingest → URL canonicalization → per-(domain, key) dedup →
    * quality gate → leakage-safe domain split → packing plan, two
    * shuffles end to end (the raw-store render is memoized and
    * sf0.001-sized here). */
  def entry(spark: SparkSession): DataFrame =
    ingest.IngestQueries.queries("q159_corpus_build")(spark, "/root/testdata/sf0.001")

  /** Every catalog query, as declared, in catalog order. */
  def declared: Seq[Query] = catalogs.flatMap(_.declared)

  /** Every artifact store some catalog query reads, each once. */
  def stores: Seq[Store[_]] = catalogs.flatMap(_.stores).distinct

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalogs.map(_.oracleSql).reduce(_ ++ _)

  /** Documented reason for every query WITHOUT an oracleSql entry —
    * "unverifiable by design" (with the spec that gates it instead),
    * as opposed to merely unverified. Dumped by Verify as
    * no_oracle_reasons.json; SparkEntrySpec pins that the no-oracle
    * set and this map's keys coincide exactly. */
  def noOracleReasons: Map[String, String] =
    catalogs.map(_.noOracleReasons).reduce(_ ++ _)
}
