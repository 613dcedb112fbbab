package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a catalog query's answer is checked against: exactly one of
  * DuckDB SQL or a documented reason why no such SQL can exist. */
sealed trait Oracle
object Oracle {
  /** ANSI SQL DuckDB runs on the same parquet tables; the driver sorts
    * both results' columns by name and hash-matches the values, so the
    * column names must match the Spark result's. */
  final case class Sql(sql: String) extends Oracle
  /** Why the query is UNVERIFIABLE BY DESIGN (not merely unverified),
    * plus a pointer to the spec that gates it instead. The query gets
    * the driver's weaker rows-only check. */
  final case class Unverifiable(reason: String) extends Oracle
}

/** One catalog query, declared once: its name, its builder, its oracle
  * and the artifact stores ([[Store]]) its builder reads. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    reads: Seq[Store[_]] = Seq.empty)

/** A named set of queries. Everything the runners read is derived from
  * [[declared]]. The derived members are lazy: a strict val here would
  * initialize before the object's own list. */
trait QueryCatalog {
  def declared: Seq[Query]

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap
  lazy val oracleSql: Map[String, String] =
    declared.collect { case Query(n, _, Oracle.Sql(sql), _) => n -> sql }.toMap
  lazy val noOracleReasons: Map[String, String] =
    declared.collect { case Query(n, _, Oracle.Unverifiable(why), _) => n -> why }.toMap
  /** The one-off artifacts this catalog's queries read, each once. */
  lazy val stores: Seq[Store[_]] = declared.flatMap(_.reads).distinct
}

/** Cross-engine determinism helpers.
  *
  * Floating-point sums are order-dependent, and Spark (32 shuffle
  * partitions) and DuckDB (its own parallelism) will not add doubles in
  * the same order. Casting each addend to an exact DECIMAL first makes
  * the sum associative/exact, so both engines produce bit-identical
  * results regardless of plan shape. A binary double's exact decimal
  * expansion can never tie at a 10^-k boundary (denominators are powers
  * of two), so the double→decimal cast itself is also engine-agnostic.
  */
object Det {
  /** Exact, order-independent sum of a double expression: round(cast(sum(cast(x as decimal(18,6))) as double), 4) */
  def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(18,6)")).cast("double"), 4)

  /** Deterministic average built from the exact decimal sum. */
  def moneyAvg(c: Column): Column =
    round(sum(c.cast("decimal(18,6)")).cast("double") / count(lit(1)), 4)

  /** SQL-side twin of [[moneySum]] for the DuckDB oracle. */
  def sqlSum(expr: String): String =
    s"round(CAST(sum(CAST(($expr) AS DECIMAL(18,6))) AS DOUBLE), 4)"

  /** SQL-side twin of [[moneyAvg]]. */
  def sqlAvg(expr: String): String =
    s"round(CAST(sum(CAST(($expr) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)"
}
