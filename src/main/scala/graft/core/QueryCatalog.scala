package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A named set of queries plus their DuckDB oracle SQL.
  *
  * Contract (mirrors `graft.SparkEntry`): every key in `oracleSql` must
  * exist in `queries`; column names must match between the Spark result
  * and the oracle result (the driver sorts columns by name and hashes
  * values). Queries without an oracle entry get a weaker rows-only check.
  */
trait QueryCatalog {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
  /** For every key in `queries` with NO `oracleSql` entry: a documented
    * reason why the query is UNVERIFIABLE BY DESIGN (not merely
    * unverified) plus a pointer to the spec that gates it instead.
    * Verify dumps these as `no_oracle_reasons.json` so the correctness
    * artifact carries the distinction. */
  def noOracleReasons: Map[String, String] = Map.empty
  /** The one-off artifacts this catalog's queries replay (see [[Store]]). */
  def stores: Seq[Store[_]] = Seq.empty
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
