package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Det, Oracle, Query, QueryCatalog, Tables}

/** Relational query surface (SURVEY.md §2.3: projection/filter, joins,
  * aggregation, window functions, sort/limit, set ops, scalar fns,
  * events/json).
  *
  * Design rules (scale-first):
  *  - declarative DataFrame plans only — Catalyst does pushdown/pruning;
  *  - dimension tables (region/nation/supplier/part at dim scale) are
  *    `broadcast()`-hinted so fact-table joins never shuffle the big side;
  *  - every aggregate over doubles goes through [[Det]] so results are
  *    order-independent (exact decimal sums) — required both for the
  *    DuckDB oracle hash-match and for run-to-run stability on a cluster;
  *  - every query result has a deterministic total order.
  */
object RelQueries extends QueryCatalog {

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: multi-key groupBy, sum/avg/count.
    * Scale: partial aggregation (map-side combine) happens automatically;
    * only |groups| rows cross the shuffle. */
  private def q01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("2001-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Det.moneySum($"l_quantity").as("sum_qty"),
        Det.moneySum($"l_extendedprice").as("sum_base_price"),
        Det.moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
        Det.moneySum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")).as("sum_charge"),
        Det.moneyAvg($"l_quantity").as("avg_qty"),
        Det.moneyAvg($"l_extendedprice").as("avg_price"),
        Det.moneyAvg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.sqlSum("l_quantity")} AS sum_qty,
       |  ${Det.sqlSum("l_extendedprice")} AS sum_base_price,
       |  ${Det.sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${Det.sqlSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       |  ${Det.sqlAvg("l_quantity")} AS avg_qty,
       |  ${Det.sqlAvg("l_extendedprice")} AS avg_price,
       |  ${Det.sqlAvg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Projection + predicates: IN, BETWEEN, null checks, boolean algebra,
    * arithmetic. All of it reaches the parquet scan as PushedFilters. */
  private def q02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_returnflag".isin("A", "R") &&
        $"l_quantity".between(10, 40) &&
        $"l_shipdate".isNotNull &&
        !($"l_linestatus" === "F" && $"l_discount" > 0.05))
      .select($"l_orderkey", $"l_linenumber",
        round($"l_extendedprice" * (lit(1) - $"l_discount"), 4).as("net_price"),
        $"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q02Sql =
    """SELECT l_orderkey, l_linenumber,
      |  round(l_extendedprice * (1 - l_discount), 4) AS net_price,
      |  l_returnflag
      |FROM lineitem
      |WHERE l_returnflag IN ('A','R')
      |  AND l_quantity BETWEEN 10 AND 40
      |  AND l_shipdate IS NOT NULL
      |  AND NOT (l_linestatus = 'F' AND l_discount > 0.05)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q5-style star join: lineitem⋈orders⋈customer⋈supplier⋈nation⋈
    * region, revenue per nation. The dims are broadcast — the only
    * shuffles left are fact⋈fact (lineitem⋈orders) and the final agg. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir).filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
      $"o_orderdate" < lit("2000-01-01").cast("timestamp"))
    val c  = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    // Broadcast-hint ONLY the fixed-cardinality dims (nation=25,
    // region=5 at every sf). customer/supplier grow with sf — hinting
    // them would ship gigabytes to every executor at the 100× target;
    // AQE's size-based decision handles them correctly at any scale.
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(su, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name".isin("ASIA", "EUROPE"))
      .groupBy($"n_name")
      .agg(Det.moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
        count(lit(1)).as("nitems"))
      .orderBy($"revenue".desc, $"n_name")
  }
  private val q03Sql =
    s"""SELECT n_name,
       |  ${Det.sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  count(*) AS nitems
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name IN ('ASIA','EUROPE')
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '2000-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Left outer join: every customer with order count/total (zeros kept).
    * Scale shape: orders are PRE-aggregated by o_custkey before the
    * join, so the join input is |custkeys| narrow rows instead of the
    * full |orders|×(customer width) join output crossing the shuffle
    * and then aggregating back down. Catalyst does not push aggregates
    * through outer joins on its own — this restructuring is the plan
    * we'd want at 100×. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val oAgg = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("cnt"), Det.moneySum($"o_totalprice").as("spent"))
    c.join(oAgg, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", $"c_name",
        coalesce($"cnt", lit(0L)).as("order_cnt"),
        coalesce($"spent", lit(0.0)).as("total_spent"))
      .orderBy($"c_custkey")
  }
  private val q04Sql =
    s"""SELECT c_custkey, c_name, count(o_orderkey) AS order_cnt,
       |  coalesce(${Det.sqlSum("o_totalprice")}, 0.0) AS total_spent
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q05
  /** Left-semi join: customers having at least one open ('O') order. */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter($"o_orderstatus" === "O")
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }
  private val q05Sql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Left-anti join: customers with no orders at all. */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }
  private val q06Sql =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Full outer join of two aggregates: customers vs suppliers per nation. */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).groupBy($"c_nationkey").agg(count(lit(1)).as("cust_cnt"))
    val su = Tables.supplier(s, dir).groupBy($"s_nationkey").agg(count(lit(1)).as("supp_cnt"))
    c.join(su, $"c_nationkey" === $"s_nationkey", "full")
      .select(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"cust_cnt", lit(0L)).as("cust_cnt"),
        coalesce($"supp_cnt", lit(0L)).as("supp_cnt"))
      .orderBy($"nationkey")
  }
  private val q07Sql =
    """SELECT coalesce(c.k, s.k) AS nationkey,
      |  coalesce(c.cust_cnt, 0) AS cust_cnt,
      |  coalesce(s.supp_cnt, 0) AS supp_cnt
      |FROM (SELECT c_nationkey AS k, count(*) AS cust_cnt FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS k, count(*) AS supp_cnt FROM supplier GROUP BY 1) s
      |  ON c.k = s.k
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Cross join (dims only — bounded 5×25 at every sf). */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
      .select($"r_name", $"n_name", ($"r_regionkey" === $"n_regionkey").as("home_region"))
      .orderBy($"r_name", $"n_name")
  }
  private val q08Sql =
    """SELECT r_name, n_name, (r_regionkey = n_regionkey) AS home_region
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Window ranking: top-3 orders per customer by price (row_number /
    * rank / dense_rank). Single hash-partition-by-custkey shuffle. */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", round($"o_totalprice", 4).as("o_totalprice"),
        $"rn", $"rnk", $"drnk")
      .orderBy($"o_custkey", $"rn")
  }
  private val q09Sql =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rn, rnk, drnk
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER w AS rn,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Window offsets: lag/lead of order price per customer over time. */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey",
        round(lag($"o_totalprice", 1).over(w), 4).as("prev_price"),
        round(lead($"o_totalprice", 1).over(w), 4).as("next_price"))
      .orderBy($"o_custkey", $"o_orderkey")
  }
  private val q10Sql =
    """SELECT o_custkey, o_orderkey,
      |  round(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
      |  round(lead(o_totalprice, 1) OVER w, 4) AS next_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Running aggregate frame: cumulative spend per customer.
    * Addends go through the exact-decimal cast so the running sum is
    * identical in both engines regardless of frame evaluation order. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey",
        round(sum($"o_totalprice".cast("decimal(18,6)")).over(w).cast("double"), 4).as("run_spend"),
        row_number().over(Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")).as("order_seq"))
      .orderBy($"o_custkey", $"order_seq")
  }
  private val q11Sql =
    """SELECT o_custkey, o_orderkey,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE), 4) AS run_spend,
      |  row_number() OVER w AS order_seq
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, order_seq""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Global sort + limit (top-k): driver only ever sees k rows — Spark
    * runs TakeOrderedAndProject, no full global sort materialization. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 4).as("o_totalprice"))
  }
  private val q12Sql =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Set ops: nation-key overlap of customers vs suppliers via
    * INTERSECT / EXCEPT, tagged and unioned. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ck = Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
    val sk = Tables.supplier(s, dir).select($"s_nationkey".as("nationkey"))
    val both = ck.intersect(sk).withColumn("tag", lit("both"))
    val cOnly = ck.except(sk).withColumn("tag", lit("cust_only"))
    val sOnly = sk.except(ck).withColumn("tag", lit("supp_only"))
    both.unionAll(cOnly).unionAll(sOnly)
      .select($"tag", $"nationkey")
      .orderBy($"tag", $"nationkey")
  }
  private val q13Sql =
    """WITH ck AS (SELECT c_nationkey AS nationkey FROM customer),
      |     sk AS (SELECT s_nationkey AS nationkey FROM supplier)
      |SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM ck INTERSECT SELECT nationkey FROM sk)
      |UNION ALL
      |SELECT 'cust_only' AS tag, nationkey FROM (SELECT nationkey FROM ck EXCEPT SELECT nationkey FROM sk)
      |UNION ALL
      |SELECT 'supp_only' AS tag, nationkey FROM (SELECT nationkey FROM sk EXCEPT SELECT nationkey FROM ck)
      |ORDER BY tag, nationkey""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Distinct (dropDuplicates) on a projected pair. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .select($"c_mktsegment", $"c_nationkey")
      .distinct()
      .orderBy($"c_mktsegment", $"c_nationkey")
  }
  private val q14Sql =
    """SELECT DISTINCT c_mktsegment, c_nationkey
      |FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** String scalar functions over part. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey",
        lower($"p_name").as("name_lower"),
        upper($"p_brand").as("brand_upper"),
        length($"p_name").as("name_len"),
        substring($"p_name", 1, 5).as("name_pfx"),
        concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
        regexp_extract($"p_name", "^(\\w+)", 1).as("first_word"),
        regexp_replace($"p_name", "a", "X").as("name_subst"),
        trim(lit("  pad  ")).as("trimmed"))
      .orderBy($"p_partkey")
  }
  private val q15Sql =
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower,
      |  upper(p_brand) AS brand_upper,
      |  length(p_name) AS name_len,
      |  substring(p_name, 1, 5) AS name_pfx,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  regexp_replace(p_name, 'a', 'X', 'g') AS name_subst,
      |  trim('  pad  ') AS trimmed
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Date/time scalar functions over orders. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey",
        year($"o_orderdate").as("order_year"),
        month($"o_orderdate").as("order_month"),
        dayofmonth($"o_orderdate").as("order_day"),
        date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
        datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date")).as("days_to_2002"),
        unix_timestamp($"o_orderdate").as("epoch_s"))
      .orderBy($"o_orderkey")
  }
  private val q16Sql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS order_year,
      |  CAST(month(o_orderdate) AS INT) AS order_month,
      |  CAST(day(o_orderdate) AS INT) AS order_day,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Math scalar functions over lineitem (rounded — libm last-ulp noise). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber",
        round($"l_extendedprice", 2).as("price_r2"),
        abs($"l_quantity" - lit(25)).as("qty_dev"),
        floor($"l_discount" * 100).cast("long").as("disc_pct_floor"),
        ceil($"l_tax" * 100).cast("long").as("tax_pct_ceil"),
        round(pow($"l_quantity", 2), 4).as("qty_sq"),
        round(log($"l_extendedprice" + 1), 6).as("log_price"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q17Sql =
    """SELECT l_orderkey, l_linenumber,
      |  round(l_extendedprice, 2) AS price_r2,
      |  abs(l_quantity - 25) AS qty_dev,
      |  CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct_floor,
      |  CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
      |  round(pow(l_quantity, 2), 4) AS qty_sq,
      |  round(ln(l_extendedprice + 1), 6) AS log_price
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Array functions: split / size / contains / sort_array / explode.
    * The sorted-array column is serialized with array_join so the
    * driver harness (pandas sort+hash) can order it — typed arrays
    * stay in the library API; only the catalog output is stringly. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", split($"p_name", " ").as("toks"))
      .select($"p_partkey",
        size($"toks").as("ntoks"),
        array_contains($"toks", "widget").as("is_widget"),
        array_join(sort_array($"toks"), " ").as("toks_sorted"),
        explode($"toks").as("tok"))
      .orderBy($"p_partkey", $"tok")
  }
  private val q18Sql =
    """SELECT p_partkey,
      |  CAST(len(toks) AS INT) AS ntoks,
      |  list_contains(toks, 'widget') AS is_widget,
      |  array_to_string(list_sort(toks), ' ') AS toks_sorted,
      |  unnest(toks) AS tok
      |FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part)
      |ORDER BY p_partkey, tok""".stripMargin

  // ---------------------------------------------------------------- q19
  /** JSON extraction over events.props + aggregation by event_type. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("int").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }
  // DuckDB sum(INT) is HUGEINT (renders float64 in pandas) while Spark
  // sum(int) is int64 — CAST to BIGINT so both engines hash identically.
  private val q19Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q20
  /** count(DISTINCT) + plain aggregates per market segment. */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"c_nationkey").as("nations"),
        count(lit(1)).as("customers"),
        Det.moneySum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")
  }
  private val q20Sql =
    s"""SELECT c_mktsegment,
       |  count(DISTINCT c_nationkey) AS nations,
       |  count(*) AS customers,
       |  ${Det.sqlSum("c_acctbal")} AS sum_bal
       |FROM customer
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Grouped collect_set with deterministic (sorted) output, serialized
    * to a string for the driver harness (see q18 note). */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_nationkey")
      .agg(array_join(sort_array(collect_set($"c_mktsegment")), " ").as("segments"),
        count(lit(1)).as("n"))
      .orderBy($"c_nationkey")
  }
  private val q21Sql =
    """SELECT c_nationkey, array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), ' ') AS segments, count(*) AS n
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Multi-key group with derived key (year) — agg over join output. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    li.groupBy($"l_returnflag", year($"l_shipdate").as("ship_year"))
      .agg(count(lit(1)).as("n"), Det.moneySum($"l_quantity").as("qty"))
      .orderBy($"l_returnflag", $"ship_year")
  }
  private val q22Sql =
    s"""SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
       |  count(*) AS n, ${Det.sqlSum("l_quantity")} AS qty
       |FROM lineitem
       |GROUP BY 1, 2
       |ORDER BY l_returnflag, ship_year""".stripMargin

  // ---------------------------------------------------------------- q23
  /** ROLLUP: per (flag, status) + per-flag subtotals + grand total.
    * grouping() columns disambiguate real NULL keys from subtotal rows. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        Det.moneySum($"l_quantity").as("qty"),
        grouping($"l_returnflag").cast("long").as("g_flag"),
        grouping($"l_linestatus").cast("long").as("g_status"))
      .orderBy($"g_flag", $"g_status", $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }
  private val q23Sql =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  ${Det.sqlSum("l_quantity")} AS qty,
       |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q24
  /** CUBE over (returnflag, ship_year): all grouping-set combinations. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .withColumn("ship_year", year($"l_shipdate"))
      .cube($"l_returnflag", $"ship_year")
      .agg(count(lit(1)).as("n"),
        Det.moneySum($"l_extendedprice").as("price"),
        grouping($"l_returnflag").cast("long").as("g_flag"),
        grouping($"ship_year").cast("long").as("g_year"))
      .orderBy($"g_flag", $"g_year", $"l_returnflag".asc_nulls_first, $"ship_year".asc_nulls_first)
  }
  private val q24Sql =
    s"""SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year, count(*) AS n,
       |  ${Det.sqlSum("l_extendedprice")} AS price,
       |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       |  CAST(grouping(year(l_shipdate)) AS BIGINT) AS g_year
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, year(l_shipdate))
       |ORDER BY g_flag, g_year, l_returnflag ASC NULLS FIRST, ship_year ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q25
  /** approx_count_distinct (HLL++): no oracle — DuckDB's approx sketch
    * differs by construction; the driver applies its rows-only check.
    * The exact twin is q20 (countDistinct), which IS oracle-checked. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- q26
  /** Multi-key sort with explicit null ordering (engine defaults
    * differ: Spark ASC=nulls-first, DuckDB ASC=nulls-last — always
    * declared explicitly on both sides). */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey",
        nullif($"o_orderpriority", lit("5-LOW")).as("prio"),
        round($"o_totalprice", 4).as("o_totalprice"))
      .orderBy($"prio".desc_nulls_last, $"o_totalprice".desc, $"o_orderkey")
      .limit(500)
  }
  private val q26Sql =
    """SELECT o_orderkey, nullif(o_orderpriority, '5-LOW') AS prio,
      |  round(o_totalprice, 4) AS o_totalprice
      |FROM orders
      |ORDER BY prio DESC NULLS LAST, o_totalprice DESC, o_orderkey
      |LIMIT 500""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Statistical moments built from exact decimal sums (sum, sum of
    * squares) so variance/stddev are order-independent — the built-in
    * stddev/var aggregates stream doubles and would differ across
    * engines' addition orders. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,6)")).cast("double").as("s1"),
        sum(($"l_quantity".cast("decimal(18,6)") * $"l_quantity".cast("decimal(18,6)"))).cast("double").as("s2"))
      .select($"l_returnflag", $"n",
        round($"s1" / $"n", 4).as("mean_qty"),
        round(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1), 4).as("var_qty"),
        round(sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)), 4).as("stddev_qty"))
      .orderBy($"l_returnflag")
  }
  private val q27Sql =
    """SELECT l_returnflag, n,
      |  round(s1 / n, 4) AS mean_qty,
      |  round((s2 - s1 * s1 / n) / (n - 1), 4) AS var_qty,
      |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS stddev_qty
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6)) * CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s2
      |  FROM lineitem
      |  GROUP BY l_returnflag
      |)
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Exact interpolated percentiles (no summation — sort-based, so
    * engine-agnostic without the decimal trick). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy($"o_orderstatus")
  }
  private val q28Sql =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Pivot (wide aggregation): order counts + spend per status column.
    * Oracle expresses the same thing as conditional aggregation. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(Det.moneySum($"o_totalprice"))
      .select($"o_orderpriority",
        coalesce($"F", lit(0.0)).as("spend_f"),
        coalesce($"O", lit(0.0)).as("spend_o"),
        coalesce($"P", lit(0.0)).as("spend_p"))
      .orderBy($"o_orderpriority")
  }
  private val q29Sql =
    s"""SELECT o_orderpriority,
       |  coalesce(${Det.sqlSum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}, 0.0) AS spend_f,
       |  coalesce(${Det.sqlSum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}, 0.0) AS spend_o,
       |  coalesce(${Det.sqlSum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}, 0.0) AS spend_p
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q178
  /** UNPIVOT (melt) — q29's inverse, closing the reshape pair: the
    * wide per-priority spend matrix q29 produces goes back to the
    * long (priority, status_metric, value) form a metrics store or
    * dashboard ingests. Uses Spark's native `Dataset.unpivot` (Expand
    * under the hood — one pass, rows × metrics output, no join) and
    * DuckDB's UNPIVOT clause on the oracle side; both name the melted
    * column from the source column names, so the hash match pins that
    * the reshape is lossless and label-faithful both ways.
    *
    * Scale shape: unpivot is a map-side Expand (k output rows per
    * input row, no shuffle, no state); the only exchange is q29's
    * underlying aggregate. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wide = Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(Det.moneySum($"o_totalprice"))
      .select($"o_orderpriority",
        coalesce($"F", lit(0.0)).as("spend_f"),
        coalesce($"O", lit(0.0)).as("spend_o"),
        coalesce($"P", lit(0.0)).as("spend_p"))
    wide.unpivot(
        Array($"o_orderpriority"),
        Array($"spend_f", $"spend_o", $"spend_p"),
        "status_metric", "spend")
      .orderBy($"o_orderpriority", $"status_metric")
  }
  private val q178Sql =
    s"""WITH wide AS (
       |  SELECT o_orderpriority,
       |    coalesce(${Det.sqlSum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}, 0.0) AS spend_f,
       |    coalesce(${Det.sqlSum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}, 0.0) AS spend_o,
       |    coalesce(${Det.sqlSum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}, 0.0) AS spend_p
       |  FROM orders GROUP BY o_orderpriority
       |)
       |SELECT o_orderpriority, status_metric, spend
       |FROM wide UNPIVOT (spend FOR status_metric IN (spend_f, spend_o, spend_p))
       |ORDER BY o_orderpriority, status_metric""".stripMargin

  // ---------------------------------------------------------------- q181
  /** Join-key distribution profiler — the statistics pass a planner (or
    * a platform engineer) runs over candidate join keys BEFORE wiring a
    * 100 TB join: exact row/key counts, the heaviest key's share in
    * ppm, and a physical-strategy verdict per (table, column):
    * `broadcast` when the whole side is small enough to ship,
    * `salt` when one key owns ≥ [[KeyProfileSaltPpm]] of the rows (a
    * plain hash join would funnel that key through one task), `hash`
    * otherwise. The exact-NDV pass is the honest profiling cost (one
    * digest-width exchange per keyed row); q25's HLL sketch is the
    * cheap estimate when exactness isn't needed.
    *
    * Scale shape: one union scan, ONE exchange on (table, column, key)
    * with map-side partial counts, then a |profiled-columns|-row
    * aggregate. Per-key state is a counter; a flooded key is one cell. */
  private[rel] val KeyProfileBroadcastRows = 10000L
  private[rel] val KeyProfileSaltPpm = 100000L
  /** Core over a (tbl, col_name, k) frame — package-private for
    * KeyProfileSpec's planted-skew fixtures. */
  private[rel] def keyProfileOf(keyed: DataFrame): DataFrame = {
    val g = keyed.groupBy(col("tbl"), col("col_name"), col("k"))
      .agg(count(lit(1)).as("c"))
    g.groupBy(col("tbl"), col("col_name"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("c")).as("max_key_rows"))
      .select(col("tbl"), col("col_name"), col("n_rows"), col("n_keys"),
        col("max_key_rows"),
        expr("max_key_rows * 1000000 DIV n_rows").as("top1_ppm"),
        expr("n_rows * 100 DIV n_keys").as("avg_rows_per_key_x100"),
        when(col("n_rows") < KeyProfileBroadcastRows, "broadcast")
          .when(expr("max_key_rows * 1000000 DIV n_rows") >= KeyProfileSaltPpm, "salt")
          .otherwise("hash").as("strategy"))
      .orderBy(col("tbl"), col("col_name"))
  }
  private def q181(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def keyed(df: DataFrame, tbl: String, colName: String): DataFrame =
      df.select(lit(tbl).as("tbl"), lit(colName).as("col_name"),
        col(colName).cast("string").as("k"))
    val u = keyed(Tables.lineitem(s, dir), "lineitem", "l_orderkey")
      .unionAll(keyed(Tables.orders(s, dir), "orders", "o_custkey"))
      .unionAll(keyed(Tables.events(s, dir), "events", "user_id"))
      .unionAll(keyed(Tables.events(s, dir), "events", "event_type"))
      .unionAll(keyed(Tables.documents(s, dir), "documents", "source"))
    keyProfileOf(u)
  }
  private val q181Sql =
    s"""WITH per AS (
       |  SELECT 'lineitem' AS tbl, 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
       |  UNION ALL SELECT 'orders', 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
       |  UNION ALL SELECT 'events', 'user_id', CAST(user_id AS VARCHAR) FROM events
       |  UNION ALL SELECT 'events', 'event_type', event_type FROM events
       |  UNION ALL SELECT 'documents', 'source', source FROM documents
       |),
       |g AS (SELECT tbl, col_name, k, CAST(count(*) AS BIGINT) AS c FROM per GROUP BY 1, 2, 3),
       |p AS (
       |  SELECT tbl, col_name, CAST(sum(c) AS BIGINT) AS n_rows,
       |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS max_key_rows
       |  FROM g GROUP BY 1, 2
       |)
       |SELECT tbl, col_name, n_rows, n_keys, max_key_rows,
       |  max_key_rows * 1000000 // n_rows AS top1_ppm,
       |  n_rows * 100 // n_keys AS avg_rows_per_key_x100,
       |  CASE WHEN n_rows < $KeyProfileBroadcastRows THEN 'broadcast'
       |       WHEN max_key_rows * 1000000 // n_rows >= $KeyProfileSaltPpm THEN 'salt'
       |       ELSE 'hash' END AS strategy
       |FROM p ORDER BY tbl, col_name""".stripMargin

  // ---------------------------------------------------------------- q189
  /** Join-size profiler — q181's sequel: the EXACT output cardinality
    * of a candidate equi-join computed WITHOUT running it, from the
    * two sides' per-key count frames (|A ⋈ B| = Σ_k a_k·b_k), plus
    * the top contributing key and its output share — the number that
    * tells you whether a join will explode and which key explodes it,
    * for the cost of two aggregates instead of the join itself.
    * Shares the one-keyed-frame shape with q181: every profiled pair
    * rides ONE (pair, side, key) union scan.
    *
    * Scale shape: one exchange on (pair, key) with map-side partial
    * counts; the product frame is |matched keys| rows; the top key is
    * a literal-1 row_number → map-side WindowGroupLimit. Exact is the
    * honest baseline — the sketch path at 100 TB is q131's CMS inner
    * product over the same contract. */
  private[rel] def joinSizeOf(keyed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = keyed.groupBy(col("pair"), col("k"))
      .agg(sum(when(col("side") === "l", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "r", 1L).otherwise(0L)).as("cb"))
    val tot = keyed.groupBy(col("pair"))
      .agg(sum(when(col("side") === "l", 1L).otherwise(0L)).as("n_left"),
        sum(when(col("side") === "r", 1L).otherwise(0L)).as("n_right"))
    val prod = g.filter(col("ca") > 0L && col("cb") > 0L)
      .withColumn("rows_k", col("ca") * col("cb"))
    val agg = prod.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_join_keys"), sum(col("rows_k")).as("join_rows"))
    val top = prod.withColumn("rn", row_number().over(
        Window.partitionBy(col("pair")).orderBy(col("rows_k").desc, col("k"))))
      .filter(col("rn") === 1)
      .select(col("pair"), col("k").as("top_key"), col("rows_k").as("top_key_rows"))
    tot.join(agg, Seq("pair"), "left").join(top, Seq("pair"), "left")
      .select(col("pair"), col("n_left"), col("n_right"),
        coalesce(col("n_join_keys"), lit(0L)).as("n_join_keys"),
        coalesce(col("join_rows"), lit(0L)).as("join_rows"),
        col("top_key"), coalesce(col("top_key_rows"), lit(0L)).as("top_key_rows"),
        expr("CASE WHEN join_rows IS NULL OR join_rows = 0 THEN 0" +
          " ELSE top_key_rows * 1000000 DIV join_rows END").as("top_share_ppm"))
      .orderBy(col("pair"))
  }
  private def q189(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def side(df: DataFrame, pair: String, sd: String, colName: String): DataFrame =
      df.select(lit(pair).as("pair"), lit(sd).as("side"),
        col(colName).cast("string").as("k"))
    val keyed = side(Tables.orders(s, dir), "orders_customer", "l", "o_custkey")
      .unionAll(side(Tables.customer(s, dir), "orders_customer", "r", "c_custkey"))
      .unionAll(side(Tables.lineitem(s, dir), "lineitem_orders", "l", "l_orderkey"))
      .unionAll(side(Tables.orders(s, dir), "lineitem_orders", "r", "o_orderkey"))
      .unionAll(side(Tables.lineitem(s, dir), "lineitem_part", "l", "l_partkey"))
      .unionAll(side(Tables.part(s, dir), "lineitem_part", "r", "p_partkey"))
    joinSizeOf(keyed)
  }
  private val q189Sql =
    """WITH keyed AS (
      |  SELECT 'orders_customer' AS pair, 'l' AS side, CAST(o_custkey AS VARCHAR) AS k FROM orders
      |  UNION ALL SELECT 'orders_customer', 'r', CAST(c_custkey AS VARCHAR) FROM customer
      |  UNION ALL SELECT 'lineitem_orders', 'l', CAST(l_orderkey AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT 'lineitem_orders', 'r', CAST(o_orderkey AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'lineitem_part', 'l', CAST(l_partkey AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT 'lineitem_part', 'r', CAST(p_partkey AS VARCHAR) FROM part
      |),
      |g AS (
      |  SELECT pair, k,
      |    CAST(count(*) FILTER (WHERE side = 'l') AS BIGINT) AS ca,
      |    CAST(count(*) FILTER (WHERE side = 'r') AS BIGINT) AS cb
      |  FROM keyed GROUP BY 1, 2
      |),
      |tot AS (
      |  SELECT pair,
      |    CAST(count(*) FILTER (WHERE side = 'l') AS BIGINT) AS n_left,
      |    CAST(count(*) FILTER (WHERE side = 'r') AS BIGINT) AS n_right
      |  FROM keyed GROUP BY 1
      |),
      |prod AS (SELECT pair, k, ca * cb AS rows_k FROM g WHERE ca > 0 AND cb > 0),
      |agg AS (
      |  SELECT pair, CAST(count(*) AS BIGINT) AS n_join_keys,
      |    CAST(sum(rows_k) AS BIGINT) AS join_rows
      |  FROM prod GROUP BY 1
      |),
      |top AS (
      |  SELECT pair, k AS top_key, rows_k AS top_key_rows
      |  FROM prod
      |  QUALIFY row_number() OVER (PARTITION BY pair ORDER BY rows_k DESC, k) = 1
      |)
      |SELECT t.pair, n_left, n_right,
      |  coalesce(n_join_keys, 0) AS n_join_keys,
      |  coalesce(join_rows, 0) AS join_rows,
      |  top_key, coalesce(top_key_rows, 0) AS top_key_rows,
      |  CAST(CASE WHEN join_rows IS NULL OR join_rows = 0 THEN 0
      |       ELSE top_key_rows * 1000000 // join_rows END AS BIGINT) AS top_share_ppm
      |FROM tot t LEFT JOIN agg USING (pair) LEFT JOIN top USING (pair)
      |ORDER BY t.pair""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Right outer join (closes the declared join matrix: inner/left/
    * RIGHT/full/semi/anti/cross): orders RIGHT JOIN customer keeps
    * order-less customers; per-nation order and customer counts. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey", "right")
      .groupBy($"c_nationkey")
      .agg(count($"o_orderkey").as("order_cnt"),
        countDistinct($"c_custkey").as("cust_cnt"),
        coalesce(Det.moneySum($"o_totalprice"), lit(0.0)).as("total_spent"))
      .orderBy($"c_nationkey")
  }
  private val q38Sql =
    s"""SELECT c_nationkey, count(o_orderkey) AS order_cnt,
       |  count(DISTINCT c_custkey) AS cust_cnt,
       |  coalesce(${Det.sqlSum("o_totalprice")}, 0.0) AS total_spent
       |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q39
  /** As-of join — an operator Spark lacks natively: for every purchase
    * event, the latest click by the same user at or before the purchase
    * timestamp. Implemented as union + window `last(_, ignoreNulls)`:
    * ONE shuffle on user_id and a linear per-partition scan — the
    * shape that survives 100 TB. (A naive `t1.ts >= t2.ts` range join
    * explodes to |clicks|×|purchases| per user before filtering; the
    * window formulation never materializes that product.) The oracle
    * is DuckDB's native ASOF JOIN. Clicks are deduped per (user, ts)
    * first so the as-of match is deterministic under ts ties. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    // tieBreak=click_id picks the max event_id among same-ts clicks —
    // the same tie-break the oracle's pre-dedup applies
    AsOfJoin.backward(purchases, clicks,
        keyCols = Seq("user_id"), tsCol = "ts",
        valueCols = Seq("click_id"), tieBreak = Seq("click_id"))
      .select($"purchase_id", $"user_id", $"ts",
        $"asof_click_id".as("click_id"), $"asof_ts".as("click_ts"))
      .orderBy($"purchase_id")
  }
  private val q39Sql =
    """WITH clicks AS (
      |  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), purchases AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.purchase_id, p.user_id, p.ts, c.click_id, c.click_ts
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
      |ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Map-typed column surface: events.props parsed to map<string,string>
    * — key listing, cardinality, typed element access. (The oracle
    * reads the same JSON with DuckDB's json functions.) */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        from_json($"props", org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("m"))
      .select($"event_id",
        array_join(sort_array(map_keys($"m")), " ").as("prop_keys"),
        size($"m").as("n_props"),
        element_at($"m", "k").cast("int").as("k_val"))
      .orderBy($"event_id")
  }
  private val q48Sql =
    """SELECT event_id,
      |  array_to_string(list_sort(json_keys(props)), ' ') AS prop_keys,
      |  CAST(len(json_keys(props)) AS INT) AS n_props,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Extended string scalar surface: pad / translate / edit distance /
    * repeat / reverse (all codegen'd built-ins in both engines). */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey",
        lpad($"p_brand", 12, "*").as("brand_lpad"),
        rpad($"p_brand", 12, "-").as("brand_rpad"),
        translate($"p_name", "aeiou", "AEIOU").as("name_tr"),
        levenshtein($"p_name", reverse($"p_name")).as("lev_rev"),
        repeat(substring($"p_type", 1, 3), 2).as("type_rep"))
      .orderBy($"p_partkey")
  }
  private val q49Sql =
    """SELECT p_partkey,
      |  lpad(p_brand, 12, '*') AS brand_lpad,
      |  rpad(p_brand, 12, '-') AS brand_rpad,
      |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
      |  CAST(levenshtein(p_name, reverse(p_name)) AS INT) AS lev_rev,
      |  repeat(substring(p_type, 1, 3), 2) AS type_rep
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Non-hierarchical GROUPING SETS — the grouping-set shape rollup
    * (q23) and cube (q24) cannot express: per-flag totals and
    * per-status totals in one pass, no (flag, status) cross. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("q57_lineitem")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${Det.sqlSum("l_quantity")} AS qty,
         |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
         |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
         |FROM q57_lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }
  private val q57Sql =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  ${Det.sqlSum("l_quantity")} AS qty,
       |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
       |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Higher-order array functions beyond q18: exists / forall /
    * filter+size / aggregate fold — all codegen-friendly per-row array
    * work, no shuffle until the output sort. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", split($"p_name", " ").as("toks"))
      .select($"p_partkey",
        expr("exists(toks, t -> length(t) > 7)").as("has_long"),
        expr("forall(toks, t -> length(t) >= 2)").as("all_ge2"),
        expr("size(filter(toks, t -> t rlike '^[aeiou]'))").as("n_vowel_start"),
        expr("aggregate(toks, 0, (a, t) -> a + length(t))").cast("long").as("char_sum"))
      .orderBy($"p_partkey")
  }
  private val q58Sql =
    """SELECT p_partkey,
      |  len(list_filter(toks, t -> length(t) > 7)) > 0 AS has_long,
      |  len(list_filter(toks, t -> NOT length(t) >= 2)) = 0 AS all_ge2,
      |  CAST(len(list_filter(toks, t -> regexp_matches(t, '^[aeiou]'))) AS INT) AS n_vowel_start,
      |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS char_sum
      |FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Correlated scalar subquery (Catalyst decorrelates to an aggregate
    * + join — no per-row re-execution): customers above their nation's
    * average balance. The threshold is the exact-decimal mean so row
    * inclusion can't flip on an addition-order ULP. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("q59_customer")
    s.sql(
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS bal
        |FROM q59_customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |                   FROM q59_customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }
  private val q59Sql =
    """SELECT c_custkey, c_name, round(c_acctbal, 4) AS bal
      |FROM customer c
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)
      |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Range join via bucketization ([[RangeJoin]]): same-user event
    * pairs within 30 minutes. The oracle states the naive BETWEEN
    * self-join — same answer, quadratic shape; the engine's bucketed
    * equi-join is the form that survives 100 TB. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    RangeJoin.pairsWithin(
        Tables.events(s, dir).select($"user_id", $"ts", $"event_id"),
        keyCol = "user_id", tsCol = "ts", payloadCol = "event_id",
        deltaSeconds = 1800L)
      .select($"user_id", $"event_id_a", $"event_id_b", round($"gap_s", 3).as("gap_s"))
      .orderBy($"user_id", $"event_id_a", $"event_id_b")
  }
  private val q65Sql =
    """SELECT a.user_id, a.event_id AS event_id_a, b.event_id AS event_id_b,
      |  round((epoch_us(b.ts) - epoch_us(a.ts)) / 1e6, 3) AS gap_s
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts > a.ts
      | AND epoch_us(b.ts) - epoch_us(a.ts) <= 1800000000
      |ORDER BY a.user_id, event_id_a, event_id_b""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Salted skew join ([[SaltedJoin]]): enrich a fact stream whose
    * synthetic key is 70%-hot (event_id % 10 < 7 → key 0) with per-key
    * reference stats, salting the hot key across 8 reducers. The
    * oracle states the plain join — salting is semantics-preserving
    * redistribution, which is exactly the property the oracle check
    * proves. The `merge` hint pins the shuffle-join path the salt
    * targets (a broadcast of the small test dim would hide the skew;
    * at 100 TB the right side is a frame, not a broadcast).
    * SaltedJoinSpec proves plain≡salted for all four supported join
    * types and that the hot key really fans out across salt buckets. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = Tables.events(s, dir).select(
      when($"event_id" % 10 < 7, 0L).otherwise(pmod($"user_id", lit(100L)) + 1L).as("sk"),
      $"event_id", $"value")
    val dim = fact.groupBy($"sk").agg(count(lit(1)).as("sk_n")).hint("merge")
    SaltedJoin.join(fact, dim, Seq("sk"), entropy = $"event_id", saltBuckets = 8)
      .groupBy($"sk", $"sk_n")
      .agg(count(lit(1)).as("n"), Det.moneySum($"value").as("sum_value"))
      .orderBy($"sk")
  }
  private val q107Sql =
    s"""WITH fact AS (
       |  SELECT CASE WHEN event_id % 10 < 7 THEN 0 ELSE (user_id % 100) + 1 END AS sk,
       |    event_id, value
       |  FROM events
       |),
       |dim AS (SELECT sk, count(*) AS sk_n FROM fact GROUP BY 1)
       |SELECT f.sk AS sk, d.sk_n, count(*) AS n, ${Det.sqlSum("f.value")} AS sum_value
       |FROM fact f JOIN dim d ON f.sk = d.sk
       |GROUP BY 1, 2
       |ORDER BY f.sk""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Window DISTRIBUTION functions — the family q09–q11 doesn't cover:
    * ntile quartiles, percent_rank, cume_dist, and first/last_value
    * over a full-partition frame — WITHOUT the plain window's scale
    * hazard: `PARTITION BY o_orderstatus` is a 3-value key, so
    * `ntile(4).over(w)` would sort ⅓ of `orders` inside ONE task no
    * matter the cluster size. Instead the rank is rebuilt on
    * [[graft.core.PrefixSum.keyedRank]] (per-(status, price-bucket)
    * row_number + bounded bucket-offset rollup — no window over a
    * status-only partition), and every distribution function is exact
    * arithmetic on that rank:
    *
    *   ntile(4)     = positional formula over (rn, n): first n%4 tiles
    *                  hold n÷4+1 rows, the rest n÷4 — integer DIV only
    *   percent_rank = (rn−1)/(n−1), cume_dist = rn/n — the window
    *                  orders by (o_totalprice, o_orderkey), a TOTAL
    *                  order, so rank = row_number and ties don't exist
    *   first/last   = min/max of struct(price, key) per status — a
    *                  3-row broadcast aggregate
    *
    * All divisions are single IEEE ops on exact integers, identical in
    * both engines; the DuckDB oracle keeps the plain-window SQL, which
    * is exactly the equivalence this decomposition must preserve.
    * Scale shape: one linear scan + one 3-row aggregate + row_number
    * over (status, bucket) — ~3×1024 bounded sort partitions instead
    * of 3 unbounded ones. PlanShapeSpec pins that no Window in the
    * plan partitions the orders frame by the status key alone. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    // cents as a monotone integral proxy of the price order: double ×100
    // keeps order (positive constant) and equal prices collide safely
    val ranked = graft.core.PrefixSum.keyedRank(
      orders, "o_orderstatus", ($"o_totalprice" * 100).cast("long"),
      Seq($"o_totalprice", $"o_orderkey"), "rn")
    val stats = orders.groupBy($"o_orderstatus".as("st"))
      .agg(count(lit(1)).as("n"),
        min(struct($"o_totalprice", $"o_orderkey")).as("lo"),
        max(struct($"o_totalprice", $"o_orderkey")).as("hi"))
      .select($"st", $"n",
        $"lo.o_orderkey".as("cheapest_key"), $"hi.o_orderkey".as("priciest_key"))
    ranked.join(broadcast(stats), $"o_orderstatus" === $"st")
      .select($"o_orderkey", $"o_orderstatus", round($"o_totalprice", 4).as("price"),
        // ntile positional formula; ELSE branch unreachable when n < 4
        // (then n%4 = n ≥ rn), so its DIV-by-zero never evaluates
        expr("""CAST(CASE WHEN rn <= (n % 4) * (n DIV 4 + 1)
               |  THEN (rn + (n DIV 4)) DIV (n DIV 4 + 1)
               |  ELSE (n % 4) + (rn - (n % 4) * (n DIV 4 + 1) + (n DIV 4) - 1) DIV (n DIV 4)
               |END AS INT)""".stripMargin).as("quartile"),
        round(when($"n" === 1, lit(0.0))
          .otherwise(($"rn" - 1).cast("double") / ($"n" - 1)), 6).as("pct_rank"),
        round($"rn".cast("double") / $"n", 6).as("cume"),
        $"cheapest_key", $"priciest_key")
      .orderBy($"o_orderkey")
  }
  private val q109Sql =
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume,
      |  first_value(o_orderkey) OVER w AS cheapest_key,
      |  last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Grouped covariance and Pearson correlation from exact decimal
    * sums — the q27 discipline extended to two variables: the five
    * sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    * DECIMAL (order-independent, map-side combinable), and covariance/
    * correlation come out of the closed forms in one deterministic
    * double step each. The built-in covar_samp/corr aggregates stream
    * doubles in partition order — fine within one engine, but not
    * reproducible across engines or run-to-run on a cluster, which is
    * why they never appear in this catalog.
    *
    * Scale shape: identical to q01/q27 — partial aggregation, |groups|
    * rows across the shuffle, nothing else. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = $"l_quantity".cast("decimal(18,6)")
    val y = $"l_extendedprice".cast("decimal(18,6)")
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sx2"),
        sum(y * y).cast("double").as("sy2"))
      .select($"l_returnflag", $"n",
        round(($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1), 4).as("covar_samp"),
        round(($"sxy" - $"sx" * $"sy" / $"n") /
          (sqrt($"sx2" - $"sx" * $"sx" / $"n") * sqrt($"sy2" - $"sy" * $"sy" / $"n")), 6)
          .as("corr"))
      .orderBy($"l_returnflag")
  }
  private val q115Sql =
    """SELECT l_returnflag, n,
      |  round((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp,
      |  round((sxy - sx * sy / n) /
      |    (sqrt(sx2 - sx * sx / n) * sqrt(sy2 - sy * sy / n)), 6) AS corr
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    -- operands widened to DECIMAL(19,6): DuckDB's product type is
      |    -- w1+w2 wide, and 18+18 collapses to an int64-backed multiply
      |    -- that overflows on price products; 19+19 = 38 forces the wide
      |    -- path. Values are exact either way (Spark: (18,6)² → (37,12)).
      |    CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sx2,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sy2
      |  FROM lineitem
      |  GROUP BY l_returnflag
      |)
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Ordered funnel analysis — the classic product-analytics query the
    * events table exists for: how many users did view → click →
    * purchase IN THAT ORDER (each step's first occurrence strictly
    * after the previous step's). Stages report user counts and the
    * step-to-step conversion in exact ppm.
    *
    * Cross-engine determinism: timestamps compare as INTEGER
    * microseconds (unix_micros / epoch_ns//1000) — the same numbers in
    * both engines by construction, immune to each engine's
    * sub-microsecond representation (`Tables.events` truncates Spark's
    * read to µs; the oracle truncates in SQL).
    *
    * Scale shape: one per-user aggregate (conditional mins — partial,
    * map-side combinable), one 1-row global aggregate, a 3-row explode.
    * Nothing joins, nothing pairwise. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firsts = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tu"))
      .groupBy($"user_id")
      .agg(min(when($"event_type" === "view", $"tu")).as("tv"),
        min(when($"event_type" === "click", $"tu")).as("tc"),
        min(when($"event_type" === "purchase", $"tu")).as("tp"))
    firsts.agg(
        sum(when($"tv".isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when($"tv" < $"tc", 1L).otherwise(0L)).as("n2"),
        sum(when($"tv" < $"tc" && $"tc" < $"tp", 1L).otherwise(0L)).as("n3"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), $"n1".as("n_users"), lit(1000000L).as("conv_ppm")),
        struct(lit("2_view_click").as("stage"), $"n2".as("n_users"),
          when($"n1" > 0, expr("(n2 * 1000000) DIV n1")).otherwise(0L).as("conv_ppm")),
        struct(lit("3_view_click_purchase").as("stage"), $"n3".as("n_users"),
          when($"n2" > 0, expr("(n3 * 1000000) DIV n2")).otherwise(0L).as("conv_ppm"))))
        .as("r"))
      .select($"r.stage", $"r.n_users", $"r.conv_ppm")
      .orderBy($"stage")
  }
  private val q118Sql =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS tv,
      |    min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS tc,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS tp
      |  FROM events GROUP BY 1
      |),
      |c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN tv < tc THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN tv < tc AND tc < tp THEN 1 ELSE 0 END) AS BIGINT) AS n3
      |  FROM f
      |)
      |SELECT stage, n_users, conv_ppm FROM (
      |  SELECT '1_view' AS stage, n1 AS n_users, CAST(1000000 AS BIGINT) AS conv_ppm FROM c
      |  UNION ALL
      |  SELECT '2_view_click', n2, CAST(CASE WHEN n1 > 0 THEN (n2 * 1000000) // n1 ELSE 0 END AS BIGINT) FROM c
      |  UNION ALL
      |  SELECT '3_view_click_purchase', n3, CAST(CASE WHEN n2 > 0 THEN (n3 * 1000000) // n2 ELSE 0 END AS BIGINT) FROM c
      |)
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Cohort retention matrix — the second classic event-analytics
    * query: users grouped by FIRST-SEEN day (their cohort), and for
    * each (cohort, day offset ≤ 14) the count of cohort users active
    * that day. Day arithmetic happens on DATEs derived under the same
    * UTC session both engines run with.
    *
    * Scale shape: one (user, day) distinct (shuffle on the pair), one
    * per-user min (partial agg), one 1:1 id join to attach cohorts
    * (user-cardinality — a shuffle join by design, co-partitioned with
    * the distinct's output), one |cohorts × offsets| aggregate. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = Tables.events(s, dir).select($"user_id", to_date($"ts").as("d")).distinct()
    val cohorts = days.groupBy($"user_id").agg(min($"d").as("cohort_day"))
    days.join(cohorts, "user_id")
      .withColumn("offset_days", datediff($"d", $"cohort_day").cast("long"))
      .filter($"offset_days" <= 14)
      .groupBy($"cohort_day", $"offset_days")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"offset_days")
  }
  private val q119Sql =
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |cohorts AS (SELECT user_id, min(d) AS cohort_day FROM days GROUP BY 1)
      |SELECT c.cohort_day, CAST(d.d - c.cohort_day AS BIGINT) AS offset_days,
      |  count(DISTINCT d.user_id) AS n_users
      |FROM days d JOIN cohorts c USING (user_id)
      |WHERE d.d - c.cohort_day <= 14
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Hourly volume anomaly detection — the ops-monitoring shape: per
    * event type, each hour's event count is z-scored against that
    * type's own hourly distribution, and hours beyond 2σ are flagged.
    * The variance comes from exact integer sufficient statistics
    * (Σn, Σn² over hour counts — the q27/q115 discipline; hour counts
    * are integers, so not even DECIMAL is needed), and the z-score is
    * quantized to integer milli-σ so the flag and the ordering are
    * exact cross-engine.
    *
    * Scale shape: one windowed aggregate (|types × hours| rows), one
    * |types|-row stats aggregate joined back broadcast. At 100 TB the
    * hour frame is still tiny — time-bucketed aggregates shrink data
    * before any statistics happen. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = graft.core.ScratchCache.persist(
      Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("n")))
    val stats = hourly.groupBy($"event_type")
      .agg(count(lit(1)).as("h"),
        sum($"n").as("s1"),
        sum($"n" * $"n").as("s2"))
      .filter($"h" >= 2)
      .select($"event_type",
        $"h", $"s1", $"s2",
        (($"s2" - $"s1" * $"s1" / $"h") / ($"h" - 1)).as("variance"))
    hourly.join(broadcast(stats), "event_type")
      .select($"event_type", $"hour", $"n",
        // z in milli-sigma: (n - mean) / sqrt(var), mean = s1/h
        when($"variance" > 0,
          expr("CAST(floor((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / h) / sqrt(variance) * 1000 + 0.5) AS BIGINT)"))
          .otherwise(0L).as("z_milli"))
      .withColumn("is_anomaly", when(abs($"z_milli") >= 2000L, 1L).otherwise(0L))
      .orderBy($"event_type", $"hour")
  }
  private val q121Sql =
    """WITH hourly AS (
      |  SELECT event_type, CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |),
      |stats AS (
      |  SELECT event_type, h, s1, s2,
      |    (s2 - s1 * s1 / h) / (h - 1) AS variance
      |  FROM (
      |    SELECT event_type, CAST(count(*) AS BIGINT) AS h,
      |      CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
      |    FROM hourly GROUP BY 1
      |  )
      |  WHERE h >= 2
      |)
      |SELECT hourly.event_type, hour, n,
      |  CAST(CASE WHEN variance > 0
      |       THEN floor((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / h) / sqrt(variance) * 1000 + 0.5)
      |       ELSE 0 END AS BIGINT) AS z_milli,
      |  CAST(CASE WHEN variance > 0 AND
      |            abs(floor((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / h) / sqrt(variance) * 1000 + 0.5)) >= 2000
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
      |FROM hourly JOIN stats USING (event_type)
      |ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------- q138
  /** Event-transition (Markov) matrix — the path-analysis view of the
    * event stream: consecutive (prev → next) event-type transitions per
    * user timeline, with counts and row-normalized ppm shares. The
    * lead() window partitions by user_id — high-cardinality entity
    * keys, each timeline bounded by one user's history, so the shuffle
    * scales out — and the normalization window runs over the AGGREGATED
    * transition frame, |event types|² rows at any corpus size. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"tu", $"event_id")
    val pairs = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("tu"), $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("prev_type"), $"next_type")
      .agg(count(lit(1)).as("cnt"))
    pairs
      .withColumn("row_total", sum($"cnt").over(Window.partitionBy($"prev_type")))
      .withColumn("ppm", expr("(cnt * 1000000) DIV row_total"))
      .select($"prev_type", $"next_type", $"cnt", $"ppm")
      .orderBy($"prev_type", $"next_type")
  }
  private val q138Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS tu, event_id, event_type FROM events
      |), p AS (
      |  SELECT event_type AS prev_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS next_type
      |  FROM e
      |), c AS (
      |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS cnt
      |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT prev_type, next_type, cnt,
      |  (cnt * 1000000) // CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS ppm
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Time-series resample + forward-fill — the gap-filling regularizer
    * every monitoring/feature pipeline needs before it can diff, rate,
    * or model an event stream: each tenant's irregular events become a
    * REGULAR hourly grid between that tenant's first and last hour
    * (`sequence(h0, h1, interval 1 hour)` exploded — never a global
    * calendar cross join), hours with no events are emitted as
    * explicit gap rows, and the hourly value sum is carried forward
    * (`last(..., ignoreNulls)` over a per-tenant ordered window) so
    * every grid cell has the latest observed reading. The tenant
    * selector (`user_id % 19 = 3`) is the deterministic dashboard
    * cohort — resampling is a per-entity view, not a corpus scan.
    *
    * Scale shape: the grid explode is linear in each tenant's time
    * span (never |tenants| × |global calendar|); both the left join
    * and the forward-fill window partition on the high-cardinality
    * tenant key, so no task ever holds more than one tenant's grid —
    * at 100 TB the whole query is one events scan (tenant filter
    * pushed to parquet) plus tenant-local work. Value sums go through
    * [[Det]] (exact decimal) so the carried-forward doubles are
    * order-independent. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter(expr("user_id % 19 = 3"))
      .select($"user_id", date_trunc("hour", $"ts").as("h"), $"value")
    val hourly = ev.groupBy($"user_id", $"h")
      .agg(count(lit(1)).as("n_events"), Det.moneySum($"value").as("sum_value"))
    val grid = ev.groupBy($"user_id").agg(min($"h").as("h0"), max($"h").as("h1"))
      .select($"user_id", explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy($"user_id").orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select($"user_id", $"h",
        coalesce($"n_events", lit(0L)).as("n_events"),
        when($"n_events".isNull, 1L).otherwise(0L).as("is_gap"),
        coalesce(last($"sum_value", ignoreNulls = true).over(w), lit(0.0)).as("ffill_value"))
      .orderBy($"user_id", $"h")
  }
  private val q144Sql =
    s"""WITH ev AS (
       |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
       |  FROM events WHERE user_id % 19 = 3
       |),
       |hourly AS (
       |  SELECT user_id, h, count(*) AS n_events,
       |    ${Det.sqlSum("value")} AS sum_value
       |  FROM ev GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
       |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1)
       |)
       |SELECT user_id, h,
       |  CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       |  CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
       |  coalesce(last_value(sum_value IGNORE NULLS) OVER (
       |    PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING), 0.0) AS ffill_value
       |FROM grid LEFT JOIN hourly USING (user_id, h)
       |ORDER BY user_id, h""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Null-aware NOT IN anti join — the OTHER anti-join Spark plans
    * (q06 is NOT EXISTS → plain LeftAnti): `NOT IN (subquery)` carries
    * SQL's three-valued semantics (one NULL in the subquery empties
    * the result; a NULL probe row never qualifies), so Catalyst plans
    * a NULL-AWARE anti join — on a broadcastable build side a
    * BroadcastHashJoin with isNullAware=true — instead of the plain
    * anti join, which would silently return WRONG rows. The build side
    * here (high-value order custkeys) is nullable-by-schema but
    * null-free-by-data, so the result is non-degenerate while the
    * operator exercised is the null-aware path (NullAwareAntiJoinSpec
    * pins both the plan shape and the one-NULL-empties-it semantics
    * on a planted frame).
    *
    * Scale shape: the build side is an aggregate of order keys above a
    * high price cut — small, broadcast; the probe side streams. A
    * non-broadcastable build would force BroadcastNestedLoopJoin
    * (Spark's only shuffle-free null-aware fallback) — the documented
    * contract is: keep the NOT IN build side aggregated/filtered under
    * the broadcast cap, or rewrite to NOT EXISTS when the data is
    * known null-free. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("q147_customer")
    Tables.orders(s, dir).createOrReplaceTempView("q147_orders")
    s.sql(
      """SELECT c_custkey, c_name
        |FROM q147_customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM q147_orders WHERE o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin)
  }
  private val q147Sql =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE c_custkey NOT IN (
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Time-RANGE-frame trailing window — the sliding aggregate WITHOUT
    * window explosion: at every event, the count and exact-decimal
    * value sum of that user's events in the trailing hour, via a RANGE
    * frame over epoch seconds (`rangeBetween(-3599, 0)`). q61 answers
    * the same question bucketized (each event exploded into its
    * covering windows); this is the per-event exact form — one sort
    * per user partition, zero row multiplication, the shape for "rate
    * at event time" features and throttling lookbacks.
    *
    * Scale shape: one shuffle on the high-cardinality user key; each
    * task sorts only its users' timelines. The frame is time-bounded,
    * so a burst widens the frame's ROW count but never the sort; the
    * decimal sum keeps in-frame addition order-independent. Peers at
    * the same second land in the same frame on both engines (RANGE
    * semantics) — ties cost nothing because the value summed is
    * per-frame, not per-peer-order. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"es")
      .rangeBetween(-3599L, 0L)
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"ts",
        unix_timestamp($"ts").as("es"), $"value")
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        round(sum($"value".cast("decimal(18,6)")).over(w).cast("double"), 4))
      .select($"event_id", $"user_id", $"ts", $"n_1h", $"sum_1h")
      .orderBy($"event_id")
  }
  private val q148Sql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 4) AS sum_1h
      |FROM (SELECT event_id, user_id, ts,
      |        CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, value
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Modal-key as-of — the latest platform-wide ERROR at or before
    * each purchase ("was the system degraded when this order landed").
    * The join key is a CONSTANT (one global stream): the maximally
    * modal case, where q39's window formulation would sort every event
    * through ONE task no matter the cluster size. Runs on
    * [[AsOfJoin.backwardAuto]] — the cardinality probe sees one
    * distinct key over the whole union (≥400 rows/key at every SF,
    * above the 256 rows/key budget) and dispatches to
    * [[AsOfJoin.backwardSharded]]: time-range shards bound each
    * window task, a carry joins in the last error of earlier shards —
    * so BOTH the probe/dispatch path and the modal-safe execution are
    * correctness-gated by the DuckDB ASOF oracle, not only by
    * AsOfJoinSpec. Errors are deduped per ts (max event_id) so ts
    * ties match deterministically. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val errors = ev.filter($"event_type" === "error")
      .groupBy($"ts").agg(max($"event_id").as("error_id"))
      .select(lit(0L).as("stream"), $"ts", $"error_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select(lit(0L).as("stream"), $"event_id".as("purchase_id"), $"ts")
    AsOfJoin.backwardAuto(purchases, errors,
        keyCols = Seq("stream"), tsCol = "ts",
        valueCols = Seq("error_id"),
        maxAvgRowsPerKey = 256, targetShards = 64)
      .select($"purchase_id", $"ts",
        $"asof_error_id".as("error_id"), $"asof_ts".as("error_ts"))
      .orderBy($"purchase_id")
  }
  private val q127Sql =
    """WITH errors AS (
      |  SELECT ts AS error_ts, max(event_id) AS error_id
      |  FROM events WHERE event_type = 'error' GROUP BY 1
      |), purchases AS (
      |  SELECT event_id AS purchase_id, ts FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.purchase_id, p.ts, e.error_id, e.error_ts
      |FROM purchases p ASOF LEFT JOIN errors e ON p.ts >= e.error_ts
      |ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q211
  /** Conversion ATTRIBUTION (first-touch vs last-touch) — the revenue-
    * credit table marketing analytics runs on every event stream: each
    * purchase credits the FIRST and the LAST touchpoint (click/view)
    * in that user's trailing 7-day window, and the report compares the
    * two models per touch type — first-touch rewards discovery, last-
    * touch rewards closing, and the delta between them is the
    * reallocation a model switch would cause. Purchases with no touch
    * in the window credit '(none)', so both models' totals tile the
    * purchase count exactly (the miss path is part of the hash).
    *
    * Touch selection is an argmin/argmax over the trailing RANGE frame
    * (q148's time-frame idiom) on an ENCODED sort key — zero-padded
    * (micros, event_id) prefixing the type — because struct-valued
    * window min/max doesn't exist cross-engine but lexicographic min
    * on a fixed-width encoding is the same ordering in any engine.
    * Purchase value is credited in exact integer millis (floor
    * half-up — the q66 discipline).
    *
    * Scale shape: ONE shuffle on the high-cardinality user key; each
    * task sorts only its users' timelines, the frame is time-bounded.
    * The roll-up is (model, touch_type) — O(1) cells. */
  /** Per-purchase attribution CREDIT LEDGER — q211's intermediate at
    * purchase granularity, shared (package-private) with the streaming
    * twin q235 and its convergence spec: for each purchase, the
    * first/last touch type in the trailing window plus the exact
    * integer credit. The window frame, encoded-key argmin/argmax, miss
    * path and millis discipline are exactly q211's (scaladoc above). */
  private[graft] def attributionCredits(events: DataFrame,
                                        windowDays: Int = 7): DataFrame = {
    val windowUs = windowDays * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tu"))
      .rangeBetween(-windowUs, 0L)
    val enc = expr("""CASE WHEN event_type IN ('click', 'view')
      |  THEN concat(lpad(CAST(tu AS STRING), 20, '0'), '|',
      |              lpad(CAST(event_id AS STRING), 12, '0'), '|', event_type)
      |END""".stripMargin)
    events
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("first_enc", min(enc).over(w))
      .withColumn("last_enc", max(enc).over(w))
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "event_id AS purchase_id",
        "coalesce(element_at(split(first_enc, '\\\\|'), 3), '(none)') AS first_touch",
        "coalesce(element_at(split(last_enc, '\\\\|'), 3), '(none)') AS last_touch",
        "CAST(floor(value * 1000 + 0.5) AS BIGINT) AS value_milli")
  }

  /** (model, touch_type) roll-up over an [[attributionCredits]]-shaped
    * frame — q211's report stage, shared with the streaming spec so
    * the streamed ledger can be rolled up by the same code. */
  private[graft] def attributionRollup(credits: DataFrame): DataFrame = {
    val cached = graft.core.ScratchCache.persist(
      credits.select(col("first_touch"), col("last_touch"), col("value_milli")))
    def roll(model: String, c: String) = cached
      .groupBy(col(c).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"), sum(col("value_milli")).as("value_milli"))
      .withColumn("model", lit(model))
    roll("first_touch", "first_touch")
      .unionByName(roll("last_touch", "last_touch"))
      .select(col("model"), col("touch_type"), col("n_conversions"), col("value_milli"))
      .orderBy(col("model"), col("touch_type"))
  }

  private def q211(s: SparkSession, dir: String): DataFrame =
    attributionRollup(attributionCredits(Tables.events(s, dir)))

  private val q211Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_ns(ts) // 1000 AS tu
      |  FROM events
      |), enc AS (
      |  SELECT *,
      |    CASE WHEN event_type IN ('click', 'view')
      |      THEN lpad(CAST(tu AS VARCHAR), 20, '0') || '|' ||
      |           lpad(CAST(event_id AS VARCHAR), 12, '0') || '|' || event_type
      |    END AS tenc
      |  FROM e
      |), scored AS (
      |  SELECT event_type, value,
      |    min(tenc) OVER w AS first_enc,
      |    max(tenc) OVER w AS last_enc
      |  FROM enc
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu
      |               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
      |), p AS (
      |  SELECT coalesce(str_split(first_enc, '|')[3], '(none)') AS first_touch,
      |    coalesce(str_split(last_enc, '|')[3], '(none)') AS last_touch,
      |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS value_milli
      |  FROM scored WHERE event_type = 'purchase'
      |), u AS (
      |  SELECT 'first_touch' AS model, first_touch AS touch_type,
      |    CAST(count(*) AS BIGINT) AS n_conversions,
      |    CAST(sum(value_milli) AS BIGINT) AS value_milli
      |  FROM p GROUP BY first_touch
      |  UNION ALL
      |  SELECT 'last_touch', last_touch,
      |    CAST(count(*) AS BIGINT), CAST(sum(value_milli) AS BIGINT)
      |  FROM p GROUP BY last_touch
      |)
      |SELECT model, touch_type, n_conversions, value_milli
      |FROM u ORDER BY model, touch_type""".stripMargin

  // ---------------------------------------------------------------- q225
  /** DAU/WAU/MAU STICKINESS table — the canonical product-engagement
    * dashboard (per day: daily actives, trailing-7-day and trailing-
    * 30-day distinct actives, DAU/WAU stickiness in exact ppm). The
    * ratio is the retention headline every event warehouse serves;
    * computing it EXACTLY requires distinct-user sets over trailing
    * windows, which no running aggregate composes — the standard
    * exact shape is the day-grid range join below (the approximate
    * shape swaps in per-day HLL sketch merges; q25's machinery).
    *
    * Scale shape: the corpus compacts FIRST to the distinct
    * (day, user) activity frame — one exchange, and the only pass
    * over raw events; the trailing windows are a |days|-row broadcast
    * range-joined against that compacted frame (≤ |days|×|users|
    * rows, ×7/×30 duplication bounded by the window length), then
    * per-day distinct aggregates. Raw events never enter a window. */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r22 (guide §2.4): du is NOT persisted — q112's lesson. All four
    // consumers (days, dau, the two trailing-window joins) share the
    // identical distinct subtree, so the raw-event scan + dedup map
    // side is written to ONE reused exchange and only the reduce-side
    // dedup re-runs per consumer; the old persist replaced the reusable
    // exchange with a columnar cache whose build + four scans cost more
    // than the duplicated reduce sides.
    val du = Tables.events(s, dir).select(to_date($"ts").as("d"), $"user_id").distinct()
    val days = du.select($"d").distinct()
    val dau = du.groupBy($"d").agg(count(lit(1)).as("dau"))
    def trailing(n: Int, name: String) =
      broadcast(days.select($"d".as("dd"))).join(du, $"d".between(date_sub($"dd", n - 1), $"dd"))
        .groupBy($"dd").agg(countDistinct($"user_id").as(name))
        .withColumnRenamed("dd", "d")
    dau.join(trailing(7, "wau"), "d").join(trailing(30, "mau"), "d")
      .selectExpr("CAST(d AS STRING) AS day", "dau", "wau", "mau",
        "CAST(dau * 1000000 DIV wau AS BIGINT) AS dau_wau_ppm")
      .orderBy($"day")
  }
  private val q225Sql =
    """WITH du AS (
      |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id FROM events
      |), days AS (SELECT DISTINCT d FROM du),
      |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
      |wau AS (
      |  SELECT days.d, count(DISTINCT du.user_id) AS wau
      |  FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      |  GROUP BY days.d
      |),
      |mau AS (
      |  SELECT days.d, count(DISTINCT du.user_id) AS mau
      |  FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 29 DAY AND days.d
      |  GROUP BY days.d
      |)
      |SELECT CAST(dau.d AS VARCHAR) AS day, CAST(dau.dau AS BIGINT) AS dau,
      |  CAST(wau.wau AS BIGINT) AS wau, CAST(mau.mau AS BIGINT) AS mau,
      |  CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS dau_wau_ppm
      |FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q227
  /** CONVERSION-LATENCY histogram — q118 reports WHETHER users
    * convert; this reports HOW LONG it takes: per user, the gap from
    * first view to the first purchase at-or-after it, binned into
    * exact power-of-two minute buckets (length(bin(minutes)); bucket
    * 0 = same-minute), with share and cumulative share in exact ppm.
    * The cum_ppm column read at a candidate attribution window IS the
    * coverage that window buys — this table is how q211's 7-day
    * lookback gets justified instead of guessed.
    *
    * Scale shape: two conditional-min aggregates over one user-keyed
    * exchange (q118's first-occurrence discipline — the purchase min
    * is conditioned on ts ≥ first_view via a join that reuses the
    * user partitioning), then a ≤~30-cell bucket aggregate and a
    * bucket-count-sized running window. Raw events never enter a
    * window. */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.ScratchCache.persist(
      Tables.events(s, dir).select($"user_id", $"event_type", $"ts"))
    val fv = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("first_view"))
    val fp = ev.filter($"event_type" === "purchase")
      .join(fv, "user_id")
      .filter($"ts" >= $"first_view")
      .groupBy($"user_id").agg(min($"ts").as("first_purchase"),
        min($"first_view").as("first_view"))
    val lat = fp.select(
      ((unix_millis($"first_purchase") - unix_millis($"first_view")) / lit(60000L))
        .cast("long").as("mins"))
    val buckets = lat
      .select(when($"mins" <= 0L, 0L)
        .otherwise(length(bin($"mins")).cast("long")).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_users"))
    val tot = buckets.agg(sum($"n_users").as("n_conv"))
    buckets.crossJoin(broadcast(tot))
      // unpartitioned window bound (r22 audit): buckets has one row per
      // power-of-two latency class — ≤ 64 rows (bit length of a long
      // minute count), never user-sized
      .withColumn("cum", sum($"n_users").over(
        Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .selectExpr("bucket", "n_users",
        "CAST(n_users * 1000000 DIV n_conv AS BIGINT) AS share_ppm",
        "CAST(cum * 1000000 DIV n_conv AS BIGINT) AS cum_ppm")
      .orderBy($"bucket")
  }
  private val q227Sql =
    """WITH fv AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_view
      |  FROM events WHERE event_type = 'view' GROUP BY user_id
      |), fp AS (
      |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS first_purchase,
      |    min(fv.first_view) AS first_view
      |  FROM events e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= fv.first_view
      |  GROUP BY e.user_id
      |), lat AS (
      |  SELECT (epoch_ms(first_purchase) - epoch_ms(first_view)) // 60000 AS mins FROM fp
      |), b AS (
      |  SELECT CASE WHEN mins <= 0 THEN 0 ELSE length(bin(mins)) END AS bucket,
      |    count(*) AS n_users
      |  FROM lat GROUP BY 1
      |), t AS (SELECT sum(n_users) AS n_conv FROM b)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_users * 1000000 // n_conv AS BIGINT) AS share_ppm,
      |  CAST(sum(n_users) OVER (ORDER BY bucket
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 // n_conv AS BIGINT) AS cum_ppm
      |FROM b, t ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q228
  /** REFERENTIAL-INTEGRITY audit — the FK orphan scan a warehouse
    * runs on every load before trusting joins: per FK edge, child
    * rows whose parent key is missing (orphans), in count, exact ppm,
    * and distinct missing parents (one deleted parent vs scattered
    * corruption — different incidents). An inner join silently DROPS
    * orphans (q03's revenue would just be missing rows); this table
    * is how that loss is detected instead of shipped. The fixture's
    * FKs are clean, so damage is PLANTED on an md5 carve of the
    * lineitem→orders edge (key pushed out of the parent domain); the
    * oracle replays the plant, so the two clean edges staying at
    * exactly 0 is part of the hash.
    *
    * Scale shape: each edge is one LEFT join on its key (the planner
    * broadcasts the small parent sides) with counting done in the
    * aggregate — no orphan rows materialize; output is 3 rows. */
  private val q228SelSql =
    "substring(md5(concat('fk|', CAST(l_orderkey AS STRING), '|', CAST(l_linenumber AS STRING))), 1, 1) < '2'"
  private def q228(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame =
      child.join(parent.select(col(pk).as("__pk"), lit(1).as("hit")),
          child(ck) === col("__pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphan"),
          countDistinct(when(col("hit").isNull, col(ck))).as("n_missing_parents"))
        .selectExpr(s"'$name' AS fk_edge", "n_child", "n_orphan", "n_missing_parents")
    val li = Tables.lineitem(s, dir)
    val liDamaged = li.selectExpr(
      s"CASE WHEN $q228SelSql THEN l_orderkey + 1000000000L ELSE l_orderkey END AS k",
      "l_partkey")
    edge("lineitem_orders", liDamaged, "k", Tables.orders(s, dir), "o_orderkey")
      .union(edge("lineitem_part", li, "l_partkey", Tables.part(s, dir), "p_partkey"))
      .union(edge("orders_customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      .selectExpr("fk_edge", "n_child", "n_orphan",
        "CAST(n_orphan * 1000000 DIV n_child AS BIGINT) AS orphan_ppm",
        "n_missing_parents")
      .orderBy($"fk_edge")
  }
  private val q228Sql =
    s"""WITH lo AS (
       |  SELECT CASE WHEN ${q228SelSql.replace("concat('fk|', CAST(l_orderkey AS STRING), '|', CAST(l_linenumber AS STRING))", "'fk|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")}
       |    THEN l_orderkey + 1000000000 ELSE l_orderkey END AS k
       |  FROM lineitem
       |), e1 AS (
       |  SELECT 'lineitem_orders' AS fk_edge, count(*) AS n_child,
       |    count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_orphan,
       |    count(DISTINCT CASE WHEN o.o_orderkey IS NULL THEN lo.k END) AS n_missing_parents
       |  FROM lo LEFT JOIN orders o ON lo.k = o.o_orderkey
       |), e2 AS (
       |  SELECT 'lineitem_part', count(*), count(*) FILTER (WHERE p.p_partkey IS NULL),
       |    count(DISTINCT CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END)
       |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
       |), e3 AS (
       |  SELECT 'orders_customer', count(*), count(*) FILTER (WHERE c.c_custkey IS NULL),
       |    count(DISTINCT CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END)
       |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       |)
       |SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
       |  CAST(n_orphan AS BIGINT) AS n_orphan,
       |  CAST(n_orphan * 1000000 // n_child AS BIGINT) AS orphan_ppm,
       |  CAST(n_missing_parents AS BIGINT) AS n_missing_parents
       |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)
       |ORDER BY fk_edge""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q225_stickiness", q225, Oracle.Sql(q225Sql)),
    Query("q227_conversion_latency", q227, Oracle.Sql(q227Sql)),
    Query("q228_fk_integrity", q228, Oracle.Sql(q228Sql)),
    Query("q01_pricing_summary", q01, Oracle.Sql(q01Sql)),
    Query("q02_filter_project", q02, Oracle.Sql(q02Sql)),
    Query("q03_join_star_revenue", q03, Oracle.Sql(q03Sql)),
    Query("q04_join_left_orders", q04, Oracle.Sql(q04Sql)),
    Query("q05_join_semi_open", q05, Oracle.Sql(q05Sql)),
    Query("q06_join_anti_noorders", q06, Oracle.Sql(q06Sql)),
    Query("q07_join_full_nation", q07, Oracle.Sql(q07Sql)),
    Query("q08_join_cross_dims", q08, Oracle.Sql(q08Sql)),
    Query("q09_window_rank_topk", q09, Oracle.Sql(q09Sql)),
    Query("q10_window_lag_lead", q10, Oracle.Sql(q10Sql)),
    Query("q11_window_running_sum", q11, Oracle.Sql(q11Sql)),
    Query("q12_sort_limit_topk", q12, Oracle.Sql(q12Sql)),
    Query("q13_set_ops", q13, Oracle.Sql(q13Sql)),
    Query("q14_distinct", q14, Oracle.Sql(q14Sql)),
    Query("q15_scalar_string", q15, Oracle.Sql(q15Sql)),
    Query("q16_scalar_date", q16, Oracle.Sql(q16Sql)),
    Query("q17_scalar_math", q17, Oracle.Sql(q17Sql)),
    Query("q18_scalar_array", q18, Oracle.Sql(q18Sql)),
    Query("q19_json_events", q19, Oracle.Sql(q19Sql)),
    Query("q20_agg_distinct", q20, Oracle.Sql(q20Sql)),
    Query("q21_collect_set", q21, Oracle.Sql(q21Sql)),
    Query("q22_group_derived_key", q22, Oracle.Sql(q22Sql)),
    Query("q23_rollup", q23, Oracle.Sql(q23Sql)),
    Query("q24_cube", q24, Oracle.Sql(q24Sql)),
    Query("q25_approx_distinct", q25, Oracle.Unverifiable(
      "UNVERIFIABLE BY DESIGN: approx_count_distinct is a HyperLogLog++ sketch whose " +
      "estimates are implementation-specific — DuckDB's approx HLL produces different " +
      "values on identical input, and an exact-count oracle would test a different " +
      "operator. Gated instead by HllCalibrationSpec (estimate within the published " +
      "rsd bound of the exact distinct count at every SF).")),
    // q25_approx_distinct: intentionally no oracle (approximate sketch)
    Query("q26_sort_nulls", q26, Oracle.Sql(q26Sql)),
    Query("q27_stats_moments", q27, Oracle.Sql(q27Sql)),
    Query("q28_percentiles", q28, Oracle.Sql(q28Sql)),
    Query("q29_pivot", q29, Oracle.Sql(q29Sql)),
    Query("q178_unpivot", q178, Oracle.Sql(q178Sql)),
    Query("q181_key_profile", q181, Oracle.Sql(q181Sql)),
    Query("q189_join_size_profile", q189, Oracle.Sql(q189Sql)),
    Query("q38_join_right_orders", q38, Oracle.Sql(q38Sql)),
    Query("q39_asof_join", q39, Oracle.Sql(q39Sql)),
    Query("q127_asof_modal", q127, Oracle.Sql(q127Sql)),
    Query("q48_map_functions", q48, Oracle.Sql(q48Sql)),
    Query("q49_scalar_string_ext", q49, Oracle.Sql(q49Sql)),
    Query("q57_grouping_sets", q57, Oracle.Sql(q57Sql)),
    Query("q58_array_hof", q58, Oracle.Sql(q58Sql)),
    Query("q59_scalar_subquery", q59, Oracle.Sql(q59Sql)),
    Query("q65_range_join_pairs", q65, Oracle.Sql(q65Sql)),
    Query("q107_salted_join", q107, Oracle.Sql(q107Sql)),
    Query("q109_window_distribution", q109, Oracle.Sql(q109Sql)),
    Query("q115_corr_stats", q115, Oracle.Sql(q115Sql)),
    Query("q118_funnel", q118, Oracle.Sql(q118Sql)),
    Query("q119_retention", q119, Oracle.Sql(q119Sql)),
    Query("q121_anomaly_hours", q121, Oracle.Sql(q121Sql)),
    Query("q138_transition_matrix", q138, Oracle.Sql(q138Sql)),
    Query("q144_resample_ffill", q144, Oracle.Sql(q144Sql)),
    Query("q147_not_in_null_aware", q147, Oracle.Sql(q147Sql)),
    Query("q148_trailing_window", q148, Oracle.Sql(q148Sql)),
    Query("q211_attribution", q211, Oracle.Sql(q211Sql)),
  )
}
