package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Det, Oracle, PrefixSum, Query, QueryCatalog, ScratchCache, Store, Tables}

/** Physical-data-layout operators — the table-maintenance surface a
  * 100 TB lakehouse pipeline runs BETWEEN queries so the queries
  * themselves stay cheap: co-located (bucketed) joins that skip the
  * shuffle entirely, Z-order clustering so zone maps prune 2-D
  * predicate boxes, small-file compaction planning, and a mergeable
  * histogram sketch that answers quantile questions without a global
  * sort.
  *
  * Everything here is exact-integer / exact-decimal arithmetic, so
  * every query (including the two whose PAYOFF is physical — q134's
  * missing shuffle, q135's prunable zone maps) has a value-level
  * DuckDB twin; the physical claims are pinned by LayoutSpec plan
  * assertions instead of the oracle, which can only see values.
  *
  * Scale notes per query:
  *  - q134: bucketed writes cost one shuffle ONCE at ingest; every
  *    subsequent orderkey join is exchange-free (LayoutSpec pins zero
  *    ShuffleExchange under the SortMergeJoin). At 100 TB this is the
  *    difference between re-shuffling 6 TB of lineitem per join and
  *    reading pre-hashed files. The bucket-store build is memoized per
  *    (session, corpus dir) like q94's sigstore; Bench pre-builds it so
  *    timed runs measure the join, not the one-off ingest.
  *  - q135: the z-key is pure map-side bit arithmetic (no exchange at
  *    all until the 128-row-bounded per-bucket rollup); the report —
  *    per-file zone maps + whether a 2-D box prunes each file — is the
  *    evidence a z-ordered rewrite actually buys skipping, BEFORE
  *    paying for the rewrite. Equi-width z-range bucketing (not ntile)
  *    keeps file assignment windowless.
  *  - q136: the compaction manifest is one row per FILE (~millions of
  *    rows at 100 TB, not billions), but the greedy fill still never
  *    funnels the whole manifest through one window task — the running
  *    total decomposes through [[PrefixSum.runningTotal]]'s sharded
  *    windows exactly like q101's token budget.
  *  - q137: the histogram is 256 rows at ANY corpus size and merges by
  *    addition (executor partials combine map-side) — the quantile
  *    path that replaces q28's global sort at scale. Even the exact
  *    calibration side never sorts the corpus: the sketch names each
  *    target's covering bucket, and global rank r ≡ within-bucket rank
  *    (r − cum_before) there, so only the ~N/256-row covering slice is
  *    ever ranked (distributed selection: sketch narrows, the narrowed
  *    slice sorts).
  */
object LayoutQueries extends QueryCatalog {

  // ---------------------------------------------------------------- q134
  /** Bucket count DERIVED from the fact table at build time (next power
    * of two of rows/150k, clamped [8, 4096]): bucket count is the JOIN
    * parallelism ceiling for every later read — a fixed 8 measured
    * 6.4× at 10× data because six million rows sorted through eight
    * tasks, while the sublinear everything-else rode 32 cores. Powers
    * of two so differently-sized corpora still tend to land on
    * compatible bucket counts. */
  private def bucketCountFor(rows: Long): Int = {
    val want = math.max(8L, (rows + 149999L) / 150000L)
    var b = 8
    while (b < want && b < 4096) b <<= 1
    b
  }

  /** q134's bucketed-table store: orders + lineitem written as parquet
    * bucketed by orderkey, sorted within buckets — the one-off shuffle
    * a lakehouse pays at write time so every later orderkey join is
    * exchange-free; built untimed by the sweeps so the catalog entry
    * measures the JOIN. saveAsTable is required (bucket metadata lives
    * in the catalog, not the files), so the tables are session-scoped
    * and named after the store's path. */
  val bucketStore = new Store[(String, String)]("bucketstore", "q134_bucketstore_build")((s, dir, base) => {
    val slug = graft.core.Scratch.slug(base.toString)
    val oTbl = s"graft_bkt_orders_$slug"
    val lTbl = s"graft_bkt_lineitem_$slug"
    val buckets = bucketCountFor(Tables.lineitem(s, dir).count())
    s.sql(s"DROP TABLE IF EXISTS $oTbl")
    s.sql(s"DROP TABLE IF EXISTS $lTbl")
    Tables.orders(s, dir).write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", base.resolve("orders").toString).saveAsTable(oTbl)
    Tables.lineitem(s, dir).write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", base.resolve("lineitem").toString).saveAsTable(lTbl)
    (oTbl, lTbl)
  })

  /** Co-located join over the bucket store: both sides arrive
    * pre-hashed on the join key, so the SortMergeJoin takes them
    * exchange-FREE (merge hint keeps AQE from demoting to a broadcast
    * that would hide the point). Values are identical to the plain
    * join — the oracle runs the plain join — which is exactly the
    * claim: bucketing changes the physical plan, never the answer. */
  def q134(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (oTbl, lTbl) = bucketStore(s, dir)
    val o = s.table(oTbl)
    val l = s.table(lTbl)
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
        countDistinct($"o_orderkey").as("order_cnt"),
        Det.moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"o_orderpriority")
  }
  private val q134Sql =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS line_cnt,
       |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS order_cnt,
       |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Morton "part1by1": spread a 16-bit value's bits into the even bit
    * positions of a 32-bit word, via the classic magic-mask shifts —
    * the ORACLE's nested one-shot form (DuckDB `<<` syntax). The Spark
    * side computes the same steps through named columns instead (see
    * q135: the nested form's tree is exponential in the step count). */
  private def part1by1(e: String, shl: (String, Int) => String): String = {
    val a = s"(($e) & 65535)"
    val b = s"((($a) | ${shl(a, 8)}) & 16711935)"
    val c = s"((($b) | ${shl(b, 4)}) & 252645135)"
    val d = s"((($c) | ${shl(c, 2)}) & 858993459)"
    s"((($d) | ${shl(d, 1)}) & 1431655765)"
  }
  private val duckShl: (String, Int) => String = (e, n) => s"(($e) << $n)"

  /** Z-order layout report over lineitem's (partkey, suppkey) plane:
    * each dim is scaled to 16 bits against data-derived bounds, bit-
    * interleaved into a 32-bit Morton key, and equi-width-bucketed into
    * 64 "files"; a lexicographic (partkey-major) layout of the same
    * rows into 64 files rides along for contrast. Per file: row count,
    * the (min,max) zone map of BOTH dims, and whether the middle-decile
    * 2-D box `partkey ∈ mid-10% AND suppkey ∈ mid-10%` can prune the
    * file from its zone map alone. Z-order bounds both dims per file,
    * so far more z-files prune than lexicographic ones (suppkey is
    * unbounded within a lex file) — LayoutSpec pins that inequality;
    * the oracle pins every zone-map value. */
  def q135(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_partkey".cast("long").as("pk"), $"l_suppkey".cast("long").as("sk"))
    val bounds = li.agg(
      min($"pk").as("minp"), max($"pk").as("maxp"),
      min($"sk").as("mins"), max($"sk").as("maxs"))
    // The Morton interleave is the native codegen
    // [[graft.functions.MortonInterleave]] expression — straight-line
    // long arithmetic in generated code. The pure-SQL alternatives both
    // have a failure mode: a single nested expr duplicates each
    // magic-mask step's input twice per level (exponential tree, `sx`
    // evaluated ~31× per row — measured 8.6 s at sf0.1), and stepwise
    // withColumn projections lean on CollapseProject's is-cheap
    // heuristic not to re-inline them. The ORACLE keeps the nested
    // magic-mask formula — same values, and the hash-match proves it;
    // BitOpsSpec pins the expression against a per-bit reference.
    graft.functions.GraftFunctions.register(s)
    val scaled = ScratchCache.persist(
      li.crossJoin(broadcast(bounds))
        .withColumn("sx", expr("((pk - minp) * 65535) DIV greatest(1L, maxp - minp)"))
        .withColumn("sy", expr("((sk - mins) * 65535) DIV greatest(1L, maxs - mins)"))
        .withColumn("zkey", expr("morton_interleave(sx, sy)"))
        .select($"pk", $"sk", $"sx", $"zkey"))
    // one roll-up per layout over the persisted frame, unioned — NOT a
    // per-row explode of array<struct> rows: Generate over constructed
    // structs measured 7.4 s at sf0.1 where these two map-side partial
    // aggregates take ~0.5 s combined (file-count-sized exchanges)
    def rollup(layout: String, bucketExpr: String): DataFrame =
      scaled.groupBy(expr(bucketExpr).as("bucket_id"))
        .agg(count(lit(1)).as("cnt"),
          min($"pk").as("min_pk"), max($"pk").as("max_pk"),
          min($"sk").as("min_sk"), max($"sk").as("max_sk"))
        .withColumn("layout", lit(layout))
    val perLayout = rollup("zorder", "zkey DIV 67108864")
      .unionByName(rollup("lex", "sx DIV 1024"))
    perLayout.crossJoin(broadcast(bounds))
      .withColumn("box_lo_p", expr("minp + ((maxp - minp) * 45) DIV 100"))
      .withColumn("box_hi_p", expr("minp + ((maxp - minp) * 55) DIV 100"))
      .withColumn("box_lo_s", expr("mins + ((maxs - mins) * 45) DIV 100"))
      .withColumn("box_hi_s", expr("mins + ((maxs - mins) * 55) DIV 100"))
      .withColumn("prunable",
        $"max_pk" < $"box_lo_p" || $"min_pk" > $"box_hi_p" ||
          $"max_sk" < $"box_lo_s" || $"min_sk" > $"box_hi_s")
      .select($"layout", $"bucket_id", $"cnt",
        $"min_pk", $"max_pk", $"min_sk", $"max_sk", $"prunable")
      .orderBy($"layout", $"bucket_id")
  }
  private val q135Sql = {
    val zk = s"(${part1by1("sx", duckShl)} | (${part1by1("sy", duckShl)} << 1))"
    s"""WITH li AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk FROM lineitem
       |), bounds AS (
       |  SELECT min(pk) AS minp, max(pk) AS maxp, min(sk) AS mins, max(sk) AS maxs FROM li
       |), scaled AS (
       |  SELECT pk, sk,
       |    ((pk - minp) * 65535) // greatest(1, maxp - minp) AS sx,
       |    ((sk - mins) * 65535) // greatest(1, maxs - mins) AS sy
       |  FROM li, bounds
       |), tagged AS (
       |  SELECT pk, sk, 'zorder' AS layout, $zk // 67108864 AS bucket_id FROM scaled
       |  UNION ALL
       |  SELECT pk, sk, 'lex' AS layout, sx // 1024 AS bucket_id FROM scaled
       |), files AS (
       |  SELECT layout, bucket_id, CAST(count(*) AS BIGINT) AS cnt,
       |    min(pk) AS min_pk, max(pk) AS max_pk, min(sk) AS min_sk, max(sk) AS max_sk
       |  FROM tagged GROUP BY layout, bucket_id
       |)
       |SELECT layout, bucket_id, cnt, min_pk, max_pk, min_sk, max_sk,
       |  (max_pk < minp + ((maxp - minp) * 45) // 100
       |   OR min_pk > minp + ((maxp - minp) * 55) // 100
       |   OR max_sk < mins + ((maxs - mins) * 45) // 100
       |   OR min_sk > mins + ((maxs - mins) * 55) // 100) AS prunable
       |FROM files, bounds ORDER BY layout, bucket_id""".stripMargin
  }

  // ---------------------------------------------------------------- q136
  /** Small-file compaction plan: group the corpus into "files" (doc_id
    * DIV 8 — a stand-in for a real manifest's file listing), then
    * assign files to target-sized output bins by sorted greedy fill:
    * biggest first, running total, `bin = exclusive_prefix DIV target`.
    * The target derives from the corpus (total DIV 16), so the plan
    * shape is SF-invariant. The running total goes through
    * [[PrefixSum.runningTotal]] — no manifest-wide single-task window
    * even at a 100 TB manifest's millions of files. */
  def q136(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = ScratchCache.persist(
      Tables.documents(s, dir)
        .groupBy(expr("doc_id DIV 8").as("file_id"))
        .agg(sum($"n_chars").cast("long").as("size")))
    val target = files.agg(
      greatest(lit(1L), expr("CAST(sum(size) AS BIGINT) DIV 16")).as("tgt"))
    PrefixSum.runningTotal(files, keyCol = "size", idCol = "file_id",
        valCol = "size", cumCol = "cum", targetShards = 64)
      .crossJoin(broadcast(target))
      .select($"file_id", $"size", expr("(cum - size) DIV tgt").as("bin"))
      .orderBy($"file_id")
  }
  private val q136Sql =
    """WITH files AS (
      |  SELECT doc_id // 8 AS file_id, CAST(sum(n_chars) AS BIGINT) AS size
      |  FROM documents GROUP BY 1
      |), t AS (
      |  SELECT greatest(1, CAST(sum(size) AS BIGINT) // 16) AS tgt FROM files
      |), c AS (
      |  SELECT file_id, size,
      |    CAST(sum(size) OVER (ORDER BY size DESC, file_id) AS BIGINT) AS cum
      |  FROM files
      |)
      |SELECT file_id, size, (cum - size) // tgt AS bin FROM c, t ORDER BY file_id""".stripMargin

  // ---------------------------------------------------------------- q137
  /** Histogram quantile sketch with exact calibration (the q131/q106
    * discipline): o_totalprice in exact integer CENTS (decimal(18,2)
    * cast — a binary double's exact decimal expansion never ties at a
    * 10^-2 boundary, so both engines round identically), equi-width
    * 256-bucket histogram against data-derived bounds, then p50/p90/p99
    * estimated by deterministic integer interpolation inside the
    * covering bucket. Each estimate sits beside the TRUE nearest-rank
    * value and the error in ppm — the calibration that licenses
    * dropping the exact global sort at scale. */
  def q137(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = ScratchCache.persist(Tables.orders(s, dir)
      .select($"o_orderkey",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c")))
    val bounds = cents.agg(
      min($"c").as("minc"), max($"c").as("maxc"), count(lit(1)).as("n"))
      .withColumn("w", expr("greatest(1L, (maxc - minc) DIV 256 + 1)"))
    val hist = cents.crossJoin(broadcast(bounds))
      .groupBy(expr("least(255L, (c - minc) DIV w)").as("b"))
      .agg(count(lit(1)).as("cnt"))
      // unpartitioned window bound (r22 audit): hist has one row per
      // histogram cell — ≤ 256 rows by construction, never order-sized
      .withColumn("cum", sum($"cnt").over(
        Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_before", $"cum" - $"cnt")
    val qs = s.range(1)
      .selectExpr("explode(array(500000L, 900000L, 990000L)) AS qppm")
      .crossJoin(broadcast(bounds))
      .withColumn("r", expr("(n * qppm + 999999) DIV 1000000"))
    val est = qs.join(broadcast(hist),
        $"cum" >= $"r" && $"cum_before" < $"r")
      .withColumn("est_cents",
        expr("minc + b * w + ((r - cum_before) * w) DIV (cnt + 1)"))
      .select($"qppm", $"r", $"b", $"cum_before", $"est_cents")
    // exact nearest-rank WITHOUT a global sort: the sketch already
    // names the covering bucket, and bucket assignment is monotone in
    // c, so global rank r ≡ within-bucket rank (r − cum_before) over
    // the covering bucket's rows alone — a per-qppm partition of
    // ~N/256 rows instead of the whole-corpus single-task window that
    // measured 5× superlinear at sf1. This is the distributed
    // selection shape: sketch narrows, then only the narrowed slice
    // sorts.
    val exact = cents.crossJoin(broadcast(bounds))
      .withColumn("cb", expr("least(255L, (c - minc) DIV w)"))
      .join(broadcast(est.select($"qppm".as("eq"), $"r", $"cum_before", $"b")),
        $"cb" === $"b")
      .withColumn("rkb", row_number().over(
        Window.partitionBy($"eq").orderBy($"c", $"o_orderkey")))
      .filter($"rkb" === $"r" - $"cum_before")
      .select($"eq", $"c")
    est.join(broadcast(exact), $"qppm" === $"eq")
      .select($"qppm", $"est_cents", $"c".as("exact_cents"),
        expr("abs(est_cents - c) * 1000000 DIV greatest(1L, c)").as("err_ppm"))
      .orderBy($"qppm")
  }
  private val q137Sql =
    """WITH cents AS (
      |  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders
      |), bounds AS (
      |  SELECT min(c) AS minc, max(c) AS maxc, CAST(count(*) AS BIGINT) AS n,
      |    greatest(1, (max(c) - min(c)) // 256 + 1) AS w
      |  FROM cents
      |), hist0 AS (
      |  SELECT least(255, (c - minc) // w) AS b, CAST(count(*) AS BIGINT) AS cnt
      |  FROM cents, bounds GROUP BY 1
      |), hist AS (
      |  SELECT b, cnt, CAST(sum(cnt) OVER (ORDER BY b) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (ORDER BY b) AS BIGINT) - cnt AS cum_before
      |  FROM hist0
      |), qs AS (
      |  SELECT qppm, (n * qppm + 999999) // 1000000 AS r, minc, w
      |  FROM (SELECT unnest([500000, 900000, 990000]) AS qppm), bounds
      |), est AS (
      |  SELECT qppm, r, b, cum_before,
      |    minc + b * w + ((r - cum_before) * w) // (cnt + 1) AS est_cents
      |  FROM qs JOIN hist ON cum >= r AND cum_before < r
      |), sel AS (
      |  SELECT e.qppm, c,
      |    row_number() OVER (PARTITION BY e.qppm ORDER BY c, o_orderkey) AS rkb,
      |    e.r - e.cum_before AS tgt
      |  FROM cents, bounds
      |  JOIN est e ON least(255, (c - minc) // w) = e.b
      |)
      |SELECT e.qppm, est_cents, s.c AS exact_cents,
      |  abs(est_cents - s.c) * 1000000 // greatest(1, s.c) AS err_ppm
      |FROM est e JOIN sel s ON e.qppm = s.qppm AND s.rkb = s.tgt
      |ORDER BY e.qppm""".stripMargin

  // ---------------------------------------------------------------- q151
  /** Date-partitioned store + partition-pruned scan — the first
    * physical-layout decision any 100 TB event lake makes: events
    * written ONCE partitioned by `event_date` (hive-style directory
    * per day), so a day-scoped query lists ONE directory instead of
    * scanning the corpus — pruning happens at file LISTING, before a
    * single row or footer is read, which is the difference between
    * touching 1/30th of the lake and touching all of it. The probe day
    * is data-derived (min date + 14) so the query scales with any
    * fixture span, and it is computed once AT STORE-BUILD TIME and
    * memoized alongside the path — min() over the store has no
    * metadata-only path, so probing per query would re-scan every
    * partition inside the very measurement meant to show a one-day
    * read;
    * LayoutSpec pins the mechanics: the scan's PartitionFilters are
    * non-empty and it reads only the one day's files. Like q134, the
    * one-off partitioned ingest is a [[Store]] that Bench times
    * separately — the write-time cost a lake pays once for every later
    * day-scoped read.
    *
    * The store returns (store path, probe day = min event date + 14). The probe
    * day is computed ONCE at store-build time — it is a property of
    * the ingested corpus, and deriving it inside q151 re-listed and
    * min-scanned every partition of the store on every timed run
    * (there is no metadata-only min() path), which diluted the
    * "day-scoped read lists one directory" measurement the query
    * exists to make. */
  val partStore = new Store[(String, java.sql.Date)]("partstore", "q151_partstore_build")((s, dir, base) => {
    import s.implicits._
    val path = base.toString
    val ev = Tables.events(s, dir).withColumn("event_date", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    val day0 = ev.agg(min($"event_date")).head.getDate(0) // build-time, once
    (path, java.sql.Date.valueOf(day0.toLocalDate.plusDays(14)))
  })

  def q151(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (path, day) = partStore(s, dir)
    val store = s.read.parquet(path)
    store.filter($"event_date" === lit(day))
      .groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n"), Det.moneySum($"value").as("sum_value"))
      .orderBy($"event_type")
  }
  private val q151Sql =
    s"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
       |  count(*) AS n, ${Det.sqlSum("value")} AS sum_value
       |FROM events
       |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) =
       |  (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) FROM events) + 14
       |GROUP BY 1, 2
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Incremental aggregate maintenance — the materialized-view ETL
    * pattern every warehouse runs nightly: a per-(day, event type)
    * aggregate table holds PARTIAL aggregates (count + exact decimal
    * sum — both mergeable by addition), built once up to a cutoff
    * (first 28 days, the artifact); the query ingests only the DELTA
    * (days after the cutoff, a ts range predicate pushed to the
    * parquet scan), merges it with the artifact by re-aggregating the
    * union, and emits the refreshed view. The DuckDB oracle computes
    * the FULL aggregate from raw events — hash equality IS the
    * incremental≡full proof, the invariant that licenses never
    * re-scanning history. The sum is carried as DECIMAL end-to-end
    * and rounded only at output, so merge order can't move an ULP.
    *
    * Scale shape: per-ingest cost is the delta scan (range-pruned at
    * the reader) plus a |days × types|-row merge — independent of
    * history length; the artifact build (one full scan) is the
    * one-off Bench times separately (q153_aggstore_build). */
  private val AggCutoffDays = 27L // artifact covers min_date .. min_date+27

  /** q153's materialized history aggregate is nightly ETL's one full
    * scan, paid once; timed q153 runs measure the delta merge only. */
  val aggStore = new Store[String]("aggstore", "q153_aggstore_build")((s, dir, base) => {
    import s.implicits._
    val path = base.toString
    val ev = Tables.events(s, dir)
    val day0 = ev.agg(min(to_date($"ts"))).head.getDate(0) // 1-row planning probe
    val hist = java.sql.Timestamp.valueOf(
      day0.toLocalDate.plusDays(AggCutoffDays + 1).atStartOfDay)
    ev.filter($"ts" < lit(hist)) // history side: everything before the cutoff midnight
      .groupBy(to_date($"ts").as("event_date"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,6)")).as("sum_dec"))
      .write.mode("overwrite").parquet(path)
    path
  })

  def q153(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = s.read.parquet(aggStore(s, dir))
    // the cutoff is a property OF THE ARTIFACT (its max day) — a 1-row
    // probe over the small aggregate table, never the raw events
    val cutoff = base.agg(max($"event_date")).head.getDate(0)
    val since = java.sql.Timestamp.valueOf(cutoff.toLocalDate.plusDays(1).atStartOfDay)
    val delta = Tables.events(s, dir)
      .filter($"ts" >= lit(since)) // plain ts range → parquet PushedFilters
      .groupBy(to_date($"ts").as("event_date"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,6)")).as("sum_dec"))
    base.unionByName(delta)
      .groupBy($"event_date", $"event_type")
      .agg(sum($"n").as("n"),
        round(sum($"sum_dec").cast("double"), 4).as("sum_value"))
      .orderBy($"event_date", $"event_type")
  }
  private val q153Sql =
    s"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
       |  count(*) AS n, ${Det.sqlSum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY event_date, event_type""".stripMargin

  // ---------------------------------------------------------------- q149
  /** GROUPED histogram quantile sketch — q137 with a group key, the
    * form a warehouse actually serves ("p50/p90/p99 revenue per
    * priority tier"): per-group equi-width 256-bucket histograms over
    * per-group data-derived bounds, mergeable by addition, quantiles
    * by the same deterministic integer interpolation, each beside its
    * TRUE per-group nearest-rank value and error ppm. The trap this
    * shape avoids: o_orderpriority is a MODAL key (5 values), so the
    * naive exact form — a window sorted per priority — funnels N/5
    * rows through single tasks; here the sketch is |groups|·256 rows,
    * its cum window runs over 256-row group partitions, and even the
    * exact calibration ranks only each target's covering (group,
    * bucket) slice (~N/(|groups|·256) rows), the q137 distributed-
    * selection discipline applied per group. */
  def q149(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = ScratchCache.persist(Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority".as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c")))
    groupedQuantileCore(cents)
  }

  /** q149's algorithm over any (o_orderkey, g, c) frame — split out so
    * SkewStressSpec can drive it with a ~10⁶-group key: every window
    * here partitions by g (≤256 rows per partition) and the exact
    * calibration ranks only covering-bucket slices, so per-task memory
    * is bounded by the BUCKET width, never the group count or group
    * size. */
  private[graft] def groupedQuantileCore(cents: DataFrame): DataFrame = {
    import cents.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val bounds = cents.groupBy($"g").agg(
      min($"c").as("minc"), max($"c").as("maxc"), count(lit(1)).as("n"))
      .withColumn("w", expr("greatest(1L, (maxc - minc) DIV 256 + 1)"))
    val hist = cents.join(broadcast(bounds), "g")
      .groupBy($"g", expr("least(255L, (c - minc) DIV w)").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(
        Window.partitionBy($"g").orderBy($"b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_before", $"cum" - $"cnt")
    val qs = bounds
      .select($"g", $"n", $"minc", $"w",
        explode(expr("array(500000L, 900000L, 990000L)")).as("qppm"))
      .withColumn("r", expr("(n * qppm + 999999) DIV 1000000"))
    val est = qs.join(broadcast(hist),
        qs("g") === hist("g") && $"cum" >= $"r" && $"cum_before" < $"r")
      .select(qs("g").as("g"), $"qppm", $"r", $"b", $"cum_before", $"cnt",
        $"minc", $"w")
      .withColumn("est_cents",
        expr("minc + b * w + ((r - cum_before) * w) DIV (cnt + 1)"))
      .select($"g", $"qppm", $"r", $"b", $"cum_before", $"est_cents")
    val exact = cents.join(broadcast(bounds), "g")
      .withColumn("cb", expr("least(255L, (c - minc) DIV w)"))
      .join(broadcast(est.select($"g".as("eg"), $"qppm".as("eq"),
          $"r", $"cum_before", $"b")),
        $"g" === $"eg" && $"cb" === $"b")
      .withColumn("rkb", row_number().over(
        Window.partitionBy($"eg", $"eq").orderBy($"c", $"o_orderkey")))
      .filter($"rkb" === $"r" - $"cum_before")
      .select($"eg", $"eq", $"c")
    est.join(broadcast(exact), $"g" === $"eg" && $"qppm" === $"eq")
      .select($"g".as("priority"), $"qppm", $"est_cents", $"c".as("exact_cents"),
        expr("abs(est_cents - c) * 1000000 DIV greatest(1L, c)").as("err_ppm"))
      .orderBy($"priority", $"qppm")
  }
  /** q149's DuckDB twin parameterized by the (o_orderkey, g, c) input
    * CTE and the output aliases — so any grouped value distribution
    * gets the same sketch-and-calibrate oracle (q149 over order
    * prices, q168 over document lengths). */
  private def groupedQuantileSqlFrom(centsSql: String, gName: String,
                                     valName: String): String =
    s"""WITH cents AS (
      |$centsSql
      |), bounds AS (
      |  SELECT g, min(c) AS minc, max(c) AS maxc, CAST(count(*) AS BIGINT) AS n,
      |    greatest(1, (max(c) - min(c)) // 256 + 1) AS w
      |  FROM cents GROUP BY g
      |), hist0 AS (
      |  SELECT cents.g, least(255, (c - minc) // w) AS b, CAST(count(*) AS BIGINT) AS cnt
      |  FROM cents JOIN bounds ON cents.g = bounds.g GROUP BY 1, 2
      |), hist AS (
      |  SELECT g, b, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY b) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY b) AS BIGINT) - cnt AS cum_before
      |  FROM hist0
      |), qs AS (
      |  SELECT g, qppm, (n * qppm + 999999) // 1000000 AS r, minc, w
      |  FROM bounds, (SELECT unnest([500000, 900000, 990000]) AS qppm)
      |), est AS (
      |  SELECT qs.g, qppm, r, b, cum_before,
      |    minc + b * w + ((r - cum_before) * w) // (cnt + 1) AS est_cents
      |  FROM qs JOIN hist ON qs.g = hist.g AND cum >= r AND cum_before < r
      |), sel AS (
      |  SELECT e.g, e.qppm, c,
      |    row_number() OVER (PARTITION BY e.g, e.qppm ORDER BY c, o_orderkey) AS rkb,
      |    e.r - e.cum_before AS tgt
      |  FROM cents JOIN bounds ON cents.g = bounds.g
      |  JOIN est e ON cents.g = e.g AND least(255, (c - minc) // w) = e.b
      |)
      |SELECT e.g AS $gName, e.qppm, est_cents AS est_$valName,
      |  s.c AS exact_$valName,
      |  abs(est_cents - s.c) * 1000000 // greatest(1, s.c) AS err_ppm
      |FROM est e JOIN sel s ON e.g = s.g AND e.qppm = s.qppm AND s.rkb = s.tgt
      |ORDER BY $gName, e.qppm""".stripMargin

  private val q149Sql = groupedQuantileSqlFrom(
    """  SELECT o_orderkey, o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders""".stripMargin, "priority", "cents")

  // ---------------------------------------------------------------- q141
  /** CDC merge-on-read upsert view — the lakehouse write-path
    * semantics (Hudi/Delta/Iceberg MOR): a base snapshot overlaid with
    * a change log of upserts and delete tombstones, resolved at read
    * time as latest-version-wins per key. The change log is
    * SYNTHESIZED deterministically from orders (md5-carved: hex
    * digits 0–3 of the key hash → version-2 price update, digit 4 →
    * tombstone), so both engines replay the identical log and the
    * merged view is hash-checkable.
    *
    * Scale shape: the resolve is ONE window over the per-key
    * base∪log rows — keys are order ids (high cardinality, ≤ 1 + log
    * entries per key), never a modal partition — and `rn = 1` is
    * map-side-limited by WindowGroupLimit before the shuffle. The
    * report aggregates the merged view per priority: live rows,
    * exact-decimal revenue, how many live rows are version-2, and how
    * many base rows the tombstones removed. */
  def q141(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority",
        $"o_totalprice".cast("decimal(18,2)").as("price"))
      .withColumn("sel", substring(md5(concat(lit("cdc|"), $"o_orderkey".cast("string"))), 1, 1))
    val snapshot = base.select($"o_orderkey", $"o_orderpriority", $"price",
      lit(1L).as("version"), lit("upsert").as("op"))
    val updates = base.filter($"sel".isin("0", "1", "2", "3"))
      .select($"o_orderkey", $"o_orderpriority",
        ($"price" + lit(java.math.BigDecimal.ONE)).cast("decimal(18,2)").as("price"),
        lit(2L).as("version"), lit("upsert").as("op"))
    val deletes = base.filter($"sel" === "4")
      .select($"o_orderkey", $"o_orderpriority", $"price",
        lit(2L).as("version"), lit("delete").as("op"))
    val merged = snapshot.unionByName(updates).unionByName(deletes)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_orderkey").orderBy($"version".desc)))
      .filter($"rn" === 1)
    merged.groupBy($"o_orderpriority")
      .agg(
        sum(when($"op" === "upsert", 1L).otherwise(0L)).as("n_live"),
        round(sum(when($"op" === "upsert", $"price").otherwise(lit(0)))
          .cast("double"), 2).as("revenue"),
        sum(when($"op" === "upsert" && $"version" === 2L, 1L).otherwise(0L)).as("n_updated"),
        sum(when($"op" === "delete", 1L).otherwise(0L)).as("n_deleted"))
      .orderBy($"o_orderpriority")
  }
  private val q141Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    substring(md5(concat('cdc|', CAST(o_orderkey AS VARCHAR))), 1, 1) AS sel
      |  FROM orders
      |), log AS (
      |  SELECT o_orderkey, o_orderpriority, price, 1 AS version, 'upsert' AS op FROM base
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(price + 1 AS DECIMAL(18,2)), 2, 'upsert'
      |  FROM base WHERE sel IN ('0', '1', '2', '3')
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, price, 2, 'delete'
      |  FROM base WHERE sel = '4'
      |), merged AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      |    FROM log
      |  ) WHERE rn = 1
      |)
      |SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN op = 'upsert' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |  round(CAST(sum(CASE WHEN op = 'upsert' THEN price ELSE 0 END) AS DOUBLE), 2) AS revenue,
      |  CAST(sum(CASE WHEN op = 'upsert' AND version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |  CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Schema-evolution-tolerant scan — the long-lived-table reality
    * that a 100 TB corpus is written over years by evolving jobs: an
    * "old vintage" parquet file (no `o_channel` column) and a "new
    * vintage" file (with it) are read as ONE table via mergeSchema;
    * old rows surface NULL for the added column and the query maps
    * them to 'legacy'. The two vintages are carved deterministically
    * from orders (md5 hex digit of the key: 0–7 old, 8–f new with a
    * derived channel), so the DuckDB oracle recomputes the SAME values
    * from the base table — the mergeSchema MECHANICS (unified schema,
    * null back-fill) are LayoutSpec's job, the values are the
    * oracle's. */
  val evoStore = new Store[(String, String)]("evostore", "q142_evostore_build")((s, dir, base) => {
    import s.implicits._
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority",
        $"o_totalprice".cast("decimal(18,2)").as("price"))
      .withColumn("sel", expr(
        "substring(md5(concat('evo|', CAST(o_orderkey AS STRING))), 1, 1)"))
    val oldPath = base.resolve("v1").toString
    val newPath = base.resolve("v2").toString
    orders.filter(!$"sel".isin("8", "9", "a", "b", "c", "d", "e", "f"))
      .select($"o_orderkey", $"o_orderpriority", $"price")
      .write.mode("overwrite").parquet(oldPath)
    orders.filter($"sel".isin("8", "9", "a", "b", "c", "d", "e", "f"))
      .select($"o_orderkey", $"o_orderpriority", $"price",
        when($"sel".isin("8", "9", "a", "b"), "web").otherwise("store").as("o_channel"))
      .write.mode("overwrite").parquet(newPath)
    (oldPath, newPath)
  })

  def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (oldPath, newPath) = evoStore(s, dir)
    s.read.option("mergeSchema", "true").parquet(oldPath, newPath)
      .withColumn("channel", coalesce($"o_channel", lit("legacy")))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n"),
        round(sum($"price").cast("double"), 2).as("revenue"))
      .orderBy($"channel")
  }
  private val q142Sql =
    """WITH t AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    substring(md5(concat('evo|', CAST(o_orderkey AS VARCHAR))), 1, 1) AS sel
      |  FROM orders
      |)
      |SELECT CASE WHEN sel IN ('8', '9', 'a', 'b') THEN 'web'
      |            WHEN sel IN ('c', 'd', 'e', 'f') THEN 'store'
      |            ELSE 'legacy' END AS channel,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(price) AS DOUBLE), 2) AS revenue
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q166
  /** ORC lake interop — the second columnar format a lakehouse
    * actually holds (Hive-era tables are overwhelmingly ORC): orders
    * written ONCE to an ORC store (memoized + Bench-timed separately
    * as q166_orcstore_build), then a selective aggregate reads it
    * back. The query proves the full storage round-trip — doubles
    * survive ORC encode/decode bit-for-bit into the same exact-
    * decimal sums the parquet path produces (oracle recomputes from
    * the base table) — and LayoutSpec pins the scan-side contract:
    * the price predicate reaches the ORC reader (PushedFilters) and
    * ReadSchema carries only the three touched columns, the same
    * pruning discipline the parquet scans are held to. */
  /** q166's ORC lake table is the write-once format conversion; timed
    * q166 runs measure the selective ORC read. */
  val orcStore = new Store[String]("orcstore", "q166_orcstore_build")((s, dir, path) => {
    Tables.orders(s, dir).write.mode("overwrite").orc(path.toString)
    path.toString
  })

  private def q166(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.orc(orcStore(s, dir))
      .filter($"o_totalprice" > 150000.0)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        Det.moneySum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }
  private val q166Sql =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlSum("o_totalprice")} AS revenue
       |FROM orders WHERE o_totalprice > 150000.0
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q168
  /** Per-SOURCE document-length quantiles — the corpus-datasheet stat
    * every data card publishes (how long are this feed's documents at
    * p50/p90/p99), served by the SAME grouped sketch-and-calibrate
    * core as q149: per-source 256-bucket mergeable histograms, exact
    * nearest-rank calibration by distributed selection. One
    * parameterization of [[groupedQuantileCore]] /
    * [[groupedQuantileSqlFrom]] — the point is that the sketch is a
    * reusable OPERATOR, not a one-off query (SkewStressSpec already
    * pins its ~10⁶-group end). */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = ScratchCache.persist(Tables.documents(s, dir)
      .selectExpr("doc_id AS o_orderkey", "source AS g", "n_chars AS c"))
    groupedQuantileCore(cents)
      .withColumnRenamed("priority", "source")
      .withColumnRenamed("est_cents", "est_chars")
      .withColumnRenamed("exact_cents", "exact_chars")
  }
  private val q168Sql = groupedQuantileSqlFrom(
    "  SELECT doc_id AS o_orderkey, source AS g, n_chars AS c FROM documents",
    "source", "chars")

  // ---------------------------------------------------------------- q180
  /** Corpus reproducibility manifest — the cross-run content fingerprint
    * a training-data platform publishes with every snapshot so a rerun
    * (or a downstream consumer) can prove it read EXACTLY the same
    * corpus: per source, a two-level merkle digest over document
    * content. Level 1 buckets docs by doc_id%256 and digests each
    * bucket's SORTED doc-md5 list; level 2 digests the sorted bucket
    * digests into one root per source. Sorted-set semantics make the
    * root invariant to partitioning, file order, and row order — the
    * property that makes it a reproducibility artifact rather than a
    * layout checksum (ManifestSpec pins shuffle-invariance and
    * single-character sensitivity).
    *
    * Scale shape: only 32-char digests ever shuffle (never text); the
    * level-1 collect_list is bounded by one bucket (~n_source/256
    * digests) and level 2 by 256 digests per source — both capped
    * state, two digest-width exchanges total. At 100 TB the manifest
    * costs one pass over the corpus plus digest-sized aggregation. */
  private[layout] val ManifestBuckets = 256L
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    manifestOf(Tables.documents(s, dir))
  }
  /** Core over a (source, doc_id, text, n_chars) frame — package-
    * private for ManifestSpec's invariance/sensitivity fixtures. */
  private[layout] def manifestOf(docs: DataFrame): DataFrame = {
    val leaf = docs
      .select(col("source"), pmod(col("doc_id"), lit(ManifestBuckets)).as("bucket"),
        col("n_chars"), md5(col("text")).as("doc_md5"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("ch"),
        md5(concat_ws("", sort_array(collect_list(col("doc_md5"))))).as("leaf_md5"))
    leaf.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"), sum(col("ch")).as("total_chars"),
        count(lit(1)).as("n_buckets"),
        md5(concat_ws("", sort_array(collect_list(col("leaf_md5"))))).as("root_md5"))
      .orderBy(col("source"))
  }
  private val q180Sql =
    s"""WITH leaf AS (
       |  SELECT source, doc_id % $ManifestBuckets AS bucket,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS ch,
       |    md5(string_agg(md5(text), '' ORDER BY md5(text))) AS leaf_md5
       |  FROM documents GROUP BY 1, 2
       |)
       |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(sum(ch) AS BIGINT) AS total_chars,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  md5(string_agg(leaf_md5, '' ORDER BY leaf_md5)) AS root_md5
       |FROM leaf GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q185
  /** Incremental manifest maintenance — the follow-up that makes q180's
    * reproducibility artifact cheap to keep fresh: when a delta batch
    * arrives, only the (source, bucket) leaf cells the delta TOUCHES
    * are recomputed (from base+delta docs of those cells); every other
    * leaf digest is spliced through unchanged from the stored manifest,
    * and the per-source root is re-derived from the spliced leaf set.
    * The query runs both paths — splice and full recompute — and
    * proves them root-identical, alongside the touched/total bucket
    * counts that quantify the saving. Delta here is the doc_id%7==0
    * slice standing in for "today's crawl"; at 100 TB the base leaves
    * are a persisted ~(sources×256)-row artifact (the q94 sigstore
    * discipline) and maintenance cost is ∝ delta + touched cells, not
    * corpus.
    *
    * Scale shape: same digest-only exchanges as q180; the splice adds
    * one anti-join and one semi-join on (source, bucket) — a ≤
    * 256·|sources|-row key space. */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("text"))
    incrementalManifestOf(
      docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L),
      docs.filter(pmod(col("doc_id"), lit(7L)) === 0L))
  }
  /** Core over (source, doc_id, text) base/delta frames — package-
    * private for ManifestSpec's touched/new-bucket/new-source
    * fixtures. */
  private[layout] def incrementalManifestOf(base: DataFrame, delta: DataFrame): DataFrame = {
    def keyed(d: DataFrame) = d.select(col("source"),
      pmod(col("doc_id"), lit(ManifestBuckets)).as("bucket"),
      md5(col("text")).as("doc_md5"))
    def leavesOf(d: DataFrame) = d.groupBy(col("source"), col("bucket"))
      .agg(md5(concat_ws("", sort_array(collect_list(col("doc_md5"))))).as("leaf_md5"))
    def rootOf(leaves: DataFrame, rootCol: String) = leaves.groupBy(col("source"))
      .agg(count(lit(1)).as(rootCol + "_nb"),
        md5(concat_ws("", sort_array(collect_list(col("leaf_md5"))))).as(rootCol))
    val baseK = keyed(base)
    val deltaK = keyed(delta)
    val allK = baseK.unionByName(deltaK)
    val touched = deltaK.select(col("source"), col("bucket")).distinct()
    val recomputed = leavesOf(allK.join(touched, Seq("source", "bucket"), "left_semi"))
    val untouched = leavesOf(baseK).join(touched, Seq("source", "bucket"), "left_anti")
    val inc = rootOf(untouched.unionByName(recomputed), "root_incremental")
    val full = rootOf(leavesOf(allK), "root_full")
    val tc = touched.groupBy(col("source")).agg(count(lit(1)).as("n_touched"))
    inc.join(full, "source").join(tc, Seq("source"), "left")
      .select(col("source"),
        col("root_incremental_nb").as("n_buckets"),
        coalesce(col("n_touched"), lit(0L)).as("n_touched"),
        col("root_incremental"), col("root_full"),
        when(col("root_incremental") === col("root_full"), 1L).otherwise(0L)
          .as("roots_match"))
      .orderBy(col("source"))
  }
  private val q185Sql =
    s"""WITH docs AS (
       |  SELECT source, doc_id, md5(text) AS doc_md5,
       |    doc_id % $ManifestBuckets AS bucket
       |  FROM documents
       |),
       |base AS (SELECT * FROM docs WHERE doc_id % 7 <> 0),
       |delta AS (SELECT * FROM docs WHERE doc_id % 7 = 0),
       |base_leaves AS (
       |  SELECT source, bucket, md5(string_agg(doc_md5, '' ORDER BY doc_md5)) AS leaf_md5
       |  FROM base GROUP BY 1, 2
       |),
       |touched AS (SELECT DISTINCT source, bucket FROM delta),
       |recomputed AS (
       |  SELECT d.source, d.bucket, md5(string_agg(doc_md5, '' ORDER BY doc_md5)) AS leaf_md5
       |  FROM docs d JOIN touched t ON d.source = t.source AND d.bucket = t.bucket
       |  GROUP BY 1, 2
       |),
       |untouched AS (
       |  SELECT b.* FROM base_leaves b
       |  ANTI JOIN touched t ON b.source = t.source AND b.bucket = t.bucket
       |),
       |spliced AS (SELECT * FROM untouched UNION ALL SELECT * FROM recomputed),
       |inc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_buckets,
       |    md5(string_agg(leaf_md5, '' ORDER BY leaf_md5)) AS root_incremental
       |  FROM spliced GROUP BY 1
       |),
       |full_leaves AS (
       |  SELECT source, bucket, md5(string_agg(doc_md5, '' ORDER BY doc_md5)) AS leaf_md5
       |  FROM docs GROUP BY 1, 2
       |),
       |fullm AS (
       |  SELECT source, md5(string_agg(leaf_md5, '' ORDER BY leaf_md5)) AS root_full
       |  FROM full_leaves GROUP BY 1
       |),
       |tc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_touched FROM touched GROUP BY 1)
       |SELECT i.source, n_buckets, coalesce(n_touched, 0) AS n_touched,
       |  root_incremental, root_full,
       |  CAST(CASE WHEN root_incremental = root_full THEN 1 ELSE 0 END AS BIGINT) AS roots_match
       |FROM inc i JOIN fullm USING (source) LEFT JOIN tc USING (source)
       |ORDER BY i.source""".stripMargin

  // ---------------------------------------------------------------- q187
  /** Distribution drift monitor — the gate a platform runs on an
    * incoming batch BEFORE admitting it: per source, compare the
    * incoming slice's document-length distribution against the
    * corpus baseline over exact power-of-two buckets (bit-length of
    * n_chars — q85's idiom) and report the max per-bucket ppm shift
    * plus a χ²-shaped divergence statistic, all in exact integer
    * arithmetic (expected counts cross-multiplied — e = b·D·1000 DIV B
    * — and one integer division per bucket; values fit int64 while
    * per-source slice counts stay under ~10⁶ — the 100 TB swap is
    * DECIMAL(38,0) accumulation, q115's discipline). A PSI/KL form
    * would need transcendental logs that don't hash-match across
    * engines; the χ² numerator ranks drift identically for the
    * admit/hold decision. Baseline = doc_id%7≠0, incoming = %7==0 —
    * the same slice convention as q185, so the two read as one
    * "nightly batch" storyline. The fixture slices are i.i.d. →
    * drifted=0 everywhere (oracle-checked zeros); DriftSpec plants a
    * length-regime shift and pins the verdict flip.
    *
    * Scale shape: one (source, bucket) aggregate per slice (map-side
    * combined), a full-outer merge on ≤ |sources|·~40 bucket rows,
    * then a |sources|-row rollup. */
  private[layout] val DriftPpmGate = 100000L
  /** A ppm gate on a handful of docs is all noise — real monitors hold
    * the verdict until the incoming slice has a minimum sample. */
  private[layout] val DriftMinDeltaDocs = 20L
  private[layout] def driftMonitorOf(base: DataFrame, delta: DataFrame): DataFrame = {
    def hist(d: DataFrame, cnt: String) = d
      .select(col("source"), length(bin(col("n_chars"))).cast("long").as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as(cnt))
    val merged = hist(base, "b_cnt").join(hist(delta, "d_cnt"),
        Seq("source", "bucket"), "full_outer")
      .na.fill(0L, Seq("b_cnt", "d_cnt"))
    val tot = merged.groupBy(col("source"))
      .agg(sum(col("b_cnt")).as("n_base"), sum(col("d_cnt")).as("n_delta"))
    merged.join(tot, "source")
      .withColumn("ppm_delta", expr(
        "abs(CASE WHEN n_delta = 0 THEN 0 ELSE d_cnt * 1000000 DIV n_delta END" +
        " - CASE WHEN n_base = 0 THEN 0 ELSE b_cnt * 1000000 DIV n_base END)"))
      .withColumn("e_milli", expr(
        "CASE WHEN n_base = 0 THEN d_cnt * 1000 ELSE b_cnt * n_delta * 1000 DIV n_base END"))
      .withColumn("chi2_term", expr(
        "(d_cnt * 1000 - e_milli) * (d_cnt * 1000 - e_milli) DIV greatest(e_milli, 1)"))
      .groupBy(col("source"))
      .agg(max(col("n_base")).as("n_base"), max(col("n_delta")).as("n_delta"),
        count(lit(1)).as("n_buckets"),
        max(col("ppm_delta")).as("max_abs_ppm_delta"),
        sum(col("chi2_term")).as("chi2_milli"))
      .withColumn("drifted",
        when(col("max_abs_ppm_delta") >= DriftPpmGate &&
          col("n_delta") >= DriftMinDeltaDocs, 1L).otherwise(0L))
      .orderBy(col("source"))
  }
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"), col("n_chars"))
    driftMonitorOf(
      docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L),
      docs.filter(pmod(col("doc_id"), lit(7L)) === 0L))
  }
  private val q187Sql =
    s"""WITH docs AS (
       |  SELECT source, doc_id, CAST(length(bin(n_chars)) AS BIGINT) AS bucket
       |  FROM documents
       |),
       |b AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS b_cnt
       |      FROM docs WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
       |d AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS d_cnt
       |      FROM docs WHERE doc_id % 7 = 0 GROUP BY 1, 2),
       |m AS (
       |  SELECT coalesce(b.source, d.source) AS source,
       |    coalesce(b.bucket, d.bucket) AS bucket,
       |    coalesce(b_cnt, 0) AS b_cnt, coalesce(d_cnt, 0) AS d_cnt
       |  FROM b FULL OUTER JOIN d ON b.source = d.source AND b.bucket = d.bucket
       |),
       |t AS (
       |  SELECT source, CAST(sum(b_cnt) AS BIGINT) AS n_base,
       |    CAST(sum(d_cnt) AS BIGINT) AS n_delta
       |  FROM m GROUP BY 1
       |),
       |x AS (
       |  SELECT m.source, b_cnt, d_cnt, n_base, n_delta,
       |    abs(CASE WHEN n_delta = 0 THEN 0 ELSE d_cnt * 1000000 // n_delta END
       |      - CASE WHEN n_base = 0 THEN 0 ELSE b_cnt * 1000000 // n_base END) AS ppm_delta,
       |    CASE WHEN n_base = 0 THEN d_cnt * 1000
       |         ELSE b_cnt * n_delta * 1000 // n_base END AS e_milli
       |  FROM m JOIN t ON m.source = t.source
       |)
       |SELECT source, max(n_base) AS n_base, max(n_delta) AS n_delta,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(max(ppm_delta) AS BIGINT) AS max_abs_ppm_delta,
       |  CAST(sum((d_cnt * 1000 - e_milli) * (d_cnt * 1000 - e_milli)
       |           // greatest(e_milli, 1)) AS BIGINT) AS chi2_milli,
       |  CAST(CASE WHEN max(ppm_delta) >= $DriftPpmGate
       |            AND max(n_delta) >= $DriftMinDeltaDocs THEN 1 ELSE 0 END AS BIGINT) AS drifted
       |FROM x GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q215
  /** Output SHARD PLAN audit — the balance preview run before a
    * repartition-and-write lands 100 TB into K output shards: docs are
    * assigned by a content-independent hash of the stable id (first
    * md5 hex nibble → K = 16 shards, the same family a real writer's
    * `repartition(K, hash(id))` uses), and the plan reports per shard
    * the doc/byte/token mass plus its byte mass as a ×K ppm of the
    * corpus (1,000,000 = perfectly balanced). A shard sitting at 1.3M
    * ppm is the straggler task and the oversized output file; this
    * table is how you catch it BEFORE the write, when re-keying is
    * still free.
    *
    * Scale shape: the hash, byte and token counts are computed
    * MAP-SIDE on the scan; ONE 16-cell (shard) exchange with O(1) sum
    * state, plus a broadcast single-row total. Byte arithmetic runs
    * octet_length(encode(text)) on BOTH engines (the q212 rule).
    *
    * Headroom: `n_bytes * 16 * 1e6` is BIGINT — exact while a shard
    * holds < 2^63/1.6e7 ≈ 5.8e11 bytes (~0.58 TB/shard; ~9 TB corpus
    * at K=16). Spark would WRAP silently past that where DuckDB
    * errors, so the 100 TB path widens the product to
    * DECIMAL(38,0)/HUGEINT before the multiply (q214's discipline) —
    * same plan, one cast. */
  private val ShardK = 16
  private def q215(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .selectExpr("substring(md5(CAST(doc_id AS STRING)), 1, 1) AS shard",
        "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT) AS nb",
        s"CAST(size(${graft.text.TextQueries.toksExpr}) AS BIGINT) AS nt")
    val perShard = d.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"nb").as("n_bytes"),
        sum($"nt").as("n_tokens"))
    val total = perShard.agg(sum($"n_bytes").as("tb"))
    perShard.crossJoin(broadcast(total))
      .selectExpr("shard", "n_docs", "n_bytes", "n_tokens",
        s"CAST(n_bytes * $ShardK * 1000000 DIV tb AS BIGINT) AS bytes_x${ShardK}_ppm")
      .orderBy($"shard")
  }
  private lazy val q215Sql =
    s"""WITH d AS (
       |  SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
       |    octet_length(encode(text)) AS nb,
       |    len(${graft.text.TextQueries.toksSql}) AS nt
       |  FROM documents
       |), s AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nb) AS BIGINT) AS n_bytes, CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY shard
       |), t AS (SELECT sum(n_bytes) AS tb FROM s)
       |SELECT shard, n_docs, n_bytes, n_tokens,
       |  CAST(n_bytes * $ShardK * 1000000 // tb AS BIGINT) AS bytes_x${ShardK}_ppm
       |FROM s, t ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q217
  /** Column-statistics collection — the ANALYZE TABLE pass every
    * cost-based optimizer needs (row count, null count, exact NDV,
    * min/max per column) over lineitem's six representative columns,
    * emitted one row per column. These are the numbers that drive
    * join reordering, broadcast decisions and zone-map pruning; at
    * 100 TB you compute them in ONE scan or not at all.
    *
    * Scale shape: a single scan feeds every aggregate; the exact
    * multi-column count(DISTINCT) is Spark's Expand-based multi-
    * distinct plan (one Expand ×6 over the scan, then a two-phase
    * aggregate — the same plan ANALYZE TABLE ... FOR COLUMNS runs;
    * at 100 TB you'd flip the exact NDVs to HLL sketches and the rest
    * of the plan is unchanged). The result is ONE row unpivoted to 6
    * driver-tiny rows via stack(). Values are stringified for the
    * uniform stats-row schema: BIGINT-valued columns cast via BIGINT
    * (l_quantity is an integer-valued DOUBLE in this vintage, pinned
    * by ColumnStatsSpec), dates via CAST(ts AS DATE) — both engines
    * print identical canonical forms. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r21 (guide §2.3/§4): the single agg mixed SIX countDistincts with
    // plain min/max over STRING columns. The distinct rewrite then runs
    // its first-level aggregate grouped by (gid, value) with the
    // string-min/max buffers along for the ride — a non-mutable
    // aggregation buffer, which HashAggregateExec cannot host, so the
    // whole 7-projection Expand (7 × |lineitem| rows) fell into
    // SortAggregate: a full sort of the expanded fact table. Splitting
    // the plain aggregates (string buffers, but a GLOBAL agg — empty
    // grouping, so SortAggregate degenerates to one fold pass, no sort)
    // from the distinct-only aggregate (all-long buffers → two-phase
    // HashAggregate over the Expand) removes the sort entirely; the two
    // 1-row results meet in a trivial nested-loop join. Same aggregates
    // over the same rows — the oracle twin below is unchanged.
    // Measured: 9.2 s → see OPTIMIZATION_r21.md (plan diff:
    // SortAggregate ×2 over Expand → HashAggregate ×2).
    val li = Tables.lineitem(s, dir)
    val dist = li.agg(
      countDistinct($"l_orderkey").as("d1"),
      countDistinct($"l_linenumber").as("d2"),
      countDistinct($"l_quantity".cast("long")).as("d3"),
      countDistinct($"l_returnflag").as("d4"),
      countDistinct($"l_linestatus").as("d5"),
      countDistinct($"l_shipdate".cast("date")).as("d6"))
    val plain = li.agg(
      count(lit(1)).as("n_rows"),
      count($"l_orderkey").as("c1"),
      min($"l_orderkey").cast("string").as("mn1"), max($"l_orderkey").cast("string").as("mx1"),
      count($"l_linenumber").as("c2"),
      min($"l_linenumber").cast("string").as("mn2"), max($"l_linenumber").cast("string").as("mx2"),
      count($"l_quantity").as("c3"),
      min($"l_quantity".cast("long")).cast("string").as("mn3"), max($"l_quantity".cast("long")).cast("string").as("mx3"),
      count($"l_returnflag").as("c4"),
      min($"l_returnflag").as("mn4"), max($"l_returnflag").as("mx4"),
      count($"l_linestatus").as("c5"),
      min($"l_linestatus").as("mn5"), max($"l_linestatus").as("mx5"),
      count($"l_shipdate").as("c6"),
      min($"l_shipdate".cast("date")).cast("string").as("mn6"),
      max($"l_shipdate".cast("date")).cast("string").as("mx6"))
    val a = plain.crossJoin(dist)
    a.selectExpr("n_rows", s"""stack(6,
        |'l_orderkey',   c1, d1, mn1, mx1,
        |'l_linenumber', c2, d2, mn2, mx2,
        |'l_quantity',   c3, d3, mn3, mx3,
        |'l_returnflag', c4, d4, mn4, mx4,
        |'l_linestatus', c5, d5, mn5, mx5,
        |'l_shipdate',   c6, d6, mn6, mx6) AS (col, cnt, ndv, min_val, max_val)""".stripMargin)
      .selectExpr("col", "n_rows", "CAST(n_rows - cnt AS BIGINT) AS n_nulls",
        "CAST(ndv AS BIGINT) AS ndv", "min_val", "max_val")
      .orderBy($"col")
  }
  private val q217Sql =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |    count(l_orderkey) AS c1, count(DISTINCT l_orderkey) AS d1,
      |      CAST(min(l_orderkey) AS VARCHAR) AS mn1, CAST(max(l_orderkey) AS VARCHAR) AS mx1,
      |    count(l_linenumber) AS c2, count(DISTINCT l_linenumber) AS d2,
      |      CAST(min(l_linenumber) AS VARCHAR) AS mn2, CAST(max(l_linenumber) AS VARCHAR) AS mx2,
      |    count(l_quantity) AS c3, count(DISTINCT CAST(l_quantity AS BIGINT)) AS d3,
      |      CAST(min(CAST(l_quantity AS BIGINT)) AS VARCHAR) AS mn3, CAST(max(CAST(l_quantity AS BIGINT)) AS VARCHAR) AS mx3,
      |    count(l_returnflag) AS c4, count(DISTINCT l_returnflag) AS d4,
      |      min(l_returnflag) AS mn4, max(l_returnflag) AS mx4,
      |    count(l_linestatus) AS c5, count(DISTINCT l_linestatus) AS d5,
      |      min(l_linestatus) AS mn5, max(l_linestatus) AS mx5,
      |    count(l_shipdate) AS c6, count(DISTINCT CAST(l_shipdate AS DATE)) AS d6,
      |      CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mn6, CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mx6
      |  FROM lineitem
      |)
      |SELECT col, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_rows - cnt AS BIGINT) AS n_nulls,
      |  CAST(ndv AS BIGINT) AS ndv, mn AS min_val, mx AS max_val
      |FROM (
      |  SELECT n_rows, 'l_orderkey' AS col, c1 AS cnt, d1 AS ndv, mn1 AS mn, mx1 AS mx FROM a
      |  UNION ALL SELECT n_rows, 'l_linenumber', c2, d2, mn2, mx2 FROM a
      |  UNION ALL SELECT n_rows, 'l_quantity', c3, d3, mn3, mx3 FROM a
      |  UNION ALL SELECT n_rows, 'l_returnflag', c4, d4, mn4, mx4 FROM a
      |  UNION ALL SELECT n_rows, 'l_linestatus', c5, d5, mn5, mx5 FROM a
      |  UNION ALL SELECT n_rows, 'l_shipdate', c6, d6, mn6, mx6 FROM a
      |) ORDER BY col""".stripMargin

  // ---------------------------------------------------------------- q224
  /** PARTITION-KEY choice audit — q215 asks "is THIS key balanced";
    * this compares the CANDIDATE keys side by side before a table's
    * partitioning/bucketing column is chosen: for each candidate
    * (id-hash nibble, source, lang) the cell count, the heaviest
    * cell's doc and ppm mass, and imbalance as ×1000 of that key's
    * balanced ideal (1000 = uniform). The id-hash row is the control —
    * uniform by construction; a natural key whose imbalance reads
    * 5000 means its hottest partition runs 5× the mean task time and
    * writes a 5× file, the number that disqualifies `lang` as a
    * partition column long before a 100 TB rewrite finds out.
    *
    * Scale shape: all three keys are evaluated in ONE scan via an
    * explode of three (key_name, cell) tags per row (3× map-side row
    * expansion, no extra scans); one (key, cell) map-side-combined
    * exchange; per-key max/count aggregates over the tiny cell frame. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tagged = Tables.documents(s, dir)
      .selectExpr("""explode(array(
        |  named_struct('key_name', 'id_hash16', 'cell', substring(md5(CAST(doc_id AS STRING)), 1, 1)),
        |  named_struct('key_name', 'source',    'cell', source),
        |  named_struct('key_name', 'lang',      'cell', lang))) AS t""".stripMargin)
      .select($"t.key_name", $"t.cell")
    val cells = tagged.groupBy($"key_name", $"cell").agg(count(lit(1)).as("n_docs"))
    cells.groupBy($"key_name")
      .agg(count(lit(1)).as("n_cells"), sum($"n_docs").as("n_all"),
        max($"n_docs").as("max_cell_docs"))
      .selectExpr("key_name", "n_cells", "max_cell_docs",
        "CAST(max_cell_docs * 1000000 DIV n_all AS BIGINT) AS max_cell_ppm",
        "CAST(max_cell_docs * n_cells * 1000 DIV n_all AS BIGINT) AS imbalance_x1000")
      .orderBy($"key_name")
  }
  private val q224Sql =
    """WITH tagged AS (
      |  SELECT 'id_hash16' AS key_name, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS cell FROM documents
      |  UNION ALL SELECT 'source', source FROM documents
      |  UNION ALL SELECT 'lang', lang FROM documents
      |), cells AS (
      |  SELECT key_name, cell, count(*) AS n_docs FROM tagged GROUP BY key_name, cell
      |)
      |SELECT key_name, CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(max(n_docs) AS BIGINT) AS max_cell_docs,
      |  CAST(max(n_docs) * 1000000 // sum(n_docs) AS BIGINT) AS max_cell_ppm,
      |  CAST(max(n_docs) * count(*) * 1000 // sum(n_docs) AS BIGINT) AS imbalance_x1000
      |FROM cells GROUP BY key_name
      |ORDER BY key_name""".stripMargin

  // ---------------------------------------------------------------- q226
  /** JOIN-CARDINALITY estimate audit — q217's stats put to work: for
    * each join, the textbook CBO estimate |A|·|B| / max(ndv_A, ndv_B)
    * against the EXACT cardinality, with the error in ppm. The three
    * FK joins are the calibration rows (uniform FK distributions →
    * the estimator is exact, err 0 — the case a CBO is trusted on);
    * the fourth row is the PLANTED failure: a derived key
    * least(l_orderkey % 100, 9) concentrates ~91% of rows on one
    * value, and the independence/uniformity assumption under-estimates
    * the self-join by ~8× — the exact miss that motivates AQE's
    * runtime re-planning and q181's key profiler. Its true size
    * (~3·10⁹ at sf0.1) is computed as Σ count², never materialized —
    * also how you'd measure it at 100 TB.
    *
    * Scale shape: per-table stats are single-scan aggregates; the FK
    * actuals are the joins themselves (broadcast/SMJ as the planner
    * picks); the skew actual is one ≤100-cell count aggregate. Row
    * products ride DECIMAL(38,0)/HUGEINT so the arithmetic survives
    * corpus sizes whose products overflow int64. */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val prt = Tables.part(s, dir)
    val cst = Tables.customer(s, dir)
    def statsOf(df: DataFrame, key: String) =
      df.agg(count(lit(1)).as("rows"), countDistinct(col(key)).as("ndv"))
    def fkRow(name: String, a: DataFrame, ka: String, b: DataFrame, kb: String) = {
      val actual = a.join(b, a(ka) === b(kb)).agg(count(lit(1)).as("actual"))
      statsOf(a, ka).crossJoin(statsOf(b, kb).withColumnRenamed("rows", "rows_b")
          .withColumnRenamed("ndv", "ndv_b"))
        .crossJoin(actual)
        .selectExpr(s"'$name' AS join_name", "rows AS rows_a", "ndv AS ndv_a",
          "rows_b", "ndv_b", "actual")
    }
    val skewKey = "least(l_orderkey % 100, 9L)"
    val skewCells = li.selectExpr(s"$skewKey AS k").groupBy($"k")
      .agg(count(lit(1)).as("c"))
    val skewRow = statsOf(li.selectExpr(s"$skewKey AS sk"), "sk")
      .crossJoin(statsOf(li.selectExpr(s"$skewKey AS sk"), "sk")
        .withColumnRenamed("rows", "rows_b").withColumnRenamed("ndv", "ndv_b"))
      .crossJoin(skewCells.agg(
        sum($"c".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"c").as("actual")))
      .selectExpr("'skewed_self_mod100cap' AS join_name", "rows AS rows_a",
        "ndv AS ndv_a", "rows_b", "ndv_b", "CAST(actual AS BIGINT) AS actual")
    fkRow("lineitem_orders", li, "l_orderkey", ord, "o_orderkey")
      .union(fkRow("lineitem_part", li, "l_partkey", prt, "p_partkey"))
      .union(fkRow("orders_customer", ord, "o_custkey", cst, "c_custkey"))
      .union(skewRow)
      .selectExpr("join_name", "rows_a", "ndv_a", "rows_b", "ndv_b",
        """CAST(CAST(rows_a AS DECIMAL(38,0)) * rows_b
          |  DIV greatest(ndv_a, ndv_b) AS BIGINT) AS est_rows""".stripMargin,
        "CAST(actual AS BIGINT) AS actual_rows")
      .selectExpr("join_name", "rows_a", "ndv_a", "rows_b", "ndv_b", "est_rows",
        "actual_rows",
        """CAST(abs(CAST(est_rows AS DECIMAL(38,0)) - actual_rows) * 1000000
          |  DIV actual_rows AS BIGINT) AS err_ppm""".stripMargin)
      .orderBy($"join_name")
  }
  private val q226Sql =
    """WITH st AS (
      |  SELECT 'lineitem_orders' AS join_name,
      |    (SELECT count(*) FROM lineitem) AS rows_a, (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_a,
      |    (SELECT count(*) FROM orders) AS rows_b, (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_b,
      |    (SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual
      |  UNION ALL
      |  SELECT 'lineitem_part',
      |    (SELECT count(*) FROM lineitem), (SELECT count(DISTINCT l_partkey) FROM lineitem),
      |    (SELECT count(*) FROM part), (SELECT count(DISTINCT p_partkey) FROM part),
      |    (SELECT count(*) FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
      |  UNION ALL
      |  SELECT 'orders_customer',
      |    (SELECT count(*) FROM orders), (SELECT count(DISTINCT o_custkey) FROM orders),
      |    (SELECT count(*) FROM customer), (SELECT count(DISTINCT c_custkey) FROM customer),
      |    (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT 'skewed_self_mod100cap',
      |    (SELECT count(*) FROM lineitem), (SELECT count(DISTINCT least(l_orderkey % 100, 9)) FROM lineitem),
      |    (SELECT count(*) FROM lineitem), (SELECT count(DISTINCT least(l_orderkey % 100, 9)) FROM lineitem),
      |    (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) FROM (
      |       SELECT count(*) AS c FROM lineitem GROUP BY least(l_orderkey % 100, 9)))
      |)
      |SELECT join_name, CAST(rows_a AS BIGINT) AS rows_a, CAST(ndv_a AS BIGINT) AS ndv_a,
      |  CAST(rows_b AS BIGINT) AS rows_b, CAST(ndv_b AS BIGINT) AS ndv_b,
      |  CAST(CAST(rows_a AS HUGEINT) * rows_b // greatest(ndv_a, ndv_b) AS BIGINT) AS est_rows,
      |  CAST(actual AS BIGINT) AS actual_rows,
      |  CAST(abs(CAST(rows_a AS HUGEINT) * rows_b // greatest(ndv_a, ndv_b) - actual) * 1000000 // actual AS BIGINT) AS err_ppm
      |FROM st ORDER BY join_name""".stripMargin

  // ---------------------------------------------------------------- q238
  /** APPROXIMATE column statistics — the 100 TB form q217's scaladoc
    * promises: the same single-scan ANALYZE pass with the exact
    * multi-column count(DISTINCT) swapped for HLL++ sketches
    * (approx_count_distinct, rsd 0.05). The exact form pays Spark's
    * Expand-based multi-distinct plan — a ×6 row expansion of the
    * whole scan (q217 is the catalog's slowest query at 8–10 s for
    * exactly this reason); sketches collapse that to ONE pass with six
    * O(kB) accumulators and NO Expand (ApproxStatsSpec pins the plan
    * difference literally), which is the only shape that survives a
    * 100 TB ANALYZE.
    *
    * No DuckDB oracle BY DESIGN (q25's discipline): DuckDB's
    * approx_distinct is a different sketch, so the twin would compare
    * two unrelated estimators. Correctness evidence instead:
    * ApproxStatsSpec calibrates every ndv_approx against q217's exact
    * NDVs (small cardinalities exact via HLL++'s sparse mode, large
    * within the advertised rsd envelope) and the exact-row md5 twin is
    * q217 itself (n_rows/n_nulls/min/max identical by construction). */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      count($"l_orderkey").as("c1"), approx_count_distinct($"l_orderkey").as("d1"),
      min($"l_orderkey").cast("string").as("mn1"), max($"l_orderkey").cast("string").as("mx1"),
      count($"l_linenumber").as("c2"), approx_count_distinct($"l_linenumber").as("d2"),
      min($"l_linenumber").cast("string").as("mn2"), max($"l_linenumber").cast("string").as("mx2"),
      count($"l_quantity").as("c3"), approx_count_distinct($"l_quantity".cast("long")).as("d3"),
      min($"l_quantity".cast("long")).cast("string").as("mn3"), max($"l_quantity".cast("long")).cast("string").as("mx3"),
      count($"l_returnflag").as("c4"), approx_count_distinct($"l_returnflag").as("d4"),
      min($"l_returnflag").as("mn4"), max($"l_returnflag").as("mx4"),
      count($"l_linestatus").as("c5"), approx_count_distinct($"l_linestatus").as("d5"),
      min($"l_linestatus").as("mn5"), max($"l_linestatus").as("mx5"),
      count($"l_shipdate").as("c6"), approx_count_distinct($"l_shipdate".cast("date")).as("d6"),
      min($"l_shipdate".cast("date")).cast("string").as("mn6"),
      max($"l_shipdate".cast("date")).cast("string").as("mx6"))
    a.selectExpr("n_rows", s"""stack(6,
        |'l_orderkey',   c1, d1, mn1, mx1,
        |'l_linenumber', c2, d2, mn2, mx2,
        |'l_quantity',   c3, d3, mn3, mx3,
        |'l_returnflag', c4, d4, mn4, mx4,
        |'l_linestatus', c5, d5, mn5, mx5,
        |'l_shipdate',   c6, d6, mn6, mx6) AS (col, cnt, ndv_approx, min_val, max_val)""".stripMargin)
      .selectExpr("col", "n_rows", "CAST(n_rows - cnt AS BIGINT) AS n_nulls",
        "CAST(ndv_approx AS BIGINT) AS ndv_approx", "min_val", "max_val")
      .orderBy($"col")
  }

  val declared: Seq[Query] = Seq(
    Query("q238_column_stats_approx", q238, Oracle.Unverifiable(
      "UNVERIFIABLE BY DESIGN: approx_count_distinct is a HyperLogLog++ sketch whose " +
      "estimate DuckDB cannot reproduce (its approx_distinct is a different sketch) — " +
      "gated instead by ApproxStatsSpec, which calibrates every ndv_approx against " +
      "q217's exact NDVs (the oracle-checked md5 twin for the non-sketch columns) and " +
      "pins the no-Expand single-pass plan that is this query's reason to exist.")),
    Query("q226_cardinality_audit", q226, Oracle.Sql(q226Sql)),
    Query("q224_partition_key_audit", q224, Oracle.Sql(q224Sql)),
    Query("q215_shard_plan", q215, Oracle.Sql(q215Sql)),
    Query("q217_column_stats", q217, Oracle.Sql(q217Sql)),
    Query("q134_bucketed_join", q134, Oracle.Sql(q134Sql), reads = Seq(bucketStore)),
    Query("q135_zorder_layout", q135, Oracle.Sql(q135Sql)),
    Query("q136_compaction_plan", q136, Oracle.Sql(q136Sql)),
    Query("q137_hist_quantiles", q137, Oracle.Sql(q137Sql)),
    Query("q149_grouped_quantiles", q149, Oracle.Sql(q149Sql)),
    Query("q151_partition_pruning", q151, Oracle.Sql(q151Sql), reads = Seq(partStore)),
    Query("q153_incremental_agg", q153, Oracle.Sql(q153Sql), reads = Seq(aggStore)),
    Query("q141_cdc_upsert", q141, Oracle.Sql(q141Sql)),
    Query("q142_schema_evolution", q142, Oracle.Sql(q142Sql), reads = Seq(evoStore)),
    Query("q166_orc_roundtrip", q166, Oracle.Sql(q166Sql), reads = Seq(orcStore)),
    Query("q168_source_length_quantiles", q168, Oracle.Sql(q168Sql)),
    Query("q180_corpus_manifest", q180, Oracle.Sql(q180Sql)),
    Query("q185_manifest_incremental", q185, Oracle.Sql(q185Sql)),
    Query("q187_drift_monitor", q187, Oracle.Sql(q187Sql)),
  )
}
