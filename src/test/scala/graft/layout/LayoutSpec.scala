package graft.layout

import graft.SparkTestBase
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.SparkPlan

/** Pins the PHYSICAL claims of the layout queries — the parts the
  * DuckDB oracle (values only) cannot see: q134's exchange-free
  * co-located join, q135's z-order-beats-lexicographic pruning, q136's
  * bin-fill contract, q137's estimate-inside-bucket calibration. */
class LayoutSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/lineitem.parquet"))

  // AQE hides subtrees: AdaptiveSparkPlanExec carries the final plan in
  // .executedPlan and QueryStageExec wraps its stage in .plan — neither
  // surfaces through .children, so a naive traversal sees an empty tree.
  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
    case q: QueryStageExec => Seq(q) ++ collectPlan(q.plan)
    case other =>
      Seq(other) ++ other.children.flatMap(collectPlan) ++
        other.subqueries.flatMap(collectPlan)
  }

  test("q134: the bucketed join's SortMergeJoin has NO shuffle beneath it") {
    assume(fixture)
    val df = LayoutQueries.queries("q134_bucketed_join")(spark, dir)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan
    val smjs = collectPlan(plan).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a SortMergeJoin (merge hint), got:\n$plan")
    smjs.foreach { j =>
      val shuffles = j.children.flatMap(collectPlan)
        .collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"bucketed join must read pre-hashed buckets exchange-free, found:\n$j")
    }
  }

  test("q134: bucketed values ≡ the plain unbucketed join") {
    assume(fixture)
    import org.apache.spark.sql.functions._
    val bucketed = LayoutQueries.queries("q134_bucketed_join")(spark, dir).collect()
    val o = graft.core.Tables.orders(spark, dir)
    val l = graft.core.Tables.lineitem(spark, dir)
    val plain = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("line_cnt"),
        countDistinct(col("o_orderkey")).as("order_cnt"),
        graft.core.Det.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("o_orderpriority")).collect()
    assert(bucketed.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("q135: z-order prunes at least as many files as lexicographic for the 2-D box") {
    assume(fixture)
    val out = LayoutQueries.queries("q135_zorder_layout")(spark, dir).collect()
    val pruned = out.groupBy(_.getAs[String]("layout"))
      .view.mapValues(_.count(_.getAs[Boolean]("prunable"))).toMap
    assert(pruned.keySet == Set("zorder", "lex"))
    assert(pruned("zorder") >= pruned("lex"),
      s"z-order should bound BOTH dims per file: $pruned")
    // zone maps are genuine: every row of every file falls inside its map
    out.foreach { r =>
      assert(r.getAs[Long]("min_pk") <= r.getAs[Long]("max_pk"))
      assert(r.getAs[Long]("min_sk") <= r.getAs[Long]("max_sk"))
      assert(r.getAs[Long]("cnt") > 0L)
    }
    // both layouts partition the same rows
    val byLayout = out.groupBy(_.getAs[String]("layout"))
      .view.mapValues(_.map(_.getAs[Long]("cnt")).sum).toMap
    assert(byLayout("zorder") == byLayout("lex"))
  }

  test("q135: Morton interleave — a z-file's extent is tighter in suppkey than a lex file's") {
    assume(fixture)
    val out = LayoutQueries.queries("q135_zorder_layout")(spark, dir).collect()
    def skSpan(layout: String): Double = {
      val rows = out.filter(_.getAs[String]("layout") == layout)
      val spans = rows.map(r => (r.getAs[Long]("max_sk") - r.getAs[Long]("min_sk")).toDouble)
      spans.sum / spans.length
    }
    // lex files sort partkey-major, so each covers ~the FULL suppkey
    // range; z-order files alternate bits and bound both dims. The mean
    // per-file suppkey span must reflect that.
    assert(skSpan("zorder") < skSpan("lex"),
      s"zorder mean sk-span ${skSpan("zorder")} !< lex ${skSpan("lex")}")
  }

  test("q136: bin fill — contiguous bins, each non-final bin reaches target before spilling over") {
    assume(fixture)
    val out = LayoutQueries.queries("q136_compaction_plan")(spark, dir).collect()
      .map(r => (r.getAs[Long]("file_id"), r.getAs[Long]("size"), r.getAs[Long]("bin")))
    assert(out.nonEmpty)
    val total = out.map(_._2).sum
    val tgt = math.max(1L, total / 16)
    val bins = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val maxBin = bins.keys.max
    assert(bins.keys.toSeq.sorted == (0L to maxBin), s"bins not contiguous: ${bins.keys}")
    // sorted-fill contract: a file opens a new bin only once the running
    // total has crossed the bin boundary, so every bin except the last
    // holds ≥ target minus its own largest file (which may straddle)
    val largest = out.map(_._2).max
    bins.filterKeys(_ < maxBin).foreach { case (b, sz) =>
      assert(sz + largest >= tgt, s"bin $b underfilled: $sz vs target $tgt")
    }
    // deterministic across runs
    val again = LayoutQueries.queries("q136_compaction_plan")(spark, dir).collect()
      .map(r => (r.getAs[Long]("file_id"), r.getAs[Long]("size"), r.getAs[Long]("bin")))
    assert(out.toSeq == again.toSeq)
  }

  test("q141: merge-on-read accounting — tombstones + survivors tile the base exactly") {
    assume(fixture)
    import org.apache.spark.sql.functions._
    val out = LayoutQueries.queries("q141_cdc_upsert")(spark, dir).collect()
    val base = graft.core.Tables.orders(spark, dir)
      .withColumn("sel", substring(md5(concat(lit("cdc|"), col("o_orderkey").cast("string"))), 1, 1))
    val byPrio = base.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_base"),
        sum(when(col("sel") === "4", 1L).otherwise(0L)).as("n_del"),
        sum(when(col("sel").isin("0", "1", "2", "3"), 1L).otherwise(0L)).as("n_upd"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    out.foreach { r =>
      val p = r.getAs[String]("o_orderpriority")
      val (nBase, nDel, nUpd) = byPrio(p)
      assert(r.getAs[Long]("n_live") + r.getAs[Long]("n_deleted") == nBase,
        s"$p: live + deleted must tile the base")
      assert(r.getAs[Long]("n_deleted") == nDel, s"$p: tombstone count")
      assert(r.getAs[Long]("n_updated") == nUpd, s"$p: version-2 winners = update-carve size")
    }
  }

  test("q142: mergeSchema unifies vintages — old rows back-fill NULL for the added column") {
    assume(fixture)
    import org.apache.spark.sql.functions._
    val (oldPath, newPath) = LayoutQueries.evoStore(spark, dir)
    val v1 = spark.read.parquet(oldPath)
    assert(!v1.columns.contains("o_channel"), "old vintage must not carry the new column")
    val merged = spark.read.option("mergeSchema", "true").parquet(oldPath, newPath)
    assert(merged.columns.contains("o_channel"), "merged schema must include the evolved column")
    val v1Rows = v1.count()
    val nullRows = merged.filter(col("o_channel").isNull).count()
    assert(nullRows == v1Rows, "exactly the old-vintage rows surface NULL")
    // and the catalog view maps them all to 'legacy'
    val legacy = LayoutQueries.queries("q142_schema_evolution")(spark, dir)
      .filter(col("channel") === "legacy").collect()
    assert(legacy.length == 1 && legacy.head.getAs[Long]("n") == v1Rows)
  }

  test("q137: estimates land inside the covering bucket and within 1% of exact") {
    assume(fixture)
    val out = LayoutQueries.queries("q137_hist_quantiles")(spark, dir).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val err = r.getAs[Long]("err_ppm")
      assert(err >= 0L && err < 10000L,
        s"q${r.getAs[Long]("qppm")}: err $err ppm exceeds 1%")
    }
    // monotone: p50 ≤ p90 ≤ p99 for both est and exact
    val sorted = out.sortBy(_.getAs[Long]("qppm"))
    val est = sorted.map(_.getAs[Long]("est_cents"))
    val exact = sorted.map(_.getAs[Long]("exact_cents"))
    assert(est.sameElements(est.sorted) && exact.sameElements(exact.sorted))
  }

  test("q149: per-group quantiles match a driver-side nearest-rank per group") {
    assume(fixture)
    val out = LayoutQueries.queries("q149_grouped_quantiles")(spark, dir).collect()
    val groups = out.map(_.getAs[String]("priority")).distinct
    assert(out.length == groups.length * 3)
    // exact per-group nearest-rank recomputed in the driver
    val cents = graft.core.Tables.orders(spark, dir)
      .selectExpr("o_orderpriority AS g",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    out.foreach { r =>
      val (g, qppm) = (r.getAs[String]("priority"), r.getAs[Long]("qppm"))
      val xs = cents(g)
      val rank = ((xs.length.toLong * qppm + 999999L) / 1000000L).toInt
      assert(r.getAs[Long]("exact_cents") == xs(rank - 1),
        s"($g, $qppm): exact mismatch")
      val err = r.getAs[Long]("err_ppm")
      assert(err >= 0L && err < 20000L, s"($g, $qppm): err $err ppm exceeds 2%")
    }
    // per-group monotone in q for both est and exact
    out.groupBy(_.getAs[String]("priority")).values.foreach { rs =>
      val s = rs.sortBy(_.getAs[Long]("qppm"))
      val e1 = s.map(_.getAs[Long]("est_cents"))
      val e2 = s.map(_.getAs[Long]("exact_cents"))
      assert(e1.sameElements(e1.sorted) && e2.sameElements(e2.sorted))
    }
  }

  test("q151: the day-scoped scan prunes at listing time — one partition's files only") {
    assume(fixture)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = LayoutQueries.queries("q151_partition_pruning")(spark, dir)
    df.collect()
    val scans = collectPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the partitioned store")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"event_date filter must be a PARTITION filter, got:\n${scan.metadata}")
    val (storePath, _) = LayoutQueries.partStore(spark, dir)
    val totalDays = new java.io.File(storePath).listFiles()
      .count(_.getName.startsWith("event_date="))
    val scannedFiles = scan.metrics("numFiles").value
    val oneDayFiles = new java.io.File(s"$storePath/event_date=" +
      df.select("event_date").head.getDate(0).toString).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(totalDays > 10, s"fixture span collapsed to $totalDays days")
    assert(scannedFiles == oneDayFiles,
      s"scan read $scannedFiles files; the probe day holds $oneDayFiles")
    // values equal the unpartitioned recomputation
    import org.apache.spark.sql.functions._
    val day = df.select("event_date").head.getDate(0)
    val plain = graft.core.Tables.events(spark, dir)
      .filter(to_date(col("ts")) === lit(day))
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.core.Det.moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type")).collect()
    assert(df.collect().map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("q153: artifact + delta merge equals the full recompute; delta filter reaches the scan") {
    assume(fixture)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val df = LayoutQueries.queries("q153_incremental_agg")(spark, dir)
    val got = df.collect()
    val full = graft.core.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.core.Det.moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_date"), col("event_type")).collect()
    assert(got.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
      "incremental merge must equal the full recompute exactly")
    // the view spans > the 28-day artifact window, so the delta is real
    assert(got.map(_.getDate(0).toLocalDate).distinct.size > 28)
    // the delta's ts range predicate must reach the events parquet scan
    val scans = collectPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    val evScan = scans.filter(_.metadata.get("Location").exists(_.contains("events.parquet")))
    assert(evScan.nonEmpty, s"no events scan found in:\n${df.queryExecution.executedPlan}")
    assert(evScan.exists(_.metadata.get("PushedFilters").exists(p =>
        p.contains("GreaterThanOrEqual(ts") || p.contains("GreaterThanOrEqual(`ts`"))),
      s"ts range must be a PushedFilter, got: ${evScan.map(_.metadata.get("PushedFilters"))}")
  }

  test("q166: ORC scan gets the price pushdown and prunes to the three touched columns") {
    assume(fixture)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = LayoutQueries.queries("q166_orc_roundtrip")(spark, dir)
    df.collect()
    val scans = collectPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    val orcScan = scans.filter(_.metadata.get("Location").exists(_.contains("orcstore")))
    assert(orcScan.nonEmpty, s"no ORC store scan in:\n${df.queryExecution.executedPlan}")
    assert(orcScan.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("GreaterThan(o_totalprice"))),
      s"price filter must reach the ORC reader, got: ${orcScan.map(_.metadata.get("PushedFilters"))}")
    val readCols = orcScan.head.requiredSchema.fieldNames.toSet
    assert(readCols == Set("o_orderpriority", "o_totalprice"),
      s"ORC ReadSchema must carry only the touched columns, got $readCols")
    graft.core.ScratchCache.drain()
  }
}
