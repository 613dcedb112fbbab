package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Det, Oracle, Query, QueryCatalog, Tables}

/** Batch-mode oracle checks for the streaming transforms (SURVEY.md
  * §7.5: window() is the same function in batch and streaming, so the
  * DuckDB oracle validates the streaming semantics on the static
  * `events` frame; watermark/late-data behavior is covered by
  * StreamingSpec instead, which DuckDB cannot express).
  *
  * Timestamp note: events.ts is µs-truncated on the Spark side
  * (Tables.events); the oracle casts TIMESTAMP_NS → TIMESTAMP the same
  * way, and all window arithmetic is epoch-second based.
  */
object StreamQueries extends QueryCatalog {

  // ---------------------------------------------------------------- q184
  /** Watermark sizing — the out-of-orderness measurement a streaming
    * team runs BEFORE choosing `withWatermark`: per event, disorder =
    * (latest event-time already seen on that user's arrival sequence)
    * − (this event's time), clamped at 0; the report is a power-of-two
    * seconds histogram of disorder with a cumulative ppm column — read
    * off the bucket where cum_ppm crosses your completeness target
    * (e.g. 999000) and that bucket's upper bound IS the watermark
    * delay. Arrival order is the monotone ingest id (event_id);
    * in-order events land in bucket 0, sub-second disorder in bucket
    * 1, and bucket k ≥ 2 holds disorder in [2^(k-2), 2^(k-1)) seconds
    * (bit-length buckets — q85's exact-integer idiom, because
    * ceil(log2) off IEEE log would hash-mismatch on last-ulp ties).
    *
    * Scale shape: the running max partitions BY USER (bounded
    * partitions, never a global order); the histogram is ≤ ~40 rows at
    * any corpus size and combines map-side; the cumulative window runs
    * on that tiny frame. */
  private[streaming] def watermarkSizingOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arr = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("d_us", greatest(lit(0L),
        coalesce(max(col("tu")).over(arr), col("tu")) - col("tu")))
      .withColumn("bucket",
        when(col("d_us") === 0L, 0L)
          .when(col("d_us") < 1000000L, 1L)
          .otherwise(lit(1L) + length(bin(expr("d_us DIV 1000000"))).cast("long")))
    val g = d.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"), max(col("d_us")).as("max_disorder_us"))
    val tot = g.agg(sum(col("n_events")).as("tot"))
    g.crossJoin(broadcast(tot))
      .withColumn("cum_ppm", expr(
        "sum(n_events) OVER (ORDER BY bucket) * 1000000 DIV tot"))
      .select(col("bucket"), col("n_events"), col("max_disorder_us"), col("cum_ppm"))
      .orderBy(col("bucket"))
  }
  private def q184(s: SparkSession, dir: String): DataFrame =
    watermarkSizingOf(Tables.events(s, dir))

  // ---------------------------------------------------------------- q205
  /** Late-data LEDGER — the companion decision table to q184: q184
    * tells you how out-of-order the stream is; this prices what each
    * candidate `withWatermark` delay actually DROPS, per event type.
    * For each candidate delay W, an event is dropped iff its disorder
    * (q184's per-user arrival-sequence running-max minus event time)
    * exceeds W — exactly Spark's eventTime < max − W rule. The ledger
    * reports, per (W, event_type): events, dropped count, exact-ppm
    * drop rate, and the worst lateness — read across W to pick the
    * delay whose loss profile the product tolerates; read across types
    * to see WHICH signal the loss lands on.
    *
    * The driver fixture's events arrive perfectly ordered per user
    * (q184's histogram is one bucket-0 row), so network lateness is
    * PLANTED: an md5 carve of event_id marks 1/8 of events as delayed
    * and backdates their EVENT time by a deterministic ladder
    * (6 h / 1 d / 3 d / 10 d / 30 d by event_id mod 5 — the fixture's
    * per-user event gaps are ~7 h median, so sub-hour lateness would
    * be absorbed by the gaps) that straddles every candidate W
    * (0 / 1 h / 1 d / 3 d / 10 d) — arrival order is untouched, which
    * is exactly what a late packet looks like. The oracle replays the
    * carve, so the ledger is hash-checked end to end.
    *
    * Scale shape: disorder reuses q184's per-USER window (bounded
    * partitions, never a global order); all five candidate delays are
    * conditional aggregates in ONE map-side-combined pass over the
    * disorder frame — no ×5 event explosion; the stack() unpivot runs
    * on the |event_type|-row aggregate. One exchange on event_type. */
  private val q205DelaysUs =
    Seq(0L, 3600000000L, 86400000000L, 259200000000L, 864000000000L)
  private val q205LateSql =
    """CASE WHEN substring(md5('late|' || CAST(event_id AS STRING)), 1, 1) < '2'
      |  THEN CASE CAST(event_id % 5 AS INT)
      |    WHEN 0 THEN 21600000000 WHEN 1 THEN 86400000000 WHEN 2 THEN 259200000000
      |    WHEN 3 THEN 864000000000 ELSE 2592000000000 END
      |  ELSE 0 END""".stripMargin
  private[streaming] def lateLedgerOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arr = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"),
        (unix_micros(col("ts")) - expr(q205LateSql)).as("tu"))
      .withColumn("d_us", greatest(lit(0L),
        coalesce(max(col("tu")).over(arr), col("tu")) - col("tu")))
    val aggs = q205DelaysUs.zipWithIndex.flatMap { case (w, i) => Seq(
      sum(when(col("d_us") > w, 1L).otherwise(0L)).as(s"l$i"),
      coalesce(max(when(col("d_us") > w, col("d_us"))), lit(0L)).as(s"m$i"))
    }
    val allAggs = count(lit(1)).as("n_events") +: aggs
    val g = d.groupBy(col("event_type")).agg(allAggs.head, allAggs.tail: _*)
    val stackArgs = q205DelaysUs.zipWithIndex
      .map { case (w, i) => s"${w / 1000000L}L, l$i, m$i" }.mkString(", ")
    g.selectExpr("event_type", "n_events",
        s"stack(${q205DelaysUs.size}, $stackArgs) AS (w_s, n_late, max_late_us)")
      .selectExpr("w_s", "event_type", "n_events", "n_late",
        "CAST(n_late * 1000000 DIV n_events AS BIGINT) AS late_ppm",
        "max_late_us")
      .orderBy(col("w_s"), col("event_type"))
  }
  private def q205(s: SparkSession, dir: String): DataFrame =
    lateLedgerOf(Tables.events(s, dir))
  private val q205Sql = {
    val filters = q205DelaysUs.zipWithIndex.map { case (w, i) =>
      s"""    count(*) FILTER (WHERE d_us > $w) AS l$i,
         |    coalesce(max(d_us) FILTER (WHERE d_us > $w), 0) AS m$i""".stripMargin
    }.mkString(",\n")
    val union = q205DelaysUs.zipWithIndex.map { case (w, i) =>
      s"  SELECT ${w / 1000000L} AS w_s, event_type, n_events, l$i AS n_late, m$i AS max_late_us FROM g"
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_ns(ts) // 1000 - ($q205LateSql) AS tu
       |  FROM events
       |), d AS (
       |  SELECT event_type,
       |    greatest(0, coalesce(max(tu) OVER (PARTITION BY user_id ORDER BY event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tu) - tu) AS d_us
       |  FROM e
       |), g AS (
       |  SELECT event_type, count(*) AS n_events,
       |$filters
       |  FROM d GROUP BY event_type
       |), u AS (
       |$union
       |)
       |SELECT CAST(w_s AS BIGINT) AS w_s, event_type,
       |  CAST(n_events AS BIGINT) AS n_events, CAST(n_late AS BIGINT) AS n_late,
       |  CAST(n_late * 1000000 // n_events AS BIGINT) AS late_ppm,
       |  CAST(max_late_us AS BIGINT) AS max_late_us
       |FROM u ORDER BY w_s, event_type""".stripMargin
  }
  private val q184Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tu FROM events
      |),
      |d AS (
      |  SELECT greatest(0, coalesce(max(tu) OVER (PARTITION BY user_id ORDER BY event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tu) - tu) AS d_us
      |  FROM e
      |),
      |b AS (
      |  SELECT d_us,
      |    CASE WHEN d_us = 0 THEN 0
      |         WHEN d_us < 1000000 THEN 1
      |         ELSE 1 + length(bin(d_us // 1000000)) END AS bucket
      |  FROM d
      |),
      |g AS (
      |  SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(max(d_us) AS BIGINT) AS max_disorder_us
      |  FROM b GROUP BY 1
      |),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM g)
      |SELECT bucket, n_events, max_disorder_us,
      |  CAST(sum(n_events) OVER (ORDER BY bucket) * 1000000 // tot AS BIGINT) AS cum_ppm
      |FROM g, t ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q60
  private def q60(s: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingCounts(Tables.events(s, dir))
      .orderBy(col("w_start"), col("event_type"))
  private val q60Sql =
    s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
       |  event_type, count(*) AS n,
       |  ${Det.sqlSum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Sliding windows: each event lands in 2 windows (10 min / 5 min).
    * Oracle enumerates both window starts per event. */
  private def q61(s: SparkSession, dir: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(s, dir))
      .orderBy(col("w_start"))
  private val q61Sql =
    """SELECT make_timestamp(ws * 1000000) AS w_start, count(*) AS n, count(DISTINCT user_id) AS users
      |FROM (
      |  SELECT user_id,
      |    unnest([CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 AS BIGINT),
      |            CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 - 300 AS BIGINT)]) AS ws
      |  FROM events
      |)
      |GROUP BY ws
      |ORDER BY w_start""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Gap-based sessionization (batch twin of the streaming path). */
  private def q62(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionize(Tables.events(s, dir))
      .orderBy(col("user_id"), col("session_seq"))
  private val q62Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_s
      |FROM numbered
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Batch twin of the stream–stream interval join
    * ([[EventStreams.clickPurchaseJoinStream]]): clicks ⋈ purchases by
    * user within 60 minutes after the click. The SAME transform runs
    * here on static frames (`withWatermark` is a no-op in batch), so
    * the DuckDB oracle checks the streaming join's SELECT/ON semantics;
    * the state-bounding watermark behavior is StreamingSpec's job.
    * Scale shape: equi-join on user_id with the interval as a join
    * filter — a plain hash/sort-merge join, never a BNLJ. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts"), col("user_id"), col("event_id").as("purchase_id"))
    EventStreams.clickPurchaseJoinStream(clicks, purchases)
      .orderBy(col("click_id"), col("purchase_id"))
  }
  private val q63Sql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 60 MINUTE
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      |ORDER BY click_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Batch twin of the streaming exactly-once dedup
    * ([[EventStreams.dedupStream]]): an at-least-once replay is
    * simulated by re-appending every 10th event, then the SAME
    * transform drops the duplicates (`dropDuplicatesWithinWatermark`
    * degrades to plain dropDuplicates semantics in batch — duplicate
    * rows here are bit-identical, so which survives is immaterial).
    * The watermarked state-expiry behavior is StreamingSpec's job. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val replayed = ev.unionAll(ev.filter(col("event_id") % 10 === 0))
    EventStreams.dedupStream(replayed)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .orderBy(col("event_id"))
  }
  private val q64Sql =
    """WITH replayed AS (
      |  SELECT * FROM events
      |  UNION ALL SELECT * FROM events WHERE event_id % 10 = 0
      |)
      |SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |FROM replayed
      |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts) = 1
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Batch run of the flatMapGroupsWithState threshold-alert transform
    * ([[EventStreams.thresholdAlertsStream]]): one batch, empty initial
    * state, so the emitted set is every multiple of 100 each user's
    * exact decimal value-sum crosses. The incremental multi-batch
    * behavior (same rows, split across batches, none re-emitted) is
    * StreamingSpec's job. */
  private def q77(s: SparkSession, dir: String): DataFrame =
    EventStreams.thresholdAlertsStream(Tables.events(s, dir))
      .toDF("user_id", "m")
      .orderBy(col("user_id"), col("m"))
  private val q77Sql =
    """WITH t AS (
      |  SELECT user_id,
      |    CAST(floor(sum(CAST(value AS DECIMAL(18,6))) / 100) AS BIGINT) AS k
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id, CAST(unnest(generate_series(1, k)) AS BIGINT) AS m
      |FROM t WHERE k >= 1
      |ORDER BY user_id, m""".stripMargin

  // ---------------------------------------------------------------- q102
  /** Batch twin of the stream–static enrichment
    * ([[EventStreams.enrichedSegmentCounts]]): events joined to the
    * broadcast customer dimension, aggregated per (hour window,
    * market segment). The streaming run (stateless join, watermarked
    * agg, batch/stream agreement) is StreamingSpec's job. */
  private def q102(s: SparkSession, dir: String): DataFrame =
    EventStreams.enrichedSegmentCounts(Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy(col("w_start"), col("c_mktsegment"))
  private val q102Sql =
    s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
       |  c_mktsegment, count(*) AS n,
       |  ${Det.sqlSum("value")} AS sum_value
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2
       |ORDER BY w_start, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q103
  /** Batch twin of the stream–stream LEFT OUTER interval join
    * ([[EventStreams.clickPurchaseLeftJoinStream]]): q63's clicks ⋈
    * purchases within 60 minutes, plus a null-padded row per
    * unconverted click. Batch mode is a plain left outer join (what
    * the oracle checks); the streaming-only behavior — outer rows
    * emitted only after both watermarks pass the click's horizon — is
    * StreamingSpec's job. Scale shape: same as q63 (equi-join on
    * user_id, interval as join filter); outer rows add no state beyond
    * what the inner join already holds. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts"), col("user_id"), col("event_id").as("purchase_id"))
    EventStreams.clickPurchaseLeftJoinStream(clicks, purchases)
      .orderBy(col("click_id"), col("purchase_id"))
  }
  private val q103Sql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 60 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Batch run of the funnel state machine
    * ([[EventStreams.funnelStageStream]]): one batch, empty initial
    * state → each user's funnel stage from the strict first-time
    * ordering (q118's contract, per user instead of aggregated). The
    * multi-batch convergence — shuffled/late arrivals across batches
    * settling on the same stages — is StreamingSpec's job. */
  private def q120(s: SparkSession, dir: String): DataFrame =
    EventStreams.funnelStageStream(Tables.events(s, dir))
      .toDF("user_id", "stage")
      .orderBy(col("user_id"))
  private val q120Sql =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS tv,
      |    min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS tc,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS tp
      |  FROM events GROUP BY 1
      |)
      |SELECT user_id,
      |  CAST(CASE WHEN tv < tc AND tc < tp THEN 3
      |            WHEN tv < tc THEN 2
      |            WHEN tv IS NOT NULL THEN 1
      |            ELSE 0 END AS BIGINT) AS stage
      |FROM f
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Batch twin of the streaming corpus-admission gate
    * ([[EventStreams.admissionStream]]): the batch slice of
    * `documents` (q94's hash split, so the two incremental-ingest
    * queries agree on what "the batch" is) admitted against the
    * REST of the corpus's exact digest set. Output is the admitted
    * digest set — deterministic regardless of which duplicate row
    * survives the in-stream dedup. The streaming-only behavior
    * (stateless stream-static join, watermark-bounded redelivery
    * dedup) is StreamingSpec's job. `ingest_ts` is derived from
    * doc_id only so the batch twin is reproducible. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isBatch = substring(
      md5(concat(lit("batch|"), col("doc_id").cast("string"))), 1, 1).isin("0", "1")
    // ingest clock = 2024-01-01T00:00Z + doc_id seconds. The base must
    // be well after the epoch: Spark floors the watermark at 0, so an
    // event time AT the epoch (doc_id 0) is never after the initial
    // watermark and gets dropped as late when it arrives in a later
    // micro-batch (surfaced by the StreamSoakSpec shuffled replay).
    val arrivals = docs.filter(isBatch)
      .withColumn("ingest_ts", expr("timestamp_micros((1704067200 + doc_id) * 1000000)"))
    val corpusDigests = docs.filter(!isBatch)
      .select(md5(col("text")).as("digest")).distinct()
    EventStreams.admissionStream(arrivals, corpusDigests)
      .orderBy(col("digest"))
  }
  // NOT EXISTS, not NOT IN: NOT IN's three-valued logic returns UNKNOWN
  // for every row as soon as the corpus subquery contains one NULL
  // digest, silently emptying the oracle while the engine's
  // left-outer+null-filter anti join still admits rows. The engine
  // filters NULL digests on both sides (admissionStream), and the
  // text IS NOT NULL guards here mirror that.
  private val q128Sql =
    """WITH split AS (
      |  SELECT doc_id, text,
      |    substring(md5(concat('batch|', CAST(doc_id AS VARCHAR))), 1, 1) IN ('0', '1') AS is_batch
      |  FROM documents
      |)
      |SELECT DISTINCT md5(text) AS digest
      |FROM split s
      |WHERE is_batch AND text IS NOT NULL
      |  AND NOT EXISTS (
      |    SELECT 1 FROM split c
      |    WHERE NOT c.is_batch AND c.text IS NOT NULL
      |      AND md5(c.text) = md5(s.text)
      |  )
      |ORDER BY digest""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Batch twin of the streaming per-key rate quota
    * ([[EventStreams.quotaStream]]): at most 4 events admitted per
    * (user, tumbling hour), chosen as the k LOWEST (event time,
    * event id) — the deterministic admission rule that makes the
    * throttle convergent under shuffled/late arrival (k-smallest is an
    * order-independent accumulator; "first k to arrive" is not). In
    * batch that rule IS a per-(user, hour) window rank; the
    * streaming-only behavior — bounded ≤ k-pair state per live window,
    * emit-once when the watermark passes the window end, displacement
    * of a provisional admit by a late-but-in-watermark event — is
    * StreamingSpec's job. Partition keys are (user × hour): high
    * cardinality, no modal-key hazard. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("tu"), $"event_id")
      .withColumn("win_start", expr("(tu DIV 3600000000) * 3600000000"))
    ev.withColumn("rk", row_number().over(
        Window.partitionBy($"user_id", $"win_start").orderBy($"tu", $"event_id")))
      .filter($"rk" <= 4)
      .select($"user_id", $"win_start", $"event_id", $"rk".cast("long").as("rk"))
      .orderBy($"user_id", $"win_start", $"rk")
  }
  private val q139Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS tu, event_id FROM events
      |), w AS (
      |  SELECT user_id, (tu // 3600000000) * 3600000000 AS win_start, event_id,
      |    row_number() OVER (PARTITION BY user_id, tu // 3600000000
      |                       ORDER BY tu, event_id) AS rk
      |  FROM e
      |)
      |SELECT user_id, win_start, event_id, CAST(rk AS BIGINT) AS rk
      |FROM w WHERE rk <= 4
      |ORDER BY user_id, win_start, rk""".stripMargin

  // ---------------------------------------------------------------- q218
  /** Session ABANDONMENT analysis — the product-analytics read on top
    * of q62's gap sessionization: which event a session DIED on, split
    * by whether it converted (contained a purchase). Per (converted,
    * last_event_type): session count, event mass, total and
    * per-session duration in exact integer ms. The non-converted rows
    * ARE the funnel's leak ledger (sessions whose last act was a
    * click but no purchase = the checkout drop-off); the rare
    * converted-but-ended-elsewhere rows are post-purchase activity.
    *
    * Sessionization is q62's exact contract (30-min gap, (ts,
    * event_id) order); the last event is the deterministic
    * row_number()=1 row under the REVERSED order, never a
    * nondeterministic last_value.
    *
    * Scale shape: ONE user-keyed exchange feeds the gap flags, the
    * session numbering, and the reversed last-event rank (three
    * window passes over the SAME partitioning — no re-shuffle);
    * per-session reduction is a (user, session) hash aggregate with
    * O(1) state; the final roll-up is a ≤2×|event_types| cell
    * exchange. Durations never float: epoch millis subtraction. */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val flagged = Tables.events(s, dir)
      .withColumn("new_session",
        when(lag($"ts", 1).over(w).isNull ||
          $"ts".cast("double") - lag($"ts", 1).over(w).cast("double") > 1800.0, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val lastRn = flagged.withColumn("rn_last",
      row_number().over(Window.partitionBy($"user_id", $"session_seq")
        .orderBy($"ts".desc, $"event_id".desc)))
    lastRn.groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        (unix_millis(max($"ts")) - unix_millis(min($"ts"))).as("dur_ms"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("conv"),
        max(when($"rn_last" === 1, $"event_type")).as("last_type"))
      .groupBy(($"conv" === 1L).as("converted"), $"last_type")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"),
        sum($"dur_ms").as("total_ms"))
      .selectExpr("converted", "last_type", "n_sessions", "n_events", "total_ms",
        "CAST(total_ms DIV n_sessions AS BIGINT) AS ms_per_session")
      .orderBy($"converted", $"last_type")
  }
  private val q218Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |), lastrn AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
      |    ORDER BY ts DESC, event_id DESC) AS rn_last
      |  FROM numbered
      |), sess AS (
      |  SELECT user_id, session_seq, count(*) AS n_events,
      |    epoch_ms(max(ts)) - epoch_ms(min(ts)) AS dur_ms,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
      |    max(CASE WHEN rn_last = 1 THEN event_type END) AS last_type
      |  FROM lastrn GROUP BY user_id, session_seq
      |)
      |SELECT conv = 1 AS converted, last_type, CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events, CAST(sum(dur_ms) AS BIGINT) AS total_ms,
      |  CAST(sum(dur_ms) // count(*) AS BIGINT) AS ms_per_session
      |FROM sess GROUP BY conv, last_type
      |ORDER BY converted, last_type""".stripMargin

  // ---------------------------------------------------------------- q235
  /** Batch twin of the streaming attribution ledger
    * ([[EventStreams.attributionStream]]): the per-purchase credit
    * table — for every purchase, the first/last touch type in the
    * trailing 7-day window and the exact integer credit. In batch the
    * credit rule IS q211's trailing-RANGE window argmin/argmax at
    * purchase granularity ([[graft.rel.RelQueries.attributionCredits]]
    * — the SAME code q211 rolls up, so ledger and report can never
    * disagree); the streaming-only behavior — emit-once when the
    * watermark passes the purchase, horizon-bounded touch state,
    * late-but-in-watermark touches still landing in an unemitted
    * purchase's window, convergence of the ledger AND of its q211
    * roll-up under shuffled replay — is AttributionStreamSpec's job.
    *
    * Scale shape: q211's exactly — ONE user-keyed exchange, time-
    * bounded frames, purchase-granularity output (≈|purchases| rows,
    * the ledger a downstream revenue system joins on purchase_id). */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.rel.RelQueries.attributionCredits(Tables.events(s, dir))
      .orderBy($"purchase_id")
  }
  private val q235Sql =
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
      |  SELECT user_id, event_id, event_type, value,
      |    min(tenc) OVER w AS first_enc,
      |    max(tenc) OVER w AS last_enc
      |  FROM enc
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu
      |               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_id AS purchase_id,
      |  coalesce(str_split(first_enc, '|')[3], '(none)') AS first_touch,
      |  coalesce(str_split(last_enc, '|')[3], '(none)') AS last_touch,
      |  CAST(floor(value * 1000 + 0.5) AS BIGINT) AS value_milli
      |FROM scored WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q235_attribution_ledger", q235, Oracle.Sql(q235Sql)),
    Query("q218_session_abandonment", q218, Oracle.Sql(q218Sql)),
    Query("q60_stream_tumbling", q60, Oracle.Sql(q60Sql)),
    Query("q61_stream_sliding", q61, Oracle.Sql(q61Sql)),
    Query("q62_sessionize", q62, Oracle.Sql(q62Sql)),
    Query("q63_stream_interval_join", q63, Oracle.Sql(q63Sql)),
    Query("q64_stream_dedup", q64, Oracle.Sql(q64Sql)),
    Query("q77_stream_threshold_alerts", q77, Oracle.Sql(q77Sql)),
    Query("q102_stream_static_enrich", q102, Oracle.Sql(q102Sql)),
    Query("q103_stream_left_join", q103, Oracle.Sql(q103Sql)),
    Query("q120_funnel_stages", q120, Oracle.Sql(q120Sql)),
    Query("q128_stream_ingest_admission", q128, Oracle.Sql(q128Sql)),
    Query("q139_stream_quota", q139, Oracle.Sql(q139Sql)),
    Query("q184_watermark_sizing", q184, Oracle.Sql(q184Sql)),
    Query("q205_late_data_ledger", q205, Oracle.Sql(q205Sql)),
  )
}
