package graft

import graft.core.{Json, Preflight, Sessions}
import scala.collection.immutable.ListMap

/** Benchmark main: runs every catalog query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line for the driver.
  *
  * Output contract — the driver keeps only the last ~2 kB of output and
  * json.loads's the result line, so stdout gets a COMPACT line (unique
  * "qNN" short keys, 10 ms precision, at most 8 re-times and
  * adjudications, no secondary maps) while
  * the full-fidelity record (full query names, per-sweep medians and
  * maxima, isolated re-times) is written to BENCH_DETAIL.json (path
  * overridable via SPARK_GRAFT_BENCH_DETAIL). Requires build.sbt's
  * `run / outputStrategy := StdoutOutput` so sbt does not decorate the
  * line with an "[info] " prefix that breaks JSON parsing.
  *
  * Every timed run (warm-up, sweeps, re-times, adjudication) is one
  * [[Preflight.timed]] run: the query is built and written to the noop
  * sink, timed inside the guard. A warmup query runs first, untimed, so
  * JVM/codegen/parquet footer costs don't land on the
  * alphabetically-first query.
  *
  * Methodology — two defenses against the host-contention mode that
  * produced 10–14× phantom spikes in full-catalog runs (measured:
  * 2.67 s isolated vs 26.8 s in-catalog for the same query):
  *
  *  0. ANALYSIS PREFLIGHT: every catalog query is analyzed (no
  *     execution) before any timed work. An environment shift that
  *     breaks a loader — r10: the testdata's events.ts changed parquet
  *     vintage and 18 queries died at analysis — is caught in seconds,
  *     the broken queries are excluded from the sweeps (reported -1 +
  *     "failed" + message in BENCH_DETAIL "preflight_failed"), and the
  *     surviving queries' timings aren't contaminated by exception
  *     churn in the same JVM.
  *  1. INTERLEAVED SWEEPS: with SPARK_GRAFT_BENCH_RUNS = R (default 3,
  *     floored at 1), the WHOLE catalog is swept R times round-robin
  *     rather than running each query R times back-to-back. A
  *     transient contention window (GC storm, page-cache churn, a
  *     co-tenant burst) then lands on DIFFERENT queries in each sweep
  *     instead of poisoning all R samples of one query, so the
  *     per-query LOWER MEDIAN across sweeps discards it.
  *  2. AUTOMATIC ISOLATED RE-TIME: after the sweeps, a query is
  *     re-timed alone, with caches drained, when EITHER (a) its
  *     median exceeds 2× its own best sweep (the query demonstrably
  *     CAN run that fast — classic transient spike), or (b) its median
  *     exceeds [[RetimeFloorSec]] (3 s) — the case
  *     (a) misses when contention poisons ALL R sweeps of a heavy
  *     query (r4: three queries sat at 10–15 s in every sweep vs ~3 s
  *     isolated, and no re-time fired because best ≈ median). The
  *     floor bounds the extra work to the handful of heavy queries and
  *     applies even for single-sweep runs (runs = 1), where it is the
  *     only contention defense available. A re-time that ITSELF lands
  *     above 2× the best sweep (r6: q41's isolated sample hit the same
  *     contention window as its sweeps — 5.12 s reported vs 2.80 s
  *     reproducible) gets exactly one more attempt; the sample is the
  *     min of the attempts.
  *     The reported per-query value is min(median, re-time); the raw
  *     re-times are emitted under "queries_retimed" ON THE STDOUT LINE
  *     (capped at the 8 largest median−retime deltas plus a
  *     "retimed_n" total, so the driver-visible artifact carries the
  *     adjudication, not just BENCH_DETAIL.json), the worst sweep
  *     under "queries_max", and the UN-adjusted sweep median under
  *     "queries_median" — so consumers can always tell whether the
  *     sweeps or the re-time determined the headline number, and a
  *     genuinely bimodal query is visible rather than silently
  *     reported at its fastest mode. Every isolated attempt is
  *     emitted (BENCH_DETAIL "retime_attempts"), because min(median,
  *     retime) is one-sided — it fires exactly when the sweeps were
  *     unfavorable — and the raw attempts are what let a reader tell a
  *     contention correction from noise harvesting.
  *  3. PRIOR-ROUND ADJUDICATION: r7→r8 measured the per-query noise at
  *     ±40% on byte-identical code, so cross-round deltas need in-run
  *     adjudication. The highest-numbered BENCH_r*.json in the cwd
  *     (override: SPARK_GRAFT_PRIOR_BENCH) supplies prior per-query
  *     values ([[readPrior]]) when it ran at the same sf and, if it
  *     records `cpus`, on the same core count; any query whose
  *     post-retime value moved >1.25× vs its prior IN EITHER
  *     DIRECTION gets ONE more isolated re-time, and
  *     prior/before/after/direction are emitted ("queries_adjudicated"
  *     in BENCH_DETAIL, count + top corrections on the stdout line).
  *     The adjudication sample is an ANNOTATION ONLY — it is never
  *     folded into the reported value:
  *     stacking min(value, adjudication) on min(median, retime) would
  *     be a second one-sided minimum that harvests noise minima
  *     downward, the exact failure mode the re-time attempts exist to
  *     expose.
  *
  * Every analysis, store build and timed run goes through
  * [[Preflight.bounded]]: each gets its own job group and a time budget
  * (the analysis budget for the preflight, the run budget for the
  * rest), and the scratch caches are drained after it, so nothing
  * leaks across the catalog and every run rebuilds its own cache. A
  * query that throws or hangs is one failed entry. [[report]] turns
  * the per-query [[Timing]]s into both outputs.
  *
  * Usage: sbt "runMain graft.Bench [query ...]" (SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_BENCH_RUNS), on [[graft.core.Sessions.local]]:
  * SPARK_GRAFT_CPUS cores, else all.
  */
object Bench {
  /** A query whose sweep median exceeds this many seconds is re-timed
    * alone (scaladoc point 2b). */
  val RetimeFloorSec: Double = 3.0

  /** The prior's seconds and the isolated re-run's (-1: it failed). */
  final case class Adjudication(prior: Double, after: Double)

  /** One query's sweep samples (empty when a sweep or its preflight
    * failed), successful isolated re-times and adjudication. */
  final case class Timing(name: String, sweeps: Seq[Double], retimes: Seq[Double] = Nil,
                          adjudication: Option[Adjudication] = None) {
    def ok: Boolean = sweeps.nonEmpty
    private lazy val sorted = sweeps.sorted
    /** The lower median of the sweeps, -1 for a failed query. */
    def median: Double = if (ok) sorted((sorted.size - 1) / 2) else -1
    def best: Double = if (ok) sorted.head else -1
    def max: Double = if (ok) sorted.last else -1
    /** min(median, best re-time); -1 for a failed query, which the
      * total leaves out. */
    def value: Double = if (ok) (median +: retimes).min else -1
  }

  private def short(n: String): String = n.takeWhile(_ != '_')

  /** `v` with exactly `places` decimals; -1 (a failure) stays -1. */
  private def fixed(v: Double, places: Int): java.math.BigDecimal =
    if (v < 0) java.math.BigDecimal.valueOf(-1)
    else new java.math.BigDecimal(s"%.${places}f".formatLocal(java.util.Locale.ROOT, v))

  /** Bench's two outputs (see the output contract above): the stdout
    * line, also written to BENCH_LINE.json, and the BENCH_DETAIL.json
    * record. `builds` pairs each store's detail key with its build
    * seconds. A preflight-failed query reads -1 in every per-query map
    * and is listed in "failed". */
  def report(sfDir: String, runs: Int, builds: Seq[(String, Double)], timings: Seq[Timing],
             preflightFailed: Map[String, String]): (String, String) = {
    val all = (timings ++ preflightFailed.keys.map(Timing(_, Nil))).sortBy(_.name)
    val retimed = all.filter(_.retimes.nonEmpty)
    val adjudicated = all.flatMap(t => t.adjudication.map(t -> _))
    val failed = all.filterNot(_.ok).map(_.name)
    val total = timings.filter(_.ok).map(_.value).sum
    def d3(ts: Seq[Timing])(f: Timing => Double) = ListMap(ts.map(t => t.name -> fixed(f(t), 3)): _*)
    val detail = ListMap[String, Any]("metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec",
      "runs" -> runs) ++ builds.map { case (k, v) => k -> fixed(v, 3) } ++ ListMap(
      "queries" -> d3(all)(_.value),
      "queries_median" -> d3(all)(_.median),
      "queries_max" -> d3(all)(_.max),
      "queries_retimed" -> d3(retimed)(_.retimes.min),
      "retime_attempts" -> ListMap(retimed.map(t => t.name -> t.retimes.map(fixed(_, 3))): _*),
      "queries_adjudicated" -> ListMap(adjudicated.map { case (t, Adjudication(p, a)) =>
        t.name -> ListMap("prior" -> fixed(p, 3), "before" -> fixed(t.value, 3), "after" -> fixed(a, 3),
          "direction" -> (if (t.value > p) "regression" else "improvement"))
      }: _*),
      "preflight_failed" -> ListMap(preflightFailed.toSeq.sortBy(_._1): _*),
      "failed" -> failed,
      "sf" -> sfDir)

    val shortable = all.map(t => short(t.name)).distinct.size == all.size
    def d2(ts: Seq[(Timing, Double)]) =
      ListMap(ts.map { case (t, v) => (if (shortable) short(t.name) else t.name) -> fixed(v, 2) }: _*)
    val line = ListMap[String, Any]("metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec",
      "runs" -> runs,
      "queries" -> d2(all.map(t => t -> t.value)),
      // the re-times that corrected their median most
      "queries_retimed" -> d2(retimed.map(t => t -> t.retimes.min).sortBy { case (t, r) => r - t.median }.take(8)),
      "retimed_n" -> retimed.size,
      // the adjudications whose re-run moved furthest below the value
      "adjudicated" -> d2(adjudicated.map { case (t, a) => t -> a.after }
        .sortBy { case (t, a) => math.max(a, 0) - t.value }.take(8)),
      "adjudicated_n" -> adjudicated.size,
      "failed" -> failed,
      "sf" -> sfDir)
    (Json.write(line), Json.write(detail))
  }

  /** The prior round's per-query seconds to adjudicate against, read
    * from a driver wrapper (`{"cpus":…,"parsed":<line>}`, a
    * BENCH_r<N>.json) or a bare stdout line. `Left` says why there is
    * none: unreadable text, no "queries", a prior run at another sf, or
    * a wrapper whose `cpus` is not `cores` — a prior taken on another
    * core count would flag queries that only the machine moved. A bare
    * line records no core count and is used as it is. */
  def readPrior(json: String, sfDir: String, cores: Int): Either[String, Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    scala.util.Try(Json.mapper.readTree(json)).toEither.left.map(e => s"unreadable: ${e.getMessage}")
      .flatMap { root =>
        val line = Option(root.get("parsed")).getOrElse(root)
        val sf = Option(line.get("sf")).filter(_.isTextual).map(_.asText)
        val cpus = Option(root.get("cpus")).filter(_.isNumber).map(_.asInt)
        if (sf.exists(_ != sfDir)) Left(s"ran at ${sf.get}, not $sfDir")
        else if (cpus.exists(_ != cores)) Left(s"ran on ${cpus.get} cores, not $cores")
        else Option(line.get("queries")).toRight("holds no queries").map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble).filter(_._2 > 0).toMap)
      }
  }

  def main(args: Array[String]): Unit = {
    val only = args.toSet // optional query-name subset (local dev)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = Sessions.local()

    def timeOne(phase: String, name: String): Either[String, Double] = {
      val r = Preflight.timed(spark, s"bench-$phase-$name")(SparkEntry.queries(name)(spark, sfDir))
      r.left.foreach(m => System.err.println(s"[bench] $name failed: $m"))
      r
    }
    // PREFLIGHT (scaladoc point 0). Dataset construction analyzes the
    // plan eagerly, so building the DataFrame and touching .schema is a
    // full analyzer+resolver pass without executing the query.
    val allNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    def analyzeErr(name: String): Option[(String, String)] =
      Preflight.bounded(spark, s"bench-preflight-$name", Preflight.AnalysisBudgetMs) {
        SparkEntry.queries(name)(spark, sfDir).schema
      }.left.toOption.map(m => name -> m.take(300))
    // Queries that construct against a store artifact trigger its lazy
    // build — they are preflighted AFTER the timed builds below so the
    // build cost lands in the store's detail key, not the preflight.
    val stores = SparkEntry.stores
    val readers = SparkEntry.declared.filter(_.reads.nonEmpty)
    val deferred = readers.map(_.name).toSet
    val preflightFailed = collection.mutable.LinkedHashMap.empty[String, String]
    allNames.filterNot(deferred).foreach(n => analyzeErr(n).foreach(preflightFailed += _))

    // Each store (see graft.core.Store) is built before the timed
    // sweeps, and the build is timed and emitted in BENCH_DETAIL under
    // the store's detail key, so the cost moved out of the catalog stays
    // visible in the artifact. A failed or hung build marks its
    // readers preflight-failed instead of crashing the whole bench
    // before any record is written.
    val buildSecs = stores.map { st =>
      val t0 = System.nanoTime()
      Preflight.bounded(spark, s"bench-build-${st.name}", Preflight.RunBudgetMs)(st(spark, sfDir))
        .left.foreach(m => readers.filter(_.reads.contains(st)).foreach(q =>
          preflightFailed += (q.name -> s"${st.name} build failed: $m".take(300))))
      st.detailKey -> (System.nanoTime() - t0) / 1e9
    }
    allNames.filter(deferred).filterNot(preflightFailed.keySet)
      .foreach(n => analyzeErr(n).foreach(preflightFailed += _))
    if (preflightFailed.nonEmpty) {
      System.err.println(s"[bench] PREFLIGHT: ${preflightFailed.size}/${allNames.size} queries fail analysis — excluded from sweeps:")
      preflightFailed.foreach { case (n, m) => System.err.println(s"[bench]   $n: $m") }
    }

    // warmup (untimed): touches the fact table + one agg + one join path
    timeOne("warmup", "q01_pricing_summary")

    val names = allNames.filterNot(preflightFailed.keySet)

    // R interleaved catalog sweeps (see scaladoc point 1)
    val samples = collection.mutable.Map.empty[String, Vector[Either[String, Double]]]
    for (_ <- 1 to runs; name <- names)
      samples(name) = samples.getOrElse(name, Vector.empty) :+ timeOne("sweep", name)
    val swept = names.map { name =>
      val ts = samples(name).flatMap(_.toOption)
      Timing(name, if (ts.size == runs) ts else Nil)
    }

    // isolated re-time of contention suspects (see scaladoc point 2);
    // a FAILED re-run contributes no sample
    val retimed = swept.map {
      case t if t.ok && ((runs > 1 && t.median > 2 * t.best) || t.median > RetimeFloorSec) =>
        System.gc()
        val first = timeOne("retime", t.name)
        // a re-time that itself stayed suspicious (the query's best
        // sweep proves it can run 2× faster) gets one more attempt
        val second = if (runs > 1 && first.exists(_ > 2 * t.best)) {
          System.gc(); Some(timeOne("retime", t.name))
        } else None
        t.copy(retimes = (first +: second.toSeq).flatMap(_.toOption))
      case t => t
    }

    // PRIOR-ROUND ADJUDICATION (scaladoc point 3): the prior is
    // SPARK_GRAFT_PRIOR_BENCH, else the newest BENCH_r*.json in the cwd
    // by HIGHEST PARSED ROUND NUMBER, not lexicographic order (r100 <
    // r99 lexically; unpadded r9/r10 would also sort wrong).
    val priorQ: Map[String, Double] = {
      val explicit = sys.env.get("SPARK_GRAFT_PRIOR_BENCH")
        .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
      val roundNum = "BENCH_r(\\d+)\\.json".r
      val discovered = Option(new java.io.File(".").list()).toSeq.flatten
        .collect { case n @ roundNum(r) => (r.toInt, java.nio.file.Paths.get(".", n)) }
        .sortBy(_._1).lastOption.map(_._2)
      explicit.orElse(discovered).fold(Map.empty[String, Double]) { p =>
        val prior = scala.util.Try(java.nio.file.Files.readString(p)).toEither.left.map(e => s"unreadable: $e")
          .flatMap(readPrior(_, sfDir, spark.sparkContext.defaultParallelism))
        prior.left.foreach(why => System.err.println(s"[bench] prior $p $why — no adjudication"))
        prior.getOrElse(Map.empty)
      }
    }
    // TWO-SIDED: a silently-pruned plan that "got 2× faster" is as
    // suspect as a regression. The re-run is an annotation only, never
    // folded into the value (scaladoc point 3).
    val timings = retimed.map { t =>
      priorQ.get(t.name).orElse(priorQ.get(short(t.name)))
        .filter(p => t.ok && (t.value > p * 1.25 || t.value < p / 1.25))
        .fold(t) { p =>
          System.gc()
          t.copy(adjudication = Some(Adjudication(p, timeOne("adjudicate", t.name).getOrElse(-1.0))))
        }
    }

    val (line, detail) = report(sfDir, runs, buildSecs, timings, preflightFailed.toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")), detail + "\n")
    // r22 (PERF-pipeline protection): the stdout line is ALSO written
    // verbatim to a file. The driver keeps only a ~2 kB stdout tail in
    // its BENCH_r*.json record, and at 241 queries the line exceeds
    // that window, so the STORED tail truncates the line's start — the
    // r20→r21 comparison went dark exactly this way. The file carries
    // the same bytes durably.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE", "BENCH_LINE.json")), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH_LINE.json: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
