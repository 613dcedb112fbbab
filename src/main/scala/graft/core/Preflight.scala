package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one guarded way to run catalog-query work: every runner (Bench,
  * Verify, Canary, Explain, the contract spec) passes each query's
  * construction, analysis or execution through [[bounded]], and times
  * a query through [[timed]].
  *
  * Round-12 lesson: the full-catalog runners call every query builder,
  * and a builder that never RETURNS — q155's un-checkpointed iterative
  * plan spun the analyzer's clone walk for 300+ s of driver CPU with
  * zero tasks launched — starves the whole sweep: one pathological
  * query zeroed the round's bench AND correctness artifacts.
  *
  * [[bounded]] runs the body on a fresh daemon thread inside its own
  * Spark job group and waits at most `timeoutMs`:
  *  - a NonFatal throw or a timeout becomes a NAMED failed entry
  *    (`Left`) and the run continues;
  *  - on timeout the thread is interrupted (best effort — a
  *    plan-explosion loop doesn't poll interrupts, but the thread is a
  *    daemon so it never blocks JVM exit) and the job group is
  *    cancelled together with every job the body submits later, so
  *    half-run and late jobs stop competing with the next query. The
  *    group id is the caller's name plus a per-call number
  *    (`<group>#<n>`): a cancelled id rejects all its future jobs, and
  *    callers reuse names (Bench's `bench-sweep-<q>` on every sweep);
  *  - whatever the outcome, [[ScratchCache]] is drained, so no
  *    scratch persist outlives its query.
  * A FRESH thread per call, not a pool: a hung body would poison a
  * shared worker for every later query — the exact serial failure this
  * guard exists to prevent.
  *
  * Fatal errors (OOM, linkage) are rethrown on the CALLING thread:
  * recording them as a per-query failure and running on in a corrupted
  * JVM is the contamination this guard must not hide.
  *
  * Spark-safety: the active-session thread-local and Spark's local
  * properties are inheritable, so the child thread runs in the same
  * execution environment as the caller, plus its own job group. */
object Preflight {

  /** Budget for constructing and analyzing one query (Bench preflight,
    * the contract spec). Generous because some builders legitimately
    * run jobs eagerly at construction (per-round checkpoints): a HANG
    * detector, not a slowness detector. */
  val AnalysisBudgetMs: Long = 120L * 1000L

  /** Budget for one run of a query or one store build, construction
    * through the final write (Verify, Canary, Bench's builds and timed
    * runs, Explain). */
  val RunBudgetMs: Long = 600L * 1000L

  /** A fatal error (OOM, LinkageError) a body threw AFTER its caller
    * gave up waiting — the caller can no longer rethrow it inline, so
    * it is parked here and rethrown by the NEXT [[bounded]] call: the
    * run aborts one query later instead of running on indefinitely in
    * a corrupted JVM. */
  private val escapedFatal =
    new java.util.concurrent.atomic.AtomicReference[Throwable](null)

  /** Test hook only: clear a parked fatal so one spec's planted error
    * cannot poison later suites in the same JVM. */
  private[core] def resetEscapedFatal(): Unit = escapedFatal.set(null)

  private val calls = new java.util.concurrent.atomic.AtomicLong()

  /** The one timed run of a query, for Bench, Canary and Explain:
    * `query` is built and written to the noop sink under [[bounded]]
    * with [[RunBudgetMs]], and the result is the seconds that took,
    * measured inside the guard (the thread start and the cache drain
    * are not in it). The noop sink materializes every column, where
    * count() would let Catalyst prune projections and under-measure
    * scan-heavy queries. Pass an already-built frame to time the write
    * alone. */
  def timed(spark: SparkSession, group: String)(query: => DataFrame): Either[String, Double] =
    bounded(spark, group, RunBudgetMs) {
      val t0 = System.nanoTime()
      query.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

  def bounded[T](spark: SparkSession, group: String, timeoutMs: Long)(body: => T): Either[String, T] = {
    Option(escapedFatal.get()).foreach(throw _)
    val sc = spark.sparkContext
    val jobGroup = s"$group#${calls.incrementAndGet()}"
    @volatile var outcome: Option[Either[Throwable, T]] = None
    val t = new Thread(
      { () =>
        // JVM-corrupting errors are ALWAYS parked first (race-free vs
        // the caller's timeout path); the inline rethrow below un-parks
        // the one it delivers, so only a timed-out body's fatal stays
        // parked. Only VirtualMachineError/LinkageError qualify — an
        // InterruptedException here is the EXPECTED result of our own
        // post-timeout interrupt, not contamination.
        outcome = Some(try {
          sc.setJobGroup(jobGroup, group, interruptOnCancel = true)
          Right(body)
        } catch { case e: Throwable =>
          if (e.isInstanceOf[VirtualMachineError] || e.isInstanceOf[LinkageError])
            escapedFatal.compareAndSet(null, e)
          Left(e)
        } finally sc.clearJobGroup())
      }: Runnable,
      s"graft-preflight-$group")
    t.setDaemon(true)
    t.start()
    try {
      t.join(timeoutMs)
      outcome match {
        case Some(Right(v))                 => Right(v)
        case Some(Left(e)) if !NonFatal(e)  =>
          escapedFatal.compareAndSet(e, null); throw e
        case Some(Left(e))                  =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName))
        case None =>
          t.interrupt()
          try sc.cancelJobGroupAndFutureJobs(jobGroup) catch { case NonFatal(_) => () }
          Left(s"$group timed out: still running after its ${timeoutMs / 1000.0} s budget")
      }
    } finally ScratchCache.drain()
  }
}
