package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BusAccess
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.apps.{InvertedIndex, WordCount}
import graft.core.ScratchCache
import graft.sinks.TextKVSink
import graft.sources.Sources

/** Closed-loop benchmark harness: one client, one operation in flight,
  * on a single-process `local[nproc]` session.
  *
  *   perfbench.Harness --workload W --seed S --seconds T --trace 0|1
  *                     --nproc N --corpus DIR --data DIR --work DIR
  *                     --expected FILE --out FILE [--stamp]
  *
  * A run sets up once: a session and one untimed warm-up pass, timed
  * from JVM start. (A second set-up in the same JVM would time a warm
  * one, and a second JVM does not fit the run's time budget: a cold
  * canary pass takes about 30 s on 4 cores.) mr-apps then warms up for
  * one more untimed pass. It then runs passes until
  * `seconds` have elapsed, then the reference apps on the x1 corpus.
  * Every operation's output is checked outside the timed region. It
  * writes one JSON result to `--out`. With `--trace 1` it warms up for
  * one more pass, then runs every operation of a pass twice, untraced
  * and traced, in alternating order (see `pairedPass`), and reports the
  * per-layer numbers of the traced runs; the spans go to
  * `<work>/spans.json`.
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        nproc: Int, corpus: String, data: String, work: String,
                        expected: String, out: String, stamp: Boolean)

  val Canary: Seq[String] = graft.Canary.CanarySet
  val Apps: Seq[String] = Seq("wordcount", "invertedindex")

  /** Runs of both apps on the x1 corpus after the measured passes: on
    * mr-apps a byte-parity check, on catalog-canary also the source of
    * its per-app times and mr-layer numbers (fewer in a traced run,
    * where each one also runs the layer probes). The canary pass leaves
    * the app path cold: its first x1 WordCount takes about 1 s, and the
    * next ones fall from 0.37 to 0.27 s over eight more on 4 cores, so
    * the per-app times skip the first `ParityWarmup` runs. */
  val ParityReps: Map[String, Int] = Map("mr-apps" -> 1, "catalog-canary" -> 13)
  val ParityWarmup = 4


  val TracedParityReps = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("nproc").toInt, kv("corpus"), kv("data"), kv("work"), kv("expected"), kv("out"),
      argv.contains("--stamp"))
    val run = new Run(conf)
    try run.execute()
    finally run.stop()
  }

  // ------------------------------------------------------------ checks

  /** sha256 of the lines, sorted, each followed by '\n' (the merged,
    * key-sorted union of the sink's part files). */
  def sortedSha(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def partLines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)

  /** Order-insensitive content digest, gathered while the sink consumes
    * the rows: row count plus the sum of per-row 64-bit hashes.
    * Floating-point columns are hashed at float precision so the last
    * bits of a double sum may not decide the check. */
  def digestColumns(df: DataFrame): Seq[Column] = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => x.cast(FloatType) + lit(0.0f))
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("digest"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it, and its
    * value; None below 40 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => s.size * (100 - p) / 100 >= 10)
      .map(p => (p, s(math.ceil(p / 100 * s.size).toInt - 1)))
  }
}

/** Receives the digest a catalog operation observes on its way to the
  * sink. A named observation read from the `QueryExecution` (rather
  * than an `Observation` object) leaves the session's observation
  * manager unused: creating it makes the session unserializable, which
  * breaks `MapReduce.runFold`, whose aggregator captures the session. */
final class Digests extends org.apache.spark.sql.util.QueryExecutionListener {
  private val last = new java.util.concurrent.atomic.AtomicReference[Row]()

  override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
    qe.observedMetrics.get(Digests.Name).foreach(last.set)
  override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()

  def take(): Option[Row] = Option(last.getAndSet(null))
}

object Digests { val Name = "perfbench_digest" }

final case class OpResult(name: String, wallS: Double, cpuS: Double, ok: Boolean,
                          buildS: Double = 0, execS: Double = 0, group: Option[GroupStats] = None)

final class Run(c: Harness.Conf) {
  import Harness._

  private var spark: SparkSession = _
  private var listener: GroupListener = _ // attached only during traced calls
  private val tracer = new Tracer
  private var digests: Digests = _
  private var attempted = 0L
  private var failed = 0L
  private val expected: Map[String, String] = loadExpected()
  private val stamped = ArrayBuffer.empty[(String, String)]
  private val corpusFacts: Map[String, String] = loadProps(s"${c.corpus}/corpus.properties")

  private def loadProps(p: String): Map[String, String] =
    if (!Files.exists(Paths.get(p))) Map.empty
    else Files.readAllLines(Paths.get(p), UTF_8).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  private def loadExpected(): Map[String, String] =
    if (!Files.exists(Paths.get(c.expected))) Map.empty
    else Files.readAllLines(Paths.get(c.expected), UTF_8).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  // ---------------------------------------------------------- session

  private def newSession(): Unit = {
    stop()
    val local = s"${c.work}/spark-local"
    spark = SparkSession.builder()
      .master(s"local[${c.nproc}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    digests = new Digests
    spark.listenerManager.register(digests)
  }

  def stop(): Unit = if (spark != null) {
    ScratchCache.drain()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  private def setTracing(on: Boolean): Unit = {
    if (on && listener == null) {
      listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    } else if (!on && listener != null) {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
      listener = null
    }
  }

  // -------------------------------------------------------- operations

  private def corpusPath(scale: String) = s"${c.corpus}/corpus_$scale.txt"

  /** Runs `body` as one traced call: its own span and job group; `body`
    * gets the span id. Untraced, it only times the call. Returns the
    * result, the seconds taken and the group's Spark work. */
  private def call[T](name: String, parent: Int)(body: Int => T): (T, Double, Option[GroupStats]) =
    if (listener == null) {
      val t0 = System.nanoTime()
      val r = body(0)
      (r, (System.nanoTime() - t0) / 1e9, None)
    } else {
      val sc = spark.sparkContext
      val span = tracer.start(name, parent)
      val group = s"pb-${span.id}"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      listener.current = group
      try {
        val r = body(span.id)
        tracer.end(span)
        BusAccess.drain(sc)
        span.stats = Some(listener.stats(group))
        (r, (span.endNs - span.startNs) / 1e9, span.stats)
      } finally {
        if (span.endNs == 0) tracer.end(span)
        BusAccess.drain(sc)
        listener.current = ""
        sc.clearJobGroup()
      }
    }

  private def guarded(name: String)(body: => OpResult): OpResult = {
    attempted += 1
    val gc0 = Proc.gcMs
    val jit0 = Proc.jitMs
    val r = try body catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
        OpResult(name, Double.NaN, Double.NaN, ok = false)
    } finally ScratchCache.drain()
    if (!r.ok) failed += 1
    System.err.println(f"[perfbench] op $name%s ${r.wallS}%.3f s (build ${r.buildS}%.3f, cpu ${r.cpuS}%.2f s, " +
      f"gc ${(Proc.gcMs - gc0) / 1e3}%.3f s, jit ${(Proc.jitMs - jit0) / 1e3}%.3f s) ok=${r.ok}")
    r
  }

  /** One reference-app job end to end, the way AppRunner composes it:
    * text source, facade, O8 text sink. The merged output is checked
    * against the generator's expectation after the clock stops. */
  def mrOp(app: String, scale: String, parent: Int): OpResult = guarded(s"$app@$scale") {
    val out = s"${c.work}/out/$app-$scale"
    val cpu0 = Proc.cpuNs
    val (_, wall, g) = call(s"sinks.$app", parent) { _ =>
      val lines = Sources.textLines(spark, corpusPath(scale))
      val kv = app match {
        case "wordcount" => WordCount.viaFacade(lines).toDF("key", "values")
        case _ => InvertedIndex.viaFacade(lines, c.nproc).toDF("key", "values")
      }
      TextKVSink.write(kv, "key", "values", out, c.nproc)
    }
    val cpu = (Proc.cpuNs - cpu0) / 1e9
    val want = corpusFacts.getOrElse(s"$app.$scale.sha256", "missing")
    val got = sortedSha(partLines(out))
    if (got != want) System.err.println(s"[perfbench] $app@$scale output sha $got != expected $want")
    OpResult(app, wall, cpu, got == want, group = g)
  }

  /** A span below the current call, recorded only while tracing. */
  private def timed[T](name: String, parent: Int)(body: => T): (T, Double) = {
    val span = Option.when(listener != null)(tracer.start(name, parent))
    val t0 = System.nanoTime()
    val r = body
    span.foreach(tracer.end)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One catalog query through the noop sink: build (the catalog call,
    * including any eager checkpoint jobs), then execute. Row count and
    * content digest are gathered by an observation on the way to the
    * sink and compared with the stamped values. */
  def queryOp(q: String, parent: Int): OpResult = guarded(q) {
    val cpu0 = Proc.cpuNs
    val ((buildS, execS), wall, g) = call(q, parent) { id =>
      val (df, buildS) = timed("build", id)(SparkEntry.queries(q)(spark, c.data))
      val (_, execS) = timed("exec", id) {
        df.observe(Digests.Name, digestColumns(df).head, digestColumns(df).tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
      (buildS, execS)
    }
    val cpu = (Proc.cpuNs - cpu0) / 1e9
    BusAccess.drain(spark.sparkContext)
    val m = digests.take().getOrElse(throw new IllegalStateException("no digest observed"))
    val got = s"${m.getAs[Long]("rows")} ${m.getAs[java.math.BigDecimal]("digest")}"
    val ok =
      if (c.stamp) { stamped += (q -> got); true }
      else expected.get(q) match {
        case Some(want) if want == got => true
        case want =>
          System.err.println(s"[perfbench] $q digest '$got' != stamped '${want.getOrElse("missing")}'")
          false
      }
    OpResult(q, wall, cpu, ok, buildS, execS, g)
  }

  // ------------------------------------------------------------ passes

  /** The workload's operations for one pass, each with its place in the
    * workload's fixed list and taking its parent span; the seed permutes
    * the query order of each pass. */
  def ops(index: Int): Seq[(Int, Int => OpResult)] = c.workload match {
    case "mr-apps" => Apps.zipWithIndex.map { case (a, k) => (k, (p: Int) => mrOp(a, "x100", p)) }
    case _ =>
      val rnd = new scala.util.Random(c.seed * 1000003L + index)
      rnd.shuffle(Canary.zipWithIndex).map { case (q, k) => (k, (p: Int) => queryOp(q, p)) }
  }

  /** One untraced pass over the workload's operations. */
  def pass(index: Int): Seq[OpResult] = ops(index).map(_._2(0))

  /** One pass of a traced run: every operation twice in a row, once
    * untraced and once traced. The second of the two runs faster (by
    * about a third for a short catalog query), so which goes first
    * alternates from pass to pass for each operation, and from one
    * operation to the next: over an even number of passes each side
    * goes first equally often. Returns the untraced and the traced
    * results. */
  def pairedPass(index: Int, parent: Int): (Seq[OpResult], Seq[OpResult]) = {
    val span = tracer.start(s"pass-$index", parent)
    val pairs = ops(index).map { case (k, op) =>
      def run(traced: Boolean) = { setTracing(traced); op(span.id) }
      if ((index + k) % 2 == 0) { val u = run(false); (u, run(true)) }
      else { val t = run(true); (run(false), t) }
    }
    setTracing(false)
    tracer.end(span)
    (pairs.map(_._1), pairs.map(_._2))
  }

  // --------------------------------------------------- per-layer probes

  /** Layer calls of the reference path, each through the noop sink:
    * the text source alone, each app's facade, and its DataFrame twin. */
  def mrLayerProbes(scale: String, parent: Int): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val path = corpusPath(scale)
    val (_, readS, _) = call("sources.read", parent)(_ => noop(Sources.textLines(spark, path).toDF()))
    out("sources.read_s") = readS
    val pairs = corpusFacts.getOrElse(s"tokens.$scale", "NaN").toDouble
    for (app <- Apps) {
      val (_, s, g) = call(s"mr.$app", parent) { _ =>
        val lines = Sources.textLines(spark, path)
        noop(app match {
          case "wordcount" => WordCount.viaFacade(lines).toDF()
          case _ => InvertedIndex.viaFacade(lines, c.nproc).toDF()
        })
      }
      val (_, twinS, _) = call(s"mr.$app.df", parent) { _ =>
        val lines = Sources.textLines(spark, path)
        noop(app match {
          case "wordcount" => WordCount.counts(lines)
          case _ =>
            val session = spark
            import session.implicits._
            InvertedIndex.index(lines.rdd.zipWithIndex().toDF("value", "pos"), "pos", "value")
        })
      }
      val st = g.get
      out(s"mr.$app.s") = s
      out(s"mr.$app.jobs") = st.jobs.toDouble
      out(s"mr.$app.exec_cpu_s") = st.execCpuNs / 1e9
      out(s"mr.$app.df_ratio") = s / twinS
      out(s"mr.$app.shuffle_mb") = st.shuffleWriteBytes / 1e6
      out(s"mr.$app.combine_ratio") = st.shuffleWriteRecords / pairs
    }
    out.toMap
  }

  /** Single-threaded plain-Scala run of both apps over the same file,
    * written as one O8 file and checked like the engine's output. */
  def baseline(scale: String, parent: Int): Map[String, Double] =
    Apps.map { app =>
      attempted += 1
      val span = tracer.start(s"baseline.$app", parent)
      val t0 = System.nanoTime()
      val lines = StBaseline.run(app, corpusPath(scale), s"${c.work}/out/st-$app-$scale.txt")
      val s = (System.nanoTime() - t0) / 1e9
      tracer.end(span)
      if (sortedSha(lines) != corpusFacts.getOrElse(s"$app.$scale.sha256", "missing")) {
        failed += 1
        System.err.println(s"[perfbench] baseline $app@$scale output mismatch")
      }
      s"baseline.$app.st_s" -> s
    }.toMap

  // --------------------------------------------------------------- run

  def execute(): Unit = {
    Files.createDirectories(Paths.get(c.work, "out"))
    Proc.watchHeap()
    newSession()
    pass(-1)
    val setupS = (System.currentTimeMillis() - Proc.startMs) / 1e3
    if (c.stamp) {
      val body = (expected ++ stamped).toSeq.sorted.map { case (q, v) => s"$q\t$v" }.mkString("\n")
      Files.write(Paths.get(c.expected), (body + "\n").getBytes(UTF_8))
      return
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // a metric without samples is left out; run.py reports a declared
    // layer metric this workload never exercised as 0
    def timing(name: String, xs: Seq[Double]): Unit = xs.filterNot(_.isNaN) match {
      case Seq() =>
      case v =>
        metrics(name) = median(v)
        samples(name) = s"""{"median":${Json.num(median(v))},"n":${v.size}""" +
          tail(v).map { case (p, x) => s""","p$p":${Json.num(x)}""" }.getOrElse("") + "}"
    }

    val passes = ArrayBuffer.empty[Seq[OpResult]]
    val tracedPasses = ArrayBuffer.empty[(Seq[OpResult], Double, Map[String, Double])]
    // The JVM still speeds up after the set-up pass: on mr-apps the next
    // pass ran about a fifth slower than the ones after it, and a run
    // measures only two or three passes. So mr-apps, and a traced run
    // before it compares the two sides, warm up for one more pass.
    // (A catalog pass is too long for that within the run's budget.)
    if (c.trace || c.workload == "mr-apps") pass(-2)
    val run = tracer.start("run", 0)
    val runSpan = run.id
    val t0 = System.nanoTime()
    var index = 0
    // Closed loop; a traced run ends on an even number of passes, so
    // each operation has gone first as often untraced as traced.
    def more = (System.nanoTime() - t0) / 1e9 < c.seconds || index == 0
    while (if (c.trace) index % 2 != 0 || more else more) {
      val gc0 = Proc.gcMs
      if (c.trace) {
        val (untraced, traced) = pairedPass(index, runSpan)
        // the pass ran every operation twice; half its GC is one pass's
        val gcS = (Proc.gcMs - gc0) / 2e3
        setTracing(true)
        val layer =
          if (c.workload == "mr-apps") mrLayerProbes("x100", runSpan) ++ baseline("x100", runSpan)
          else Map.empty[String, Double]
        setTracing(false)
        passes += untraced
        tracedPasses += ((traced, gcS, layer))
      } else passes += pass(index)
      index += 1
    }

    // The reference apps on the x1 corpus, byte-compared with the goldens.
    val mr = c.workload == "mr-apps"
    val parity = ArrayBuffer.empty[OpResult]
    val parityTraced = ArrayBuffer.empty[OpResult]
    val parityLayers = ArrayBuffer.empty[Map[String, Double]]
    for (_ <- 0 until (if (c.trace) ParityReps(c.workload).min(TracedParityReps) else ParityReps(c.workload))) {
      setTracing(false)
      parity ++= Apps.map(a => mrOp(a, "x1", runSpan))
      if (c.trace && !mr) {
        setTracing(true)
        parityTraced ++= Apps.map(a => mrOp(a, "x1", runSpan))
        parityLayers += mrLayerProbes("x1", runSpan) ++ baseline("x1", runSpan)
      }
    }
    setTracing(false)
    tracer.end(run)

    if (!c.trace) {
      val appOps = if (mr) passes.flatten.toSeq else parity.drop(2 * ParityWarmup).toSeq
      timing("setup_s", Seq(setupS))
      timing("wordcount_s", appOps.filter(_.name == "wordcount").map(_.wallS))
      timing("invertedindex_s", appOps.filter(_.name == "invertedindex").map(_.wallS))
      timing("sweep_s", passes.map(_.map(_.wallS).sum).toSeq)
      timing("cpu_s", passes.map(_.map(_.cpuS).sum).toSeq)
      metrics("ok_rate") = (attempted - failed).toDouble / attempted
    } else {
      val layers = if (mr) tracedPasses.map(_._3).toSeq else parityLayers.toSeq
      layers.head.keys.foreach(k => timing(k, layers.map(_(k))))
      val tracedOps = tracedPasses.flatMap(_._1).toSeq
      val sinkOps = if (mr) tracedOps else parityTraced.toSeq
      for (app <- Apps) {
        val ops = sinkOps.filter(_.name == app)
        timing(s"sinks.$app.s", ops.map(_.wallS))
        timing(s"sinks.$app.jobs", ops.flatMap(_.group).map(_.jobs.toDouble))
      }
      for (q <- Canary) {
        val ops = tracedOps.filter(_.name == q)
        def st(f: GroupStats => Double) = ops.flatMap(_.group).map(f)
        timing(s"$q.build_s", ops.map(_.buildS))
        timing(s"$q.exec_s", ops.map(_.execS))
        timing(s"$q.exec_cpu_s", st(_.execCpuNs / 1e9))
        timing(s"$q.shuffle_mb", st(_.shuffleWriteBytes / 1e6))
        timing(s"$q.jobs", st(_.jobs.toDouble))
        timing(s"$q.cached", st(_.cached.toDouble))
      }
      val w = c.workload
      def perPass(f: GroupStats => Double) = tracedPasses.map(_._1.flatMap(_.group).map(f).sum).toSeq
      timing(s"$w.plan_s", perPass(_.planNs / 1e9))
      timing(s"$w.gc_s", tracedPasses.map(_._2).toSeq)
      timing(s"$w.spill_mb", perPass(_.spillBytes / 1e6))
      // Memory is reported per layer only: with the heap free to grow,
      // both figures follow the collector's sizing decisions, and over
      // ten seeds their spread reached 25-31 % on catalog-canary.
      metrics(s"$w.peak_rss_mb") = Proc.peakRssMb
      metrics(s"$w.peak_heap_mb") = Proc.peakHeapMb
      // traced ÷ untraced end to end − 1, over the same run's pairs
      val tr = tracedPasses.map(_._1.map(_.wallS).sum).sum
      val un = passes.map(_.map(_.wallS).sum).sum
      metrics(s"$w.trace_overhead") = tr / un - 1
      Files.write(Paths.get(c.work, "spans.json"), tracer.toJson.getBytes(UTF_8))
    }

    def metricJson = metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    def samplesJson = samples.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val host = Seq(
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "nproc" -> c.nproc.toString,
      "passes" -> (passes.size + tracedPasses.size).toString)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":$metricJson,"samples":$samplesJson,"jvm":$host}"""
    Files.write(Paths.get(c.out), (json + "\n").getBytes(UTF_8))
  }
}
