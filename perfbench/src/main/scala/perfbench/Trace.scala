package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group: every job and task the
  * program ran while the group was set on the calling thread. */
final class GroupStats {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var execCpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleWriteRecords = 0L
  @volatile var spillBytes = 0L
  @volatile var planNs = 0L
  @volatile var cached = 0L
}

/** Benchmark-owned listener: counts jobs and task metrics per job
  * group, and reads each executed query's planning phases and cached
  * relations from its `QueryExecution`. Attached only in a traced run. */
final class GroupListener extends SparkListener with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile var current: String = ""

  def stats(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      stats(id).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { id =>
      val m = e.taskMetrics
      val s = stats(id)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.execCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }

  // QueryExecutionListener callbacks arrive on the listener bus after
  // the action; the harness drains the bus before it changes `current`,
  // so they land in the group of the call that ran the action.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val id = current
    if (id.nonEmpty) {
      val s = stats(id)
      val phases = qe.tracker.phases.values.map(p => p.durationMs).sum
      s.synchronized {
        s.planNs += phases * 1000000L
        s.cached += Plans.cachedRelations(qe.executedPlan)
      }
    }
  }
}

object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  /** InMemoryRelation scans plus checkpoint scans (a checkpointed or
    * locally checkpointed Dataset is read back as an existing-RDD scan)
    * in an executed plan, through adaptive stages and subqueries. */
  def cachedRelations(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case p: InMemoryTableScanExec => p
      case p: RDDScanExec if p.nodeName.contains("ExistingRDD") => p
    }.size.toLong
}

/** One span: a timed call at a layer boundary. `parent` is the id of
  * the span that caused it (0 for the run). Job-group counts are
  * copied in when the span ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      var endNs: Long = 0L, var stats: Option[GroupStats] = None)

/** In-memory span recorder for a traced run; written out at the end. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def start(name: String, parent: Int): Span = synchronized {
    nextId += 1
    val s = Span(nextId, parent, name, System.nanoTime())
    spans += s
    s
  }

  def end(s: Span): Unit = synchronized { s.endNs = System.nanoTime() }

  def toJson: String = spans.map { s =>
    val st = s.stats.map(g =>
      s""","jobs":${g.jobs},"tasks":${g.tasks},"exec_cpu_s":${g.execCpuNs / 1e9},""" +
        s""""shuffle_write_bytes":${g.shuffleWriteBytes},"shuffle_write_records":${g.shuffleWriteRecords},""" +
        s""""spill_bytes":${g.spillBytes},"gc_s":${g.gcMs / 1e3},"plan_s":${g.planNs / 1e9},"cached":${g.cached}""")
      .getOrElse("")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}$st}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Process-level counters read from the JVM itself. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Milliseconds the JIT compilers have spent compiling so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGc = 0L

  /** From now on, records the largest heap in use right after a
    * collection: what the program still held once the collector was
    * done, however far the collector had let the heap grow. */
  def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapAfterGc = math.max(heapAfterGc, used) }
        }, null, null)
    case _ =>
  }

  def peakHeapMb: Double = heapAfterGc / 1048576.0

  /** Peak resident set size (VmHWM) in MB, from /proc/self/status. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
