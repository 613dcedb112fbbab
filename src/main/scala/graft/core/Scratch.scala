package graft.core

/** Scratch paths for the memoized artifact stores.
  *
  * The memo policy lives in [[Store]]: each store builds once per
  * (session identity, corpus dir) in this process and writes with
  * mode("overwrite") under `storePath(store name, memo key)`. The path
  * must therefore be unique PER WRITER, or two concurrent runners over
  * the same corpus — or two memo keys colliding on a short hash —
  * overwrite the store another runner is mid-read (the r12 advice
  * finding). Uniqueness here comes from:
  *  - the JVM pid: concurrent processes never share a path, and a
  *    fresh process always rebuilds (its memo starts empty), so a
  *    stale half-written store from a crashed run is never read;
  *  - 16 hex chars of md5(memo key): two keys sharing a path within
  *    one process is effectively impossible (vs the previous 32-bit
  *    murmur slug).
  * Cost: one store copy per (process, key) under the scratch root
  * (SPARK_GRAFT_SCRATCH, default java.io.tmpdir) instead of one per
  * corpus — sf-scale artifacts in an ephemeral dir. Per-pid paths
  * made the stores unreclaimable by name alone (the old fixed paths
  * were at least reused), so reclamation is explicit (r13 advice):
  * a shutdown hook deletes THIS process's trees, and the first
  * storePath call sweeps trees whose embedded pid is dead — repeated
  * rounds can't accumulate orphans from crashed or kill -9'd runs. */
object Scratch {
  /** 16 hex chars of md5(memoKey) — also safe inside catalog table
    * names (letters/digits only). */
  def slug(memoKey: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(memoKey.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  private def root: java.nio.file.Path = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", System.getProperty("java.io.tmpdir")))

  private def deleteTree(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        val stream = java.nio.file.Files.walk(p)
        try stream.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f =>
            try java.nio.file.Files.deleteIfExists(f)
            catch { case scala.util.control.NonFatal(_) => () })
        finally stream.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Every path this process handed out — deleted at JVM exit. */
  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Best-effort sweep of `graft-*-p<pid>-*` trees whose pid is no
    * longer alive (a crashed/killed run never reaches its shutdown
    * hook). Live pids — concurrent runners — are untouched. */
  private[core] def sweepDeadNow(): Unit = {
    val pidPat = java.util.regex.Pattern.compile("graft-[a-z]+-p(\\d+)-[0-9a-f]+")
    try {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.list(root)
      try stream.iterator().asScala.foreach { p =>
        val m = pidPat.matcher(p.getFileName.toString)
        if (m.matches() && m.group(1).toLong != ProcessHandle.current().pid() &&
            !ProcessHandle.of(m.group(1).toLong).map[Boolean](_.isAlive).orElse(false))
          deleteTree(p)
      } finally stream.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Once per JVM: sweep orphans, then register the exit cleanup of
    * this process's own trees. */
  private lazy val sweepDead: Unit = {
    sweepDeadNow()
    Runtime.getRuntime.addShutdownHook(new Thread({ () =>
      created.forEach(s => deleteTree(java.nio.file.Paths.get(s)))
    }: Runnable, "graft-scratch-cleanup"))
  }

  def storePath(kind: String, memoKey: String): String = {
    sweepDead
    val p = root
      .resolve(s"graft-$kind-p${ProcessHandle.current().pid()}-${slug(memoKey)}").toString
    created.add(p)
    p
  }
}
