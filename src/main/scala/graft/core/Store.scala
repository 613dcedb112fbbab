package graft.core

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** A memoized per-corpus artifact that some catalog queries read at
  * construction: run N's one-off output, which run N+1 replays.
  *
  * `apply(s, dir)` builds the store once per (session, corpus dir) and
  * returns what `build` returned on every later call. The build writes
  * under `Scratch.storePath(name, key)`, which exists before `build`
  * runs. A build that throws is not memoized: the exception reaches the
  * caller and the next call builds again. Concurrent first calls build
  * once.
  *
  * Bench builds each store once, untimed by the sweeps, and records the
  * build under `detailKey` in BENCH_DETAIL.json; the queries that
  * declare the store in their [[Query.reads]] are analyzed only after
  * the build, and are marked failed if it fails. */
final class Store[A](val name: String, val detailKey: String)(
    build: (SparkSession, String, Path) => A) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, A]()

  def apply(s: SparkSession, dir: String): A =
    memo.computeIfAbsent(Store.key(s, dir), key => {
      val path = Paths.get(Scratch.storePath(name, key))
      Files.createDirectories(path)
      build(s, dir, path)
    })

  /** Whether this store has been built for `s` and `dir`. */
  def built(s: SparkSession, dir: String): Boolean = memo.containsKey(Store.key(s, dir))
}

object Store {
  /** Session identity plus corpus dir: a session-scoped artifact (the
    * bucket store's catalog tables) must not leak into another session. */
  private[core] def key(s: SparkSession, dir: String): String =
    s"${System.identityHashCode(s)}|$dir"
}
