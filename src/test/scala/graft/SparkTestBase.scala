package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (forked test JVM reuses it).
  *
  * `spark` is a def resolving through `getOrCreate`, so suites that must
  * own the SparkContext lifecycle (extension injection, which needs
  * `spark.sql.extensions` in the STATIC conf) can stop + clear the
  * session and every later suite transparently rebuilds it.
  *
  * Master is `local[4, 2]` — 2 task-failure retries — so the
  * fault-tolerance suite can inject a first-attempt task failure and
  * observe recovery, mirroring the reference's kill-a-worker demo
  * (README.md:173-186). Plain `local[4]` pins maxFailures to 1.
  */
trait SparkTestBase extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  // lazy val (not def): `import spark.implicits._` needs a stable
  // identifier. Per-suite-instance, so a suite that ran after a
  // context teardown re-resolves through getOrCreate.
  lazy val spark: SparkSession = SparkTestBase.session

  // suites that build catalog queries (plan-shape, recall, contract)
  // register scratch caches the way Bench/Verify do — release them so
  // they don't pile up across the shared session's lifetime
  override protected def afterAll(): Unit = {
    graft.core.ScratchCache.drain()
    super.afterAll()
  }
}

object SparkTestBase {
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  def session: SparkSession = graft.core.Sessions.builder("local[4, 2]", 4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", warehouse) // keep bucketed-table tests out of the repo tree
    .getOrCreate()
}
