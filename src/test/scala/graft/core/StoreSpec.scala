package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** Pins the one store lifecycle every artifact store shares: one build
  * per (session, corpus dir), under its scratch path, created before
  * the build runs; a failed build is retried, and concurrent first
  * callers share one build. */
class StoreSpec extends graft.SparkTestBase {

  private def counting(name: String)(body: (SparkSession, String, Path) => Unit = (_, _, _) => ()) = {
    val builds = new AtomicInteger()
    val store = new Store[Int](name, s"${name}_build")((s, dir, path) => {
      body(s, dir, path)
      builds.incrementAndGet()
    })
    (store, builds)
  }

  test("build runs once per (session, dir); another session or dir builds again") {
    val (store, builds) = counting("specstore")()
    assert(!store.built(spark, "/corpus/a"))
    assert(store(spark, "/corpus/a") == 1)
    assert(store(spark, "/corpus/a") == 1)
    assert(builds.get == 1)
    assert(store.built(spark, "/corpus/a"))
    val other = spark.newSession()
    assert(!store.built(other, "/corpus/a"))
    assert(store(other, "/corpus/a") == 2)
    assert(store(spark, "/corpus/b") == 3)
    assert(store(other, "/corpus/a") == 2 && store(spark, "/corpus/b") == 3)
    assert(builds.get == 3)
  }

  test("build gets the store's scratch path, already created") {
    var seen: Option[(Path, Boolean)] = None
    val (store, _) = counting("specpath")((_, _, path) => seen = Some((path, Files.isDirectory(path))))
    store(spark, "/corpus/p")
    val expected = Paths.get(Scratch.storePath("specpath", Store.key(spark, "/corpus/p")))
    assert(seen.contains((expected, true)))
  }

  test("a build that throws is not memoized: the caller sees it, the next call builds again") {
    val attempts = new AtomicInteger()
    val (store, builds) = counting("specfail")((_, _, _) =>
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("planted build failure"))
    val e = intercept[IllegalStateException](store(spark, "/corpus/f"))
    assert(e.getMessage == "planted build failure")
    assert(!store.built(spark, "/corpus/f"))
    assert(store(spark, "/corpus/f") == 1)
    assert(attempts.get == 2 && builds.get == 1)
  }

  test("concurrent first calls build once") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val (store, builds) = counting("specrace")((_, _, _) => Thread.sleep(200))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val call: java.util.concurrent.Callable[Int] = () => { gate.await(); store(spark, "/corpus/c") }
      val calls = (1 to 4).map(_ => pool.submit(call))
      gate.countDown()
      assert(calls.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS)) == Seq(1, 1, 1, 1))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }
}
