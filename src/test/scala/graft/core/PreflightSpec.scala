package graft.core

import graft.SparkTestBase

/** Pins the guard every runner (Bench, Verify, Canary, Explain,
  * QueryCatalogContractSpec) runs each query through: a query that
  * throws, or whose construction or execution hangs — the r12 q155
  * failure, where exponential plan nesting spun the analyzer forever —
  * must become one named failed entry, never a dead run, and its
  * Spark jobs and scratch caches must not outlive it. */
class PreflightSpec extends SparkTestBase {

  test("well-behaved body returns Right") {
    assert(Preflight.bounded(spark, "ok", 30000L) { 41 + 1 } == Right(42))
  }

  test("a NonFatal throw becomes a Left with the message") {
    val r = Preflight.bounded(spark, "boom", 30000L) {
      throw new IllegalStateException("planted failure"); ()
    }
    assert(r == Left("planted failure"))
  }

  test("a fatal error is rethrown on the calling thread, not recorded") {
    intercept[java.lang.LinkageError] {
      Preflight.bounded(spark, "fatal", 30000L) { throw new LinkageError("planted"); () }
    }
  }

  test("a hung body times out into a failure naming its job group and budget") {
    val t0 = System.nanoTime()
    val r = Preflight.bounded(spark, "hang", 500L) {
      Thread.sleep(600000L); ()
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(r.isLeft && r.swap.exists(_.contains("timed out")))
    assert(r.swap.exists(m => m.contains("hang") && m.contains("0.5 s budget")), s"unnamed failure: $r")
    assert(elapsedMs < 10000L, s"guard returned after ${elapsedMs}ms — not bounded")
  }

  test("a timed-out Spark job is cancelled, its scratch frame unpersisted, and the session stays usable") {
    import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val group = "preflight-spec-sleeper"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.LinkedBlockingQueue[JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id").startsWith(s"$group#"))) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) ended.put(e.jobResult)
    }
    val sc = spark.sparkContext
    // warm the session so the body reaches its job well inside the
    // budget: a job started after the cancel is not cancelled
    sc.parallelize(1 to 4, 4).count()
    spark.range(8).toDF("v").schema
    sc.addSparkListener(listener)
    try {
      val frame = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
      val t0 = System.nanoTime()
      val r = Preflight.bounded(spark, group, 3000L) {
        frame.set(ScratchCache.persist(spark.range(8).toDF("v")))
        sc.parallelize(1 to 4, 4).map { x => Thread.sleep(120000L); x }.count()
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(r.isLeft && r.swap.exists(_.contains("timed out")), s"expected a timeout, got $r")
      assert(elapsedMs < 10000L, s"guard returned after ${elapsedMs}ms — not bounded")
      val result = ended.poll(5L, java.util.concurrent.TimeUnit.SECONDS)
      assert(result != null, "the sleeping job did not end within 5 s of the timeout: group not cancelled")
      assert(result.isInstanceOf[JobFailed], s"the job should end cancelled, got $result")
      assert(frame.get != null && frame.get.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the body's scratch frame must be unpersisted")
      assert(Preflight.bounded(spark, "after-cancel", 30000L) { spark.range(10).count() } == Right(10L))
    } finally sc.removeSparkListener(listener)
  }

  test("a job the body starts after its budget is cancelled; the next call under the same name runs") {
    val group = "preflight-spec-late"
    val late = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Long]]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val sc = spark.sparkContext
    val r = Preflight.bounded(spark, group, 500L) {
      // outlive the budget, ignoring the guard's interrupt, then submit
      // a job whose tasks would run for 5 s each if it were let through
      val deadline = System.nanoTime() + 1500L * 1000000L
      while (System.nanoTime() < deadline)
        try Thread.sleep(50L) catch { case _: InterruptedException => () }
      try late.set(Right(sc.parallelize(1 to 4, 4).map { x => Thread.sleep(5000L); x.toLong }.reduce(_ + _)))
      catch { case e: Throwable => late.set(Left(e)) }
      finally done.countDown()
    }
    assert(r.isLeft && r.swap.exists(m => m.contains(group) && m.contains("timed out")), s"expected a timeout, got $r")
    assert(done.await(30L, java.util.concurrent.TimeUnit.SECONDS), "the late job never returned")
    assert(late.get.isLeft, s"the job submitted after the timeout ran to the end: ${late.get}")
    assert(Preflight.bounded(spark, group, 30000L) { spark.range(10).count() } == Right(10L))
  }

  test("a fatal thrown AFTER the caller timed out aborts the NEXT bounded call") {
    // r13 advice: an OOM/LinkageError landing on the daemon thread
    // after join() expired used to vanish into the never-re-read
    // outcome — the run kept benching in a corrupted JVM. Now it is
    // parked and rethrown by the next call.
    try {
      val r = Preflight.bounded(spark, "late-fatal", 300L) {
        // outlive the timeout, ignoring the guard's interrupt, then die
        val deadline = System.nanoTime() + 800L * 1000000L
        while (System.nanoTime() < deadline)
          try Thread.sleep(50L) catch { case _: InterruptedException => () }
        throw new LinkageError("late planted fatal"); ()
      }
      assert(r.isLeft && r.swap.exists(_.contains("timed out")))
      // give the daemon thread time to reach its throw
      Thread.sleep(1500L)
      val e = intercept[LinkageError] { Preflight.bounded(spark, "next", 30000L) { 1 } }
      assert(e.getMessage == "late planted fatal")
    } finally Preflight.resetEscapedFatal()
  }

  test("a deliberately-pathological exponential self-join query yields a failed entry, not a dead run") {
    // The r12 q155 failure mode, reproduced as a fixture: each round
    // self-joins the frame, so construction-time analysis clones a
    // plan that doubles per round — by round 24 the analyzer walk is
    // effectively unbounded. The builder polls interrupts BETWEEN
    // rounds so the runaway daemon thread stops shortly after the
    // guard fires instead of churning a core for the rest of the
    // suite; in Bench/Verify the interrupt lands the same way.
    import spark.implicits._
    val t0 = System.nanoTime()
    val r = Preflight.bounded(spark, "exponential-self-join", 1500L) {
      var d = spark.range(4).toDF("v")
      for (_ <- 1 to 24) {
        if (Thread.interrupted()) throw new InterruptedException("preflight interrupt")
        d = d.join(d.withColumnRenamed("v", "w"), $"v" === $"w").drop("w")
      }
      d.schema
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(r.isLeft && r.swap.exists(_.contains("timed out")),
      s"expected a preflight timeout, got $r")
    assert(elapsedMs < 30000L, s"guard returned after ${elapsedMs}ms — not bounded")
  }
}
