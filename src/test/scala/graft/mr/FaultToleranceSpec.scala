package graft.mr

import org.apache.spark.TaskContext
import graft.SparkTestBase

/** O10 parity: the reference's flagship demo is kill-a-worker recovery
  * (`README.md:173-186` — kill -9 a forked worker, master detects the
  * dropped connection, re-forks it and re-issues the task). Spark's
  * equivalent is scheduler task retry (`spark.task.maxFailures`, here
  * via master `local[4, 2]`): a map task that dies on its first attempt
  * is re-run, and because tasks are deterministic the answer is
  * unchanged — the same idempotent-rerun argument the reference relies
  * on (its tasks are deterministic file-overwrites).
  */
class FaultToleranceSpec extends SparkTestBase {

  private def chain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("map task failing on first attempt recovers and answers correctly") {
    import spark.implicits._
    val lines = spark.createDataset(Seq("a b a", "b c", "c d e", "a e"))
    val out = MapReduce.run(
      lines,
      (_, line) => {
        val tc = TaskContext.get()
        // ≅ kill -9 of worker 0 mid-map: first attempt of partition 0 dies
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException("injected worker failure")
        line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, "1"))
      },
      (_, vs) => Seq(vs.size.toString),
      2
    ).collect().toSeq
    assert(out == Seq(
      ("a", Seq("3")), ("b", Seq("2")), ("c", Seq("2")),
      ("d", Seq("1")), ("e", Seq("2"))))
  }

  test("a map_fn that always throws surfaces the user error (reference exit -2 parity)") {
    import spark.implicits._
    // The reference aborts with exit code -2 when map_fn throws
    // (include/MapReduceMaster.h:467-475). Spark's equivalent: retries
    // exhaust and the job fails with the user exception in the chain.
    val lines = spark.createDataset(Seq("a b"))
    val ex = intercept[Exception] {
      MapReduce.run(lines,
        (_, _) => throw new IllegalStateException("user map_fn error"),
        (_, vs) => vs.toSeq, 2).collect()
    }
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(c => String.valueOf(c.getMessage).contains("user map_fn error")))
  }

  test("a reduce_fn that always throws surfaces the user error (reference exit -3 parity)") {
    import spark.implicits._
    // The reference aborts with exit code -3 when reduce_fn throws
    // (include/MapReduceMaster.h:546-555); reduceFn runs inside the
    // reduce-side projection, whose failure must carry the user's message.
    val lines = spark.createDataset(Seq("a b"))
    val ex = intercept[Exception] {
      MapReduce.run(lines,
        (_, line) => line.split(" ").iterator.map(w => (w, "1")),
        (_, _) => throw new IllegalStateException("user reduce_fn error"), 2).collect()
    }
    assert(chain(ex).exists(c => String.valueOf(c.getMessage).contains("user reduce_fn error")))
  }

  test("DataFrame-path task failure also recovers (scan → agg query)") {
    import spark.implicits._
    val base = spark.range(0, 1000, 1, 4).as[Long]
    val poisoned = base.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 1 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected executor failure")
      it
    }
    val got = poisoned.toDF("v").groupBy(($"v" % 10).as("k"))
      .count().orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L to 9L).map(k => (k, 100L)))
  }
}
