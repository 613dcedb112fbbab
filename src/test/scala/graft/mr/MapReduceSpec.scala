package graft.mr

import org.apache.spark.sql.{Encoders, Observation}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{count, lit}
import graft.SparkTestBase
import graft.apps.WordCount

/** Facade laws (SURVEY.md §5 test plan items 1 and 4a/4b):
  * equivalence with a naive Scala groupBy-fold, and partition-count
  * invariance (the reference's N_WORKER knob must never change
  * answers). */
class MapReduceSpec extends SparkTestBase {

  private val corpus = Seq(
    "the quick brown fox",
    "jumps over the lazy dog",
    "the dog barks",
    "", // empty line: no tokens, no pairs
    "fox fox fox")

  // map fns live in the companion so Spark closures don't capture the
  // (non-serializable) suite instance
  import MapReduceSpec.{ManyPairs, manyPairs, mapOnes, tokenMap}

  /** Naive single-threaded oracle of the reference pipeline. */
  private def naive(lines: Seq[String],
                    mapFn: (Long, String) => Iterator[(String, String)],
                    reduceFn: (String, Iterator[String]) => Seq[String]): Seq[(String, Seq[String])] =
    lines.zipWithIndex
      .flatMap { case (l, i) => mapFn(i.toLong, l) }
      .groupBy(_._1)
      .map { case (k, kvs) => (k, reduceFn(k, kvs.map(_._2).iterator)) }
      .toSeq.sortBy(_._1)

  test("run == naive groupBy fold (positions reducer)") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val reduceFn = (_: String, vs: Iterator[String]) => vs.toSeq.distinct.sorted
    val got = MapReduce.run(ds, tokenMap, reduceFn, 2).collect().toSeq
    val want = naive(corpus, tokenMap, reduceFn)
    assert(got == want)
  }

  test("numPartitions never changes the answer (N_WORKER invariance)") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val reduceFn = (_: String, vs: Iterator[String]) => Seq(vs.size.toString)
    val results = Seq(1, 2, 7).map(n => MapReduce.run(ds, tokenMap, reduceFn, n).collect().toSeq)
    assert(results.distinct.size == 1)
  }

  test("runFold (algebraic) == run (generic) for a sum reducer") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val generic = MapReduce.run(ds, mapOnes,
      (_, vs) => Seq(vs.map(_.toLong).sum.toString), 2).collect().toSeq
    val folded = MapReduce.runFold[Long](ds, mapOnes,
      0L, (b, v) => b + v.toLong, _ + _, b => Seq(b.toString)).collect().toSeq
    assert(folded == generic)
  }

  test("output is key-sorted (O6: byte-wise string order)") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val keys = MapReduce.run(ds, tokenMap, (_, vs) => vs.toSeq, 3)
      .collect().map(_._1).toSeq
    assert(keys == keys.sorted)
  }

  test("pack flushes at the cap: a row is out after exactly cap pairs are read") {
    var read = 0
    val pairs = Iterator.tabulate(7) { i => read += 1; (if (i % 2 == 0) "a" else "b", i.toString) }
    val packed = MapReduce.pack(pairs, 3)
    packed.next()
    assert(read == 3)
    packed.toList
    assert(read == 7)
  }

  test("pack: one row per key per flush, a final flush, nothing for no input") {
    val rows = MapReduce.pack(Iterator.fill(7)("k" -> "v"), 3).toSeq
    assert(rows.map(_._2.size) == Seq(3, 3, 1))
    assert(MapReduce.pack(Iterator.empty, 3).isEmpty)
    assertThrows[IllegalArgumentException](MapReduce.pack(Iterator.empty, 0))
  }

  test("pack keeps each key's multiset of values, whatever the cap") {
    val pairs = (0 until 500).map(i => (s"k${i % 13}", (i % 7).toString))
    val want = pairs.groupMap(_._1)(_._2).map { case (k, vs) => (k, vs.sorted) }
    Seq(1, 2, 5, 64, 499, 500, 10000).foreach { cap =>
      val got = MapReduce.pack(pairs.iterator, cap).toSeq.groupMapReduce(_._1)(_._2)(_ ++ _)
      assert(got.map { case (k, vs) => (k, vs.sorted) } == want, s"cap $cap")
    }
  }

  test("run == naive when one map task emits more pairs than the pack cap") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("only line"))
    assert(ManyPairs > MapReduce.PackCap)
    val reduceFn = (_: String, vs: Iterator[String]) => { val s = vs.toSeq; Seq(s.size.toString, s.map(_.toLong).sum.toString) }
    val want = naive(Seq("only line"), manyPairs, reduceFn)
    assert(MapReduce.run(ds, manyPairs, reduceFn, 2).collect().toSeq == want)
  }

  test("run and runFold group on the key column: no AppendColumns in the executed plan") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }).flatMap(nodes)
    val jobs = Seq(
      MapReduce.run(ds, tokenMap, (_, vs) => vs.toSeq, 2),
      MapReduce.runFold[Long](ds, mapOnes, 0L, (b, v) => b + v.toLong, _ + _, b => Seq(b.toString)))
    jobs.foreach { job =>
      job.collect()
      val names = nodes(job.queryExecution.executedPlan).map(_.getClass.getSimpleName)
      assert(!names.exists(_.contains("AppendColumns")), names.mkString(","))
    }
  }

  test("runFold runs on a session whose observation manager exists") {
    // its own session, so the shared one stays free of the manager
    val session = spark.newSession()
    val seen = Observation("lines")
    val lines = session.createDataset(corpus)(Encoders.STRING).observe(seen, count(lit(1)).as("n"))
    lines.collect()
    assert(seen.get("n") == corpus.size.toLong)
    val got = WordCount.viaFacade(lines).collect().toSeq
    val want = naive(corpus, mapOnes, (_, vs) => Seq(vs.size.toString))
    assert(got == want)
  }
}

object MapReduceSpec {
  val tokenMap: (Long, String) => Iterator[(String, String)] =
    (no, line) => line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, no.toString))
  val mapOnes: (Long, String) => Iterator[(String, String)] =
    (_, line) => line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, "1"))
  /** Pairs over 97 keys from any line: one line takes its map task past the pack cap. */
  val ManyPairs = 300000
  val manyPairs: (Long, String) => Iterator[(String, String)] =
    (_, _) => Iterator.tabulate(ManyPairs)(i => (s"k${i % 97}", i.toString))
}
