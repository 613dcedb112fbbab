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

  /** Every node of an executed plan, looking through adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }).flatMap(nodes)

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

  private val toList = (vs: List[String], v: String) => v :: vs

  test("combine flushes a row after exactly cap pairs are read") {
    var read = 0
    val pairs = Iterator.tabulate(7) { i => read += 1; (if (i % 2 == 0) "a" else "b", i.toString) }
    val combined = MapReduce.combine(pairs, List.empty[String], toList, 3)
    combined.next()
    assert(read == 3)
    combined.toList
    assert(read == 7)
  }

  test("combine: one row per key per flush, a final flush, no input") {
    val rows = MapReduce.combine(Iterator.fill(7)("k" -> "v"), List.empty[String], toList, 3).toSeq
    assert(rows.map(_._2.size) == Seq(3, 3, 1))
    assert(MapReduce.combine(Iterator.empty, List.empty[String], toList, 3).isEmpty)
    assertThrows[IllegalArgumentException](MapReduce.combine(Iterator.empty, List.empty[String], toList, 0))
  }

  test("combine keeps each key's values and folds, whatever the cap") {
    val pairs = (0 until 500).map(i => (s"k${i % 13}", (i % 7).toString))
    val want = pairs.groupMap(_._1)(_._2).map { case (k, vs) => (k, vs.sorted) }
    val step = (b: Long, v: String) => b + v.toLong
    val wantFold = pairs.groupMap(_._1)(_._2).map { case (k, vs) => (k, vs.foldLeft(0L)(step)) }
    Seq(1, 2, 5, 64, 499, 500, 10000).foreach { cap =>
      val got = MapReduce.combine(pairs.iterator, List.empty[String], toList, cap).toSeq.groupMapReduce(_._1)(_._2)(_ ++ _)
      assert(got.map { case (k, vs) => (k, vs.sorted) } == want, s"cap $cap")
      val folded = MapReduce.combine(pairs.iterator, 0L, step, cap).toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      assert(folded == wantFold, s"fold, cap $cap")
    }
  }

  test("run == naive when one map task emits more pairs than the pack cap") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("only line"))
    assert(ManyPairs > MapReduce.CombineCap)
    val reduceFn = (_: String, vs: Iterator[String]) => { val s = vs.toSeq; Seq(s.size.toString, s.map(_.toLong).sum.toString) }
    val want = naive(Seq("only line"), manyPairs, reduceFn)
    assert(MapReduce.run(ds, manyPairs, reduceFn, 2).collect().toSeq == want)
  }

  test("runFold == naive when one map task folds past the combine cap") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("only line"))
    assert(ManyPairs > MapReduce.CombineCap)
    val want = naive(Seq("only line"), manyPairs, (_, vs) => Seq(vs.map(_.toLong).sum.toString))
    val got = MapReduce.runFold[Long](ds, manyPairs, 0L, (b, v) => b + v.toLong, _ + _, b => Seq(b.toString))
    assert(got.collect().toSeq == want)
  }

  test("runFold with a collection state (set union) == run + distinct") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val folded = MapReduce.runFold[Seq[String]](ds, tokenMap,
      Seq.empty, (b, v) => if (b.contains(v)) b else v +: b, (b1, b2) => (b1 ++ b2).distinct, _.sorted)
    val generic = MapReduce.run(ds, tokenMap, (_, vs) => vs.toSeq.distinct.sorted, 2)
    assert(folded.collect().toSeq == generic.collect().toSeq)
  }

  test("runFold ships folded rows: scan rows <= keys x map tasks") {
    import spark.implicits._
    val lines = Seq.fill(8)("a b a b c a")
    val ds = spark.createDataset(lines)
    val job = MapReduce.runFold[Long](ds, mapOnes, 0L, (b, v) => b + v.toLong, _ + _, b => Seq(b.toString))
    assert(job.collect().toSeq == Seq("a" -> Seq("24"), "b" -> Seq("16"), "c" -> Seq("8")))
    val scans = nodes(job.queryExecution.executedPlan).filter(_.getClass.getSimpleName == "ExternalRDDScanExec")
    assert(scans.size == 1)
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned >= 3 && scanned <= 3L * ds.rdd.getNumPartitions, s"$scanned rows scanned, 48 pairs")
  }

  test("run and runFold group on the key column: no AppendColumns in the executed plan") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
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
  /** Pairs over 97 keys from any line: one line takes its map task past the combine cap. */
  val ManyPairs = 300000
  val manyPairs: (Long, String) => Iterator[(String, String)] =
    (_, _) => Iterator.tabulate(ManyPairs)(i => (s"k${i % 97}", i.toString))
}
