package graft.mr

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Encoders, Observation}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkTestBase
import graft.apps.{InvertedIndex, WordCount}
import graft.sinks.TextKVSink

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

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n` on the
    * shared session, restoring the previous value afterwards. */
  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, before)
  }

  test("shuffle partition count never changes the answer: run and runFold == naive") {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val positions = (_: String, vs: Iterator[String]) => vs.toSeq.distinct.sorted
    val sum = (_: String, vs: Iterator[String]) => Seq(vs.map(_.toLong).sum.toString)
    val wantPositions = naive(corpus, tokenMap, positions)
    val wantSum = naive(corpus, mapOnes, sum)
    Seq(1, 3, 7).foreach { n =>
      withShufflePartitions(n) {
        val ran = MapReduce.run(ds, tokenMap, positions, 2)
        val folded = MapReduce.runFold[Long](ds, mapOnes, 0L, (b, v) => b + v.toLong, _ + _, b => Seq(b.toString))
        assert(ran.collect().toSeq == wantPositions, s"run, $n shuffle partitions")
        assert(folded.collect().toSeq == wantSum, s"runFold, $n shuffle partitions")
        assert(ran.rdd.getNumPartitions <= n, s"run's shuffle is not $n wide")
      }
    }
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
      // a mutable state: each key's buffer must start from its own zero
      val packed = MapReduce.combine(pairs.iterator, new ValueBuffer, (b: ValueBuffer, v: String) => b.add(v), cap)
        .map { case (k, b) => (k, ValueBuffer.decode(b.toBytes).toList) }.toSeq.groupMapReduce(_._1)(_._2)(_ ++ _)
      assert(packed.map { case (k, vs) => (k, vs.sorted) } == want, s"buffer, cap $cap")
    }
  }

  test("combine folds colliding, null and ordinary keys as groupMap does") {
    // 16 distinct keys with one hashCode ("Aa" and "BB" hash alike), so
    // one bin of the table holds them all and turns into a tree
    val colliding = Seq("Aa", "BB").flatMap(a => Seq("Aa", "BB").flatMap(b =>
      Seq("Aa", "BB").flatMap(c => Seq("Aa", "BB").map(d => a + b + c + d))))
    assert(colliding.distinct.size == 16 && colliding.map(_.hashCode).distinct.size == 1)
    val keys = colliding ++ Seq(null, "", "k", "\u00e9")
    val pairs = (0 until 997).map(i => (keys(i * 7 % keys.size), (i % 11).toString))
    val want = pairs.groupMap(_._1)(_._2)
    assert(want.size == keys.size && want.contains(null))
    val step = (b: Long, v: String) => b + v.toLong
    Seq(1, 3, 10000).foreach { cap =>
      val summed = MapReduce.combine(pairs.iterator, 0L, step, cap).toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      assert(summed == want.map { case (k, vs) => (k, vs.map(_.toLong).sum) }, s"Long state, cap $cap")
      val packed = MapReduce.combine(pairs.iterator, new ValueBuffer, (b: ValueBuffer, v: String) => b.add(v), cap)
        .map { case (k, b) => (k, ValueBuffer.decode(b.toBytes).toList) }.toSeq.groupMapReduce(_._1)(_._2)(_ ++ _)
      assert(packed.map { case (k, vs) => (k, vs.sorted) } == want.map { case (k, vs) => (k, vs.sorted) },
        s"ValueBuffer state, cap $cap")
    }
  }

  test("value buffer round-trips values as a string column would (seeded)") {
    val rnd = new scala.util.Random(20261018L)
    val pieces = Seq("", "a", "é", "日本", "\uD83D\uDE00", "\uD800", "\uDC00", "x\uDBFFy", " ", "\u0000")
    def value(): String = rnd.nextInt(12) match {
      case 0 => null
      case 1 => ""
      case 2 => "a" * (128 + rnd.nextInt(64)) // two-byte length code
      case 3 => "é" * (8192 + rnd.nextInt(512)) // >= 16,384 bytes: three-byte code
      case 4 => Seq.fill(rnd.nextInt(40))(rnd.nextInt(0x10000).toChar).mkString // any UTF-16 unit
      case _ => Seq.fill(rnd.nextInt(6))(pieces(rnd.nextInt(pieces.size))).mkString
    }
    def viaCatalyst(v: String) = if (v == null) null else UTF8String.fromString(v).toString
    (1 to 200).foreach { round =>
      val vs = Seq.fill(rnd.nextInt(30))(value())
      val buf = vs.foldLeft(new ValueBuffer)(_.add(_)).toBytes
      assert(ValueBuffer.decode(buf).toList == vs.map(viaCatalyst), s"round $round")
    }
    assert(Seq(128, 16384).forall(n => new ValueBuffer().add("a" * n).toBytes.length > n + 1))
    assert(ValueBuffer.decode(new ValueBuffer().toBytes).isEmpty)
  }

  test("InvertedIndex through the sink with N = shuffle partitions runs one exchange") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val textDir = java.nio.file.Files.createTempDirectory("onexchange-in")
    java.nio.file.Files.write(textDir.resolve("corpus.txt"), corpus.mkString("", "\n", "\n").getBytes("UTF-8"))
    for (lines <- Seq(spark.createDataset(corpus), spark.read.textFile(textDir.toString))) {
      val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val dir = java.nio.file.Files.createTempDirectory("onexchange").toString
      try TextKVSink.write(InvertedIndex.viaFacade(lines, 4).toDF("key", "values"), "key", "values", dir, 4)
      finally {
        // the bus delivers the plans after the write returns: drain it
        // before the listener goes
        ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      // the in-memory input's zipWithIndex job over `lines.rdd` reports its own plan first
      val plan = Iterator.continually(plans.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .map(p => Option(p).getOrElse(fail("no write plan")))
        .find(p => nodes(p).exists(_.isInstanceOf[DataWritingCommandExec])).get
      val exchanges = nodes(plan).collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, plan.toString)
      assert(!exchanges.exists(_.shuffleOrigin == REPARTITION_BY_NUM), plan.toString)
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
