package graft.mr

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestBase

/** Property tests (SURVEY.md §5 plan item 4): the facade must agree
  * with a naive Seq-based oracle for arbitrary token inputs and
  * reducers, and must be invariant to the partition-count knob.
  * (Raw ScalaCheck Gen sampling under a fixed seed — the scalatest
  * bridge artifact isn't in the offline cache.) */
class MapReducePropertySpec extends SparkTestBase {

  import MapReduceSpec.tokenMap

  private val lineGen: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "bb", "ccc", "Zz", "1", "x-y", "&!", "longword"))
      .map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] = Gen.resize(12, Gen.listOf(lineGen))

  /** Deterministic sample stream: seed fixed, n cases per property. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def naive(lines: Seq[String],
                    reduceFn: (String, Iterator[String]) => Seq[String]): Seq[(String, Seq[String])] =
    lines.zipWithIndex
      .flatMap { case (l, i) => tokenMap(i.toLong, l) }
      .groupBy(_._1)
      .map { case (k, kvs) => (k, reduceFn(k, kvs.map(_._2).iterator)) }
      .toSeq.sortBy(_._1)

  test("facade == naive oracle for arbitrary corpora (count reducer)") {
    import spark.implicits._
    val reduceFn = (_: String, vs: Iterator[String]) => Seq(vs.size.toString)
    samples(corpusGen, 6).foreach { corpus =>
      val got = MapReduce.run(spark.createDataset(corpus), tokenMap, reduceFn, 3).collect().toSeq
      assert(got == naive(corpus, reduceFn), s"corpus=$corpus")
    }
  }

  test("facade == naive oracle (distinct-sorted positions reducer)") {
    import spark.implicits._
    val reduceFn = (_: String, vs: Iterator[String]) => vs.toSeq.distinct.sorted
    samples(corpusGen, 6).foreach { corpus =>
      val got = MapReduce.run(spark.createDataset(corpus), tokenMap, reduceFn, 2).collect().toSeq
      assert(got == naive(corpus, reduceFn), s"corpus=$corpus")
    }
  }

  test("partition count is invisible in results") {
    import spark.implicits._
    val reduceFn = (_: String, vs: Iterator[String]) => Seq(vs.size.toString)
    val corpus = samples(corpusGen, 1).head
    val expected = naive(corpus, reduceFn)
    Seq(1, 2, 5, 16).foreach { n =>
      val got = MapReduce.run(spark.createDataset(corpus), tokenMap, reduceFn, n).collect().toSeq
      assert(got == expected, s"n=$n corpus=$corpus")
    }
  }

  test("shuffle partition count is invisible in results (run and runFold)") {
    import spark.implicits._
    val count = (_: String, vs: Iterator[String]) => Seq(vs.size.toString)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    samples(corpusGen, 3).foreach { corpus =>
      val expected = naive(corpus, count)
      Seq(1, 3, 7).foreach { n =>
        spark.conf.set(key, n.toLong)
        try {
          val ds = spark.createDataset(corpus)
          val ran = MapReduce.run(ds, tokenMap, count, 2).collect().toSeq
          val folded = MapReduce.runFold[Long](ds, tokenMap, 0L, (b, _) => b + 1, _ + _, b => Seq(b.toString))
            .collect().toSeq
          assert(ran == expected, s"run, $n shuffle partitions, corpus=$corpus")
          assert(folded == expected, s"runFold, $n shuffle partitions, corpus=$corpus")
        } finally spark.conf.set(key, before)
      }
    }
  }
}
