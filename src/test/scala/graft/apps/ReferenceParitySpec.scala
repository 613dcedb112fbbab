package graft.apps

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.SparkTestBase
import graft.sinks.TextKVSink

/** Reference-parity golden tests (SURVEY.md §5 plan item 2, FIXTURES.md §A):
  * WordCount + InvertedIndex on the bundled Gutenberg corpus and on the
  * screenshot one-liner, compared against a trivial in-test Scala oracle
  * and against the exact O8 sink byte format. */
class ReferenceParitySpec extends SparkTestBase {

  private val corpusPath = "/root/reference/testcase/WordCounterInput.txt"

  /** The reference's Gutenberg corpus when it is installed, else its
    * checked-in equivalent (FIXTURES.md §A1): the same words on the
    * same lines, in another order within each line, which neither app
    * observes. The reference's `InvertedIndexInput.txt` is
    * byte-identical to its `WordCounterInput.txt`. */
  private lazy val corpus: String =
    if (Files.exists(Paths.get(corpusPath))) corpusPath
    else Option(getClass.getResource("/gutenberg_equivalent_seed1.txt"))
      .map(u => Paths.get(u.toURI).toString)
      .getOrElse(fail("neither the reference corpus nor its checked-in equivalent exists"))

  test("WordCount on Gutenberg corpus matches Scala oracle and known totals") {
    val lines = Files.readAllLines(Paths.get(corpus)).asScala.toSeq
    val oracle: Map[String, Long] = lines
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    // BASELINE.md measured totals: 23,731 words, 4,928 distinct tokens
    assert(oracle.values.sum == 23731L)
    assert(oracle.size == 4928)

    val got = WordCount.counts(spark.read.textFile(corpus))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == oracle)
  }

  test("WordCount micro fixture (extra/WordCounter Example.png)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("Hello My Name is Anmol Gupta"))
    val got = WordCount.counts(ds).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // merged, key-sorted expectation from FIXTURES.md §A1
    assert(got == Seq("Anmol" -> 1L, "Gupta" -> 1L, "Hello" -> 1L, "My" -> 1L, "Name" -> 1L, "is" -> 1L))
  }

  test("InvertedIndex micro fixture: every word at line 0, facade path") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("Hello My name is Anmol Gupta"))
    val got = InvertedIndex.viaFacade(ds, 2).collect().toSeq
    assert(got == Seq("Anmol" -> Seq("0"), "Gupta" -> Seq("0"), "Hello" -> Seq("0"),
      "My" -> Seq("0"), "is" -> Seq("0"), "name" -> Seq("0")))
  }

  test("InvertedIndex positions sort lexicographically as strings (10 < 2)") {
    import spark.implicits._
    // 12 lines; the word appears on lines 0, 2 and 10 → "0","10","2"
    val lines = (0 to 11).map(i => if (Set(0, 2, 10)(i)) "marker" else "filler")
    val ds = spark.createDataset(lines)
    val got = InvertedIndex.viaFacade(ds, 2).collect().toMap
    assert(got("marker") == Seq("0", "10", "2")) // src/InvertedIndex.cpp:35 quirk
  }

  test("O8 sink format: trailing space, one file per partition, sorted within file") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("b beta", "a alpha", "c gamma", "a again"))
    /** Writes `out` through the sink with 2 reducers; checks each file's
      * trailing spaces and key order, and returns the files' lines. */
    def sinkFiles(out: DataFrame): Seq[Seq[String]] = {
      val dir = Files.createTempDirectory("o8sink").toString
      TextKVSink.write(out, "key", "values", dir, 2)
      val partFiles = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).sorted
      val perFile = partFiles.map(f => Files.readAllLines(f.toPath).asScala.toSeq).toSeq
      perFile.foreach { fileLines =>
        fileLines.foreach(l => assert(l.endsWith(" "), s"missing trailing space: '$l'"))
        val keys = fileLines.map(_.split(" ").head)
        assert(keys == keys.sorted, "rows must be key-sorted within each file")
      }
      perFile
    }

    val index = sinkFiles(InvertedIndex.viaFacade(ds, 2).toDF("key", "values"))
    assert(index.size == 2) // one output_<r> per reducer partition
    // merged contract (SURVEY.md §7.4): union of files == expected KV lines
    // lines: 0="b beta", 1="a alpha", 2="c gamma", 3="a again"
    assert(index.flatten.sorted == Seq("a 1 3 ", "again 3 ", "alpha 1 ", "b 0 ", "beta 0 ", "c 2 ", "gamma 2 "))

    // runFold's output is already hash-partitioned on the key, so the
    // sink writes at most (not exactly) one file per reducer
    val counts = sinkFiles(WordCount.viaFacade(ds).toDF("key", "values"))
    assert(counts.nonEmpty && counts.size <= 2, s"${counts.size} files")
    assert(counts.flatten.sorted == Seq("a 2 ", "again 1 ", "alpha 1 ", "b 1 ", "beta 1 ", "c 1 ", "gamma 1 "))
    assert(TextKVSink.formatRow("a", Seq("0", "1")) == "a 0 1 ")
  }

  test("InvertedIndex → O8 sink byte-equals the checked-in golden file (Gutenberg corpus)") {
    // Facade path = the reference's exact pipeline: (word, lineNo) per
    // occurrence, reduce = sort+unique of the position STRINGS
    // (src/InvertedIndex.cpp:20-39), O8 text sink, merged + key-sorted.
    val index = InvertedIndex.viaFacade(spark.read.textFile(corpus), 2).toDF("key", "values")
    val dir = Files.createTempDirectory("o8idx").toString
    TextKVSink.write(index, "key", "values", dir, 2)
    val merged = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted.toSeq
    val expected = {
      val in = getClass.getResourceAsStream("/invertedindex_gutenberg_o8.txt")
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(merged.size == expected.size)
    merged.zip(expected).foreach { case (g, e) => assert(g == e, s"golden mismatch: '$g' != '$e'") }
  }

  test("WordCount → O8 sink byte-equals the checked-in golden file (Gutenberg corpus)") {
    // The literal parity artifact: what the reference binaries write as
    // output_<r>.txt (`include/Utility.h:61-76`), merged + key-sorted
    // (per-file assignment is std::hash-dependent, SURVEY.md §7.4).
    // src/test/resources/wordcount_gutenberg_o8.txt holds the expected
    // `word␣count␣` lines for the Gutenberg corpus.
    val counts = WordCount.viaFacade(spark.read.textFile(corpus)).toDF("key", "values")
    val dir = Files.createTempDirectory("o8golden").toString
    TextKVSink.write(counts, "key", "values", dir, 2)
    val merged = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted.toSeq
    val expected = {
      val in = getClass.getResourceAsStream("/wordcount_gutenberg_o8.txt")
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(merged.size == expected.size)
    merged.zip(expected).foreach { case (g, e) => assert(g == e, s"golden mismatch: '$g' != '$e'") }
  }
}
