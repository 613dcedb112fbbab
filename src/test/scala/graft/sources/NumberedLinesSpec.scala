package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestBase
import graft.apps.{InvertedIndex, WordCount}

/** [[Sources.numberedLines]]: over a plain text scan, the lines and
  * numbers of `zipWithIndex` over `spark.read.textFile`, files in path
  * order, and no job until the first action. */
class NumberedLinesSpec extends SparkTestBase {

  private def file(dir: Path, name: String, bytes: Array[Byte]): Path =
    Files.write(dir.resolve(name), bytes)

  private def textFile(bytes: Array[Byte]): String =
    file(Files.createTempDirectory("numbered"), "f.txt", bytes).toString

  /** Spark's own numbering of one file's lines. */
  private def zipped(path: String): Seq[(Long, String)] =
    spark.read.textFile(path).rdd.zipWithIndex().map(_.swap).collect().toSeq

  private def numbered(path: String, pieceBytes: Long): NumberedLines =
    Sources.numberedLines(spark.read.textFile(path), Some(pieceBytes)) match {
      case n: NumberedLines => n
      case other => fail(s"a plain text scan fell back to $other")
    }

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes(UTF_8).toSeq
    case b: Int => Seq(b.toByte)
  }.toArray

  private val Bom = bytes(0xef, 0xbb, 0xbf)

  /** Crafted files: every line end, each next to a piece boundary when
    * the piece is one byte. */
  private val crafted = Seq(
    "three line ends" -> bytes("a\nb\r\nc\rd\n"),
    "\\r\\n at every offset" -> bytes("ab\r\ncd\r\n\r\ne"),
    "lone \\r, last" -> bytes("x\r"),
    "\\r then \\r\\n then \\n" -> bytes("\r\r\n\n"),
    "multi-byte and supplementary" -> bytes("é€𝄞\n𝄞x\n€"),
    "empty lines" -> bytes("\n\n\na\n\n"),
    "no final newline" -> bytes("first\nlast"),
    "UTF-8 BOM" -> (Bom ++ bytes("first\nsecond\n")),
    "BOM only" -> Bom,
    "malformed UTF-8" -> bytes(0xff, 0xc3, "\n", 0x80, "a", 0xe2, 0x82, "\n", 0xf0, 0x9d, "\r\n", 0xed, 0xa0, 0x80))

  test("numbering == zipWithIndex over spark.read.textFile: crafted line ends, characters and bytes") {
    for ((name, content) <- crafted) {
      val path = textFile(content)
      val want = zipped(path)
      for (pieceBytes <- Seq(1L, 2L, 3L, content.length.toLong)) {
        val got = numbered(path, pieceBytes)
        assert(got.getNumPartitions == content.length / pieceBytes + (if (content.length % pieceBytes == 0) 0 else 1))
        assert(got.collect().toSeq == want, s"$name, pieces of $pieceBytes bytes")
      }
    }
  }

  test("numbering == zipWithIndex over spark.read.textFile: seeded files, tiny pieces") {
    val atoms: Seq[Array[Byte]] = Seq("a", "bc", " ", "\n", "\n", "\r\n", "\r", "é", "€", "𝄞")
      .map(_.getBytes(UTF_8)) ++ Seq(bytes(0xff), bytes(0xc3), bytes(0x80))
    val rnd = new scala.util.Random(20261019L)
    for (seed <- 0 until 24) {
      val body = Array.fill(rnd.nextInt(60))(atoms(rnd.nextInt(atoms.size))).flatten
      val content = (if (seed % 5 == 0) Bom else Array.empty[Byte]) ++ body
      val path = textFile(content)
      val want = zipped(path)
      for (pieceBytes <- Seq(1L + rnd.nextInt(4), 5L + rnd.nextInt(20)))
        assert(numbered(path, pieceBytes).collect().toSeq == want,
          s"seed $seed, pieces of $pieceBytes bytes: ${content.map(b => f"$b%02x").mkString}")
    }
  }

  test("an empty file has no piece and no line; a .gz file is one piece") {
    val empty = textFile(Array.empty)
    assert(numbered(empty, 1).getNumPartitions == 0)
    assert(numbered(empty, 1).collect().isEmpty && zipped(empty).isEmpty)

    val dir = Files.createTempDirectory("numbered-gz")
    val gz = dir.resolve("f.txt.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(bytes((0 until 500).map(i => s"line $i é\r\n"): _*)) finally out.close()
    val got = numbered(gz.toString, 1)
    assert(got.getNumPartitions == 1)
    val want = zipped(gz.toString)
    assert(want.size == 500 && got.collect().toSeq == want)
  }

  test("any other Dataset is numbered by zipWithIndex in partition order") {
    import spark.implicits._
    val path = textFile(bytes("a\nb\nc\nd\n"))
    val inMemory = spark.createDataset(Seq("a", "b", "c", "d")).repartition(3)
    val filtered = spark.read.textFile(path).filter(_ != "b")
    val withOption = spark.read.option("lineSep", "\n").textFile(path)
    def fallsBack(ds: org.apache.spark.sql.Dataset[String]): Unit = {
      val got = Sources.numberedLines(ds)
      assert(!got.isInstanceOf[NumberedLines], ds.queryExecution.analyzed)
      assert(got.collect().toSeq == ds.collect().toSeq.zipWithIndex.map { case (l, i) => (i.toLong, l) })
    }
    Seq(inMemory, filtered, withOption).foreach(fallsBack)
    // Spark's scan skips corrupt or missing files on such a session
    withConfs("spark.sql.files.ignoreCorruptFiles" -> "true")(fallsBack(spark.read.textFile(path)))
    assert(Sources.numberedLines(Sources.textLines(spark, path)).isInstanceOf[NumberedLines])
  }

  test("a directory's lines are numbered in path order: InvertedIndex == the concatenation's, at 1 and 4 cores") {
    val dir = Files.createTempDirectory("numbered-dir")
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(7L)
    // sizes out of path order, so Spark's longest-split-first packing
    // would number b.txt before a.txt
    val texts = Seq("a.txt" -> 300, "b.txt" -> 1200, "c.txt" -> 50).map { case (name, n) =>
      val lines = Seq.fill(n)(Seq.fill(rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" "))
      file(dir, name, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      lines
    }
    val oracle = texts.flatten.zipWithIndex
      .flatMap { case (l, no) => l.split(" ").filter(_.nonEmpty).map(w => (w, no.toString)) }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (w, ps) => (w, ps.distinct.sorted) }
    // the core count reaches the split size through the leaf
    // parallelism, which defaults to the master's core count; a small
    // open cost lets these small files split
    for (cores <- Seq(1, 4)) withConfs(
        "spark.sql.leafNodeDefaultParallelism" -> cores.toString,
        "spark.sql.files.openCostInBytes" -> "1024") {
      val lines = spark.read.textFile(dir.toString)
      assert(Sources.numberedLines(lines).getNumPartitions > (if (cores == 4) 3 else 2))
      assert(InvertedIndex.viaFacade(lines, 4).collect().toSeq == oracle, s"$cores cores")
    }
  }

  test("building the facade over a text file runs no job; the first action runs one count job of pieces - 1 tasks") {
    val text = (0 until 4000).map(i => s"w${i % 97} x${i % 13} line $i").mkString("", "\n", "\n")
    val path = textFile(text.getBytes(UTF_8))
    val pieceBytes = 16384L
    val pieces = (text.length + pieceBytes - 1) / pieceBytes
    assert(pieces >= 3)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        (e.stageInfos.exists(_.rddInfos.exists(_.name == NumberedLines.CountsName)), e.stageInfos.map(_.numTasks).sum))
    }
    def drained(): Seq[(Boolean, Int)] = {
      ListenerBusDrain(spark.sparkContext)
      Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    // Spark's split size here is maxPartitionBytes: the file plus its
    // open cost is far more than 4 cores x 16 KB
    try withConfs("spark.sql.files.maxPartitionBytes" -> pieceBytes.toString) {
      drained()
      val facades = Seq(
        WordCount.viaFacade(Sources.textLines(spark, path)),
        InvertedIndex.viaFacade(Sources.textLines(spark, path), 4))
      assert(drained().isEmpty, "jobs ran while the facade was built")
      for (facade <- facades) {
        facade.collect()
        assert(drained().filter(_._1) == Seq((true, pieces.toInt - 1)))
        facade.collect()
        assert(drained().count(_._1) == 0, "the line counts are taken once per Dataset")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
