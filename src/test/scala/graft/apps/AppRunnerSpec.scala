package graft.apps

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.sinks.TextKVSink

/** The executable entry points (config file → facade → O8 output dir),
  * mirroring how a reference user invokes `./WordCounter config.txt`. */
class AppRunnerSpec extends SparkTestBase {

  private def write(path: java.nio.file.Path, text: String) = {
    Files.writeString(path, text); path.toString
  }

  test("WordCountMain pipeline: config -> input -> O8 output files") {
    val dir = Files.createTempDirectory("apprun")
    val input = write(dir.resolve("input.txt"), "b a\na c\n")
    val cfg = write(dir.resolve("config.txt"),
      s"N_WORKER 2\nINPUTFILE $input\nDATADIR $dir\n")
    // a non-UTC zone, so a runner that reset the session's zone would show
    val tz = "spark.sql.session.timeZone"
    val tzBefore = spark.conf.get(tz)
    spark.conf.set(tz, "America/New_York")
    def confs = Seq("spark.sql.shuffle.partitions", tz, "spark.ui.enabled")
      .map(k => k -> spark.conf.getOption(k))
    val confsBefore = confs
    val rc = AppRunner.run(spark, cfg, WordCountMain.app)
    val confsAfter = confs
    spark.conf.set(tz, tzBefore)
    assert(rc == 0)
    // the runner must not change the session it is given — not the
    // parallelism (N_WORKER), not the time zone, not the UI
    assert(confsAfter == confsBefore)
    val outFiles = new java.io.File(s"$dir/output").listFiles()
      .filter(_.getName.startsWith("part-"))
    // ≤ N_WORKER files (Spark skips empty reducer partitions — the
    // declared parity is the merged output, SURVEY.md §7.4)
    assert(outFiles.nonEmpty && outFiles.length <= 2)
    val merged = outFiles.flatMap(f => Files.readAllLines(f.toPath).asScala).sorted.toSeq
    assert(merged == Seq("a 2 ", "b 1 ", "c 1 "))
  }

  test("InvertedIndexMain pipeline: config -> input -> O8 output files") {
    val dir = Files.createTempDirectory("apprun-ii")
    // 12 lines, so positions "10" and "11" sort before "2" as strings
    val lines = (0 until 12).map(i => Seq("b a", "a c", "c\td  d", "", "é b")(i % 5))
    val input = write(dir.resolve("input.txt"), lines.mkString("", "\n", "\n"))
    val cfg = write(dir.resolve("config.txt"),
      s"N_WORKER 2\nINPUTFILE $input\nDATADIR $dir\n")
    assert(AppRunner.run(spark, cfg, InvertedIndexMain.app) == 0)
    val outFiles = new java.io.File(s"$dir/output").listFiles()
      .filter(_.getName.startsWith("part-")).toSeq
    assert(outFiles.nonEmpty && outFiles.length <= 2, s"${outFiles.length} files")
    val perFile = outFiles.map(f => Files.readAllLines(f.toPath).asScala.toSeq)
    perFile.foreach { fileLines =>
      fileLines.foreach(l => assert(l.endsWith(" "), s"missing trailing space: '$l'"))
      val keys = fileLines.map(_.split(" ").head)
      assert(keys == keys.sorted, "rows must be key-sorted within each file")
    }
    val oracle = lines.zipWithIndex
      .flatMap { case (l, no) => l.split("\\s+").filter(_.nonEmpty).map(w => (w, no.toString)) }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (w, ps) => TextKVSink.formatRow(w, ps.distinct.sorted) }
    assert(perFile.flatten.sorted == oracle.sorted)
    assert(oracle.contains("a 0 1 10 11 5 6 ")) // string order of positions
  }

  test("missing input file returns the reference's -1") {
    val dir = Files.createTempDirectory("apprun2")
    val cfg = write(dir.resolve("config.txt"),
      s"N_WORKER 2\nINPUTFILE $dir/nope.txt\nDATADIR $dir\n")
    val rc = AppRunner.run(spark, cfg, (s, in, _) =>
      WordCount.viaFacade(s.read.textFile(in)).toDF("key", "values"))
    assert(rc == -1)
  }
}
