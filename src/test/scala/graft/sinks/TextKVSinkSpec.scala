package graft.sinks

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import graft.SparkTestBase

/** The one-pass line projection must write the same bytes as the
  * join-then-append expression it replaced, on every row shape the
  * sink can meet. */
class TextKVSinkSpec extends SparkTestBase {

  /** The earlier projection: join `k +: vs` with spaces, then append one. */
  private def joined(k: Column, vs: Column): Column =
    concat(array_join(concat(array(k), vs), " "), lit(" "))

  private val rows: Seq[(String, Seq[String])] = Seq(
    ("plain", Seq("0", "1", "10", "2")),
    (null, Seq("a", "b")),
    (null, Seq.empty),
    (null, Seq(null)),
    (null, null),
    ("nullval", Seq("x", null, "y")),
    ("onlynull", Seq(null, null)),
    ("empty", Seq.empty),
    ("nulllist", null),
    ("", Seq("", "")),
    ("multié日", Seq("ß", "語語", "😀", "a😀b")),
    ("space", Seq("has space", " lead", "trail ")))

  private def frame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (k, vs) => Row(k, vs) }, 1),
    StructType(Seq(StructField("key", StringType), StructField("values", ArrayType(StringType)))))

  /** The bytes of every part file under `dir`, in file-name order. */
  private def bytes(dir: Path): Seq[Byte] =
    Files.list(dir).iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString).flatMap(Files.readAllBytes(_).toSeq)

  test("line == the joined expression, row by row, nulls included") {
    val got = frame.select(TextKVSink.line(col("key"), col("values")), joined(col("key"), col("values")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.length == rows.size)
    got.foreach { case (line, want) => assert(line == want) }
  }

  test("write gives the same bytes as the joined expression, and formatRow agrees on non-null rows") {
    Seq(1, 3).foreach { n =>
      val dir = Files.createTempDirectory("o8line")
      val want = Files.createTempDirectory("o8joined")
      TextKVSink.write(frame, "key", "values", dir.toString, n)
      frame.select(col("key").as("k"), col("values").as("vs"))
        .repartition(n, col("k")).sortWithinPartitions(col("k"))
        .select(joined(col("k"), col("vs")).as("value"))
        .write.mode("overwrite").text(want.toString)
      assert(bytes(dir) == bytes(want), s"$n files")
    }
    val lines = frame.select(TextKVSink.line(col("key"), col("values"))).collect().map(_.getString(0))
    rows.zip(lines).foreach {
      case (row @ (k, vs), line) if k != null && vs != null && !vs.contains(null) =>
        assert(line == TextKVSink.formatRow(k, vs), s"row $row")
      case _ =>
    }
  }
}
