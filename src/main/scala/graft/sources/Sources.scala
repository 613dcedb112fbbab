package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.3 "sources"/"sinks").
  *
  * The reference has exactly one source (line-oriented text,
  * `include/MapReduceMaster.h:442-478`) and one sink (space-separated
  * text, `include/Utility.h:61-76` — see graft.sinks.TextKVSink). The
  * engine extends that to the columnar formats a 100 TB pipeline
  * actually uses. Conventions:
  *  - schemas are explicit on read (inference costs a full extra pass
  *    at scale and can mis-type empty partitions);
  *  - parquet writes default to snappy + optional partitionBy so
  *    downstream scans get partition pruning;
  *  - text lines are read with [[textLines]] and numbered with
  *    [[numberedLines]], so the line-number contract of the MapReduce
  *    facade has one home.
  */
object Sources {

  /** O1: line-oriented text scan. Splittable — Spark reads each input
    * split once, vs the reference's N full scans per N mappers. */
  def textLines(spark: SparkSession, path: String): Dataset[String] =
    spark.read.textFile(path)

  /** The lines of `lines` as `(lineNo, line)`, lineNo being the 0-based
    * global line number: the reference's `map_fn(k1, v1)` input
    * (`include/MapReduceMaster.h:461-478`).
    *
    * When `lines` is a plain [[textLines]] scan (`spark.read.textFile`
    * with no option but the path, over files with no partition
    * columns, on a session that skips no corrupt or missing file), the
    * lines are read from the files themselves
    * ([[NumberedLines]]), and building the RDD runs no job:
    *  - lines are numbered over the files in path order, so a
    *    directory numbers the same whatever the core count or the
    *    sizes of its files;
    *  - each file is cut into `ceil(length / maxSplitBytes)` equal
    *    pieces, `maxSplitBytes` being Spark's own split size
    *    (`FilePartition.maxSplitBytes`, from
    *    `spark.sql.files.maxPartitionBytes` and `openCostInBytes`); a
    *    compressed file is one piece;
    *  - one job counts the lines of every piece but the last when the
    *    RDD is first scheduled, and none runs for a single piece.
    *
    * Any other Dataset (in memory, a parquet column, anything filtered
    * or projected) is numbered by `zipWithIndex` over `lines.rdd`, in
    * partition order, which runs its counting job here when `lines`
    * has more than one partition. */
  def numberedLines(lines: Dataset[String]): RDD[(Long, String)] = numberedLines(lines, None)

  /** [[numberedLines]] with the piece size fixed to `pieceBytes`, when
    * given, in place of Spark's split size. */
  private[sources] def numberedLines(lines: Dataset[String], pieceBytes: Option[Long]): RDD[(Long, String)] = {
    val spark = lines.sparkSession
    val skipsFiles = spark.sessionState.conf.ignoreCorruptFiles || spark.sessionState.conf.ignoreMissingFiles
    lines.queryExecution.analyzed match {
      case Project(Seq(value: AttributeReference), LogicalRelation(h: HadoopFsRelation, Seq(out), _, false, _))
          if value == out && h.fileFormat.isInstanceOf[TextFileFormat] && h.partitionSchema.isEmpty &&
            h.bucketSpec.isEmpty && h.options.keySet.forall(_.equalsIgnoreCase("path")) && !skipsFiles =>
        val dirs = h.location.listFiles(Nil, Nil)
        val conf = spark.sessionState.newHadoopConfWithOptions(h.options)
        val files = dirs.flatMap(_.files).map(_.fileStatus).sortBy(_.getPath.toString)
        val pieces = NumberedLines.pieces(files, pieceBytes.getOrElse(FilePartition.maxSplitBytes(spark, dirs)), conf)
        new NumberedLines(spark.sparkContext, pieces, conf)
      case _ => lines.rdd.zipWithIndex().map(_.swap)
    }
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema) // explicit: no inference pass
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).option("compression", "snappy")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** Bucketed (hash-clustered + sorted) table write — the co-located
    * join path for 100 TB: two tables bucketed on the same key with the
    * same bucket count join with NO exchange and NO sort (sort-merge
    * directly on bucket files). This is how repeatedly-joined fact
    * tables should be laid out; SourcesSpec proves the exchange-free
    * plan. Bucketing requires the table catalog (bucket metadata lives
    * there), hence saveAsTable rather than a path write. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("compression", "snappy")
      .format("parquet")
      .saveAsTable(table)

  def writeJsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** ORC — the other splittable columnar format with predicate pushdown
    * and column pruning (warehouses with Hive lineage are ORC-native;
    * an engine claiming source completeness reads both). Same explicit
    * snappy + pushdown conventions as parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).option("compression", "snappy")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}
