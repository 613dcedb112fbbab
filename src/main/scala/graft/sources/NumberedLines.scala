package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{InterruptibleIterator, Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.datasources.RecordReaderIterator
import org.apache.spark.util.SerializableConfiguration

/** The lines of text files as `(lineNo, line)`, lineNo being the
  * 0-based line number over the files taken in the given order: one
  * partition per [[NumberedLines.Piece]], a byte range of one file.
  *
  * A piece is read with Hadoop's `LineRecordReader`, the reader of
  * Spark's text source: a line belongs to the piece it starts in, and
  * `\n`, `\r\n` and a lone `\r` end a line. Each line decodes as
  * `UTF8String.toString` does, so a line equals the string
  * `spark.read.textFile` gives for it.
  *
  * A piece's first line number is the line count of every piece before
  * it. Those counts come from one job over every piece but the last,
  * run in `getPartitions`: when the RDD is first scheduled, not when it
  * is built. The Hadoop conf reaches the tasks as one broadcast, made
  * there too, as Spark's file scans ship theirs: a conf held by the RDD
  * itself would be deserialized again by every task.
  */
private[sources] final class NumberedLines(sc: SparkContext,
                                           pieces: IndexedSeq[NumberedLines.Piece],
                                           @transient conf: Configuration)
    extends RDD[(Long, String)](sc, Nil) {

  override protected def getPartitions: Array[Partition] = {
    val c = sparkContext.broadcast(new SerializableConfiguration(conf))
    val counts =
      if (pieces.size < 2) Array.empty[Long]
      else sparkContext.parallelize(pieces.init, pieces.size - 1).setName(NumberedLines.CountsName)
        .map(NumberedLines.read(_, c.value.value).foldLeft(0L)((n, _) => n + 1)).collect()
    val firsts = counts.scanLeft(0L)(_ + _)
    pieces.indices.map(i => new NumberedLines.Part(i, pieces(i), firsts(i), c): Partition).toArray
  }

  override def compute(split: Partition, context: TaskContext): Iterator[(Long, String)] = {
    val part = split.asInstanceOf[NumberedLines.Part]
    val lines = NumberedLines.read(part.piece, part.conf.value.value)
    context.addTaskCompletionListener[Unit](_ => lines.close())
    var no = part.firstLine - 1
    new InterruptibleIterator(context, lines.map { t =>
      no += 1
      (no, new String(t.getBytes, 0, t.getLength, UTF_8))
    })
  }
}

private[sources] object NumberedLines {

  /** The name of the RDD behind the line-count job. */
  val CountsName = "NumberedLines.counts"

  /** The byte range `[start, start + length)` of one file. */
  final case class Piece(path: Path, start: Long, length: Long)

  final class Part(val index: Int, val piece: Piece, val firstLine: Long,
                   val conf: Broadcast[SerializableConfiguration]) extends Partition

  /** The files, in the given order, each cut into
    * `ceil(length / pieceBytes)` equal pieces; a file with a Hadoop
    * compression codec is one piece, and an empty file none. */
  def pieces(files: Seq[FileStatus], pieceBytes: Long, conf: Configuration): IndexedSeq[Piece] = {
    require(pieceBytes >= 1, s"piece size must be positive, got $pieceBytes")
    val codecs = new CompressionCodecFactory(conf)
    files.iterator.flatMap { f =>
      val len = f.getLen
      val k = if (codecs.getCodec(f.getPath) != null) math.min(len, 1L) else (len + pieceBytes - 1) / pieceBytes
      (0L until k).map { i =>
        val start = len * i / k
        Piece(f.getPath, start, len * (i + 1) / k - start)
      }
    }.toIndexedSeq
  }

  /** The lines of one piece, as `LineRecordReader` records. */
  def read(piece: Piece, conf: Configuration): RecordReaderIterator[Text] = {
    val reader = new LineRecordReader()
    reader.initialize(new FileSplit(piece.path, piece.start, piece.length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)))
    new RecordReaderIterator(reader)
  }
}
