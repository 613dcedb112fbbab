package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** The reference engine's API, re-expressed as a Spark library.
  *
  * ganmol123/multithreaded_map_reduce exposes exactly one abstraction
  * (`include/MapReduceMaster.h:75-112`): a user subclass providing
  * `map_fn(k1, v1)` + `emitIntermediate`, and `reduce_fn(k2, values)` +
  * `emit`, run as two phases over the lines of a text file, with
  * intermediate pairs hash-partitioned by key
  * (`include/MapReduceMaster.h:480-496`) and reducer output key-sorted
  * (`:510-543`, std::map iteration order).
  *
  * Here that contract is a pair of lambdas over a `Dataset[String]`:
  *  - `mapFn(lineNo, line)` emits intermediate (key, value) pairs
  *    (≅ map_fn + emitIntermediate; lineNo is the 0-based global line
  *    number, `include/MapReduceMaster.h:461-478`);
  *  - `reduceFn(key, values)` folds one group to its output value list
  *    (≅ reduce_fn + emit).
  *
  * What Spark gives for free over the reference: input splits instead of
  * N full file scans (O1/O2), a real shuffle service instead of NFS temp
  * files (O4/O5), task retry instead of the fork+heartbeat master (O10),
  * and — via [[combine]] — a map-side combiner, which the reference
  * lacks entirely (every ("word","1") crosses its shuffle).
  *
  * Scale note: both paths keep the shuffle far below one row per
  * emitted pair, and Catalyst never sees a raw pair. Each map task runs
  * one bounded combiner ([[combine]]) over its pairs: it folds each
  * key's values into a buffer, held in a String-keyed hash table of
  * mutable cells (one lookup per pair, an insert only for a key new to
  * the flush), and flushes one `(key, buffer)` row per buffered key
  * every [[CombineCap]] pairs and at the end of the task.
  * [[run]] cannot combine an arbitrary reducer, so its buffer is the
  * key's values encoded into one byte array ([[ValueBuffer]]);
  * [[runFold]]'s is the user fold's state, so Catalyst only merges
  * folded states. Both aggregate on the key column, so the shuffle
  * carries no duplicated key column, no row is deserialized just to
  * extract its key, and the output stays hash-partitioned by key.
  */
object MapReduce {

  /** Pairs one map task folds before it flushes its combined rows:
    * bounds the task's buffer at the cost of at most one extra row per
    * key per flush. */
  private[mr] val CombineCap: Int = 1 << 18

  /** Arbitrary user map/reduce — the reference's full generality.
    * Output is (key, values) sorted by key (O6 semantics: byte-wise
    * string order, matching std::string operator<).
    *
    * Each map task combines its pairs into `(key, buffer)` rows
    * ([[combine]]), each buffer one key's values encoded as a single
    * byte array ([[ValueBuffer]]), so a key ships about once per flush
    * instead of once per occurrence. The rows are aggregated on the key
    * column with `collect_list`, and `reduceFn(k, vs)` runs in a
    * projection that passes the key column through, decoding k's
    * buffers lazily into `vs`: the same multiset of values as the
    * reference's group stream, in no particular order. A reducer must
    * not depend on value order; the reference's two (sum, and sort +
    * unique) do not. All of one key's buffers are collected into one
    * array before `reduceFn` sees them, which is the reference's
    * `reduce_fn(k2, vector<string>)` contract
    * (`include/MapReduceMaster.h:95,:510-543`); a fold over a key too
    * heavy for that belongs on [[runFold]].
    *
    * The O4 hash-partition-by-key exchange is delivered by the
    * aggregate's shuffle itself, and the key column keeps that
    * partitioning up to the sink: [[graft.sinks.TextKVSink]] with N
    * equal to `spark.sql.shuffle.partitions` plans no second exchange.
    * `numPartitions` (≅ nr_reducer) is advisory on Spark: the shuffle
    * width comes from `spark.sql.shuffle.partitions` and the
    * at-most-one-file-per-reducer layout from the sink; per the
    * reference's contract (and the partition-invariance property test)
    * it never changes answers. */
  def run(lines: Dataset[String],
          mapFn: (Long, String) => Iterator[(String, String)],
          reduceFn: (String, Iterator[String]) => Seq[String],
          numPartitions: Int): Dataset[(String, Seq[String])] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val packed = spark.createDataset(pairs(lines, mapFn).mapPartitions(
      combine(_, new ValueBuffer, (b: ValueBuffer, v: String) => b.add(v), CombineCap)
        .map { case (k, b) => (k, b.toBytes) }))
    val reduce = udf((k: String, bufs: Seq[Array[Byte]]) =>
      reduceFn(k, bufs.iterator.flatMap(ValueBuffer.decode))).withName("reduce_fn")
    packed.groupBy(col("_1")).agg(collect_list(col("_2")).as("_2"))
      .select(col("_1"), reduce(col("_1"), col("_2")).as("_2"))
      .as[(String, Seq[String])]
      .orderBy(col("_1"))
  }

  /** The map-side combiner: folds a map task's pairs into one buffer
    * per key, each starting from a fresh `zero`, and flushes one
    * `(key, buffer)` row per buffered key each time `cap` pairs are
    * folded, and once more at the end. Per key, the flushed buffers
    * together fold exactly the key's values. `zero` is evaluated once
    * per key per flush, so `step` may update a mutable buffer in place
    * and return it.
    *
    * The table is a `java.util.HashMap` from the key to a [[Cell]]
    * holding its buffer: a pair costs one `get` and an update of the
    * cell in place; only a key new to this flush costs a `put`. A
    * `null` key is a key like any other. */
  private[mr] def combine[B](pairs: Iterator[(String, String)],
                             zero: => B,
                             step: (B, String) => B,
                             cap: Int): Iterator[(String, B)] = {
    require(cap >= 1, s"combine cap must be positive, got $cap")
    Iterator.continually {
      val table = new java.util.HashMap[String, Cell[B]]()
      var n = 0
      while (n < cap && pairs.hasNext) {
        val (k, v) = pairs.next()
        val cell = table.get(k)
        if (cell == null) table.put(k, new Cell(step(zero, v)))
        else cell.b = step(cell.b, v)
        n += 1
      }
      table
    }.takeWhile(!_.isEmpty).flatMap(_.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.b)))
  }

  /** The intermediate pairs: `mapFn(lineNo, line)` over every line,
    * lineNo being the 0-based global line number of
    * [[graft.sources.Sources.numberedLines]]. Over a plain
    * `spark.read.textFile` scan, the files are numbered in path order
    * and no job runs until the facade's Dataset executes; any other
    * `lines` falls back to `zipWithIndex`, whose counting job runs here. */
  private def pairs(lines: Dataset[String], mapFn: (Long, String) => Iterator[(String, String)]) =
    Sources.numberedLines(lines).flatMap { case (no, line) => mapFn(no, line) }

  /** Algebraic variant: when the user reduce is a fold (zero/step/merge),
    * each map task folds its pairs itself ([[combine]] with `foldStep`)
    * — the map-side combine the reference explicitly lacks
    * (`src/WordCounter.cpp:24-29` ships one pair per word occurrence).
    * Catalyst sees only the folded `(key, B)` rows and merges them with
    * `foldMerge` in a partial+final aggregate on the key column, whose
    * output stays hash-partitioned by key.
    *
    * `B` must be treated as immutable: `foldZero` seeds every key's
    * buffer, so `foldStep` and `foldMerge` must return new values
    * rather than update their arguments. */
  def runFold[B](lines: Dataset[String],
                 mapFn: (Long, String) => Iterator[(String, String)],
                 foldZero: B,
                 foldStep: (B, String) => B,
                 foldMerge: (B, B) => B,
                 foldFinish: B => Seq[String])(implicit benc: Encoder[B]): Dataset[(String, Seq[String])] = {
    val rowEnc = Encoders.tuple(Encoders.STRING, benc)
    val folded = lines.sparkSession.createDataset(pairs(lines, mapFn)
      .mapPartitions(combine(_, foldZero, foldStep, CombineCap)))(rowEnc)
    folded.groupBy(col("_1")).as[String, (String, B)](Encoders.STRING, rowEnc)
      .agg(new FoldAggregator(foldZero, foldMerge, foldFinish, benc).toColumn.name("values"))
      .orderBy(col("key"))
  }
}

/** [[MapReduce.runFold]]'s reducer as a typed Aggregator over the
  * map-side folded (key, state) rows: it merges states with
  * `foldMerge`. A top-level class holding only the fold and the
  * encoders, so the task closure never captures a `SparkSession`
  * (which stops serializing once the session's observation manager
  * exists). */
private[mr] final class FoldAggregator[B](foldZero: B,
                                          foldMerge: (B, B) => B,
                                          foldFinish: B => Seq[String],
                                          benc: Encoder[B])
    extends Aggregator[(String, B), B, Seq[String]] {
  override def zero: B = foldZero
  override def reduce(b: B, a: (String, B)): B = foldMerge(b, a._2)
  override def merge(b1: B, b2: B): B = foldMerge(b1, b2)
  override def finish(b: B): Seq[String] = foldFinish(b)
  override def bufferEncoder: Encoder[B] = benc
  override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
}

/** One key's buffer in [[MapReduce.combine]]'s table, updated in place
  * as the key's pairs are folded. */
private[mr] final class Cell[B](var b: B)

/** [[MapReduce.run]]'s per-key value buffer: the values appended to one
  * growable byte array, each as a varint length code followed by its
  * UTF-8 bytes. Code 0 is `null`; code n + 1 is a value of n bytes.
  * Strings encode as Catalyst's `UTF8String.fromString` does, so a
  * value decodes to what a string column would have given back. */
private[mr] final class ValueBuffer {
  private var bytes = new Array[Byte](32)
  private var size = 0

  def add(v: String): ValueBuffer = {
    if (v == null) putCode(0)
    else {
      val utf8 = v.getBytes(UTF_8)
      putCode(utf8.length + 1)
      grow(utf8.length)
      System.arraycopy(utf8, 0, bytes, size, utf8.length)
      size += utf8.length
    }
    this
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(bytes, size)

  private def putCode(code: Int): Unit = {
    grow(5)
    var c = code
    while ((c & ~0x7f) != 0) { bytes(size) = ((c & 0x7f) | 0x80).toByte; size += 1; c >>>= 7 }
    bytes(size) = c.toByte
    size += 1
  }

  private def grow(n: Int): Unit =
    if (size + n > bytes.length) bytes = java.util.Arrays.copyOf(bytes, math.max(2 * bytes.length, size + n))
}

private[mr] object ValueBuffer {
  /** The values of one [[ValueBuffer.toBytes]] array, decoded as they
    * are read. */
  def decode(buf: Array[Byte]): Iterator[String] = new Iterator[String] {
    private var pos = 0
    def hasNext: Boolean = pos < buf.length
    def next(): String = {
      var code = 0
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) { b = buf(pos); pos += 1; code |= (b & 0x7f) << shift; shift += 7 }
      if (code == 0) null
      else { val v = new String(buf, pos, code - 1, UTF_8); pos += code - 1; v }
    }
  }
}
