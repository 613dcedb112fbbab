package graft.mr

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

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
  * and — via [[runFold]] — map-side partial aggregation, which the
  * reference lacks entirely (every ("word","1") crosses its shuffle).
  *
  * Scale note: both paths keep the shuffle far below one row per
  * emitted pair. [[runFold]] plans Catalyst partial+final aggregation,
  * so only |keys| rows per map task cross the shuffle. [[run]] cannot
  * combine an arbitrary reducer, so each map task packs its pairs
  * instead: it buffers up to [[PackCap]] values as `key → values` and
  * flushes one `(key, values)` row per buffered key (see [[pack]]).
  * Both group on the key column, so the shuffle carries no duplicated
  * key column and no pair is deserialized just to extract its key.
  */
object MapReduce {

  /** Values one map task of [[run]] buffers before it flushes its
    * packed rows: bounds the task's buffer at the cost of at most one
    * extra row per key per flush. */
  private[mr] val PackCap: Int = 1 << 18

  /** Arbitrary user map/reduce — the reference's full generality.
    * Output is (key, values) sorted by key (O6 semantics: byte-wise
    * string order, matching std::string operator<).
    *
    * Each map task packs its pairs into `(key, values)` rows through a
    * buffer bounded by [[PackCap]] values ([[pack]]), so a key ships
    * about once per task instead of once per occurrence. The packed
    * rows are grouped on the key column — a sort-based, spillable
    * grouping over the packed rows — and `reduceFn(k, vs)` sees the
    * concatenation of k's packed lists: the same multiset of values as
    * the reference's group stream, in no particular order. A reducer
    * must not depend on value order; the reference's two (sum, and
    * sort + unique) do not.
    *
    * The O4 hash-partition-by-key exchange is delivered by the grouping
    * shuffle itself — an explicit `repartition(n, key)` before it would
    * be a second, pure-waste exchange of the same data. `numPartitions`
    * (≅ nr_reducer) is advisory on Spark: the shuffle width comes from
    * `spark.sql.shuffle.partitions` and the one-file-per-reducer layout
    * from the sink ([[graft.sinks.TextKVSink]] repartitions on write);
    * per the reference's contract (and the partition-invariance
    * property test) it never changes answers. */
  def run(lines: Dataset[String],
          mapFn: (Long, String) => Iterator[(String, String)],
          reduceFn: (String, Iterator[String]) => Seq[String],
          numPartitions: Int): Dataset[(String, Seq[String])] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val packed = spark.createDataset(pairs(lines, mapFn).mapPartitions(pack(_, PackCap)))
    packed.groupBy(col("_1")).as[String, (String, Seq[String])]
      .mapGroups((k, rows) => (k, reduceFn(k, rows.flatMap(_._2)).toList: Seq[String]))
      .orderBy(col("_1"))
  }

  /** Folds a map task's pairs into `(key, values)` rows: buffers them
    * per key and flushes one row per buffered key each time `cap`
    * values are buffered, and once more at the end. Per key, the
    * flushed lists together hold exactly the key's values. */
  private[mr] def pack(pairs: Iterator[(String, String)], cap: Int): Iterator[(String, Seq[String])] = {
    require(cap >= 1, s"pack cap must be positive, got $cap")
    Iterator.continually {
      val buffer = mutable.HashMap.empty[String, mutable.ListBuffer[String]]
      var n = 0
      while (n < cap && pairs.hasNext) {
        val (k, v) = pairs.next()
        buffer.getOrElseUpdate(k, mutable.ListBuffer.empty) += v
        n += 1
      }
      buffer
    }.takeWhile(_.nonEmpty).flatMap(_.iterator.map { case (k, vs) => (k, vs.toList) })
  }

  /** The intermediate pairs: `mapFn(lineNo, line)` over every line,
    * lineNo being the 0-based global line number. */
  private def pairs(lines: Dataset[String], mapFn: (Long, String) => Iterator[(String, String)]) =
    lines.rdd.zipWithIndex().flatMap { case (line, no) => mapFn(no, line) }

  /** The reference's mapper input shard (O2): mapper `i` of `n` keeps
    * line iff `hash(record_number) % n == i`, and libstdc++'s
    * `std::hash<int>` is the identity ⇒ round-robin by line number
    * (`include/MapReduceMaster.h:434-440,:465`). Spark's input splits
    * make this unnecessary (each split is read once), but the exact
    * record-to-task assignment is reproducible when bit-parity matters. */
  def mapperShard(lines: Dataset[String], nrMapper: Int, mapperId: Int): Dataset[String] = {
    val spark = lines.sparkSession
    import spark.implicits._
    spark.createDataset(
      lines.rdd.zipWithIndex().collect { case (l, no) if no % nrMapper == mapperId => l })
  }

  /** Algebraic variant: when the user reduce is a fold (zero/step/merge),
    * run it as a typed Aggregator so Spark performs map-side combine —
    * the optimization the reference explicitly lacks
    * (`src/WordCounter.cpp:24-29` ships one pair per word occurrence). */
  def runFold[B](lines: Dataset[String],
                 mapFn: (Long, String) => Iterator[(String, String)],
                 foldZero: B,
                 foldStep: (B, String) => B,
                 foldMerge: (B, B) => B,
                 foldFinish: B => Seq[String])(implicit benc: Encoder[B]): Dataset[(String, Seq[String])] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val agg = new FoldAggregator(foldZero, foldStep, foldMerge, foldFinish, benc)
    spark.createDataset(pairs(lines, mapFn))
      .groupBy(col("_1")).as[String, (String, String)]
      .agg(agg.toColumn.name("values"))
      .orderBy(col("key"))
  }
}

/** [[MapReduce.runFold]]'s reducer as a typed Aggregator over the
  * (key, value) pairs. A top-level class holding only the fold and the
  * encoders, so the task closure never captures a `SparkSession` (which
  * stops serializing once the session's observation manager exists). */
private[mr] final class FoldAggregator[B](foldZero: B,
                                          foldStep: (B, String) => B,
                                          foldMerge: (B, B) => B,
                                          foldFinish: B => Seq[String],
                                          benc: Encoder[B])
    extends Aggregator[(String, String), B, Seq[String]] {
  override def zero: B = foldZero
  override def reduce(b: B, a: (String, String)): B = foldStep(b, a._2)
  override def merge(b1: B, b2: B): B = foldMerge(b1, b2)
  override def finish(b: B): Seq[String] = foldFinish(b)
  override def bufferEncoder: Encoder[B] = benc
  override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
}
