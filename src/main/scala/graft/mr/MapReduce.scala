package graft.mr

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
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
  * and — via [[combine]] — a map-side combiner, which the reference
  * lacks entirely (every ("word","1") crosses its shuffle).
  *
  * Scale note: both paths keep the shuffle far below one row per
  * emitted pair, and Catalyst never sees a raw pair. Each map task runs
  * one bounded combiner ([[combine]]) over its pairs: it folds each
  * key's values into a buffer and flushes one `(key, buffer)` row per
  * buffered key every [[CombineCap]] pairs and at the end of the task.
  * [[run]] cannot combine an arbitrary reducer, so its buffer is the
  * key's value list; [[runFold]]'s is the user fold's state, so
  * Catalyst only merges folded states. Both group on the key column, so
  * the shuffle carries no duplicated key column and no row is
  * deserialized just to extract its key.
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
    * Each map task combines its pairs into `(key, values)` rows
    * ([[combine]], a list per key), so a key ships about once per task
    * instead of once per occurrence. The combined rows are grouped on
    * the key column — a sort-based, spillable grouping — and
    * `reduceFn(k, vs)` sees the concatenation of k's lists: the same
    * multiset of values as the reference's group stream, in no
    * particular order. A reducer must not depend on value order; the
    * reference's two (sum, and sort + unique) do not.
    *
    * The O4 hash-partition-by-key exchange is delivered by the grouping
    * shuffle itself — an explicit `repartition(n, key)` before it would
    * be a second, pure-waste exchange of the same data. `numPartitions`
    * (≅ nr_reducer) is advisory on Spark: the shuffle width comes from
    * `spark.sql.shuffle.partitions` and the at-most-one-file-per-reducer
    * layout from the sink ([[graft.sinks.TextKVSink]]);
    * per the reference's contract (and the partition-invariance
    * property test) it never changes answers. */
  def run(lines: Dataset[String],
          mapFn: (Long, String) => Iterator[(String, String)],
          reduceFn: (String, Iterator[String]) => Seq[String],
          numPartitions: Int): Dataset[(String, Seq[String])] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val lists = spark.createDataset(pairs(lines, mapFn)
      .mapPartitions(combine[List[String]](_, Nil, (vs, v) => v :: vs, CombineCap)))
    lists.groupBy(col("_1")).as[String, (String, List[String])]
      .mapGroups((k, rows) => (k, reduceFn(k, rows.flatMap(_._2)).toList: Seq[String]))
      .orderBy(col("_1"))
  }

  /** The map-side combiner: folds a map task's pairs into one buffer
    * per key, starting from `zero`, and flushes one `(key, buffer)` row
    * per buffered key each time `cap` pairs are folded, and once more
    * at the end. Per key, the flushed buffers together fold exactly the
    * key's values. One hash lookup per pair; `zero` seeds every key's
    * buffer, so `step` must return a new value rather than mutate it. */
  private[mr] def combine[B](pairs: Iterator[(String, String)],
                             zero: B,
                             step: (B, String) => B,
                             cap: Int): Iterator[(String, B)] = {
    require(cap >= 1, s"combine cap must be positive, got $cap")
    Iterator.continually {
      val buffer = mutable.HashMap.empty[String, B]
      var n = 0
      while (n < cap && pairs.hasNext) {
        val (k, v) = pairs.next()
        buffer.updateWith(k) {
          case Some(b) => Some(step(b, v))
          case None => Some(step(zero, v))
        }
        n += 1
      }
      buffer
    }.takeWhile(_.nonEmpty).flatMap(_.iterator)
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
