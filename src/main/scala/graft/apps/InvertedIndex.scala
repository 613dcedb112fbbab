package graft.apps

import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.mr.MapReduce

/** Reference application 2: inverted index (`src/InvertedIndex.cpp:20-39`).
  *
  * Reference semantics preserved exactly (SURVEY.md §7.4): map emits
  * (word, lineNumber-as-string) per occurrence; reduce sorts positions
  * **lexicographically as strings** (so "10" < "2",
  * `src/InvertedIndex.cpp:35`) and dedupes (`sort`+`unique`, `:35-36`).
  * Positions stay strings here to preserve that ordering quirk.
  */
object InvertedIndex {

  /** DataFrame-native path over (position, line) pairs:
    * tokenize → explode → grouped sorted set. */
  def index(df: DataFrame, posCol: String, textCol: String): DataFrame =
    df.select(col(posCol).cast("string").as("pos"),
        explode(GraftFunctions.wsTokens(df.sparkSession, col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col("pos"))).as("positions"))
      .orderBy(col("word"))

  /** Reference-faithful facade path over text lines: positions are
    * 0-based global line numbers, exactly like
    * `include/MapReduceMaster.h:469` feeding `src/InvertedIndex.cpp:22-26`. */
  def viaFacade(lines: Dataset[String], numPartitions: Int): Dataset[(String, Seq[String])] =
    MapReduce.run(lines,
      (no, line) => { val pos = no.toString; Tokens(line).map(w => (w, pos)) },
      (_, vs) => sortUnique(vs),
      numPartitions)

  /** The reference reducer's `sort` + `unique` (`src/InvertedIndex.cpp:35-36`):
    * the values sorted by `String.compareTo` (so "10" < "2"), adjacent
    * duplicates dropped. Equal to `vs.toSeq.distinct.sorted`, with one
    * array and no hash set. */
  private[apps] def sortUnique(vs: Iterator[String]): Seq[String] = {
    val a = vs.toArray
    java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]])
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    ArraySeq.unsafeWrapArray(if (n == a.length) a else java.util.Arrays.copyOf(a, n))
  }
}
