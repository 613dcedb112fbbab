package graft.apps

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
      (_, vs) => vs.toSeq.distinct.sorted, // string sort + unique, src/InvertedIndex.cpp:35-36
      numPartitions)
}
