package graft.apps

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.mr.MapReduce

/** Reference application 1: word count (`src/WordCounter.cpp:19-41`).
  *
  * Reference semantics preserved exactly (SURVEY.md §7.4): tokens are
  * `\s+`-split via `stringstream >>` (`src/WordCounter.cpp:24-29`),
  * punctuation retained, case-sensitive; counts are per-occurrence with
  * no normalization; output is key-sorted (byte-wise).
  */
object WordCount {

  /** DataFrame-native path: tokenize → explode → groupBy → count.
    * Catalyst plans partial+final HashAggregate, i.e. the map-side
    * combine the reference lacks — at scale only |distinct words| rows
    * per partition cross the shuffle. */
  def counts(lines: Dataset[String]): DataFrame =
    lines.select(explode(GraftFunctions.wsTokens(lines.sparkSession, col("value"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))

  /** Reference-faithful facade path: map emits ("word","1") per
    * occurrence, reduce sums with stoi (`src/WordCounter.cpp:31-41`).
    * Uses the fold variant so the sum still gets map-side combine. */
  def viaFacade(lines: Dataset[String]): Dataset[(String, Seq[String])] = {
    import lines.sparkSession.implicits._
    MapReduce.runFold[Long](lines,
      (_, line) => Tokens(line).map(w => (w, "1")),
      0L,
      (b, v) => b + v.toLong,
      _ + _,
      b => Seq(b.toString))
  }
}
