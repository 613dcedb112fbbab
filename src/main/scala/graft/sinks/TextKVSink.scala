package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's text KV sink (O8), reproduced byte-for-byte.
  *
  * Format per `include/Utility.h:61-76`: each row is
  * `key␣v1␣v2␣...␣\n` — single-space separated with a **trailing
  * space** after every token (the write loop appends `" "` after the key
  * and after each value). The reference writes one file per reducer
  * partition (`output_<r>.txt`), rows key-sorted within each file
  * (`include/MapReduceMaster.h:510,:545`, std::map iteration order).
  *
  * Spark mapping: `repartition(n, key)` asks for the hash partitioning
  * (O4; partition *assignment* differs from std::hash),
  * `sortWithinPartitions` gives the per-file key order, and
  * `.write.text` writes one file per non-empty partition. The contract
  * is therefore **at most n files, each key-sorted**, with the merged
  * output as the parity contract (SURVEY.md §7.4) — not n files. Both
  * facade paths ([[graft.mr.MapReduce.run]] and
  * [[graft.mr.MapReduce.runFold]]) give output hash-partitioned on the
  * key, so when n equals `spark.sql.shuffle.partitions` Spark plans no
  * exchange for the repartition, and adaptive execution may coalesce
  * the aggregate's shuffle into fewer partitions: the output can land
  * in fewer than n files, even a single one.
  *
  * Each line is formatted in one pass: `concat_ws(" ", k, vs, "")`
  * joins the key, the values and an empty last token, which yields the
  * trailing space, into one string with a single copy of each value.
  */
object TextKVSink {

  /** Write `df` (a key column + an array-of-string values column) in the
    * reference output format. */
  def write(df: DataFrame, keyCol: String, valuesCol: String, dir: String, numPartitions: Int): Unit =
    df.select(col(keyCol).cast("string").as("k"), col(valuesCol).as("vs"))
      .repartition(numPartitions, col("k"))
      .sortWithinPartitions(col("k"))
      .select(line(col("k"), col("vs")).as("value"))
      .write.mode("overwrite").text(dir)

  /** One output line: `k` and the values of `vs`, nulls skipped, joined
    * by spaces, plus the trailing space (so a row with no non-null
    * token is `" "`). A null `vs` gives a null line, which the text
    * writer writes as an empty one. */
  private[sinks] def line(k: Column, vs: Column): Column =
    when(vs.isNull, lit(null).cast("string"))
      .when(k.isNull, concat(concat_ws(" ", vs), lit(" ")))
      .otherwise(concat_ws(" ", k, vs, lit("")))

  /** Format a single row the way `write_key_val_vector` does — exposed
    * for golden tests. */
  def formatRow(key: String, values: Seq[String]): String =
    (key +: values).mkString("", " ", " ")
}
