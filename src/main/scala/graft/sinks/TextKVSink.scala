package graft.sinks

import org.apache.spark.sql.DataFrame
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
  */
object TextKVSink {

  /** Write `df` (a key column + an array-of-string values column) in the
    * reference output format. */
  def write(df: DataFrame, keyCol: String, valuesCol: String, dir: String, numPartitions: Int): Unit =
    df.select(col(keyCol).cast("string").as("k"), col(valuesCol).as("vs"))
      .repartition(numPartitions, col("k"))
      .sortWithinPartitions(col("k"))
      .select(concat(array_join(concat(array(col("k")), col("vs")), " "), lit(" ")).as("value"))
      .write.mode("overwrite").text(dir)

  /** Format a single row the way `write_key_val_vector` does — exposed
    * for golden tests. */
  def formatRow(key: String, values: Seq[String]): String =
    (key +: values).mkString("", " ", " ")
}
