package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative loops (connected components,
  * q155's k-core peel, q164's HITS rounds, the BPE trainers' merge
  * rounds, the IVF k-means and PQ codebook rounds). Each round's plan
  * is built on the previous round's frame, so without an eager cut the
  * logical plan doubles per round and the driver's analyzer hangs
  * before a task launches (the round-12 q155 failure).
  *
  * The mode comes from the context, not from the caller:
  *  - no checkpoint dir (local runs, the catalog runners, perfbench):
  *    `localCheckpoint` — blocks live on executors, no filesystem
  *    round-trip, but an executor loss mid-loop kills the job because
  *    the blocks have no lineage to recompute from;
  *  - a checkpoint dir set once at session creation (a cluster, on
  *    HDFS or an object store): reliable `checkpoint()`, which survives
  *    executor loss at one write+read of the frame per round. Spark
  *    never deletes reliable checkpoint files on its own; the loops
  *    drop each superseded round, so
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` lets the
  *    ContextCleaner reap them. */
object Lineage {
  /** `df` materialized now, as a plan leaf. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
