package org.apache.spark

/** Test access to the context's checkpoint dir, which Spark can set but
  * not unset. */
object CheckpointDirs {
  /** Runs `body` with `dir` as the context's checkpoint dir, then unsets
    * it, so the shared test context never points at a deleted dir. */
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }
}
