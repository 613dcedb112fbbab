package graft.dedup

import graft.core.Lineage.truncate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation
  * — the clustering step pair-based dedup is missing: verified pairs
  * say A~B and B~C, but dropping duplicates safely needs the whole
  * cluster {A,B,C} under one canonical id (pair-wise keep-lowest would
  * happily keep both A and C if the A~C pair was never banded).
  *
  * Algorithm: every vertex starts labeled with itself; each round a
  * vertex takes the min label among itself and its neighbors; fixpoint
  * = every vertex holds the min id of its component. Converges in at
  * most `diameter` rounds — duplicate clusters are near-cliques (tiny
  * diameter), so 2–4 rounds in practice. Each round is ONE edge⋈label
  * equi-join + ONE min-aggregate — all shuffles on compact id keys,
  * nothing quadratic; labels are re-persisted per round and the
  * previous round is released, so state is O(|V|) regardless of round
  * count. For adversarial long-chain graphs the published
  * large-star/small-star alternation bounds rounds at O(log n); dedup
  * graphs don't need it and the simple propagation keeps every step
  * oracle-checkable (DuckDB recursive CTE).
  */
object ConnectedComponents {

  /** (id, comp) for every vertex: comp = min vertex id reachable in
    * the undirected graph given by `edges`. `maxIter` is a safety cap;
    * the loop exits as soon as a round changes nothing.
    *
    * Each round MUST truncate lineage, not merely cache: the round's
    * plan references the previous labels twice (propagation +
    * convergence check), so the logical plan doubles per round — by
    * round 8 that is a 2⁸-node tree whose AQE explain strings alone
    * OOM the driver. Checkpointing replaces the lineage with the
    * materialized rows, keeping every round's plan constant size —
    * the standard discipline for iterative DataFrame algorithms. The
    * cut is [[graft.core.Lineage.truncate]]: a local checkpoint, or a
    * reliable `checkpoint()` when the context has a checkpoint dir. */
  def components(vertices: DataFrame, idCol: String,
                 edges: DataFrame, srcCol: String, dstCol: String,
                 maxIter: Int = 50): DataFrame = {
    // truncate is EAGER: the round must materialize before its
    // changed-count is read, and lineage must be cut before the next
    // round's plan is built on top
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val eBoth = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))).persist()
    try {
      var labels = truncate(vertices.select(col(idCol).as("id"), col(idCol).as("comp")))
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIter) {
        val prop = eBoth.join(labels, col("src") === col("id"))
          .groupBy(col("dst")).agg(min(col("comp")).as("ncomp"))
        // the changed flag rides the checkpointed frame, so convergence
        // is a filter-count on cached rows — no extra join per round
        val next = truncate(labels.join(prop, col("id") === col("dst"), "left")
          .withColumn("newcomp", least(col("comp"), coalesce(col("ncomp"), col("comp"))))
          .select(col("id"), col("newcomp").as("comp"),
            (col("newcomp") < col("comp")).as("changed")))
        changed = next.filter(col("changed")).count()
        labels = next.drop("changed") // previous rounds' RDDs free on GC
        it += 1
      }
      // silently returning partial labels would hand a dedup pipeline
      // multiple "canonical" ids for one true component — fail loudly
      if (changed > 0) throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds " +
          s"($changed labels still changing); raise maxIter for graphs of larger diameter")
      labels
    } finally eBoth.unpersist(blocking = false)
  }
}
