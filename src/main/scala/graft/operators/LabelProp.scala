package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection by iterated neighbor-majority vote. Complements the HashMin
  * connected components in [[Dedup]] (which finds REACHABILITY classes) by
  * finding DENSITY classes: two nodes end up together only when enough of
  * their neighborhoods agree, the community lens a dedup/link-graph audit
  * wants.
  *
  * Per round: ONE equi-join ships each node's current label to its
  * neighbors, one map-side-combined count aggregates the votes, and a
  * per-node window picks the majority label (ties to the smallest label —
  * deterministic, so the oracle can replay rounds exactly). Lineage is
  * truncated per round (`localCheckpoint`) like [[PageRank]]; driver state
  * is the round counter only.
  *
  * 100 TB posture: every stage keys on node id — with the edge list
  * pre-partitioned by source the vote join is co-located; the window runs
  * per node over its neighbor-label votes (bounded by degree), never a
  * global sort. Fixed round count: LPA is run for k rounds, not to
  * convergence (the usual production posture — oscillation is possible
  * under synchronous update).
  */
object LabelProp {

  /** (node, label) after `rounds` synchronous votes; initial label = node id.
    * Edges are made undirected and deduplicated; self-loops dropped. Nodes
    * with no surviving edge do not appear (they keep their own label
    * trivially).
    *
    * ADAPTIVE CONVERGENCE: each round counts the labels that CHANGED (one
    * node-keyed join of two checkpointed node-sized frames — the driver
    * sees one long) and stops at zero: the synchronous update is a pure
    * function of the previous labeling, so an unchanged round proves every
    * further round identical — a fixed-round oracle replay is unaffected,
    * and an over-provisioned `rounds` on a converged graph stops paying
    * per-round vote shuffles (spec'd). Oscillating graphs never hit zero
    * and run the full budget, the documented LPA posture. Pass
    * `adaptive = false` to force exactly `rounds` iterations.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
                rounds: Int, adaptive: Boolean = true): DataFrame =
    propagateWithStats(edges, srcCol, dstCol, rounds, adaptive)._1

  /** [[propagate]] plus the number of rounds actually executed. */
  def propagateWithStats(edges: DataFrame, srcCol: String, dstCol: String,
                         rounds: Int,
                         adaptive: Boolean = true): (DataFrame, Int) = {
    val e = edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // one in-row explode instead of a self-union (whose two legs each
    // re-ran e's distinct shuffle), read at the size-derived ⌈rows/64k⌉
    // width ([[Checkpoints.sized]]) so the per-round vote join schedules
    // tasks proportional to the edge DATA, not the session shuffle width;
    // the checkpoint counts its own rows, so the width costs no count job
    val undCp = Checkpoints.state(e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v")))
    val und = Checkpoints.sized(undCp.df, undCp.rows)
    val nW = und.rdd.getNumPartitions
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    val w = Window.partitionBy("u").orderBy(col("__n").desc, col("label"))
    var executed = 0
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val votes = und.join(labels, und("v") === labels("node"))
        .groupBy(und("u"), labels("label"))
        .agg(count(lit(1)).as("__n"))
      val next = Checkpoints.state(votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("u").as("node"), col("label"))
        .coalesce(nW)).df // node-sized ≤ edge-sized; folds into the window stage
      // changed-label count: the node set is constant (und is fixed), so
      // zero changes proves next == labels exactly. Skipped on the last
      // round — the result ships regardless.
      if (adaptive && r > 1 && r < rounds) {
        val changed = next
          .join(labels.withColumnRenamed("label", "__prev"), "node")
          .filter(col("label") =!= col("__prev")).count()
        converged = changed == 0L
      }
      Checkpoints.release(labels) // superseded round (no-op on round 1)
      labels = next
      executed = r
    }
    // rounds == 0 returns the init projection OVER und — releasing its
    // blocks would truncate lineage the result still needs (the PageRank
    // rounds-0 hazard); after ≥1 round labels is an independent checkpoint
    if (executed >= 1) Checkpoints.release(undCp.df)
    (labels, executed)
  }
}
