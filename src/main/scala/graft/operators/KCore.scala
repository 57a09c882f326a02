package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling (Seidman 1983): repeatedly delete nodes of degree < k;
  * what survives is the graph's dense backbone — the link-graph audit that
  * separates hub structure from stragglers before community or influence
  * passes.
  *
  * Per round: ONE degree aggregate (map-side combined) + two semi-joins
  * that keep only edges whose BOTH endpoints survive. Fixed round count —
  * each round peels at least the current sub-threshold layer, and the
  * oracle replays rounds exactly; run to fixpoint by raising `rounds`
  * (the peel is monotone: once stable, further rounds are no-ops).
  *
  * 100 TB posture: every stage keys on node id (edge list pre-partitioned
  * by endpoint → co-located joins); driver state is the round counter;
  * lineage truncated per round like [[PageRank]].
  */
object KCore {

  /** (node, deg) for nodes still standing after `rounds` peels at
    * threshold `k`; `deg` is the surviving-subgraph degree.
    *
    * ADAPTIVE CONVERGENCE: the peel only ever REMOVES edges, so an
    * unchanged edge COUNT between rounds proves the edge SET is stable and
    * every further round a no-op — the loop exits after the first round
    * that removes no edge. The counts are the row counts the checkpointing
    * jobs observe ([[Checkpoints.state]]), so the test costs no job.
    * Fixed-round oracle replays are unaffected (identical output), and an
    * over-provisioned `rounds` on a stable core stops paying per-round
    * degree shuffles (spec'd). Pass `adaptive = false` to force exactly
    * `rounds` iterations.
    *
    * The result is itself an eager checkpoint and every working checkpoint
    * is released before returning (the self-cleaning class of the
    * [[graft.operators]] lifecycle contract).
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int, adaptive: Boolean = true): DataFrame =
    peelWithStats(edges, srcCol, dstCol, k, rounds, adaptive)._1

  /** [[peel]] plus the number of rounds actually executed. */
  def peelWithStats(edges: DataFrame, srcCol: String, dstCol: String,
                    k: Int, rounds: Int,
                    adaptive: Boolean = true): (DataFrame, Int) = {
    val e0 = edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // symmetrize with ONE in-row explode, not a self-union (the union's
    // two legs each re-ran e0's distinct shuffle at materialization), then
    // read the loop-invariant edge set at the size-derived ⌈rows/64k⌉
    // width ([[Checkpoints.sized]]), so the per-round degree aggregate and
    // semi-joins schedule as many tasks as the DATA warrants (and the
    // narrow width propagates to every round's checkpoint through the
    // semi-joins' stream side).
    val undCp = Checkpoints.state(e0.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v")))
    var und = Checkpoints.sized(undCp.df, undCp.rows)
    var undState = undCp // the checkpoint und reads (round 0: undCp's view)
    var executed = 0
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val alive = und.groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("u").as("node"))
      val next = Checkpoints.state(und
        .join(alive, und("u") === alive("node"), "left_semi")
        .join(alive, und("v") === alive("node"), "left_semi"))
      converged = adaptive && next.rows == undState.rows
      Checkpoints.release(undState.df) // superseded round's edge set
      und = next.df
      undState = next
      executed = r
    }
    val out = Checkpoints.state(
      und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))).df
    Checkpoints.release(undState.df)
    (out, executed)
  }
}
