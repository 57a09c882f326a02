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
                    adaptive: Boolean = true): (DataFrame, Int) =
    // the state is the surviving edge set, read at the size-derived
    // ⌈rows/64k⌉ width ([[Checkpoints.sized]]), so the degree aggregate and
    // the semi-joins schedule as many tasks as the DATA warrants
    Checkpoints.iterate(Checkpoints.undirected(edges, srcCol, dstCol), rounds,
      step = (prev, _) => {
        val und = Checkpoints.sized(prev.df, prev.rows)
        val alive = und.groupBy(col("u")).agg(count(lit(1)).as("__d"))
          .filter(col("__d") >= k)
          .select(col("u").as("node"))
        und.join(alive, und("u") === alive("node"), "left_semi")
          .join(alive, und("v") === alive("node"), "left_semi")
      },
      done = (prev, next, _) => adaptive && next.rows == prev.rows,
      finish = Some(last => Checkpoints.sized(last.df, last.rows)
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))))
}
