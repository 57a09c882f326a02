package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank by power iteration (Page, Brin, Motwani & Winograd 1999) over an
  * undirected edge list — the iterative-graph-analytics complement to
  * [[Dedup.connectedComponents]]'s HashMin: importance scores for entity
  * graphs (supplier↔part, doc↔doc citation/near-dup graphs) that feed
  * curation weighting and sampling.
  *
  * Spark shape, mirroring the CC operator's discipline:
  *   - each round is ONE contribution join (rank/degree shipped along edges)
  *     plus ONE map-side-combined sum per destination — no per-vertex
  *     driver state, no collect of anything graph-sized;
  *   - `localCheckpoint` between rounds truncates lineage, so `rounds`
  *     iterations cost `rounds` shuffles, not an exponentially deep plan;
  *   - undirected expansion (each edge contributes both ways) means every
  *     node in the edge list has degree ≥ 1 — no dangling-mass term to
  *     redistribute (the variant that needs it is documented, not hidden);
  *   - driver state: the node COUNT (one long, for the teleport constant),
  *     observed by the degree checkpoint's own job.
  *
  * Determinism: contributions are IEEE doubles summed under a commutative
  * aggregate; reassociation differences are ~1 ulp per fan-in and invisible
  * at the oracle's 9-significant-digit compare.
  */
object PageRank {

  /** Ranks after `rounds` power iterations with damping `d`
    * (teleport `(1−d)/N`, init `1/N`). Returns (node, pr).
    *
    * ADAPTIVE CONVERGENCE: when `tol >= 0`, each round also computes the
    * L1 delta against the previous ranks (one node-keyed join between two
    * checkpointed node-sized frames + one scalar aggregate — the driver
    * sees ONE double) and stops as soon as `delta <= tol`. The default
    * `tol = 0.0` exits only at the exact IEEE fixpoint — every remaining
    * round would reproduce the same bits, so a fixed-round oracle replay
    * is unaffected while a 100×-over-provisioned `rounds` on an
    * already-converged graph stops paying per-round shuffles (spec'd:
    * regular graphs hit the exact fixpoint in a handful of rounds). Pass
    * `tol < 0` to force exactly `rounds` iterations (no delta job at all).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               rounds: Int, d: Double = 0.85, tol: Double = 0.0): DataFrame =
    pageRankWithStats(edges, srcCol, dstCol, rounds, d, tol)._1

  /** [[pageRank]] plus the number of rounds actually executed. */
  def pageRankWithStats(edges: DataFrame, srcCol: String, dstCol: String,
                        rounds: Int, d: Double = 0.85,
                        tol: Double = 0.0): (DataFrame, Int) = {
    val und = Checkpoints.state(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .unionByName(edges.select(col(dstCol).cast("long").as("u"),
        col(srcCol).cast("long").as("v")))
      .distinct()).df // read by deg AND the undDeg join — one scan
    val deg = Checkpoints.state(und.groupBy("u").agg(count(lit(1)).as("deg")))
    // driver state: ONE long (the teleport denominator), the row count the
    // degree checkpoint's own job observed
    val n = deg.rows
    // the edge⋈degree join is ROUND-INVARIANT — hoisted out of the loop and
    // checkpointed once as (u, v, deg), each round pays ONE join (ranks
    // attach) instead of two. und is only read here, so its blocks are
    // released as soon as undDeg holds. rounds == 0 never enters the loop
    // (the init projection reads deg alone), so the edge-scale build is
    // skipped entirely on that early-exit path. Each round reads undDeg at
    // the size-derived ⌈rows/64k⌉ width ([[Checkpoints.sized]]), not at the
    // session's shuffle width.
    val undDegCp = if (rounds >= 1)
        Some(Checkpoints.state(und.join(deg.df, "u")
          .select(col("u"), col("v"), col("deg"))))
      else None
    Checkpoints.release(und)
    val base = (1.0 - d) / n
    var ranks = deg.df.select(col("u").as("node"), lit(1.0 / n).as("pr"))
    var executed = 0
    var converged = false
    val undDegScan = undDegCp.map(st => Checkpoints.sized(st.df, st.rows))
    for (undDeg <- undDegScan; r <- 1 to rounds if !converged) {
      val contribs = undDeg
        .join(ranks, undDeg("u") === ranks("node"))
        .select(col("v").as("node"), (col("pr") / col("deg")).as("c"))
      val next = Checkpoints.state(contribs.groupBy("node")
        .agg((lit(base) + lit(d) * sum(col("c"))).as("pr"))).df
      // L1 delta vs the superseded round: node-sized join of two cached
      // frames, ONE double to the driver. Skipped on the last round (the
      // result ships regardless) and entirely when tol < 0.
      if (tol >= 0.0 && r > 1 && r < rounds) {
        val delta = next.join(ranks.withColumnRenamed("pr", "__prev"), "node")
          .agg(coalesce(sum(abs(col("pr") - col("__prev"))), lit(0.0)))
          .head().getDouble(0)
        converged = delta <= tol
      }
      Checkpoints.release(ranks) // superseded round's blocks (no-op on round 1)
      ranks = next
      executed = r
    }
    // rounds == 0 returns the lazy init projection OVER deg — releasing
    // deg's blocks would truncate lineage the result still needs ("block
    // not found" at materialization). Only once a round has run is ranks
    // an independent eager checkpoint, making undDeg/deg safely superseded.
    undDegCp.foreach(st => Checkpoints.release(st.df)) // never read by the init projection
    if (executed >= 1) Checkpoints.release(deg.df)
    (ranks, executed)
  }
}
