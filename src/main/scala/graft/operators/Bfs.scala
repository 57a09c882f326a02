package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded breadth-first search: hop distance from a source node set, the
  * reachability-with-radius primitive (blast-radius queries, n-hop
  * neighborhoods, lineage walks) beside [[PageRank]] (influence),
  * [[LabelProp]] (density) and [[Dedup]]'s HashMin (full reachability).
  *
  * Level-synchronous relaxation: each round joins the CURRENT FRONTIER
  * (only — not the settled set) to the adjacency list, min-combines new
  * candidates, and anti-joins out already-settled nodes. Work per round is
  * O(frontier × avg degree), the textbook distributed-BFS bound; settled
  * state is (node, level) — data-proportional, never driver-side.
  * Lineage truncated per round like the other iterative operators.
  */
object Bfs {

  /** (node, level) for every node within `maxHops` of `sources` (level 0).
    * Edges are treated as undirected; ties (a node reachable at the same
    * round via many paths) are level-identical by construction.
    */
  def levels(edges: DataFrame, srcCol: String, dstCol: String,
             sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame = {
    val e = edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // one in-row explode instead of a self-union (whose two legs each
    // re-ran e's distinct shuffle), read at the size-derived ⌈rows/64k⌉
    // width ([[Checkpoints.sized]]); every checkpoint here counts its own
    // rows ([[Checkpoints.state]]), so the width costs no count job and
    // each round plans its joins on true sizes
    val undCp = Checkpoints.state(e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v")))
    val und = Checkpoints.sized(undCp.df, undCp.rows)
    var settled = Checkpoints.state(sources.select(col(sourceCol).as("node"))
      .distinct().withColumn("level", lit(0L))).df
    var frontier = settled
    for (h <- 1 to maxHops) {
      val next = Checkpoints.state(und.join(frontier, und("u") === frontier("node"))
        .select(und("v").as("node"))
        .distinct()
        .join(settled.select(col("node")), Seq("node"), "left_anti")
        .withColumn("level", lit(h.toLong))).df
      val grown = Checkpoints.state(settled.unionByName(next)).df
      // grown is a materialized COPY — the prior settled and the consumed
      // frontier are both superseded (round-1 frontier IS settled; the
      // double release is a harmless repeat unpersist of the same RDD)
      Checkpoints.release(settled)
      Checkpoints.release(frontier)
      settled = grown
      frontier = next
    }
    Checkpoints.release(undCp.df)
    // the final round's frontier checkpoint is a SEPARATE RDD from settled
    // (its rows are a subset, its blocks are not) — without this it leaks
    // one frame per call for the JVM lifetime; the alias guard covers
    // maxHops == 0, where frontier IS the returned settled
    if (frontier ne settled) Checkpoints.release(frontier)
    settled
  }
}
