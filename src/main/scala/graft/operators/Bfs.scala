package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded breadth-first search: hop distance from a source node set, the
  * reachability-with-radius primitive (blast-radius queries, n-hop
  * neighborhoods, lineage walks) beside [[PageRank]] (influence),
  * [[LabelProp]] (density) and [[Dedup]]'s HashMin (full reachability).
  *
  * Level-synchronous relaxation over ONE settled (node, level) state:
  * round h reads its frontier as the rows at level h − 1, joins only that
  * frontier (not the settled set) to the adjacency list, min-combines new
  * candidates, anti-joins out already-settled nodes and appends them at
  * level h. Work per round is O(frontier × avg degree), the textbook
  * distributed-BFS bound; settled state is data-proportional, never
  * driver-side. Lineage truncated per round like the other iterative
  * operators: one checkpoint per round, whose observed row count also
  * stops the search early once a round settles no node.
  */
object Bfs {

  /** (node, level) for every node within `maxHops` of `sources` (level 0).
    * Edges are treated as undirected; ties (a node reachable at the same
    * round via many paths) are level-identical by construction.
    */
  def levels(edges: DataFrame, srcCol: String, dstCol: String,
             sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame = {
    // read at the size-derived ⌈rows/64k⌉ width ([[Checkpoints.sized]])
    val undCp = Checkpoints.undirected(edges, srcCol, dstCol)
    val und = Checkpoints.sized(undCp.df, undCp.rows)
    Checkpoints.iterate(Checkpoints.state(sources.select(col(sourceCol).as("node"))
        .distinct().withColumn("level", lit(0L))),
      maxHops, held = Seq(undCp.df),
      step = (settled, h) => {
        val frontier = settled.df.filter(col("level") === h - 1)
        settled.df.unionByName(und.join(frontier, und("u") === frontier("node"))
          .select(und("v").as("node"))
          .distinct()
          .join(settled.df.select(col("node")), Seq("node"), "left_anti")
          .withColumn("level", lit(h.toLong)))
      },
      done = (prev, next, _) => next.rows == prev.rows)._1
  }
}
