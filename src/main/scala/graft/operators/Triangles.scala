package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting by degree-ordered edge orientation (Cohen 2009,
  * "Graph Twiddling in a MapReduce World"; Suri & Vassilvitskii 2011) —
  * the clustering-coefficient / community-density complement to
  * [[Dedup.connectedComponents]] and [[PageRank]]: how tightly knit is the
  * entity graph near-dup / co-occurrence edges induce.
  *
  * The naive triangle join (edges³) explodes on high-degree nodes. The
  * classic fix: orient every undirected edge from its LOWER-degree endpoint
  * to its higher ((deg, node) lexicographic — total order, ties by id),
  * then count wedges a→b, a→c (b before c in the same order) that close
  * with an oriented edge b→c. Every triangle is counted EXACTLY once (its
  * unique lowest-degree apex), and each node's oriented out-degree is
  * O(√m), so the wedge fan-out is bounded by m^(3/2) total regardless of
  * skew — a hub with degree d contributes at most O(m) wedges, not O(d²).
  *
  * Spark shape: two equi-joins + one count. The orientation needs no global
  * rank (no single-partition window): (deg, node) pairs compare
  * lexicographically inside the join conditions, and degrees ride along the
  * edge rows from one map-side-combined aggregate.
  */
object Triangles {

  /** Global triangle count of the undirected graph given by `edges`
    * (direction and duplicates ignored; self-loops dropped).
    * Returns a single row (n_nodes, n_edges, n_triangles).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // e is referenced NINE times in the lazy DAG (twice in und, which the
    // two deg-attach joins and the deg aggregate each re-expand, plus
    // nEdges) and deg three times — without materialization the distinct
    // shuffle re-runs per reference. Persist both (edge- and node-bounded);
    // released below once the 1-row result is eagerly checkpointed, or
    // when a job throws.
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // oriented a→b iff (deg_a, a) < (deg_b, b): join each endpoint's
      // degree on, keep the lexicographically increasing direction
      val withDeg = und
        .join(deg.select(col("u"), col("deg").as("dega")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("deg").as("degb")), Seq("v"))
      val oriented = withDeg
        .filter(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("u") < col("v")))
        .select(col("u").as("a"), col("v").as("b"),
          col("degb").as("db"))
        .localCheckpoint(true) // reused by both sides of the wedge join
      try {
        // wedges (a, b, c) with b before c in (deg, id) order; close with b→c
        val wedges = oriented.select(col("a"), col("b"), col("db"))
          .join(oriented.select(col("a"), col("b").as("c"), col("db").as("dc")),
            Seq("a"))
          .filter(col("db") < col("dc") ||
            (col("db") === col("dc") && col("b") < col("c")))
          .select(col("b").as("wa"), col("c").as("wb"))
        val closed = wedges.join(oriented.select(col("a").as("wa"),
          col("b").as("wb")), Seq("wa", "wb"))
        val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
        val nEdges = e.agg(count(lit(1)).as("n_edges"))
        // materialize the 1-row result eagerly so oriented's edge-sized
        // checkpoint blocks can be released NOW — returning a frame lazy
        // over oriented would leak one oriented copy per call for the JVM
        // lifetime (the ambient-slowdown class the Checkpoints release
        // discipline kills)
        closed.agg(count(lit(1)).as("n_triangles"))
          .crossJoin(broadcast(nNodes)).crossJoin(broadcast(nEdges))
          .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
          .localCheckpoint(true)
      } finally Checkpoints.release(oriented)
    } finally {
      e.unpersist(blocking = false)
      deg.unpersist(blocking = false)
    }
  }
}
