package perfbench

import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

/** Workload `graph_similarity`: the engine's operator families that the F1
  * DAG never touches, through `SparkEntry.queries(name)(spark, dir)`.
  *
  * The iterative operators (Bradley-Terry, HashMin components, label
  * propagation, PageRank, k-core, BFS) checkpoint their loop state eagerly,
  * so nearly all their time is spent inside the query-function call
  * (`call_s`), not in the final collect. The similarity joins (prefix-filter
  * Jaccard, embedding LSH, corpus BLEU) are shuffle- and skew-bound and
  * write nothing. A change to the loop operators or the join layer shows
  * here and leaves `f1_dag_dashboard` alone.
  */
final class GraphSimilarity(spark: SparkSession, runner: Runner, data: String,
                            expected: Map[String, Check.Expected]) extends Workload {

  import GraphSimilarity._

  private val queries = SparkEntry.queries

  private def queryOp(name: String, layer: String) = Op(name, layer,
    () => {
      val t0 = System.nanoTime()
      val df = queries(name)(spark, data)
      val callS = (System.nanoTime() - t0) / 1e9
      Out((df.columns.toSeq, df.collect().toSeq), callS, Some(df))
    },
    out => {
      val (cols, rows) = out.value.asInstanceOf[(Seq[String], Seq[Row])]
      val order = cols.indices.sortBy(cols)
      Check.compare(name, Check.digestRows(rows.map(r => Row.fromSeq(order.map(r.get)))),
        expected)
    })

  private val ops = Ops.map { case (q, layer) => queryOp(q, layer) }

  /** One cold pass: compiles every plan shape and fills the JIT. */
  def setup(): Unit = ops.foreach(runner.measure)

  def pass(rnd: Random): Seq[Op] = rnd.shuffle(ops)

  def layerMetrics(samples: Seq[Sample], probes: Seq[Probe]): Map[String, Double] =
    samples.groupBy(_.op.layer).toSeq.flatMap { case (layer, ss) =>
      val d = ss.map(_.d).reduce(_ + _)
      val retained = ss.map(_.retainedMb).sum
      val wall = ss.map(_.wallS).sum
      val call = ss.map(_.callS).sum
      val m =
        if (GraphLayers.contains(layer))
          Seq("call_s" -> call, "exec_s" -> (wall - call), "jobs" -> d.jobs.toDouble,
            "tasks" -> d.tasks.toDouble, "cpu_s" -> d.cpuS, "retained_mb" -> retained)
        else
          Seq("wall_s" -> wall, "cpu_s" -> d.cpuS, "jobs" -> d.jobs.toDouble,
            "shuffle_mb" -> d.shuffleMb, "spill_mb" -> d.spillMb, "skew" -> d.skew,
            "retained_mb" -> retained)
      m.map { case (k, v) => s"$layer.$k" -> v }
    }.toMap
}

object GraphSimilarity {
  /** Query → the operator module (layer) it exercises, one query per layer
    * so a run fits its time budget. q48 builds its edges with MinHash-LSH
    * before the components loop; the whole call is attributed to
    * `operators.Dedup`.
    */
  val Ops: Seq[(String, String)] = Seq(
    "q278_bt_distributed" -> "operators.Preference",
    "q48_dedup_clusters" -> "operators.Dedup",
    "q146_label_prop" -> "operators.LabelProp",
    "q130_pagerank" -> "operators.PageRank",
    "q150_k_core" -> "operators.KCore",
    "q154_bfs_levels" -> "operators.Bfs",
    "q112_prefix_jaccard" -> "operators.TextDedup",
    "q49_embedding_neardup_lsh" -> "operators.Similarity",
    "q270_corpus_bleu" -> "operators.Evaluation")

  val GraphLayers: Seq[String] = Seq("operators.Preference", "operators.Dedup",
    "operators.LabelProp", "operators.PageRank", "operators.KCore", "operators.Bfs")
  val JoinLayers: Seq[String] =
    Seq("operators.TextDedup", "operators.Similarity", "operators.Evaluation")
}
