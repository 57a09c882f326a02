package graft.operators

import graft.SparkSpec
import graft.sources.AnnStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tie rule of both top-k probes, family by family: on a corpus of
  * duplicate vectors (scores tie exactly), a single-query family returns
  * exactly `min(k, candidates)` rows, ordered by its score with ids
  * ascending inside equal scores, and a `k` that cuts through a tie keeps
  * the lower ids; a per-query family does the same for every query.
  */
class TopKTieSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  /** 20 vectors, 4 copies each of 5 directions of different norms: vector
    * `id` is copy `id / 5` of direction `id % 5`.
    */
  private lazy val emb: DataFrame = (0L until 20L).map { id =>
    val g = (id % 5).toInt
    (id, Seq.tabulate(dim)(j => ((g * 7 + j * 3) % 11 - 5).toFloat * (g + 1)))
  }.toDF("vec_id", "embedding")

  /** `rows` (score, id) follow the tie rule for a score sorted `ascending`. */
  private def inTieOrder(rows: Seq[(Double, Long)], ascending: Boolean): Boolean =
    rows.zip(rows.drop(1)).forall { case ((s1, i1), (s2, i2)) =>
      if (s1 == s2) i1 < i2 else if (ascending) s1 < s2 else s1 > s2
    }

  private def scored(df: DataFrame, score: String): Seq[(Double, Long)] =
    df.select(col(score).cast("double"), col("vec_id")).as[(Double, Long)]
      .collect().toSeq

  /** `run(k)` over every candidate is in tie order and holds a tie; a `k`
    * cutting that tie returns exactly the first `k` rows of the full list.
    */
  private def checkSingle(name: String, score: String, ascending: Boolean = false)(
      run: Int => DataFrame): Unit = {
    val all = scored(run(1000), score)
    assert(inTieOrder(all, ascending), s"$name: $all")
    val cut = (1 until all.size).find(i => all(i - 1)._1 == all(i)._1)
    assert(cut.isDefined, s"$name: no tie among the candidates $all")
    assert(scored(run(cut.get), score) == all.take(cut.get), s"$name at k=${cut.get}")
  }

  /** [[checkSingle]] per query of a per-query family keyed by `qid`. */
  private def checkPerQuery(name: String, qid: String, score: String)(
      run: Int => DataFrame): Unit = {
    def perQuery(df: DataFrame) = df.select(col(qid).cast("long"),
        col(score).cast("double"), col("vec_id")).as[(Long, Double, Long)]
      .collect().toSeq.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(r => (r._2, r._3)).sortBy { case (s, i) => (-s, i) } }
    val all = perQuery(run(1000))
    assert(all.size == 2, s"$name: queries ${all.keys}")
    val cut = all.values.flatMap(rs =>
      (1 until rs.size).find(i => rs(i - 1)._1 == rs(i)._1)).headOption
    assert(cut.isDefined, s"$name: no tie among any query's candidates")
    val got = perQuery(run(cut.get))
    all.foreach { case (q, rs) =>
      assert(got.getOrElse(q, Nil) == rs.take(cut.get), s"$name query $q at k=${cut.get}")
    }
  }

  test("single-query families: min(k, candidates) rows, ids ascending inside equal scores") {
    val e = emb
    checkSingle("bruteForceTopK", "cos_sim")(k =>
      Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, k))
    checkSingle("lshTopK", "cos_sim")(k =>
      Similarity.lshTopK(e, "vec_id", "embedding", 0L, k, nPlanes = 2, dim = dim))
    checkSingle("lshTopKMulti", "cos_sim")(k => Similarity.lshTopKMulti(e,
      "vec_id", "embedding", 0L, k, planesPerTable = 2, tables = 2, dim = dim))
    checkSingle("mipsTopK", "ip")(k =>
      Similarity.mipsTopK(e, "vec_id", "embedding", 0L, k))
    checkSingle("mipsLshTopK", "ip")(k => Similarity.mipsLshTopK(e, "vec_id",
      "embedding", 0L, k, nPlanes = 2, dim = dim, nTables = 2))
    checkSingle("mipsNormRangedTopK", "ip")(k => Similarity.mipsNormRangedTopK(
      e, "vec_id", "embedding", 0L, k, nPlanes = 2, dim = dim, nBands = 2))
    checkSingle("ivfTopK", "cos_sim")(k => Similarity.ivfTopK(e, "vec_id",
      "embedding", 0L, k, nClusters = 2, nProbe = 1))
    checkSingle("filteredTopK", "cos_sim")(k => Similarity.filteredTopK(e,
      "vec_id", "embedding", "vec_id >= 3", 0L, k))
    checkSingle("ivfSq8TopK", "cos_sim")(k => Similarity.ivfSq8TopK(e, "vec_id",
      "embedding", 0L, k, nClusters = 2, nProbe = 2, rerank = 10))
    checkSingle("ivfPqTopK", "cos_sim")(k => Similarity.ivfPqTopK(e, "vec_id",
      "embedding", 0L, k, nClusters = 2, nProbe = 2, m = 2, subDim = 4,
      ksub = 2, rerank = 10, pqIters = 1))
    checkSingle("binaryHammingTopK", "cos_sim")(k => Similarity.binaryHammingTopK(
      e, "vec_id", "embedding", 0L, k, shortlist = 10, dim = dim))
  }

  test("shortlist stages: code and Hamming shortlists cut ties to the lower ids") {
    // the final stage re-ranks by cosine; the stage-1 scores ride along, so
    // a shortlist of `r` rows must be the first `r` by (distance asc, id asc)
    val e = emb
    def shortlistIds(df: DataFrame) = df.select("vec_id").as[Long].collect().toSet
    val full = Similarity.binaryHammingTopK(e, "vec_id", "embedding", 0L, 1000,
      shortlist = 1000, dim = dim)
    val byHamming = scored(full, "hamming").sortBy { case (s, i) => (s, i) }
    val cut = (1 until byHamming.size).find(i => byHamming(i - 1)._1 == byHamming(i)._1).get
    assert(shortlistIds(Similarity.binaryHammingTopK(e, "vec_id", "embedding", 0L,
      1000, shortlist = cut, dim = dim)) == byHamming.take(cut).map(_._2).toSet)
    val sq8 = Similarity.ivfSq8TopK(e, "vec_id", "embedding", 0L, 1000,
      nClusters = 2, nProbe = 2, rerank = 1000)
    val bySdc = scored(sq8, "sdc_dist").sortBy { case (s, i) => (s, i) }
    val sdcCut = (1 until bySdc.size).find(i => bySdc(i - 1)._1 == bySdc(i)._1).get
    assert(shortlistIds(Similarity.ivfSq8TopK(e, "vec_id", "embedding", 0L, 1000,
      nClusters = 2, nProbe = 2, rerank = sdcCut)) == bySdc.take(sdcCut).map(_._2).toSet)
  }

  test("AnnStore single-query probes: min(k, candidates) rows, ids ascending inside equal scores") {
    val e = emb
    val tmp = java.nio.file.Files.createTempDirectory("graft-topk-tie").toString
    AnnStore.writeAngular(e, "vec_id", "embedding", s"$tmp/ang", nPlanes = 2, dim = dim)
    AnnStore.writeAngularMulti(e, "vec_id", "embedding", s"$tmp/angm",
      planesPerTable = 2, tables = 2, dim = dim)
    AnnStore.writeMips(e, "vec_id", "embedding", s"$tmp/mips", nPlanes = 2,
      dim = dim, nBands = 2)
    AnnStore.writeIvf(e, "vec_id", "embedding", s"$tmp/ivf", nClusters = 2)
    val q = e.filter(col("vec_id") === 0L).select(col("embedding"))
    val ex = Some(0L)
    checkSingle("probeAngular", "cos_sim")(k => AnnStore.probeAngular(spark,
      s"$tmp/ang", "vec_id", "embedding", q, k, nPlanes = 2, dim = dim, excludeId = ex))
    checkSingle("probeAngularMulti", "cos_sim")(k => AnnStore.probeAngularMulti(
      spark, s"$tmp/angm", "vec_id", "embedding", q, k, planesPerTable = 2,
      tables = 2, dim = dim, excludeId = ex))
    checkSingle("probeAngularMultiProbe", "cos_sim")(k =>
      AnnStore.probeAngularMultiProbe(spark, s"$tmp/ang", "vec_id", "embedding",
        q, k, nPlanes = 2, dim = dim, nFlips = 1, excludeId = ex))
    checkSingle("probeMips", "ip")(k => AnnStore.probeMips(spark, s"$tmp/mips",
      "vec_id", "embedding", q, k, nPlanes = 2, dim = dim, excludeId = ex))
    checkSingle("probeIvf", "cos_sim")(k => AnnStore.probeIvf(spark, s"$tmp/ivf",
      "vec_id", "embedding", q, k, nProbe = 1, excludeId = ex))
  }

  test("per-query families: min(k, candidates) rows per query, ids ascending inside equal scores") {
    val e = emb
    val queries = e.filter(col("vec_id") < 2L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-topk-tie").toString
    AnnStore.writeMips(e, "vec_id", "embedding", s"$tmp/mips", nPlanes = 2,
      dim = dim, nBands = 2)
    checkPerQuery("bruteForceTopKBatch", "q_id", "cos_sim")(k =>
      Similarity.bruteForceTopKBatch(e, "vec_id", "embedding", queries, "vec_id", k))
    checkPerQuery("mipsNormRangedTopKBatch", "q_id", "ip")(k =>
      Similarity.mipsNormRangedTopKBatch(e, "vec_id", "embedding", queries,
        "vec_id", k, nPlanes = 2, dim = dim, nBands = 2))
    checkPerQuery("probeMipsBatch", "q_id", "ip")(k => AnnStore.probeMipsBatch(
      spark, s"$tmp/mips", "vec_id", "embedding", queries, "vec_id", k,
      nPlanes = 2, dim = dim))
    checkPerQuery("ivfKnnJoin", "query_id", "cos_sim")(k => Similarity.ivfKnnJoin(
      e, "vec_id", "embedding", nQueries = 2, k, nClusters = 2, nProbe = 1))
    // no positives: the hard negatives are the kNN pool itself, re-ranked
    val none = Seq.empty[(Long, Long)].toDF("q_id", "vec_id")
    checkPerQuery("hardNegatives", "q_id", "cos_sim")(k => Similarity.hardNegatives(
      e, "vec_id", "embedding", queries, "vec_id", none, pool = math.max(k, 19), k))
  }
}
