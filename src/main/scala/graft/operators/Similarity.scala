package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column (extension
  * scope). Baseline: brute-force cosine top-k — a broadcast of the query
  * vector against a full scan, `TakeOrderedAndProject` physical top-k, no
  * shuffle of the corpus. Scale path: random-hyperplane LSH — bucket the
  * corpus once (embarrassingly parallel map), then search only the query's
  * bucket; at 100 TB the bucketed corpus is PERSISTED partitioned by bucket
  * — [[graft.sources.AnnStore]], whose probe reads exactly one partition
  * (plan-guarded, bit-identical to [[lshTopK]]; q199).
  *
  * Every family splits into candidate generation (its own frame or
  * predicate: a bucket, a probe set, a filter, a code shortlist) and one
  * shared exact re-ranking stage:
  *   - [[topK]], the single-query probe: candidates × broadcast(query),
  *     score, physical top-k (`TakeOrderedAndProject`);
  *   - [[topKPerQuery]], the per-query probe: a `row_number` rank within
  *     each query whose `rank <= k` plans as map-side `WindowGroupLimit`;
  *   - [[byScore]], the tie rule both apply: the score in its direction,
  *     then the id ascending, so a cut through equal scores keeps the
  *     lower ids;
  *   - [[probeSet]], the IVF probe-set rule: the `nProbe` nearest
  *     centroids, chosen on the driver, ties to the lower index.
  */
object Similarity {

  /** The tie rule of every ranking here: `score` in its direction, then
    * `idCol` ascending — a total order over distinct ids.
    */
  private[graft] def byScore(score: String, idCol: String,
                             ascending: Boolean = false): Seq[Column] =
    Seq(if (ascending) col(score).asc else col(score).desc, col(idCol).asc)

  /** The single-query probe: `cands` × broadcast(`query`) when there is a
    * query frame to join (a shortlist stage reads its score from `cands`
    * alone), then the post-join predicate `where`, then (`idCol`, `carry`,
    * `score` as `name`), then the top `n` by [[byScore]] — planned as
    * `TakeOrderedAndProject`, never a sort of the candidates.
    */
  private[graft] def topK(cands: DataFrame, idCol: String, score: Column,
                          name: String, n: Int,
                          query: Option[DataFrame] = None,
                          where: Column = lit(true), carry: Seq[String] = Nil,
                          ascending: Boolean = false): DataFrame =
    query.fold(cands)(q => cands.crossJoin(broadcast(q))).filter(where)
      .select((idCol +: carry).map(col) :+ score.as(name): _*)
      .orderBy(byScore(name, idCol, ascending): _*)
      .limit(n)

  /** The per-query probe: rank `scored` within each `qidCol` by `order`
    * (a [[byScore]] order, or one already total within a query) and keep
    * ranks `<= k`, which Spark plans as map-side `WindowGroupLimit`: only
    * each task's top-k per query crosses the shuffle. The rank column is
    * kept as `rank`, or dropped when `rank` is `None`.
    */
  private[graft] def topKPerQuery(scored: DataFrame, qidCol: String,
                                  order: Seq[Column], k: Int,
                                  rank: Option[String] = Some("rank")): DataFrame = {
    val r = rank.getOrElse("__rn")
    val kept = scored
      .withColumn(r, row_number().over(
        Window.partitionBy(col(qidCol)).orderBy(order: _*)))
      .filter(col(r) <= k)
    if (rank.isDefined) kept else kept.drop(r)
  }

  /** The IVF probe-set rule: the `nProbe` centroids nearest the query
    * vector `q` by squared L2, each float widened to double before the
    * subtraction, ties to the lower centroid index. Driver-side: k rows of
    * centroids, no Spark job.
    */
  private[graft] def probeSet(centroids: Array[Array[Double]], q: Seq[Float],
                              nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum, i)
    }.sorted.take(nProbe).map(_._2).toSeq

  /** Brute-force cosine top-k against the row `idCol == queryId`.
    * Deterministic tie-break on id.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    topK(emb, idCol, cosineFast(col(vecCol), col("__q")), "cos_sim", k,
      Some(q), col(idCol) =!= queryId)
  }

  /** Deterministic pseudo-random hyperplanes (LCG over the flat index) — no
    * RNG state, reproducible across runs/engines.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    hyperplanesFrom(0, nPlanes, dim)

  /** Planes `start until start + nPlanes` of the same LCG stream — disjoint
    * ranges give the independent hash tables of multi-table LSH.
    */
  def hyperplanesFrom(start: Int, nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (start until start + nPlanes).map { p =>
      (0 until dim).map { j =>
        val x = (1103515245L * (p.toLong * dim + j) + 12345L) % 1048576L
        x.toDouble / 1048576.0 - 0.5
      }
    }

  /** Sign-of-dot-product bucket id over nPlanes hyperplanes. ≤64 planes:
    * one sign bit per plane packs into the Long bucket id (1L << p wraps
    * past bit 63, silently colliding buckets).
    */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 64,
      s"bucket id packs one bit per plane into a Long: need 1..64 planes, got ${planes.size}")
    planes.zipWithIndex.map { case (plane, p) =>
      when(dot(vecCol, typedLit(plane)) >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** LSH-bucketed ANN: exact cosine ranking restricted to the query's bucket.
    * Recall < 1 by construction; nPlanes trades recall vs candidate count.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.withColumn("__bucket", lshBucket(col(vecCol), planes))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__q"), col("__bucket").as("__qb"))
    topK(bucketed, idCol, cosineFast(col(vecCol), col("__q")), "cos_sim", k,
      Some(q), col("__bucket") === col("__qb") && col(idCol) =!= queryId)
  }

  /** Multi-table angular LSH top-k — the recall-compounding form of
    * [[lshTopK]]: `tables` independent hash tables (contiguous
    * `planesPerTable`-plane slices of the SAME deterministic stream as
    * [[lshNearDupPairs]], so the two share geometry), candidates are the
    * UNION of the query's bucket across tables (OR-of-ANDs; recall
    * 1−(1−p^r)^T instead of p^r), deduped by id, exact-cosine reranked.
    * The persisted twin is [[graft.sources.AnnStore.writeAngularMulti]] /
    * `probeAngularMulti` — bit-identical by shared arithmetic, reading
    * ≤ `tables` partitions.
    */
  def lshTopKMulti(emb: DataFrame, idCol: String, vecCol: String,
                   queryId: Long, k: Int, planesPerTable: Int, tables: Int,
                   dim: Int): DataFrame = {
    val allPlanes = hyperplanes(planesPerTable * tables, dim)
    val ts = 0 until tables
    def bucket(t: Int) = lshBucket(col(vecCol),
      allPlanes.slice(t * planesPerTable, (t + 1) * planesPerTable))
    val bucketed = ts.foldLeft(emb) { (d, t) =>
      d.withColumn(s"__b$t", bucket(t)) }
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv") +:
        ts.map(t => col(s"__b$t").as(s"__qb$t")): _*)
    topK(bucketed, idCol, cosineFast(col(vecCol), col("__qv")), "cos_sim", k,
      Some(q), ts.map(t => col(s"__b$t") === col(s"__qb$t")).reduce(_ || _) &&
        col(idCol) =!= queryId)
  }

  // ----------------------------------------------------------------- MIPS

  /** Maximum-inner-product top-k (MIPS — retrieval/recommendation scoring
    * where magnitude carries signal, so cosine is the WRONG order): exact
    * baseline. Same shape as [[bruteForceTopK]] — broadcast query vector,
    * full scan, `TakeOrderedAndProject` top-k, zero corpus shuffle.
    */
  def mipsTopK(emb: DataFrame, idCol: String, vecCol: String,
               queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    topK(emb, idCol, dot(col(vecCol), col("__q")), "ip", k, Some(q),
      col(idCol) =!= queryId)
  }

  /** MIPS scale path — norm-augmentation reduction to angular LSH (the
    * public simple-LSH / asymmetric-LSH construction): pad every corpus
    * vector to constant norm M with P(x) = [x, √(M²−‖x‖²)] (M² = corpus max
    * squared norm) while the query side takes Q(q) = [q, 0]; then
    * cos(P(x), Q(q)) is monotone in ⟨x, q⟩, so the random-hyperplane
    * buckets of [[lshTopK]] — over the AUGMENTED coordinates — approximate
    * inner-product neighbors. Candidates = the query's bucket, reranked by
    * EXACT dot (recall < 1 by construction; nPlanes trades recall vs
    * candidate count). At 100 TB the augmented bucket id is computed once
    * at ingest (one narrow map; M maintained as table metadata and bumped
    * on append) and the corpus written partitioned by bucket — a query
    * reads ONE partition, never the table ([[graft.sources.AnnStore]]
    * materializes exactly this layout for the norm-ranged refinement).
    */
  def mipsLshTopK(emb: DataFrame, idCol: String, vecCol: String,
                  queryId: Long, k: Int, nPlanes: Int, dim: Int,
                  nTables: Int = 1): DataFrame = {
    // the bucket id packs one sign bit per plane into a Long (1L << p), and
    // the fixed inter-table stride of 101 planes in the LCG stream is only
    // disjoint while nPlanes stays below it — both demand this bound
    require(nPlanes >= 1 && nPlanes <= 64,
      s"nPlanes must be in [1, 64] (Long signature), got $nPlanes")
    val m2 = emb.agg(max(dot(col(vecCol), col(vecCol))).as("__m2"))
    val aug = emb.crossJoin(broadcast(m2)).withColumn("__aug",
      sqrt(greatest(col("__m2") - dot(col(vecCol), col(vecCol)), lit(0.0))))
    // sign tests over [v, aug]·plane; the aug term is the only part the two
    // sides disagree on (corpus pad vs query 0) — asymmetric by design.
    // Multiple independent tables (disjoint plane ranges of the same LCG
    // stream) union their buckets: recall compounds per table while each
    // table's candidate set stays bucket-sized — the standard L-tables LSH
    // trade, needed here because the pad coordinate dilutes angular
    // locality for small-norm vectors.
    def bucket(t: Int, augTerm: Column => Column): Column = {
      val planes = hyperplanesFrom(t * 101, nPlanes, dim + 1)
      planes.zipWithIndex.map { case (plane, p) =>
        when(dot(col(vecCol), typedLit(plane.init)) +
            augTerm(lit(plane.last)) >= 0.0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val tables = 0 until math.max(1, nTables)
    val bucketed = tables.foldLeft(aug) { (d, t) =>
      d.withColumn(s"__b$t", bucket(t, w => col("__aug") * w)) }
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv") +:
        tables.map(t => bucket(t, w => lit(0.0) * w).as(s"__qb$t")): _*)
    topK(bucketed, idCol, dot(col(vecCol), col("__qv")), "ip", k, Some(q),
      tables.map(t => col(s"__b$t") === col(s"__qb$t")).reduce(_ || _) &&
        col(idCol) =!= queryId)
  }

  /** MIPS via NORM-RANGING (the published refinement of simple-LSH: split
    * the corpus into norm bands and run the augmentation per band): the
    * global construction pads a small-norm vector with a LARGE √(M²−‖x‖²)
    * coordinate that dominates its hyperplane signs and destroys angular
    * locality; banding by ‖x‖ makes every pad small RELATIVE TO ITS BAND
    * (band-local M), so within-band buckets approximate inner-product
    * order well, and the query probes every band's bucket (bands are few —
    * log-many for geometric banding) with one exact-dot rerank over the
    * union. Same dyadic planes as [[mipsLshTopK]]; `nBands` equal-width
    * ranges over ‖x‖².
    *
    * At 100 TB: band id and bucket id are both computed at ingest (narrow
    * map; band M's maintained as table metadata) and the corpus written
    * partitioned by (band, bucket) — a query reads nBands partitions.
    * [[graft.sources.AnnStore.writeMips]]/[[graft.sources.AnnStore
    * .probeMips]] ARE that path (bit-identical, partition-count-measured;
    * q200), with [[mipsNormRangedTopKBatch]]/`probeMipsBatch` the
    * N-queries form (q201).
    */
  /** The norm-ranged construction's INGEST half, shared verbatim between
    * the ad-hoc [[mipsNormRangedTopK]] and the persisted
    * [[graft.sources.AnnStore]] layout so the two paths are bit-identical:
    * input frame + `__band` (equal-width range over ‖x‖²) and `__bucket`
    * (plane signs over the band-locally augmented coordinates).
    */
  private[graft] def normRangedBucketed(emb: DataFrame, vecCol: String,
                                        nPlanes: Int, dim: Int,
                                        nBands: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 64,
      s"nPlanes must be in [1, 64] (Long signature), got $nPlanes")
    val planes = hyperplanesFrom(0, nPlanes, dim + 1)
    val n2 = dot(col(vecCol), col(vecCol))
    val stats = emb.agg(max(n2).as("__gmax"), min(n2).as("__gmin"))
    val banded = emb.crossJoin(broadcast(stats)).withColumn("__band",
      least(lit(nBands - 1), floor((n2 - col("__gmin")) * nBands /
        (col("__gmax") - col("__gmin") + lit(1e-12)))).cast("int"))
    val bandMax = banded.groupBy(col("__band")).agg(max(n2).as("__m2"))
    val aug = banded.join(broadcast(bandMax), "__band")
      .withColumn("__aug", sqrt(greatest(col("__m2") - n2, lit(0.0))))
    aug.withColumn("__bucket",
      augmentedBucket(col(vecCol), planes, w => col("__aug") * w))
  }

  /** [[normRangedBucketed]] with the corpus statistics FROZEN as driver
    * literals instead of re-derived — the APPEND half of the persisted
    * layout ([[graft.sources.AnnStore.appendMips]]): a later batch must
    * band and augment against the stats the stored corpus was built with,
    * or its buckets silently disagree with every probe. The arithmetic
    * mirrors [[normRangedBucketed]] operation-for-operation (same IEEE
    * order: `(gmax - gmin) + 1e-12` etc.) so a row whose stats happen to
    * match gets the bit-identical (band, bucket). Rows OUTSIDE the frozen
    * contract — ‖x‖² below gmin's band range or above their band's frozen
    * max — surface as `__m2 < ‖x‖²` or a NULL `__m2` (no such band), which
    * the caller must reject BEFORE writing: their pad term would come out
    * clamped-to-zero / null and the stored signs would no longer be the
    * construction the probe replays.
    */
  private[graft] def normRangedBucketedFrozen(
      emb: DataFrame, vecCol: String, nPlanes: Int, dim: Int, nBands: Int,
      gmin: Double, gmax: Double, bandMax: Map[Int, Double]): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 64,
      s"nPlanes must be in [1, 64] (Long signature), got $nPlanes")
    val planes = hyperplanesFrom(0, nPlanes, dim + 1)
    val n2 = dot(col(vecCol), col(vecCol))
    // floor's operand is built exactly as the live path builds it; the
    // denominator folds driver-side in the same left-to-right order
    val banded = emb.withColumn("__band",
      least(lit(nBands - 1), floor((n2 - lit(gmin)) * nBands /
        lit(gmax - gmin + 1e-12))).cast("int"))
    // element_at on the literal map yields NULL for a band the frozen
    // store never saw (n2 below gmin can floor to a negative band)
    val aug = banded
      .withColumn("__m2", element_at(typedLit(bandMax), col("__band")))
      .withColumn("__aug", sqrt(greatest(col("__m2") - n2, lit(0.0))))
    aug.withColumn("__bucket",
      augmentedBucket(col(vecCol), planes, w => col("__aug") * w))
  }

  /** Sign tests over augmented coordinates [v, augTerm]: the ingest side
    * passes `aug * w`, the query side `0.0 * w` (asymmetric by design).
    */
  private[graft] def augmentedBucket(vecCol: Column, planes: Seq[Seq[Double]],
                                     augTerm: Column => Column): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(dot(vecCol, typedLit(plane.init)) +
          augTerm(lit(plane.last)) >= 0.0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Query-side signature of the norm-ranged construction: plane signs of
    * [q, 0] — band-independent, so one signature probes every band.
    */
  private[graft] def mipsQuerySignature(vecCol: Column, nPlanes: Int,
                                        dim: Int): Column =
    augmentedBucket(vecCol, hyperplanesFrom(0, nPlanes, dim + 1),
      w => lit(0.0) * w)

  def mipsNormRangedTopK(emb: DataFrame, idCol: String, vecCol: String,
                         queryId: Long, k: Int, nPlanes: Int, dim: Int,
                         nBands: Int): DataFrame = {
    val bucketed = normRangedBucketed(emb, vecCol, nPlanes, dim, nBands)
    // asymmetric: the query pads with 0 and probes EVERY band's bucket of
    // its own signature (the query-side signs don't depend on the band)
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv"),
        mipsQuerySignature(col(vecCol), nPlanes, dim).as("__qb"))
    topK(bucketed, idCol, dot(col(vecCol), col("__qv")), "ip", k, Some(q),
      col("__bucket") === col("__qb") && col(idCol) =!= queryId)
  }

  /** BATCHED norm-ranged MIPS — the shape a retrieval-training pipeline
    * actually runs (N queries at once, not one probe per driver round
    * trip): the query frame carries its band-independent signatures, and
    * candidates come from ONE bucket equi-join (broadcast of the query
    * batch — the corpus never shuffles), then per-query exact-dot rerank
    * whose `rank <= k` compiles to map-side WindowGroupLimit, so the
    * shuffle after the join is bounded by k·queries·tasks, not by the
    * candidate volume. Per query, rows are IDENTICAL to
    * [[mipsNormRangedTopK]] (same construction, same tie rule) — spec'd in
    * SimilarityMipsSpec and oracle-checked (q201).
    *
    * At 100 TB this runs against the [[graft.sources.AnnStore]] layout
    * (`probeMipsBatch` prunes the scan to the batch's bucket set first);
    * for query batches too large to broadcast, the same join keyed on
    * (bucket) shuffles both sides — still an equi-join, never a cartesian.
    */
  def mipsNormRangedTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                              queries: DataFrame, qidCol: String, k: Int,
                              nPlanes: Int, dim: Int, nBands: Int): DataFrame = {
    val bucketed = normRangedBucketed(emb, vecCol, nPlanes, dim, nBands)
    val q = queries.select(col(qidCol).as("q_id"), col(vecCol).as("__qv"),
      mipsQuerySignature(col(vecCol), nPlanes, dim).as("__qb"))
    val scored = bucketed
      .join(broadcast(q),
        col("__bucket") === col("__qb") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), dot(col(vecCol), col("__qv")).as("ip"))
    topKPerQuery(scored, "q_id", byScore("ip", idCol), k)
  }

  /** Batched EXACT cosine kNN join — the N-queries-at-once form of
    * [[bruteForceTopK]] and the exact baseline under [[ivfKnnJoin]]: the
    * query batch broadcasts against one corpus scan, each query keeps its
    * top-k through a rank window whose `rank <= k` filter compiles to
    * WindowGroupLimit (map-side top-k per task — shuffle bounded by
    * k·queries, the corpus never moves). Deterministic tie-break on id.
    * This is the recall-1.0 side of retrieval harnesses (ground truth for
    * [[knnRecall]]-style sweeps, the dense leg of [[Fusion.rrf]] hybrid
    * retrieval); at corpus scale the same batch shape runs over the
    * persisted store instead ([[graft.sources.AnnStore.probeMipsBatch]]).
    */
  def bruteForceTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qidCol: String,
                          k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("q_id"), col(vecCol).as("__qv"))
    val scored = emb
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("q_id")) // self excluded, as the MIPS batch
      .select(col("q_id"), col(idCol),
        cosineFast(col(vecCol), col("__qv")).as("cos_sim"))
    topKPerQuery(scored, "q_id", byScore("cos_sim", idCol), k)
  }

  // ------------------------------------------------------------------ IVF

  /** IVF coarse quantizer: k centroids learned with a few Lloyd iterations.
    * Deterministic (up to distributed-mean ULPs) — init = the vectors of the
    * k smallest ids, assignment ties break toward the lower centroid index.
    * Each iteration is one narrow map (assign; centroids ride along as
    * literals) plus one typed-[[graft.functions.VectorMean]] aggregation —
    * map-side partial combine, no row explosion, and only k×dim doubles ever
    * reach the driver.
    *
    * `trainFraction` bounds the training set BY CONSTRUCTION: Lloyd runs on
    * a [[Curation.deterministicSample]] of the corpus (a narrow hash-range
    * filter — no RNG, same sample every run/engine/partitioning), so at
    * 100 TB the quantizer trains on a fixed budget instead of k full
    * corpus scans × iters. FAISS trains IVF coarse quantizers on 30–256
    * points per centroid for exactly this reason — quantizer quality
    * saturates far below corpus size, and recall is unchanged on the test
    * fixtures (spec'd). Fails loudly if the sample has fewer than k
    * vectors (raise the fraction).
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int,
                   trainFraction: Double = 1.0): Array[Array[Double]] = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction in (0, 1], got $trainFraction")
    val trainSet =
      if (trainFraction >= 1.0) emb
      else Curation.deterministicSample(emb, idCol, trainFraction)
    var centroids: Array[Array[Double]] = trainSet
      .orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(centroids.length == k,
      s"training sample holds ${centroids.length} < $k vectors — " +
        s"raise trainFraction (got $trainFraction)")
    val dims = centroids.head.length
    val vecMean = udaf(new graft.functions.VectorMean(dims),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    // each Lloyd job reduces to k×dim partial means per task — full scan
    // width buys nothing and costs a task launch per partition per
    // iteration. Narrow the training view (plan-only: same rows, same
    // result).
    val train = trainSet.coalesce(
      math.max(2, emb.sparkSession.sparkContext.defaultParallelism / 4))
    for (_ <- 0 until iters) {
      val means = train.withColumn("__c", assignCluster(col(vecCol), centroids))
        .groupBy("__c").agg(vecMean(col(vecCol)).as("__m"))
        .collect()
      val next = centroids.clone()
      means.foreach { r =>
        // empty clusters never appear in the result → they keep their centroid
        next(r.getInt(0)) = r.getSeq[Double](1).toArray
      }
      centroids = next
    }
    centroids
  }

  /** argmin over squared L2 distance to each centroid; lower index wins ties.
    * Codegen'd [[graft.functions.NearestCentroid]] — the higher-order-function
    * form ([[assignClusterHof]]) is CodegenFallback and interpreted its
    * lambdas per row×centroid×element, which dominated the Lloyd-iteration
    * cost. Bit-identical results (spec-tested), so the oracle replay in
    * DuckDB is unaffected.
    */
  def assignCluster(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.NearestCentroid(
      GraftColumnBridge.expression(vecCol), centroids))
  }

  /** Pure-SQL-function twin of [[assignCluster]] — `array_position(dists,
    * array_min(dists))` over a `transform` of ONE array<array<double>>
    * literal. Kept as the reference formulation for the bit-equivalence spec
    * (a per-centroid expression list is k× larger and re-analyzes an
    * expression forest proportional to k·dim every Lloyd iteration; a naive
    * when-chain argmin fold explodes exponentially — at k=16 it OOMed the
    * driver during analysis).
    */
  def assignClusterHof(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    val cLit = typedLit(centroids.map(_.toSeq).toSeq)
    val dists = transform(cLit, c =>
      aggregate(zip_with(vecCol, c, (x, y) => {
        val d = x.cast("double") - y; d * d
      }), lit(0.0), (acc, v) => acc + v))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** IVF search: probe the nProbe clusters whose centroids are closest to the
    * query, rank candidates by exact cosine. At 100 TB the corpus would be
    * written partitioned by cluster id so a probe prunes to nProbe partitions;
    * recall < 1 by construction, tunable via nProbe.
    */
  def ivfTopK(emb0: DataFrame, idCol: String, vecCol: String, queryId: Long,
              k: Int, nClusters: Int, nProbe: Int, iters: Int = 3,
              trainFraction: Double = 1.0): DataFrame = {
    // the corpus is re-scanned once per Lloyd iteration plus twice at query
    // time — persist it for the duration (caller clears the cache when done,
    // same contract as TextDedup.minhashNearDupes)
    val emb = emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, iters,
      trainFraction)
    val qv = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    val probes = probeSet(centroids, qv.head().getSeq[Float](0), nProbe)
    topK(emb.withColumn("__c", assignCluster(col(vecCol), centroids))
        .filter(col("__c").isin(probes: _*) && col(idCol) =!= queryId),
      idCol, cosineFast(col(vecCol), col("__q")), "cos_sim", k, Some(qv))
  }

  /** Predicate-filtered exact top-k (the filtered-vector-search shape every
    * retrieval stack needs: "nearest neighbors WHERE label = 3"). The
    * metadata predicate is an ordinary Spark SQL expression, so Catalyst
    * pushes it INTO the parquet scan (`PushedFilters`, row-group skipping —
    * plan-guarded) and the cosine ranking runs over only the survivors;
    * top-k is `TakeOrderedAndProject`, never a sort of the corpus. This is
    * the EXACT end of filtered ANN — the right tool whenever the predicate
    * is selective enough to bound the scan (at 100 TB: partition or
    * stats-prune on the predicate column). The approximate end (IVF probe +
    * post-filter) under-recalls unless it over-probes — a selective filter
    * empties probed clusters — which is why the exact-over-survivors form
    * is the default in production filtered search (e.g. FAISS
    * IDSelector / Lucene filtered kNN fall back to exact when the filter
    * is narrow).
    */
  def filteredTopK(emb: DataFrame, idCol: String, vecCol: String,
                   predicate: String, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    topK(emb.filter(expr(predicate)).filter(col(idCol) =!= queryId), idCol,
      cosineFast(col(vecCol), col("__q")), "cos_sim", k, Some(q))
  }

  /** Each row's `nProbe` nearest centroid indices (ascending distance, ties
    * to the lower index) as an array column — the per-QUERY probe set of a
    * batched IVF search. One HOF expression over a centroid literal: no
    * join, no shuffle, evaluated only on query rows.
    */
  def probeClusters(vecCol: Column, centroids: Array[Array[Double]],
                    nProbe: Int): Column = {
    val cLit = typedLit(centroids.map(_.toSeq).toSeq)
    val dists = transform(cLit, c =>
      aggregate(zip_with(vecCol, c, (x, y) => {
        val d = x.cast("double") - y; d * d
      }), lit(0.0), (acc, v) => acc + v))
    val pairs = zip_with(dists, sequence(lit(0), lit(centroids.length - 1)),
      (d, i) => struct(d.as("d"), i.as("i")))
    transform(slice(array_sort(pairs), 1, nProbe), p => p.getField("i"))
  }

  /** Batched IVF k-NN JOIN: top-k neighbors for EVERY query in one
    * distributed plan — the retrieval/dedup shape that actually runs at
    * 100 TB (per-query [[ivfTopK]] loops don't). The corpus is assigned to
    * its cluster once (narrow codegen'd map); each query explodes to its
    * `nProbe` probe clusters; candidates come from ONE equi-join on the
    * cluster id — at scale the corpus is written partitioned by `__c`, so
    * the join is a partition-pruned shuffle of the QUERY side only — and
    * per-query top-k is a rank window Spark pushes map-side as
    * `WindowGroupLimit` (only each partition's top-k rows cross the wire).
    * A corpus vector sits in exactly one cluster, so no candidate dedup is
    * needed. Queries here are the rows `idCol < nQueries` (self-retrieval
    * benchmark form); recall < 1 by construction, tunable via nProbe; all
    * orderings tie on ids → deterministic, oracle-replayable.
    */
  def ivfKnnJoin(emb0: DataFrame, idCol: String, vecCol: String,
                 nQueries: Int, k: Int, nClusters: Int, nProbe: Int,
                 iters: Int = 3): DataFrame = {
    val emb = emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, iters)
    val corpus = emb.withColumn("__c", assignCluster(col(vecCol), centroids))
    val queries = emb.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(probeClusters(col(vecCol), centroids, nProbe)).as("__c"))
    topKPerQuery(corpus.join(queries, "__c")
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosineFast(col(vecCol), col("__qv")).as("cos_sim")),
      "query_id", byScore("cos_sim", idCol), k, rank = None)
  }

  /** ANN quality evaluation: recall@k of the IVF probe search
    * ([[ivfKnnJoin]]) against the exact brute-force top-k, per query — the
    * measurement loop every production ANN deployment runs before trusting
    * an index configuration (FAISS's `eval` convention: recall@k =
    * |approx∩exact|/k on a held-out query batch).
    *
    * Scale shape: the exact side is ONE broadcast of the query batch
    * against the corpus scan (corpus never shuffles; per-query top-k ranks
    * map-side via WindowGroupLimit), the approx side is [[ivfKnnJoin]]'s
    * cluster-equi-join, and the comparison is a (query, id)-keyed semi
    * join over two k·|queries|-sized frames. Evaluation cost is the price
    * of ONE exact batch search — you pay it on a sample, then serve with
    * the index the numbers justify.
    *
    * Returns (query_id, n_hits, recall) — one row per query; zero-overlap
    * queries still appear (left join from the exact side).
    */
  def knnRecall(emb: DataFrame, idCol: String, vecCol: String,
                nQueries: Int, k: Int, nClusters: Int, nProbe: Int,
                iters: Int = 3): DataFrame = {
    val approx = ivfKnnJoin(emb, idCol, vecCol, nQueries, k, nClusters, nProbe,
      iters).select(col("query_id"), col(idCol))
    val q = emb.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val exact = topKPerQuery(emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosineFast(col(vecCol), col("__qv")).as("cos_sim")),
      "query_id", byScore("cos_sim", idCol), k, rank = None)
      .select(col("query_id"), col(idCol))
    val hits = exact.join(approx, Seq("query_id", idCol), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** IVF + SQ8 search (the FAISS `IndexIVFScalarQuantizer` shape — the
    * standard big-corpus ANN memory trade): coarse-probe the nProbe nearest
    * clusters, rank candidates by SYMMETRIC int8-code distance (SDC —
    * Σ_dim (q_code−c_code)², pure integer arithmetic over the 4×-compressed
    * codes, engine-exact), then rerank only the `rerank` shortlist with
    * full-precision cosine. At 100 TB the full vectors page in for the
    * shortlist alone; the scan reads (id, codes) — a quarter of the float
    * bytes — partitioned by cluster id so a probe touches nProbe partitions.
    * Codes here are computed in-query from [[int8QuantizationErrors]]; a
    * deployment precomputes and stores them beside the cluster assignment.
    *
    * Recall < 1 twice over (probe set + SDC shortlist), tunable via
    * `nProbe`/`rerank`; every ordering ties on the id, so the result is
    * deterministic and oracle-replayable end-to-end.
    */
  def ivfSq8TopK(emb0: DataFrame, idCol: String, vecCol: String, queryId: Long,
                 k: Int, nClusters: Int, nProbe: Int, rerank: Int,
                 iters: Int = 3): DataFrame = {
    val emb = emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, iters)
    val qv = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    val probes = probeSet(centroids, qv.head().getSeq[Float](0), nProbe)
    val codes = int8QuantizationErrors(emb, idCol, vecCol)
      .select(col(idCol), col("dim"), col("code"))
    val qCodes = codes.filter(col(idCol) === queryId)
      .select(col("dim"), col("code").as("__qcode"))
    val cand = emb.withColumn("__c", assignCluster(col(vecCol), centroids))
      .filter(col("__c").isin(probes: _*) && col(idCol) =!= queryId)
      .select(col(idCol))
    val sdc = cand.join(codes, idCol)
      .join(broadcast(qCodes), "dim")
      .groupBy(col(idCol))
      .agg(sum((col("code") - col("__qcode")) * (col("code") - col("__qcode")))
        .cast("long").as("sdc_dist"))
    val shortlist = topK(sdc, idCol, col("sdc_dist"), "sdc_dist", rerank,
      ascending = true)
    topK(shortlist.join(emb, idCol), idCol, cosineFast(col(vecCol), col("__q")),
      "cos_sim", k, Some(qv), carry = Seq("sdc_dist"))
  }

  /** Per-subspace PQ codebooks: the embedding is split into `m` contiguous
    * subspaces of `subDim` dimensions; each subspace learns its own `ksub`
    * centroids with the SAME deterministic Lloyd recipe as the coarse
    * quantizer ([[ivfCentroids]] on the sliced subvectors — init = the
    * subvectors of the ksub smallest ids, ties toward the lower index).
    * Result: `books(j)(c)` = centroid c of subspace j, m·ksub·subDim doubles
    * on the driver (a few KB — the whole point of PQ is that this table is
    * tiny while describing ksub^m virtual cells).
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, subDim: Int, ksub: Int,
                  iters: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { j =>
      val sub = emb.select(col(idCol),
        slice(col(vecCol), j * subDim + 1, subDim).as("__sv"))
      ivfCentroids(sub, idCol, "__sv", ksub, iters)
    }

  /** IVF + PQ search (the FAISS `IndexIVFPQ` shape — product quantization,
    * Jégou/Douze/Schmid 2011): coarse-probe the nProbe nearest clusters,
    * rank candidates by ADC — asymmetric distance computation: the query
    * precomputes, per subspace, its squared L2 to each of that subspace's
    * ksub codebook centroids (an m×ksub table, built on the driver), and a
    * candidate's approximate distance is the SUM of m table lookups keyed by
    * its per-subspace codes. Encoding + lookup is a pure narrow map over the
    * scan (codegen'd [[graft.functions.NearestCentroid]] per subspace +
    * `element_at` into an array literal — no join, no shuffle; contrast the
    * SQ8 SDC shortlist, which joins an exploded code table). The `rerank`
    * shortlist then gets exact full-precision cosine.
    *
    * Compression story at 100 TB: m·log2(ksub) bits per vector (m=4, ksub=8
    * → 12 bits vs 64×32-bit floats) — candidates rank from codes this small
    * while full vectors page in for the shortlist alone; a deployment stores
    * the codes beside the cluster assignment at write time, exactly like SQ8.
    *
    * Determinism/oracle story: table entries are quantized to an integer
    * grid (`floor(d·16384 + 0.5)` — the q58 integer-micro-nats trick), so
    * the shortlist orders by an exact integer sum, ties on id; every Lloyd
    * stage is the oracle-replayable recipe q34 already proves out. Recall
    * < 1 twice over (probe set + ADC shortlist), tunable via nProbe/rerank.
    */
  def ivfPqTopK(emb0: DataFrame, idCol: String, vecCol: String, queryId: Long,
                k: Int, nClusters: Int, nProbe: Int, m: Int, subDim: Int,
                ksub: Int, rerank: Int, coarseIters: Int = 3,
                pqIters: Int = 2): DataFrame = {
    val emb = emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, coarseIters)
    val qv = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    val q = qv.head().getSeq[Float](0)
    val probes = probeSet(centroids, q, nProbe)
    val books = pqCodebooks(emb, idCol, vecCol, m, subDim, ksub, pqIters)
    // driver-side ADC table: dtab(j)(c) = ⌊‖q_j − books(j)(c)‖²·2¹⁴ + ½⌋
    val dtab: Array[Array[Long]] = Array.tabulate(m) { j =>
      val qSub = q.slice(j * subDim, (j + 1) * subDim).map(_.toDouble).toArray
      books(j).map { c =>
        val d = c.zip(qSub).map { case (x, y) => val t = x - y; t * t }.sum
        math.floor(d * 16384.0 + 0.5).toLong
      }
    }
    val adc = (0 until m).map { j =>
      val code = assignCluster(slice(col(vecCol), j * subDim + 1, subDim), books(j))
      element_at(typedLit(dtab(j).toSeq), code + 1)
    }.reduce(_ + _)
    val shortlist = topK(
      emb.withColumn("__c", assignCluster(col(vecCol), centroids))
        .filter(col("__c").isin(probes: _*) && col(idCol) =!= queryId),
      idCol, adc, "adc_dist", rerank, ascending = true)
    topK(shortlist.join(emb, idCol), idCol, cosineFast(col(vecCol), col("__q")),
      "cos_sim", k, Some(qv), carry = Seq("adc_dist"))
  }

  /** Sub-quadratic embedding near-dup: banded multi-table random-hyperplane
    * LSH (Gionis/Indyk/Motwani-style OR-of-ANDs), the scale path twin of
    * [[cosineNearDupPairs]]. Each of `tables` hash tables buckets on
    * `planesPerTable` sign bits; same-bucket-in-any-table pairs become
    * candidates (one explode + one equi-join on (table, bucket) — work is
    * Σ_buckets n_b² per table, never n²), then exact cosine verifies each
    * candidate, so every emitted pair is TRUE (precision 1) and a strict
    * subset of the brute-force pairs (spec-proven). Recall per pair of
    * similarity s is 1-(1-p^r)^T with p = 1-acos(s)/π, r = planesPerTable,
    * T = tables — at genuine near-dup thresholds (s ≥ 0.9, the regime corpus
    * dedup runs at) the defaults give >0.99; tune r up with log(corpus) to
    * hold bucket occupancy, T up for recall. Deterministic (LCG hyperplanes,
    * [[hyperplanes]]) — reproducible across runs, engines, task retries.
    *
    * At 100 TB: materialize `banded` partitioned by (table, bucket); the
    * join is then co-located and candidate generation never shuffles the
    * corpus — the same deployment story as MinHash-LSH banding
    * (TextDedup.minhashNearDupes).
    */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      minSim: Double, planesPerTable: Int = 6,
                      tables: Int = 6, dim: Int = 64): DataFrame = {
    val allPlanes = hyperplanes(planesPerTable * tables, dim)
    val tableBuckets = (0 until tables).map { t =>
      val planes = allPlanes.slice(t * planesPerTable, (t + 1) * planesPerTable)
      struct(lit(t).as("t"), lshBucket(col(vecCol), planes).as("b"))
    }
    val banded = emb.select(col(idCol).as("__id"),
        explode(array(tableBuckets: _*)).as("__tb"))
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.__tb") === col("y.__tb") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"))
      .distinct()
    val va = emb.select(col(idCol).as("a_id"), col(vecCol).as("__va"))
    val vb = emb.select(col(idCol).as("b_id"), col(vecCol).as("__vb"))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosineFast(col("__va"), col("__vb")).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
  }

  /** Cross-corpus LSH alignment join — [[lshNearDupPairs]] with TWO corpora
    * (align a fresh embedding batch against a reference corpus, link
    * records across two embedded datasets): both sides bucket through the
    * SAME deterministic hyperplane tables, candidates are the equi-join on
    * (table, bucket) ACROSS the sides (never within), and exact cosine
    * verifies every emitted pair — precision 1, recall the usual
    * 1−(1−p^r)^T. Work is Σ_buckets |a_b|·|b_b| per table; at 100 TB the
    * reference side's banded table is materialized once, partitioned by
    * (table, bucket), and each batch joins into it co-located — the
    * two-sided form of the corpus-never-shuffles deployment.
    */
  def lshCrossCorpusPairs(embA: DataFrame, embB: DataFrame, idCol: String,
                          vecCol: String, minSim: Double,
                          planesPerTable: Int = 6, tables: Int = 6,
                          dim: Int = 64): DataFrame = {
    val allPlanes = hyperplanes(planesPerTable * tables, dim)
    def banded(df: DataFrame, as: String) = {
      val tableBuckets = (0 until tables).map { t =>
        val planes = allPlanes.slice(t * planesPerTable, (t + 1) * planesPerTable)
        struct(lit(t).as("t"), lshBucket(col(vecCol), planes).as("b"))
      }
      df.select(col(idCol).as(as), explode(array(tableBuckets: _*)).as("__tb"))
    }
    val cand = banded(embA, "a_id").join(banded(embB, "b_id"), "__tb")
      .select(col("a_id"), col("b_id")).distinct()
    val va = embA.select(col(idCol).as("a_id"), col(vecCol).as("__va"))
    val vb = embB.select(col(idCol).as("b_id"), col(vecCol).as("__vb"))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosineFast(col("__va"), col("__vb")).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv:
    * 2303.09540): k-means-cluster the embedding space (the same coarse
    * quantizer as IVF — [[ivfCentroids]]), then find near-duplicate pairs
    * ONLY within each cluster. The quadratic pair search is bounded by the
    * largest cluster, not the corpus: with k ∝ √N clusters the expected
    * per-cluster work is O(N) total, and at 100 TB the corpus would be
    * written partitioned by cluster id so each cluster's pair scan is
    * partition-local (no shuffle of the corpus — the same deployment story
    * as the IVF probe path). Keep-lowest-id on the emitted pairs gives the
    * dedup survivors, exactly as with the MinHash pairs.
    *
    * Recall vs the all-pairs baseline ([[cosineNearDupPairs]]) is < 1 by
    * construction: a near-dup pair split across a cluster boundary is
    * missed — the price of sub-quadratic semantic dedup (SemDeDup accepts
    * it; spec-checked against the baseline on planted duplicates).
    */
  def semanticDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         nClusters: Int, minSim: Double,
                         iters: Int = 3): DataFrame = {
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, iters)
    val assigned = emb
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("cluster", assignCluster(col("__v"), centroids))
    assigned.as("x").join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"),
        col("x.cluster").cast("long").as("cluster"),
        cosineFast(col("x.__v"), col("y.__v")).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
  }

  /** SemDeDup COMPLETE (Abbas et al. 2023 §2, the named composition the
    * pair search above feeds): after clustering and the within-cluster
    * pair scan, duplicate GROUPS (connected components of the ≥ minSim
    * pair graph — components never cross clusters because pairs never do)
    * are pruned to ONE representative each. Following the paper, the kept
    * example is the one with the LOWEST cosine similarity to its cluster
    * centroid ("we keep examples with low similarity to the centroid" —
    * the member farthest into the cluster's fringe carries the most
    * marginal information); ties break on id. Documents in no duplicate
    * group are their own singleton component and are always kept.
    *
    * Returns one row per input vector: (idCol, cluster, component,
    * cos_centroid [6-dec], kept) — the audit shape (which group, which
    * representative, why) rather than a bare filter; `filter($"kept")`
    * IS the SemDeDup'd corpus.
    *
    * Scale shape: everything [[semanticDedupPairs]] says, plus — the
    * component fold ([[Dedup.connectedComponents]]) runs on PAIR-graph
    * nodes only (duplicates, a small fraction of the corpus), the
    * centroid-cosine is one broadcast join (k centroid rows) and one
    * in-row fold, and the representative choice is a per-component window
    * over component-sized groups (bounded by cluster size).
    */
  def semDedupPrune(emb: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, minSim: Double,
                    iters: Int = 3): DataFrame = {
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, iters)
    val assigned = emb
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__c", assignCluster(col("__v"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = assigned.as("x").join(assigned.as("y"),
        col("x.__c") === col("y.__c") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"),
        cosineFast(col("x.__v"), col("y.__v")).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("node", "__id")
    val spark = emb.sparkSession
    val centDf = spark.createDataFrame(
      centroids.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("__cc", "__cv")
    assigned.join(broadcast(centDf), col("__c") === col("__cc"))
      .select(col("__id"), col("__c").cast("long").as("cluster"),
        cosine(col("__v"), col("__cv")).as("__cosc"))
      .join(cc, Seq("__id"), "left")
      .withColumn("component", coalesce(col("component"), col("__id")))
      .withColumn("__rn", row_number().over(Window.partitionBy("component")
        .orderBy(col("__cosc").asc, col("__id").asc)))
      .select(col("__id").as(idCol), col("cluster"), col("component"),
        round(col("__cosc"), 6).as("cos_centroid"),
        (col("__rn") === 1).as("kept"))
  }

  /** Incremental SemDeDup: prune a NEW batch against the ACCEPTED corpus —
    * the against-corpus form of [[semDedupPrune]], completing the family
    * pattern every other dedup mode ships (exact → q57 minhash, q240
    * substring, q252 line): each incoming batch vector is dropped when it
    * is a semantic duplicate (cosine ≥ minSim) of ANY already-accepted
    * vector in its cluster. Intra-batch pairs are deliberately excluded —
    * the batch is pruned against the corpus here and against itself by the
    * batch-mode [[semDedupPrune]], mirroring q57's contract.
    *
    * The cluster space is trained on the CORPUS ONLY (the accepted set is
    * the stable distribution; a batch must not move the quantizer), and
    * the corpus side contributes nothing but its cluster assignment — no
    * corpus×corpus work, no corpus reshuffle beyond the one cluster-keyed
    * equi-join. Returns one row per batch vector: (idCol, cluster, dup_of
    * [accepted id of the highest-cosine duplicate, ties to the lower id],
    * best_sim [6-dec], kept).
    *
    * Scale shape: batch×corpus candidate pairs are bounded by batch size ×
    * cluster occupancy (k ∝ n keeps occupancy constant — the
    * [[semDedupPrune]] deployment contract); the join is a cluster-id
    * equi-join AQE can broadcast when the batch is small; the best-dup
    * choice is a per-batch-vector window. At 100 TB the accepted corpus
    * would be persisted partitioned by cluster id ([[graft.sources
    * .AnnStore]] layout) so a batch probes only its clusters' partitions.
    */
  def semDedupPruneAgainst(corpus: DataFrame, batch: DataFrame,
                           idCol: String, vecCol: String,
                           nClusters: Int, minSim: Double,
                           iters: Int = 3): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nClusters, iters)
    val corpusA = corpus
      .select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
      .withColumn("__c", assignCluster(col("__cv"), centroids))
    val batchA = batch
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__c", assignCluster(col("__v"), centroids))
    val best = batchA.join(corpusA, "__c")
      .select(col("__id"),
        col("__cid"), cosineFast(col("__v"), col("__cv")).as("__cos"))
      .filter(col("__cos") >= minSim)
      .withColumn("__rn", row_number().over(Window.partitionBy("__id")
        .orderBy(col("__cos").desc, col("__cid").asc)))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__cid").as("dup_of"),
        round(col("__cos"), 6).as("best_sim"))
    batchA.join(best, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__c").cast("long").as("cluster"),
        col("dup_of"), col("best_sim"), col("dup_of").isNull.as("kept"))
  }

  /** All-pairs near-duplicate detection by embedding cosine (extension:
    * embedding-cosine near-dup). Quadratic — the oracle-checkable baseline;
    * the scale path is [[lshNearDupPairs]].
    */
  /** Per-dimension int8 quantization of an embedding corpus (extension; the
    * storage/bandwidth trick every vector store ships — 4× smaller vectors
    * for ANN candidate generation, full-precision rerank on the survivors):
    * each dimension maps linearly onto 0..255 between its corpus-wide
    * min/max. Returns one row per (vector, dimension) with the quantized
    * code and the reconstruction error — callers aggregate to per-vector
    * error stats (q82) or re-pack codes into arrays. Everything is plain
    * IEEE double arithmetic (`floor(x + 0.5)`, never `round` — half-even vs
    * half-up differs across engines), so an external oracle replays it
    * bit-comparably.
    *
    * Scale shape: the 64-row per-dimension min/max frame broadcasts; the
    * explode is a narrow map and the re-pack a `groupBy(id)` — one shuffle
    * of (id, dim, code), no driver state.
    */
  def int8QuantizationErrors(emb: DataFrame, idCol: String,
                             vecCol: String): DataFrame = {
    val exploded = emb.select(col(idCol),
      posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col(idCol), col("dim"), col("__v").cast("double").as("v"))
    val scales = exploded.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val q = exploded.join(broadcast(scales), "dim")
      .withColumn("code",
        floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255 + 0.5)
          .cast("long"))
      .withColumn("err",
        abs(col("v") - (col("mn") + col("code") * (col("mx") - col("mn")) / 255)))
    q.select(col(idCol), col("dim"), col("code"), col("err"))
  }

  /** BINARY (sign) quantization of an embedding — 32× compression, the
    * coarsest rung of the quantization ladder under int8 (q82) and PQ
    * (q92), and the one modern vector stores run FIRST because Hamming
    * distance over packed words is a handful of xor+popcount instructions:
    * bit i of word w is `v[64w + i] > 0`. Pure expression (one codegen'd
    * fold per word), no shuffle, oracle-replayable bit arithmetic; bit 63
    * lands in the BIGINT sign bit — two's complement is identical in both
    * engines, so the packed words compare exactly.
    */
  def binarySig(vecCol: String, dim: Int): Column = {
    val nWords = (dim + 63) / 64
    expr(
      s"""transform(sequence(0, ${nWords - 1}), w ->
         |  aggregate(sequence(0, 63), 0L, (acc, i) ->
         |    acc + CASE WHEN w * 64 + i < $dim
         |                AND element_at($vecCol, w * 64 + i + 1) > 0
         |               THEN shiftleft(1L, i) ELSE 0L END))""".stripMargin)
  }

  /** Hamming distance between two packed sign signatures ([[binarySig]]):
    * Σ popcount(xor) over the word arrays — integer arithmetic, exact and
    * order-free.
    */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, v) => acc + v).cast("long")

  /** Hamming-shortlist search over binary signatures: rank the corpus by
    * packed-sign Hamming distance to the query (ties to the lower id), keep
    * the top `shortlist`, rerank those by exact cosine, return top `k` —
    * the standard two-stage binary-quantization retrieval (shortlist ~5·k
    * recovers most of the sign-quantization recall loss). At corpus scale
    * the signature column is precomputed at ingest (1/32 of the vector
    * bytes scan) and the full-precision vectors are fetched only for the
    * shortlist; here both stages read the same frame, which keeps the query
    * oracle-replayable end to end.
    */
  def binaryHammingTopK(emb: DataFrame, idCol: String, vecCol: String,
                        queryId: Long, k: Int, shortlist: Int,
                        dim: Int): DataFrame = {
    val sigd = emb.select(col(idCol), col(vecCol),
      binarySig(vecCol, dim).as("__sig"))
    val q = sigd.filter(col(idCol) === queryId)
      .select(col("__sig").as("__qsig"), col(vecCol).as("__qv"))
    val scored = topK(sigd.filter(col(idCol) =!= queryId), idCol,
      hamming(col("__sig"), col("__qsig")), "hamming", shortlist, Some(q),
      carry = Seq(vecCol, "__qv"), ascending = true)
    topK(scored, idCol, cosineFast(col(vecCol), col("__qv")), "cos_sim", k,
      carry = Seq("hamming"))
  }

  /** HARD negative mining — the contrastive complement of
    * [[Curation.negativeSample]]'s random negatives: the most-SIMILAR
    * non-positives per query, the examples that actually move a
    * contrastive/reranker loss (ANCE/DPR-style training). Shape: take the
    * query's top-`pool` neighbors from the batched exact kNN (one corpus
    * scan; swap in the AnnStore probes at corpus scale), anti-join the
    * known positives out, keep the `k` highest-similarity survivors —
    * everything after the kNN leg is top-pool-bounded, O(queries·pool).
    * Pool sizing is the standard recall knob: positives removed from the
    * pool leave fewer than k hard negatives only if pool−k of the pool were
    * positives. Deterministic end to end (cosine ties to the lower id).
    *
    * `positives` is (`qidCol`, `idCol`)-shaped — keyed by the SAME caller
    * column names as `queries`/`emb` (the [[graft.operators.Curation
    * .negativeSample]] contract), renamed internally. One carve-out: when
    * `qidCol == idCol` (queries drawn from the corpus itself) a frame can't
    * carry the name twice, so the query key must arrive pre-renamed to
    * `q_id` — the output's query column name. Misshapen positives fail
    * analysis loudly; they are never silently ignored.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qidCol: String,
                    positives: DataFrame, pool: Int, k: Int): DataFrame = {
    require(pool >= k && k >= 1, s"need pool >= k >= 1, got pool=$pool k=$k")
    val posQ = if (qidCol == idCol) "q_id" else qidCol
    require(positives.columns.contains(posQ) &&
        positives.columns.contains(idCol),
      s"positives must be ($posQ, $idCol)-shaped, got " +
        positives.columns.mkString("(", ", ", ")"))
    val knn = bruteForceTopKBatch(emb, idCol, vecCol, queries, qidCol, pool)
    val hard = knn.join(
      positives.select(col(posQ).as("q_id"), col(idCol)), Seq("q_id", idCol),
      "left_anti")
    // the kNN rank already applies the tie rule: a total order per query
    topKPerQuery(hard, "q_id", Seq(col("rank").asc), k, Some("hard_rank"))
      .select(col("q_id"), col(idCol), col("cos_sim"), col("hard_rank"))
  }

  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         minSim: Double): DataFrame = {
    // O(n²) cosine work streams over the left side — rebalance it so the
    // nested-loop join runs on every core, not one scan partition
    val a = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("a_id"), col(vecCol).as("__va"))
    val b = emb.select(col(idCol).as("b_id"), col(vecCol).as("__vb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosineFast(col("__va"), col("__vb")).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
  }

  /** Simplified silhouette (Rousseeuw 1987, centroid form — the O(n·k)
    * variant every clustering library reports because the exact O(n²)
    * silhouette is unpayable): per vector, a = distance to the nearest
    * centroid (its cluster), b = distance to the second-nearest, score
    * `s = 1 − a/b` (the simplified formula collapses to this because
    * b ≥ a by construction — a negative simplified silhouette cannot
    * occur under argmin assignment). The cluster-quality audit run before
    * an IVF layout / SemDedup ε is trusted: a cluster whose mean s ≈ 0
    * is not separating its members from the neighbor.
    *
    * Determinism: centroids come from [[ivfCentroids]]' oracle-replayable
    * Lloyd recipe; squared distances quantize to the 2¹⁴ integer grid
    * (the SQ8/PQ device) so nearest/second-nearest and all ties (by
    * centroid index) are exact integer decisions; per-row scores quantize
    * to integer millionths so the per-cluster mean is a BIGINT sum — the
    * whole statistic is order-independent and the oracle replays it bit
    * for bit. Returns one row per cluster: (cluster, n, mean_silhouette).
    *
    * Scale shape: one k-wide explode (n·k rows, k is the bounded cluster
    * count), one id-keyed window to pick the two nearest, one
    * cluster-keyed aggregate. Assignment-only callers should keep using
    * the codegen'd [[graft.functions.NearestCentroid]]; silhouette needs
    * the top-2 DISTANCES, which is what the explode pays for.
    */
  def simplifiedSilhouette(emb: DataFrame, idCol: String, vecCol: String,
                           nClusters: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val centroids = ivfCentroids(emb, idCol, vecCol, nClusters, iters)
    import spark.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("__c", "__cv")
    val d2 = aggregate(
      zip_with(col(vecCol).cast("array<double>"), col("__cv"),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)
    val graded = emb.select(col(idCol).as("__id"), col(vecCol))
      .crossJoin(broadcast(cdf))
      .select(col("__id"), col("__c"),
        floor(d2 * lit(16384.0) + lit(0.5)).cast("long").as("__q2"))
    val top2 = topKPerQuery(graded, "__id",
        byScore("__q2", "__c", ascending = true), 2, Some("__rn"))
      .groupBy("__id").agg(
        max(when(col("__rn") === 1, col("__c"))).as("cluster"),
        max(when(col("__rn") === 1, col("__q2"))).as("__qa"),
        max(when(col("__rn") === 2, col("__q2"))).as("__qb"))
    val s = when(col("__qb") > 0,
      lit(1.0) - sqrt(col("__qa").cast("double") /
        col("__qb").cast("double"))).otherwise(lit(0.0))
    top2.select(col("cluster"),
        floor(s * lit(1e6) + lit(0.5)).cast("long").as("__sm"))
      .groupBy("cluster").agg(
        count(lit(1)).as("n"),
        round(sum(col("__sm")).cast("double") /
          count(lit(1)).cast("double") / lit(1e6), 6)
          .as("mean_silhouette"))
  }
}
