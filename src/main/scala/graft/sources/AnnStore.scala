package graft.sources

import graft.functions.VectorFunctions._
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted bucket-partitioned ANN/MIPS storage — the materialization of
  * the scale claim the LSH operators make in their docstrings: the bucket
  * (and, for MIPS, the norm band) is computed ONCE at ingest and the corpus
  * is written partitioned by it, so a query never scans the table — it
  * reads exactly the partitions holding its signature's bucket.
  *
  * Layouts:
  *   - angular (cosine) LSH: `.../bucket=<sig>/` — a probe reads ONE
  *     partition out of 2^nPlanes;
  *   - norm-ranged MIPS:     `.../band=<b>/bucket=<sig>/` — a probe reads
  *     `nBands` partitions (its signature's bucket in every band, because
  *     the query-side signs are band-independent) out of nBands·2^nPlanes.
  *
  * The bucketing arithmetic is shared with the ad-hoc operators
  * ([[Similarity.lshBucket]] / [[Similarity.normRangedBucketed]]), so a
  * probe returns BIT-IDENTICAL rows to the corresponding in-memory query
  * (`lshTopK` / `mipsNormRangedTopK`) — spec'd in AnnStoreSpec and
  * oracle-checked (q199/q200 reuse q28/q197's replay oracles verbatim).
  *
  * At 100 TB the write is one narrow map + a partitioned write (the only
  * shuffle is the per-band max for MIPS, band-count-sized); appends land in
  * new files under existing partition dirs (MIPS band maxima and IVF
  * centroids are frozen at first build and carried as [[StoreState]]).
  * Partition-count guidance: nPlanes sizes the fan-out — 2^nPlanes · nBands
  * directories — so 8–12 planes (256–4096 buckets) keeps partitions in the
  * 10–100 GB range at corpus scale; the probe cost is corpus/2^nPlanes.
  */
object AnnStore {

  /** Write the corpus partitioned by angular-LSH bucket. The embedding
    * column is stored AS-IS (no cast) so the probe's rerank sees the same
    * values the in-memory operator sees.
    */
  def writeAngular(emb: DataFrame, idCol: String, vecCol: String,
                   path: String, nPlanes: Int, dim: Int): Unit = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    emb.withColumn("bucket", Similarity.lshBucket(col(vecCol), planes))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Append a batch to an angular store: the signature is a pure function
    * of the vector and the deterministic planes (no corpus statistics), so
    * new files simply land under their partition dirs — the ingest path at
    * 100 TB, where the corpus arrives in batches and is never rewritten.
    * Probes see old and new batches uniformly (spec'd). The MIPS layout
    * appends the same way ONLY while its frozen band maxima still dominate
    * the batch (‖x‖² ≤ gmax), which is why [[writeMips]] documents the
    * band metadata as table state; re-banding is an overwrite.
    */
  def appendAngular(emb: DataFrame, idCol: String, vecCol: String,
                    path: String, nPlanes: Int, dim: Int): Unit = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    emb.withColumn("bucket", Similarity.lshBucket(col(vecCol), planes))
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** Probe the angular store: compute the query's bucket signature (one
    * 1-row local job over the SAME plane expression the write used), read
    * only `bucket=<sig>` — partition-pruned at the scan, plan-guarded in
    * PlanShapeSpec — and rerank that single bucket by exact cosine.
    * `query` is a 1-row frame holding the query vector in `vecCol`.
    */
  def probeAngular(spark: SparkSession, path: String, idCol: String,
                   vecCol: String, query: DataFrame, k: Int,
                   nPlanes: Int, dim: Int,
                   excludeId: Option[Long] = None): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val qb = query
      .select(Similarity.lshBucket(col(vecCol), planes).as("__qb"))
      .head.getLong(0)
    rerank(spark.read.parquet(path), idCol, vecCol, query, k, qb, excludeId,
      "cos_sim", (v, q) => cosineFast(v, q))
  }

  /** MULTI-TABLE angular layout — the recall-compounding form of
    * [[writeAngular]]: `tables` independent hash tables (contiguous
    * `planesPerTable`-plane slices of the same deterministic stream as
    * [[Similarity.lshNearDupPairs]]), the corpus written ONCE PER TABLE
    * under `.../t=<i>/bucket=<sig>/` (multi-table LSH inherently stores L
    * copies — that is the recall-for-space trade the construction makes).
    * A probe reads ≤ `tables` partitions (its signature's bucket in each
    * table) out of tables·2^planesPerTable, unions the candidates, dedups
    * by id, and reranks by exact cosine — bit-identical to
    * [[Similarity.lshTopKMulti]] (shared plane arithmetic; spec'd +
    * partition-count-guarded). At 100 TB the write is one narrow map + an
    * L-way explode (no shuffle); per-table fan-out guidance matches the
    * single-table layout, multiplied by L directories.
    */
  def writeAngularMulti(emb: DataFrame, idCol: String, vecCol: String,
                        path: String, planesPerTable: Int, tables: Int,
                        dim: Int): Unit = {
    val allPlanes = Similarity.hyperplanes(planesPerTable * tables, dim)
    val tb = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        Similarity.lshBucket(col(vecCol),
          allPlanes.slice(t * planesPerTable, (t + 1) * planesPerTable))
          .as("bucket"))
    }
    emb.withColumn("__tb", explode(array(tb: _*)))
      .withColumn("t", col("__tb.t"))
      .withColumn("bucket", col("__tb.bucket"))
      .drop("__tb")
      .write.mode("overwrite").partitionBy("t", "bucket").parquet(path)
  }

  /** Probe the multi-table angular store: ONE 1-row local job computes the
    * query's signature in every table, the scan is pruned by the OR of
    * per-table (t, bucket) partition predicates — ≤ `tables` partitions
    * read — and candidates dedup by id (a row matching in several tables is
    * stored once per table) before the exact-cosine rerank. Signatures
    * unrepresentable in an Int-inferred partition type contribute no
    * predicate (every stored bucket fits the type — the wrapped cast would
    * prune to the WRONG bucket; same guard as [[rerank]]).
    */
  def probeAngularMulti(spark: SparkSession, path: String, idCol: String,
                        vecCol: String, query: DataFrame, k: Int,
                        planesPerTable: Int, tables: Int, dim: Int,
                        excludeId: Option[Long] = None): DataFrame = {
    val allPlanes = Similarity.hyperplanes(planesPerTable * tables, dim)
    val ts = 0 until tables
    val sigRow = query.select(ts.map(t =>
      Similarity.lshBucket(col(vecCol),
        allPlanes.slice(t * planesPerTable, (t + 1) * planesPerTable))
        .as(s"__s$t")): _*).head
    val sigs = ts.map(t => t -> sigRow.getLong(t))
    val store = spark.read.parquet(path)
    val bucketType = store.schema("bucket").dataType
    val representable: Long => Boolean = bucketType match {
      case org.apache.spark.sql.types.IntegerType => _.isValidInt
      case _ => _ => true
    }
    val preds = sigs.collect { case (t, s) if representable(s) =>
      col("t") === t && col("bucket") === lit(s).cast(bucketType)
    }
    val hit = if (preds.isEmpty) store.filter(lit(false))
              else store.filter(preds.reduce(_ || _))
    val pruned = excludeId.foldLeft(hit) {
      (d, id) => d.filter(col(idCol) =!= id)
    }
    pruned.select(col(idCol), col(vecCol))
      .dropDuplicates(idCol)
      .crossJoin(broadcast(query.select(col(vecCol).as("__q"))))
      .select(col(idCol), cosineFast(col(vecCol), col("__q")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** MULTI-PROBE angular probe (Lv et al., VLDB 2007): beside the query's
    * own bucket, also read the buckets reachable by flipping the query's
    * `nFlips` LOWEST-MARGIN sign bits — the planes the query sits closest
    * to, i.e. exactly where a true near neighbor most likely landed on the
    * other side. The recall lever that does NOT multiply storage: the
    * multi-table layout ([[writeAngularMulti]]) buys recall with L corpus
    * copies, multi-probe buys it with extra partition reads of the SAME
    * single-copy store (1 + nFlips of 2^nPlanes) — the standard trade
    * (fewer tables × more probes) production LSH services run. One 1-row
    * local job computes the signature AND every plane margin; flip choice
    * ties break to the lower plane index; buckets are disjoint so the
    * candidate union needs no dedup before the exact-cosine rerank.
    */
  def probeAngularMultiProbe(spark: SparkSession, path: String, idCol: String,
                             vecCol: String, query: DataFrame, k: Int,
                             nPlanes: Int, dim: Int, nFlips: Int,
                             excludeId: Option[Long] = None): DataFrame = {
    require(nFlips >= 0 && nFlips < nPlanes,
      s"nFlips must be in [0, nPlanes), got $nFlips of $nPlanes")
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val row = query.select(
      Similarity.lshBucket(col(vecCol), planes).as("__sig") +:
        planes.zipWithIndex.map { case (p, i) =>
          dot(col(vecCol), typedLit(p)).as(s"__d$i")
        }: _*).head
    val sig = row.getLong(0)
    val flips = (0 until nPlanes)
      .map(i => (math.abs(row.getDouble(i + 1)), i))
      .sortBy { case (m, i) => (m, i) }.take(nFlips).map(_._2)
    val sigs = sig +: flips.map(j => sig ^ (1L << j))
    val store = spark.read.parquet(path)
    // same partition-type guard as the batched probes: literals matched to
    // the inferred type keep the IN a bare partition filter; unrepresentable
    // signatures match nothing by construction
    val sigLits: Seq[Any] = store.schema("bucket").dataType match {
      case org.apache.spark.sql.types.IntegerType =>
        sigs.filter(_.isValidInt).map(_.toInt)
      case _ => sigs
    }
    val hit = if (sigLits.isEmpty) store.filter(lit(false))
              else store.filter(col("bucket").isin(sigLits: _*))
    val pruned = excludeId.foldLeft(hit) {
      (d, id) => d.filter(col(idCol) =!= id)
    }
    pruned.crossJoin(broadcast(query.select(col(vecCol).as("__q"))))
      .select(col(idCol), cosineFast(col(vecCol), col("__q")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Write the corpus partitioned by (norm band, augmented-sign bucket) —
    * the norm-ranged MIPS layout, arithmetic shared verbatim with
    * [[Similarity.mipsNormRangedTopK]] via `normRangedBucketed`. The
    * banding statistics the construction FROZE at build time — gmin/gmax
    * (band edges) and each band's max ‖x‖² (its augmentation constant) —
    * are persisted beside the data as [[StoreState]] (an underscore-
    * prefixed file Spark's parquet reader skips), because they are TABLE
    * STATE, not a recomputable function of whatever rows happen to be
    * present after appends: [[appendMips]] must band new rows against
    * exactly these values or its buckets disagree with every probe.
    */
  def writeMips(emb: DataFrame, idCol: String, vecCol: String, path: String,
                nPlanes: Int, dim: Int, nBands: Int): Unit = {
    // persist so the data write and the stats collect read ONE
    // materialization — a nondeterministic (or concurrently changing)
    // input would otherwise band the written partitions against one
    // computation and freeze the store state from another, and every
    // later append/probe would diverge with no error anywhere
    val bucketed = Similarity.normRangedBucketed(emb, vecCol, nPlanes, dim,
      nBands).persist()
    try {
    bucketed
      .withColumnRenamed("__band", "band")
      .withColumnRenamed("__bucket", "bucket")
      .drop("__gmax", "__gmin", "__m2", "__aug")
      .write.mode("overwrite").partitionBy("band", "bucket").parquet(path)
    // nBands + 1 rows of table state, collected AFTER the data lands (the
    // overwrite clears the directory, state included) from the SAME cached
    // frame the write consumed
    val stats = bucketed
      .select(col("__band"), col("__m2"), col("__gmin"), col("__gmax"))
      .distinct().collect()
    val (gmin, gmax) = (stats.head.getDouble(2), stats.head.getDouble(3))
    val bands = stats.map(r => r.getInt(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    StoreState.write(emb.sparkSession, path, "mips", Seq(
      "nPlanes" -> nPlanes.toString, "dim" -> dim.toString,
      "nBands" -> nBands.toString,
      // java.lang.Double.toString is shortest-round-trip — parses back exact
      "gmin" -> gmin.toString, "gmax" -> gmax.toString) ++
      bands.map { case (b, m2) => s"band.$b" -> m2.toString })
    } finally bucketed.unpersist(blocking = false)
  }

  /** Append a batch to a MIPS store — valid ONLY while the frozen banding
    * contract still dominates the batch. Geometry and statistics come from
    * the store's persisted metadata (never from the caller, never re-derived
    * from the batch), the batch is banded/bucketed against them
    * ([[Similarity.normRangedBucketedFrozen]] — bit-identical arithmetic to
    * the build), and any row OUTSIDE the contract — ‖x‖² above its band's
    * frozen max (pad would clamp to zero: wrong signs) or below the banded
    * range (no such band) — REJECTS the whole batch before a byte lands:
    * a silent out-of-band append would quietly degrade probe recall with
    * no error anywhere. Re-banding is an explicit [[writeMips]] overwrite.
    */
  def appendMips(emb: DataFrame, idCol: String, vecCol: String,
                 path: String): Unit = {
    val spark = emb.sparkSession
    val meta = StoreState.read(spark, path, "mips")
    def d(k: String) = meta(k).toDouble
    val nBands = meta("nBands").toInt
    val bandMax = (0 until nBands)
      .flatMap(b => meta.get(s"band.$b").map(m2 => b -> m2.toDouble)).toMap
    // persist: the validating count and the append must read the SAME
    // materialization — a nondeterministic batch could pass validation on
    // one computation and write different (out-of-contract) rows on the next
    val bucketed = Similarity.normRangedBucketedFrozen(emb, vecCol,
      meta("nPlanes").toInt, meta("dim").toInt, nBands,
      d("gmin"), d("gmax"), bandMax).persist()
    try {
      val n2 = graft.functions.VectorFunctions.dot(col(vecCol), col(vecCol))
      val bad = bucketed.filter(col("__m2").isNull || n2 > col("__m2")).count()
      require(bad == 0L,
        s"appendMips($path): $bad row(s) violate the store's frozen band " +
          "maxima (‖x‖² above its band's build-time max, or below the banded " +
          "range) — appending them would silently degrade probe recall. " +
          "Re-band via a writeMips overwrite instead.")
      bucketed
        .withColumnRenamed("__band", "band")
        .withColumnRenamed("__bucket", "bucket")
        .drop("__m2", "__aug")
        .write.mode("append").partitionBy("band", "bucket").parquet(path)
    } finally bucketed.unpersist(blocking = false)
  }

  /** Probe the MIPS store: the query signature is band-independent ([q, 0]
    * pads with zero), so ONE bucket filter prunes to its bucket in every
    * band — nBands partitions read, the rest never touched — then one
    * exact-dot rerank over the union.
    */
  def probeMips(spark: SparkSession, path: String, idCol: String,
                vecCol: String, query: DataFrame, k: Int,
                nPlanes: Int, dim: Int,
                excludeId: Option[Long] = None): DataFrame = {
    val qb = query
      .select(Similarity.mipsQuerySignature(col(vecCol), nPlanes, dim)
        .as("__qb"))
      .head.getLong(0)
    rerank(spark.read.parquet(path), idCol, vecCol, query, k, qb, excludeId,
      "ip", (v, q) => dot(v, q))
  }

  /** BATCHED probe of the MIPS store — N queries at once, the retrieval-
    * training shape: the batch's distinct signatures become a static
    * `bucket IN (...)` partition filter (collected driver-side — bounded by
    * the batch size, never the corpus), so the scan reads at most
    * |distinct sigs|·nBands partitions; candidates then come from one
    * bucket equi-join against the broadcast query batch and a per-query
    * `rank <= k` that compiles to map-side WindowGroupLimit. Per query,
    * rows are identical to [[graft.operators.Similarity
    * .mipsNormRangedTopKBatch]] over the same corpus (spec'd).
    * `queries` carries (qidCol, vecCol).
    */
  def probeMipsBatch(spark: SparkSession, path: String, idCol: String,
                     vecCol: String, queries: DataFrame, qidCol: String,
                     k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("q_id"), col(vecCol).as("__qv"),
      Similarity.mipsQuerySignature(col(vecCol), nPlanes, dim).as("__qb"))
    val sigs = q.select(col("__qb")).distinct().collect().map(_.getLong(0))
    val store = spark.read.parquet(path)
    // literals matched to the inferred partition type keep the IN a bare
    // attribute-vs-literal-set partition filter (a cast on the attribute
    // would defeat pruning). When inference yields IntegerType, every
    // STORED bucket fits an Int — a signature outside Int range can match
    // nothing, so it is dropped rather than narrowed (a wrapping toInt
    // would read the wrong bucket; the join recheck keeps that correct but
    // it is pure wasted IO, and the empty-result truth is free).
    val sigLits: Seq[Any] = store.schema("bucket").dataType match {
      case org.apache.spark.sql.types.IntegerType =>
        sigs.toSeq.filter(_.isValidInt).map(_.toInt)
      case _ => sigs.toSeq
    }
    val pruned = store.filter(col("bucket").isin(sigLits: _*))
    val scored = pruned
      .join(broadcast(q),
        col("bucket") === col("__qb") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), dot(col(vecCol), col("__qv")).as("ip"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ip").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Write the corpus partitioned by IVF coarse-cluster id — the FAISS
    * IndexIVF-on-disk layout (inverted lists = partition directories), the
    * third leaf of the store family beside the angular and MIPS layouts.
    * Centroids come from the same deterministic Lloyd training the ad-hoc
    * operators use ([[Similarity.ivfCentroids]]) and are FROZEN as table
    * state in [[StoreState]] (k×dim shortest-round-trip doubles): like
    * the MIPS band maxima, they are NOT a recomputable function of whatever
    * rows are present after appends — [[appendIvf]] must assign new rows
    * against exactly these values or its partitions disagree with every
    * probe. The write is one codegen'd assign map + a partitioned write;
    * nClusters sizes the fan-out (√corpus-ish in FAISS practice; each
    * partition is one inverted list a probe reads whole).
    */
  def writeIvf(emb: DataFrame, idCol: String, vecCol: String, path: String,
               nClusters: Int, iters: Int = 3,
               trainFraction: Double = 1.0): Unit = {
    // persist: Lloyd re-scans the corpus per iteration, and the assign-write
    // must see the SAME materialization the centroids were trained on.
    // trainFraction bounds Lloyd's training set by construction
    // (Similarity.ivfCentroids) — the corpus-scale default for a store
    // write, where iters full scans would dominate the build.
    val cached = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val centroids = Similarity.ivfCentroids(cached, idCol, vecCol,
        nClusters, iters, trainFraction)
      cached
        .withColumn("cluster", Similarity.assignCluster(col(vecCol), centroids))
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      StoreState.write(emb.sparkSession, path, "ivf", Seq(
        "nClusters" -> nClusters.toString,
        "dim" -> centroids.head.length.toString) ++
        centroids.zipWithIndex.map { case (c, i) =>
          s"centroid.$i" -> c.map(_.toString).mkString(",")
        })
    } finally cached.unpersist(blocking = false)
  }

  /** Append a batch to an IVF store: rows are assigned against the FROZEN
    * centroids from the store's metadata (never re-trained — re-training
    * moves list boundaries and is an explicit [[writeIvf]] overwrite, the
    * same contract FAISS has: adding never retrains the quantizer). Always
    * valid geometrically — every vector has a nearest centroid — but a
    * drifted batch degrades probe recall gracefully rather than failing,
    * which is the IVF trade; monitor with [[Similarity.knnRecall]].
    */
  def appendIvf(emb: DataFrame, idCol: String, vecCol: String,
                path: String): Unit = {
    val centroids = readIvfCentroids(emb.sparkSession, path)
    emb.withColumn("cluster", Similarity.assignCluster(col(vecCol), centroids))
      .write.mode("append").partitionBy("cluster").parquet(path)
  }

  /** Probe the IVF store: rank the frozen centroids against the query
    * DRIVER-SIDE (k rows of metadata — no Spark job), read only the
    * `nProbe` nearest inverted lists via a `cluster IN (...)` partition
    * filter, and rerank the union by exact cosine. Bit-identical to
    * [[Similarity.ivfTopK]] over the same corpus/params (same Lloyd
    * training, same widening float→double distance arithmetic, same
    * tie-to-lower-index probe order — spec'd + oracle-checked), except the
    * corpus scan touches nProbe/nClusters of the data, which is the point.
    */
  def probeIvf(spark: SparkSession, path: String, idCol: String,
               vecCol: String, query: DataFrame, k: Int, nProbe: Int,
               excludeId: Option[Long] = None): DataFrame = {
    val centroids = readIvfCentroids(spark, path)
    val qv = query.select(col(vecCol)).head.getSeq[Float](0)
    val probes = centroids.zipWithIndex.map { case (c, i) =>
      val d2 = c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum
      (d2, i)
    }.sortBy { case (d2, i) => (d2, i) }.take(nProbe).map(_._2).toSeq
    val store = spark.read.parquet(path)
    val hit = store.filter(col("cluster").isin(probes: _*))
    val pruned = excludeId.foldLeft(hit) {
      (d, id) => d.filter(col(idCol) =!= id)
    }
    pruned.crossJoin(broadcast(query.select(col(vecCol).as("__q"))))
      .select(col(idCol), cosineFast(col(vecCol), col("__q")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Incremental SemDeDup against the IVF store — the EXECUTED form of the
    * deployment plan [[graft.operators.Similarity.semDedupPruneAgainst]]
    * documents: the accepted corpus lives cluster-partitioned on disk
    * (one [[writeIvf]] layout: inverted lists = partition directories,
    * centroids frozen as table state), and a batch probes ONLY its own
    * clusters' partitions instead of re-scanning and re-assigning the
    * whole accepted set per call. Semantics are identical to the in-memory
    * operator (bit-identity spec'd, and the q264 gate replays q257's
    * oracle verbatim): each batch vector is dropped when any accepted
    * vector in its cluster has cosine ≥ minSim; intra-batch pairs are
    * excluded by the same contract. Returns one row per batch vector:
    * (idCol, cluster, dup_of, best_sim [6-dec], kept).
    *
    * Scale shape: batch vectors assign against the ≤k broadcast frozen
    * centroids (one narrow map); the batch's DISTINCT cluster ids — ≤
    * min(|batch|, nClusters), bounded by the store's own centroid count,
    * never the corpus — become a `cluster IN (...)` partition filter, so
    * the scan reads only the touched inverted lists (plan-guarded); the
    * candidate join is the same cluster-id equi-join as the in-memory
    * form, with the corpus side now partition-pruned IO instead of a full
    * re-scan + re-assign. Appends to the accepted side are
    * [[appendIvf]]'s frozen-centroid assignment — the store IS the
    * accepted set's system of record between batches.
    */
  def semDedupProbe(spark: SparkSession, path: String, batch: DataFrame,
                    idCol: String, vecCol: String,
                    minSim: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = readIvfCentroids(spark, path)
    // persisted: the k-wide centroid assignment is the batch's dominant
    // narrow cost and feeds THREE consumers (the touched-clusters collect,
    // the candidate join, the final left join) — without the cache it
    // would run per consumer. Cleared under the library's caller/harness-
    // owns-cache-cleanup contract (cf. Similarity.semDedupPrune).
    val batchA = batch
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__c", Similarity.assignCluster(col("__v"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distinct cluster ids of the batch: bounded by nClusters (table
    // state), never the corpus — a driver-bounded collect by construction
    val touched = batchA.select(col("__c")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val store = spark.read.parquet(path)
    val accepted = store.filter(col("cluster").isin(touched: _*))
      .select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
        col("cluster").as("__c"))
    val best = batchA.as("b").join(accepted.as("a"), Seq("__c"))
      .select(col("__id"), col("__cid"),
        cosineFast(col("__v"), col("__cv")).as("__cos"))
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

  /** SEMANTIC DECONTAMINATION against the IVF store — the embedding-space
    * member of the [[graft.operators.Decontamination]] family (round-12
    * verdict item 3): the lexical n-gram overlap stage cannot see a
    * PARAPHRASED eval item (same meaning, no shared 5-gram — spec'd), but
    * the corpus's cluster-partitioned embedding layout already holds
    * everything needed to probe eval-set EMBEDDINGS instead. Report shape
    * is the lexical stage's per-contaminated-document census: one row per
    * CORPUS document with cosine ≥ `minSim` to at least one eval item —
    * `(idCol, cluster, n_eval_docs, best_eval_id, best_sim)`, the best
    * eval match chosen by (cosine desc, eval id asc), cosine 6-dec.
    *
    * Same cluster contract as [[semDedupProbe]]: an eval item only probes
    * ITS OWN cluster's inverted list (the IVF recall trade — a borderline
    * pair straddling a cluster boundary is missed, exactly as SemDeDup
    * accepts; raise nClusters' training quality, not the probe scope).
    *
    * Scale shape: the eval set (benchmarks — thousands of items, never
    * corpus-sized) assigns against the broadcast frozen centroids in one
    * narrow map; its DISTINCT clusters — bounded by nClusters table state
    * — become the `cluster IN (...)` partition filter, so the corpus scan
    * reads only the touched inverted lists (plan-guarded in AnnStoreSpec);
    * the candidate join is cluster-keyed with the small eval side
    * broadcastable, and both report legs (the distinct-eval census and
    * the argmax window) group by corpus id over the FLAGGED pairs only.
    * The two persisted frames (eval assignment, flagged pairs) follow the
    * library's caller/harness-owns-cache-cleanup contract
    * (cf. [[semDedupProbe]]).
    */
  def decontaminationProbe(spark: SparkSession, path: String,
                           eval: DataFrame, idCol: String, vecCol: String,
                           minSim: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = readIvfCentroids(spark, path)
    val evalA = eval
      .select(col(idCol).as("__eid"), col(vecCol).as("__ev"))
      .withColumn("__c", Similarity.assignCluster(col("__ev"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distinct eval clusters: bounded by nClusters (table state), never
    // the eval set — a driver-bounded collect by construction
    val touched = evalA.select(col("__c")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val store = spark.read.parquet(path)
    val corpus = store.filter(col("cluster").isin(touched: _*))
      .select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
        col("cluster").as("__c"))
    // flagged (corpus doc, eval doc) pairs — persisted: both report legs
    // consume it, and recomputing would re-run the cluster join
    val hits = corpus.join(evalA, Seq("__c"))
      .select(col("__cid"), col("__c"), col("__eid"),
        cosineFast(col("__cv"), col("__ev")).as("__cos"))
      .filter(col("__cos") >= minSim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val best = hits
      .withColumn("__rn", row_number().over(Window.partitionBy("__cid")
        .orderBy(col("__cos").desc, col("__eid").asc)))
      .filter(col("__rn") === 1)
      .select(col("__cid"), col("__c"), col("__eid").as("best_eval_id"),
        round(col("__cos"), 6).as("best_sim"))
    val counts = hits.groupBy(col("__cid"))
      .agg(countDistinct(col("__eid")).as("n_eval_docs"))
    best.join(counts, Seq("__cid"))
      .select(col("__cid").as(idCol), col("__c").cast("long").as("cluster"),
        col("n_eval_docs"), col("best_eval_id"), col("best_sim"))
  }

  private[graft] def readIvfCentroids(spark: SparkSession,
                                      path: String): Array[Array[Double]] = {
    val meta = StoreState.read(spark, path, "ivf")
    (0 until meta("nClusters").toInt).map { i =>
      meta(s"centroid.$i").split(',').map(_.toDouble)
    }.toArray
  }

  /** Shared probe tail: prune to `bucket = sig` (literal cast to the
    * partition column's inferred type so the comparison stays a bare
    * attribute-vs-literal partition filter, never a cast on the attribute —
    * that is what keeps pruning effective), broadcast the 1-row query,
    * score, top-k. A signature that cannot be represented in the inferred
    * partition type matches nothing by construction (every stored bucket
    * fits the type), so the probe returns empty instead of letting the
    * non-ANSI cast wrap into the WRONG bucket.
    */
  private[graft] def rerank(store: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, k: Int, sig: Long,
                     excludeId: Option[Long], scoreName: String,
                     score: (Column, Column) => Column): DataFrame = {
    val bucketType = store.schema("bucket").dataType
    val representable = bucketType match {
      case org.apache.spark.sql.types.IntegerType => sig.isValidInt
      case _ => true
    }
    val sigLit = lit(sig).cast(bucketType)
    val hit = if (representable) store.filter(col("bucket") === sigLit)
              else store.filter(lit(false))
    val pruned = excludeId.foldLeft(hit) {
      (d, id) => d.filter(col(idCol) =!= id)
    }
    pruned.crossJoin(broadcast(query.select(col(vecCol).as("__q"))))
      .select(col(idCol), score(col(vecCol), col("__q")).as(scoreName))
      .orderBy(col(scoreName).desc, col(idCol).asc)
      .limit(k)
  }
}
