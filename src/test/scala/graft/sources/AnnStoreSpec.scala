package graft.sources

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted bucket-partitioned ANN/MIPS layout: probes must return
  * BIT-identical rows to the in-memory operators (same plane arithmetic by
  * construction), and the scan must physically read only the signature's
  * partitions — the property that makes the layout a 100 TB design and not
  * a copy of the table.
  */
class AnnStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.load(spark, dir, "embeddings")
  private def scaled = emb.select(col("vec_id"),
    transform(col("embedding"),
      x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
      .as("embedding"))

  /** Partitions actually read by the parquet scans of df — recursing
    * through AQE's leaf-node stages (QueryStageExec hides its subtree from
    * plain TreeNode traversal).
    */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allScans(r.child)
      // a probe that persists an intermediate (decontaminationProbe's
      // flagged pairs) hides the store scan inside the cached plan
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allScans(i.relation.cachedPlan)
    }.flatten

  private def partitionsRead(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no parquet scan in the probe plan")
    // the probe also scans the (unpartitioned) query-vector source; only
    // the store's scan carries the partition-count metric
    val partitioned = scans.filter(_.metrics.contains("numPartitions"))
    assert(partitioned.nonEmpty,
      "metric keys: " + scans.map(_.metrics.keys.mkString("|")).mkString(" ; "))
    partitioned.map(_.metrics("numPartitions").value).max
  }

  test("angular store: probe == lshTopK bit-for-bit, reading ONE partition") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/ang"
    AnnStore.writeAngular(emb, "vec_id", "embedding", path, nPlanes = 4, dim = 64)
    val nParts = spark.read.parquet(path).select("bucket").distinct().count()
    assert(nParts > 1, "test corpus collapsed into one bucket — pruning unprovable")

    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val probe = AnnStore.probeAngular(spark, path, "vec_id", "embedding",
      query, k = 10, nPlanes = 4, dim = 64, excludeId = Some(0L))
    val expect = Similarity.lshTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, nPlanes = 4, dim = 64)
    assert(probe.collect().toSeq == expect.collect().toSeq)
    assert(partitionsRead(probe) == 1L,
      s"angular probe must read exactly 1 of $nParts partitions")
  }

  test("MIPS store: probe == mipsNormRangedTopK bit-for-bit, reading nBands partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/mips"
    AnnStore.writeMips(scaled, "vec_id", "embedding", path,
      nPlanes = 3, dim = 64, nBands = 5)
    val layout = spark.read.parquet(path)
      .select("band", "bucket").distinct().count()
    assert(layout > 5, "layout collapsed — pruning unprovable")

    val query = scaled.filter(col("vec_id") === 1L).select(col("embedding"))
    val probe = AnnStore.probeMips(spark, path, "vec_id", "embedding",
      query, k = 10, nPlanes = 3, dim = 64, excludeId = Some(1L))
    val expect = Similarity.mipsNormRangedTopK(scaled, "vec_id", "embedding",
      queryId = 1L, k = 10, nPlanes = 3, dim = 64, nBands = 5)
    assert(probe.collect().toSeq == expect.collect().toSeq)
    // the signature's bucket may be missing from some bands on a small
    // corpus — read count is AT MOST nBands, and strictly below the layout
    val read = partitionsRead(probe)
    assert(read <= 5L && read < layout,
      s"MIPS probe read $read partitions of $layout — pruning failed")
  }

  test("batched MIPS probe: == in-memory batch, scan pruned to the batch's bucket set") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/mipsb"
    AnnStore.writeMips(scaled, "vec_id", "embedding", path,
      nPlanes = 3, dim = 64, nBands = 5)
    val layout = spark.read.parquet(path)
      .select("band", "bucket").distinct().count()
    // a small batch: with 3 planes there are only 8 signatures, so a large
    // batch covers every bucket and leaves nothing to prune
    val queries = scaled.filter(col("vec_id").isin(1L, 7L, 13L))
    val probe = AnnStore.probeMipsBatch(spark, path, "vec_id", "embedding",
      queries, "vec_id", k = 5, nPlanes = 3, dim = 64)
    val expect = Similarity.mipsNormRangedTopKBatch(scaled, "vec_id",
      "embedding", queries, "vec_id", k = 5, nPlanes = 3, dim = 64, nBands = 5)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(3))
    assert(probe.collect().map(r => key(r) -> (r.getLong(1), r.getDouble(2))).toMap ==
      expect.collect().map(r => key(r) -> (r.getLong(1), r.getDouble(2))).toMap)
    // pruning: at most |distinct signatures| buckets x 5 bands, and
    // strictly fewer partitions than the layout holds
    val nSigs = queries
      .select(Similarity.mipsQuerySignature(col("embedding"), 3, 64))
      .distinct().count()
    val read = partitionsRead(probe)
    assert(read <= nSigs * 5 && read < layout,
      s"batched probe read $read of $layout partitions (sigs=$nSigs)")
  }

  test("append: a second batch lands in-place and probes see both uniformly") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/app"
    val first = emb.filter(col("vec_id") < 100L)
    val second = emb.filter(col("vec_id") >= 100L)
    AnnStore.writeAngular(first, "vec_id", "embedding", path, nPlanes = 4, dim = 64)
    AnnStore.appendAngular(second, "vec_id", "embedding", path, nPlanes = 4, dim = 64)
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val probe = AnnStore.probeAngular(spark, path, "vec_id", "embedding",
      query, k = 10, nPlanes = 4, dim = 64, excludeId = Some(0L))
    // == the one-shot store of the full corpus — appends change layout, not
    // results (the signature is corpus-statistics-free)
    val expect = Similarity.lshTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, nPlanes = 4, dim = 64)
    assert(probe.collect().toSeq == expect.collect().toSeq)
    assert(partitionsRead(probe) == 1L)
  }

  test("multi-table angular store: probe == lshTopKMulti bit-for-bit, reading at most `tables` partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/angm"
    AnnStore.writeAngularMulti(emb, "vec_id", "embedding", path,
      planesPerTable = 4, tables = 3, dim = 64)
    val layout = spark.read.parquet(path)
      .select("t", "bucket").distinct().count()
    assert(layout > 3, "layout collapsed — pruning unprovable")
    // L copies of the corpus, one per table — the multi-table space trade
    assert(spark.read.parquet(path).count() == emb.count() * 3)

    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val probe = AnnStore.probeAngularMulti(spark, path, "vec_id", "embedding",
      query, k = 10, planesPerTable = 4, tables = 3, dim = 64,
      excludeId = Some(0L))
    val expect = Similarity.lshTopKMulti(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, planesPerTable = 4, tables = 3, dim = 64)
    assert(probe.collect().toSeq == expect.collect().toSeq)
    // multi-table recall dominates the single table it contains: table 0's
    // candidates are a subset of the union's
    val single = Similarity.lshTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, nPlanes = 4, dim = 64)
    val probeSims = probe.collect().map(_.getDouble(1)).toSeq
    val singleSims = single.collect().map(_.getDouble(1)).toSeq
    assert(probeSims.zip(singleSims).forall { case (m, s) => m >= s },
      s"multi-table top-k must dominate its first table: $probeSims vs $singleSims")
    val read = partitionsRead(probe)
    assert(read <= 3L && read < layout,
      s"multi-table probe read $read of $layout partitions")
  }

  test("appendMips: an in-contract batch bands against the FROZEN stats and probes bit-identically") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/mipsapp"
    AnnStore.writeMips(scaled, "vec_id", "embedding", path,
      nPlanes = 3, dim = 64, nBands = 5)
    // a batch of re-keyed copies of existing rows: norms inside the frozen
    // contract by construction, and the in-memory oracle on the doubled
    // corpus re-derives the SAME stats (duplicates move no min/max), so the
    // store probe must match it bit-for-bit
    val copies = scaled.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    AnnStore.appendMips(copies, "vec_id", "embedding", path)
    val doubled = scaled.unionAll(copies)
    val query = scaled.filter(col("vec_id") === 1L).select(col("embedding"))
    val probe = AnnStore.probeMips(spark, path, "vec_id", "embedding",
      query, k = 10, nPlanes = 3, dim = 64, excludeId = Some(1L))
    val expect = Similarity.mipsNormRangedTopK(doubled, "vec_id", "embedding",
      queryId = 1L, k = 10, nPlanes = 3, dim = 64, nBands = 5)
    assert(probe.collect().toSeq == expect.collect().toSeq)
  }

  test("appendMips: an out-of-contract batch REJECTS whole and leaves the store untouched") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/mipsbad"
    AnnStore.writeMips(scaled, "vec_id", "embedding", path,
      nPlanes = 3, dim = 64, nBands = 5)
    val before = AnnStore.probeMips(spark, path, "vec_id", "embedding",
      scaled.filter(col("vec_id") === 1L).select(col("embedding")),
      k = 10, nPlanes = 3, dim = 64, excludeId = Some(1L)).collect().toSeq
    // one rogue row whose norm exceeds every frozen band max (10x scale →
    // 100x the squared norm): its pad would clamp to zero and its stored
    // signs would no longer be the construction the probe replays
    val rogue = scaled.filter(col("vec_id") === 2L)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * 10.0).as("embedding"))
    val mixed = scaled.filter(col("vec_id") === 3L)
      .select((col("vec_id") + 200001L).as("vec_id"), col("embedding"))
      .unionAll(rogue)
    val e = intercept[IllegalArgumentException] {
      AnnStore.appendMips(mixed, "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("frozen band"))
    // whole-batch rejection: even the valid row of the mixed batch never
    // landed, and probes are unchanged
    val after = AnnStore.probeMips(spark, path, "vec_id", "embedding",
      scaled.filter(col("vec_id") === 1L).select(col("embedding")),
      k = 10, nPlanes = 3, dim = 64, excludeId = Some(1L)).collect().toSeq
    assert(after == before)
    assert(spark.read.parquet(path).filter(col("vec_id") >= 200000L).count() == 0L)
  }

  test("rerank: a signature outside an Int-inferred partition type returns empty, never a wrapped bucket") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-annguard").toString + "/s"
    Seq((1L, Seq(1.0f, 0.0f), 5), (2L, Seq(0.9f, 0.1f), 5), (3L, Seq(0.0f, 1.0f), 7))
      .toDF("id", "embedding", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(root)
    val store = spark.read.parquet(root)
    assert(store.schema("bucket").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val q = Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("embedding")
    def run(sig: Long) = AnnStore.rerank(store, "id", "embedding", q, 2, sig,
      None, "cos_sim",
      (v, qq) => graft.functions.VectorFunctions.cosineFast(v, qq))
    assert(run(5L).count() == 2) // in-range signature ranks its bucket
    // a >31-bit signature cannot exist in an Int-inferred store — the
    // non-ANSI cast would have wrapped it INTO bucket 5 and ranked the
    // wrong neighborhood; the guard returns the empty truth instead
    val wide = 5L + (1L << 32)
    assert(wide.toInt == 5)
    assert(run(wide).count() == 0)
  }

  /** A float vector whose sign against each of `planes` spells `sig` (bit p
    * set ↔ dot ≥ 0): the minimum-norm solution of `planes · v = ±1`.
    */
  private def vectorSpelling(planes: Seq[Seq[Double]], sig: Long): Seq[Float] = {
    val n = planes.size
    val t = Array.tabulate(n)(p => if ((sig >> p & 1L) == 1L) 1.0 else -1.0)
    val a = Array.tabulate(n, n)((i, j) =>
      planes(i).zip(planes(j)).map { case (x, y) => x * y }.sum)
    for (c <- 0 until n) { // Gaussian elimination, partial pivoting
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val (ar, tr) = (a(c), t(c)); a(c) = a(piv); t(c) = t(piv); a(piv) = ar; t(piv) = tr
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c until n) a(r)(j) -= f * a(c)(j)
        t(r) -= f * t(c)
      }
    }
    val y = new Array[Double](n)
    for (r <- n - 1 to 0 by -1)
      y(r) = (t(r) - (r + 1 until n).map(j => a(r)(j) * y(j)).sum) / a(r)(r)
    planes.head.indices.map(d => planes.indices.map(p => y(p) * planes(p)(d)).sum.toFloat)
  }

  test("probeAngularMulti, probeAngularMultiProbe, probeMipsBatch: a signature outside an Int-inferred partition type returns empty, never a wrapped bucket") {
    import spark.implicits._
    // 33 planes put bit 32 in reach; dim 96 makes the 33 LCG planes (and
    // the MIPS construction's first 96 coordinates of its 97-wide planes)
    // linearly independent, so any signature has a vector that spells it
    val (nPlanes, dim, wide) = (33, 96, 5L + (1L << 32))
    assert(wide.toInt == 5)
    val angular = Similarity.hyperplanes(nPlanes, dim)
    val mips = Similarity.hyperplanesFrom(0, nPlanes, dim + 1).map(_.init)
    def queries(planes: Seq[Seq[Double]]) = Seq(5L, wide).map { s =>
      s -> Seq((100L, vectorSpelling(planes, s))).toDF("vec_id", "embedding")
    }
    def sigOf(q: DataFrame, c: org.apache.spark.sql.Column) =
      q.select(c).head.getLong(0)
    // bucket 5 of each layout holds two rows; no stored bucket exceeds Int
    val rows = Seq((1L, Seq.fill(dim)(1.0f)), (2L, Seq.fill(dim)(0.5f)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-annguard").toString
    val single = s"$tmp/single"; val multi = s"$tmp/multi"; val mipsPath = s"$tmp/mips"
    rows.map { case (id, v) => (id, v, 5) }.toDF("vec_id", "embedding", "bucket")
      .write.partitionBy("bucket").parquet(single)
    rows.map { case (id, v) => (id, v, 0, 5) }.toDF("vec_id", "embedding", "t", "bucket")
      .write.partitionBy("t", "bucket").parquet(multi)
    rows.map { case (id, v) => (id, v, 0, 5) }.toDF("vec_id", "embedding", "band", "bucket")
      .write.partitionBy("band", "bucket").parquet(mipsPath)
    Seq(single, multi, mipsPath).foreach(p => assert(
      spark.read.parquet(p).schema("bucket").dataType ==
        org.apache.spark.sql.types.IntegerType))
    val probes: Seq[(String, Seq[Seq[Double]], DataFrame => DataFrame)] = Seq(
      ("probeAngularMulti", angular, q => AnnStore.probeAngularMulti(spark, multi,
        "vec_id", "embedding", q, k = 10, planesPerTable = nPlanes, tables = 1,
        dim = dim)),
      ("probeAngularMultiProbe", angular, q => AnnStore.probeAngularMultiProbe(
        spark, single, "vec_id", "embedding", q, k = 10, nPlanes = nPlanes,
        dim = dim, nFlips = 0)),
      ("probeMipsBatch", mips, q => AnnStore.probeMipsBatch(spark, mipsPath,
        "vec_id", "embedding", q, "vec_id", k = 10, nPlanes = nPlanes,
        dim = dim)))
    probes.foreach { case (name, planes, probe) =>
      queries(planes).foreach { case (sig, q) =>
        // the query really carries the signature under the probe's planes
        val spelled = if (planes eq mips)
          sigOf(q, Similarity.mipsQuerySignature(col("embedding"), nPlanes, dim))
        else sigOf(q, Similarity.lshBucket(col("embedding"), angular))
        assert(spelled == sig, s"$name: query spells $spelled, not $sig")
        val out = probe(q)
        val got = out.select("vec_id").as[Long].collect().sorted.toSeq
        // bucket 5 ranks its two rows; the >31-bit signature reads nothing
        // (a wrapped cast would have ranked bucket 5 instead, and the batch
        // probe, whose join rechecks the bucket, would still have read it)
        assert(got == (if (sig == 5L) Seq(1L, 2L) else Nil), s"$name sig=$sig")
        val scansStore = out.queryExecution.optimizedPlan.collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation])
        assert(scansStore == (sig == 5L), s"$name sig=$sig scans the store: $scansStore")
      }
    }
  }

  test("multi-probe: nFlips=0 ≡ single probe; flips widen candidates, read ≤ 1+nFlips partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/mp"
    AnnStore.writeAngular(emb, "vec_id", "embedding", path, nPlanes = 4, dim = 64)
    val nParts = spark.read.parquet(path).select("bucket").distinct().count()
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    def mp(f: Int) = AnnStore.probeAngularMultiProbe(spark, path, "vec_id",
      "embedding", query, k = 10, nPlanes = 4, dim = 64, nFlips = f,
      excludeId = Some(0L))
    // degenerate form is the plain single-bucket probe, bit for bit
    val single = AnnStore.probeAngular(spark, path, "vec_id", "embedding",
      query, k = 10, nPlanes = 4, dim = 64, excludeId = Some(0L))
    assert(mp(0).collect().toSeq == single.collect().toSeq)
    // flips only ADD candidates: the k-th best cosine never gets worse
    val s1 = single.collect(); val m2 = mp(2).collect()
    assert(m2.length >= s1.length)
    if (s1.nonEmpty && m2.length == s1.length)
      assert(m2.last.getDouble(1) >= s1.last.getDouble(1))
    // equivalent to the in-memory signature-set scan, bit for bit
    val planes = Similarity.hyperplanes(4, 64)
    val row = query.select(
      Similarity.lshBucket(col("embedding"), planes).as("s") +:
        planes.zipWithIndex.map { case (p, i) =>
          graft.functions.VectorFunctions.dot(col("embedding"),
            typedLit(p)).as(s"d$i") }: _*).head
    val flips = (0 until 4).map(i => (math.abs(row.getDouble(i + 1)), i))
      .sortBy(identity).take(2).map(_._2)
    val sigs = row.getLong(0) +: flips.map(j => row.getLong(0) ^ (1L << j))
    val expect = emb
      .withColumn("__b", Similarity.lshBucket(col("embedding"), planes))
      .filter(col("__b").isin(sigs: _*) && col("vec_id") =!= 0L)
      .crossJoin(broadcast(query.select(col("embedding").as("__q"))))
      .select(col("vec_id"), graft.functions.VectorFunctions
        .cosineFast(col("embedding"), col("__q")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10)
    assert(m2.toSeq == expect.collect().toSeq)
    // partition economics: ≤ 1 + nFlips of the full layout
    val read = partitionsRead(mp(2))
    assert(read <= 3L && read < nParts,
      s"multi-probe read $read of $nParts partitions")
  }

  test("IVF store: probe == ivfTopK bit-for-bit, reading ≤ nProbe inverted lists") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/ivf"
    AnnStore.writeIvf(emb, "vec_id", "embedding", path, nClusters = 16)
    val nParts = spark.read.parquet(path).select("cluster").distinct().count()
    assert(nParts > 4, "corpus collapsed into <= nProbe clusters — pruning unprovable")

    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val probe = AnnStore.probeIvf(spark, path, "vec_id", "embedding",
      query, k = 10, nProbe = 4, excludeId = Some(0L))
    val expect = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, nClusters = 16, nProbe = 4)
    assert(probe.collect().toSeq == expect.collect().toSeq)
    val read = partitionsRead(probe)
    assert(read <= 4L && read < nParts,
      s"IVF probe read $read of $nParts inverted lists — pruning failed")
  }

  test("IVF append assigns against the FROZEN centroids, never re-trains") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/ivfa"
    val first = emb.filter(col("vec_id") < 100L)
    AnnStore.writeIvf(first, "vec_id", "embedding", path, nClusters = 8)
    val frozen = AnnStore.readIvfCentroids(spark, path)
    // append a batch the build never saw
    val batch = emb.filter(col("vec_id") >= 100L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    AnnStore.appendIvf(batch, "vec_id", "embedding", path)
    // frozen metadata unchanged by the append
    assert(AnnStore.readIvfCentroids(spark, path).map(_.toSeq).toSeq ==
      frozen.map(_.toSeq).toSeq)
    // every stored row (old and new) sits in the partition the frozen
    // centroids assign — the invariant every probe relies on
    val misplaced = spark.read.parquet(path)
      .withColumn("__expect",
        Similarity.assignCluster(col("embedding"), frozen))
      .filter(col("cluster") =!= col("__expect")).count()
    assert(misplaced == 0L)
    // and a probe over the appended store sees the new rows
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val got = AnnStore.probeIvf(spark, path, "vec_id", "embedding",
      query, k = 200, nProbe = 8).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.exists(_ >= 100000L), "appended rows invisible to the probe")
  }

  test("semDedup store probe == semDedupPruneAgainst bit-for-bit") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/sd"
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    AnnStore.writeIvf(corpus, "vec_id", "embedding", path, nClusters = 16)
    val probe = AnnStore.semDedupProbe(spark, path, batch,
      "vec_id", "embedding", minSim = 0.45)
    val expect = Similarity.semDedupPruneAgainst(corpus, batch,
      "vec_id", "embedding", nClusters = 16, minSim = 0.45)
    def rows(df: DataFrame) = df.collect().sortBy(_.getLong(0)).toSeq
    assert(rows(probe) == rows(expect),
      "store route diverged from the in-memory operator")
  }

  test("semDedup store probe reads only the batch's clusters' partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/sdp"
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    AnnStore.writeIvf(corpus, "vec_id", "embedding", path, nClusters = 16)
    val layout = spark.read.parquet(path).select("cluster").distinct().count()
    assert(layout > 2, "corpus collapsed into too few clusters — pruning unprovable")
    // a small batch touches few clusters; the scan must read exactly those
    val small = emb.filter(col("vec_id").isin(0L, 3L, 6L))
    val centroids = AnnStore.readIvfCentroids(spark, path)
    val touched = small
      .withColumn("__c", Similarity.assignCluster(col("embedding"), centroids))
      .select("__c").distinct().count()
    val probe = AnnStore.semDedupProbe(spark, path, small,
      "vec_id", "embedding", minSim = 0.45)
    val read = partitionsRead(probe)
    assert(read <= touched && read < layout,
      s"semDedup probe read $read partitions of $layout (touched=$touched)")
  }

  test("decontaminationProbe: flags a paraphrased eval item the lexical stage misses, reading only touched partitions") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/decon"
    // corpus doc 1 and eval doc 100 are PARAPHRASES: near-identical
    // embeddings, ZERO shared words — the exact contamination shape the
    // word-5-gram stage (q52's operator) cannot see
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day",
        v(10, 0, 0, 0)),
      (2L, "completely unrelated text about database join strategies here",
        v(0, 10, 0, 0)),
      (3L, "another unrelated document on parquet file layouts and scans",
        v(0, 9.5, 0.5, 0)),
      (4L, "a third unrelated page discussing shuffle partition tuning",
        v(-10, 0.5, 0, 0))
    ).toDF("id", "text", "emb")
    val eval = Seq(
      (100L, "a rapid russet canine vaults across one sleepy old hound tonight",
        v(9.9, 0, 0.5, 0))
    ).toDF("id", "text", "emb")
    // the lexical stage is blind to it
    assert(graft.operators.Decontamination.contaminatedDocs(
      corpus, eval, "id", "text", n = 5).count() == 0L,
      "fixture broken: the paraphrase shares a 5-gram")
    AnnStore.writeIvf(corpus.select("id", "emb"), "id", "emb", path,
      nClusters = 2)
    assert(spark.read.parquet(path).select("cluster").distinct().count() == 2L)
    val flagged = AnnStore.decontaminationProbe(spark, path,
      eval.select("id", "emb"), "id", "emb", minSim = 0.9)
    val rows = flagged.collect()
    assert(rows.length == 1, rows.mkString(", "))
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(2) == 1L &&
      r.getLong(3) == 100L && r.getDouble(4) > 0.99, r.toString)
    // and the probe scan is partition-pruned to the eval's one cluster
    val read = partitionsRead(AnnStore.decontaminationProbe(spark, path,
      eval.select("id", "emb"), "id", "emb", minSim = 0.9))
    assert(read == 1L, s"decontamination probe read $read of 2 partitions")
  }

  test("probe plan carries the bucket as a partition filter, not a data filter") {
    val path = java.nio.file.Files.createTempDirectory("graft-annstore").toString + "/ang2"
    AnnStore.writeAngular(emb, "vec_id", "embedding", path, nPlanes = 4, dim = 64)
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val probe = AnnStore.probeAngular(spark, path, "vec_id", "embedding",
      query, k = 5, nPlanes = 4, dim = 64)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("bucket"), pf)
  }
}
