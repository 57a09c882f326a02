package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-write-wins / latest-record dedup — the reference's W1/W2 pattern
  * (`/root/reference/dbt/models/staging/stg_openf1_laps_realtime.sql:5-25`,
  * `dbt/models/intermediate/int_openf1_laps_all.sql:55-63,87`):
  * `row_number() over (partition by keys order by …) = 1`.
  *
  * Snowflake's `ORDER BY x DESC` defaults to NULLS FIRST while Spark's
  * `desc` is NULLS LAST — callers replicating reference semantics over
  * nullable order columns must pass `desc_nulls_first` columns (SURVEY §2.6).
  */
object Dedup {

  /** Reference-faithful formulation: one shuffle + full sort per partition,
    * then keep the first row of each key group.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Scale path: the same answer as [[latestPerKey]] via a single hash
    * aggregate — `max_by(struct(all columns), struct(order columns))` gets a
    * map-side partial combine, so the shuffle carries one row per key instead
    * of every duplicate. Use when the ordering columns are non-null and the
    * desired winner is the MAX of the (lexicographic) order tuple; at 100 TB
    * this beats the sort-window by the dedup ratio.
    */
  def latestPerKeyAgg(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val ord = struct(orderCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__best"))
      .select(df.columns.map(n => col(s"__best.$n").as(n)).toIndexedSeq: _*)
  }

  /** Exact duplicate removal over a column subset (extension scope). */
  def exactDedup(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Bloom-filter-accelerated anti-join (extension scope; the scale form of
    * J3's idempotent-append / S7 read-back check): same rows as
    * `batch.join(corpus, key, "left_anti")`, but rows whose key CANNOT be in
    * the corpus — the overwhelming majority of a mostly-new batch — are
    * admitted by a codegen'd bloom probe without ever reaching the join.
    * Only bloom-positive candidates (true dups + the fpp sliver) pay the
    * shuffle, so the anti-join's exchange carries O(dups + fpp·batch) rows
    * instead of O(batch). No false negatives ⇒ the result is EXACT: the
    * final `left_anti` re-checks every candidate.
    *
    * Both sides are probed through `xxhash64(key)` so any key type works and
    * the filter stays inside whole-stage codegen (Spark's own
    * `BloomFilterMightContain` — the expression its runtime row-filter
    * injection uses). The filter costs one corpus scan to build and
    * `≈1.2·expectedItems` bytes at fpp 1% on the driver/plan — for a 10⁹-key
    * corpus that is ~1.2 GB, so at that scale build it once, persist it next
    * to the corpus, and re-use it across batches (the build is the only
    * corpus-sized cost; probing is per-batch).
    */
  def bloomAntiJoin(batch: DataFrame, corpus: DataFrame, key: String,
                    expectedItems: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame =
    bloomAntiJoinWith(batch, corpus, key,
      graft.sources.BloomStore.build(corpus, key, expectedItems, fpp))

  /** [[bloomAntiJoin]] with a PREBUILT filter — the per-batch shape when the
    * corpus-sized build cost is amortized through
    * [[graft.sources.BloomStore.ensureCurrent]] (persisted beside the corpus,
    * delta-maintained from the transaction log's manifest diff). The filter
    * must cover every live corpus key (a missing key admits a duplicate);
    * extra/stale keys only send more candidates through the exact re-check.
    */
  def bloomAntiJoinWith(batch: DataFrame, corpus: DataFrame, key: String,
                        bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val buf = new java.io.ByteArrayOutputStream()
    bloom.writeTo(buf)
    val might = GraftColumnBridge.column(BloomFilterMightContain(
      Literal(buf.toByteArray, BinaryType),
      GraftColumnBridge.expression(xxhash64(col(key)))))
    val fresh = batch.filter(!might)
    val candidates = batch.filter(might)
    fresh.unionByName(
      candidates.join(corpus.select(col(key)).distinct(), Seq(key), "left_anti"))
  }

  /** Distributed connected components over an undirected edge list —
    * (node, component) where component = the minimum node id in the node's
    * component. This is what turns near-dup PAIRS (MinHash-LSH output) into
    * dedup CLUSTERS: corpus dedup in the literature keeps one representative
    * per component, not per pair (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", §4.1 builds clusters from MinHash
    * matches the same way).
    *
    * Algorithm: HashMin label propagation. Every node starts labeled with its
    * own id; each round every node takes the min of its own and its
    * neighbors' labels (one shuffle: neighbor-label propagate + groupBy-min,
    * map-side combined). Rounds = component diameter. Near-dup graphs are
    * dense small clusters — diameter is tiny (a chain longer than a handful
    * of hops means the corpus has a sliding near-dup family, rare in
    * practice) — so HashMin beats the O(log d) alternating small-star /
    * large-star scheme (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") by skipping its per-round edge rewrites; swap
    * that in if component diameters grow adversarial.
    *
    * Scale notes: labels are checkpointed each round
    * ([[Checkpoints.state]]) — without lineage truncation the plan doubles
    * per iteration and analysis cost explodes long before data cost
    * matters — and each round's checkpoint is RELEASED once the next
    * round's is materialized ([[Checkpoints.iterate]]): the loop holds
    * exactly one label frame in the block manager, not one per round, and
    * none after it returns or throws. Convergence is detected by the label
    * SUM: labels only ever decrease, so an unchanged sum means a fixpoint —
    * the sum is observed by each round's checkpointing job itself, so the
    * convergence test costs no job and no change-count join. Isolated
    * nodes never reach the edge list; callers left-join and coalesce to
    * the node's own id.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 50): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    // symmetrize with ONE in-row explode, not a self-union: the union's
    // two legs each re-evaluated the edge pipeline (for the LSH-pair
    // callers that is the whole shingle+minhash+verify chain) at
    // materialization — the melt emits the identical (a,b)+(b,a) multiset
    // from a single evaluation. Eager checkpoint, not persist: the loop
    // re-reads this frame every round, and a checkpoint's blocks are
    // released the moment the converged labels ship.
    val symCp = Checkpoints.state(edges
      .select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"))
      .select(explode(array(
        struct(col("__s").as("__a"), col("__d").as("__b")),
        struct(col("__d").as("__a"), col("__s").as("__b")))).as("__e"))
      .select(col("__e.__a").as("__a"), col("__e.__b").as("__b")))
    // SIZE-DERIVED loop width ([[Checkpoints.sized]]): near-dup edge lists
    // are usually far smaller than the session's shuffle width, and every
    // round's join + label checkpoint was scheduling 32-task stages over a
    // few thousand rows (measured on q181: ~15 jobs of 200-500 ms each,
    // almost all scheduling). The label frames are coalesced to the same
    // width (node-sized ≤ edge-sized).
    val sym = Checkpoints.sized(symCp.df, symCp.rows)
    val nW = sym.rdd.getNumPartitions
    val labelSum = coalesce(sum("component"), lit(0L)).as("__sum")
    Checkpoints.iterate(Checkpoints.state(sym.select(col("__a").as("node"))
        .distinct().withColumn("component", col("node")).coalesce(nW), labelSum),
      maxIters, held = Seq(symCp.df), observed = Seq(labelSum),
      step = (labels, _) =>
        sym.join(labels.df.withColumnRenamed("node", "__b"), "__b")
          .select(col("__a").as("node"), col("component"))
          .union(labels.df)
          .groupBy("node").agg(min("component").as("component"))
          .coalesce(nW), // folds into the reduce stage — narrow, no extra pass
      done = (prev, next, r) => {
        val fixed = next.observed.getLong(0) == prev.observed.getLong(0)
        require(fixed || r < maxIters,
          s"connectedComponents did not converge in $maxIters rounds")
        fixed
      })._1
  }

  /** Soft dedup: instead of DROPPING near-duplicates, weight each row by the
    * inverse of its duplicate-cluster size (`weight = 1 / cluster_size`) so
    * a document duplicated n times contributes ONE document's worth of
    * training loss however the corpus was scraped — the down-weighting
    * alternative every large-corpus pipeline wants next to hard dedup
    * (information is kept; over-representation is not). Cost: one
    * map-side-combined count per cluster plus one join back on the cluster
    * key — the join reuses the hash partitioning the count just created,
    * and AQE broadcasts the size side when the cluster count is small.
    */
  def clusterWeights(df: DataFrame, clusterCol: String): DataFrame = {
    val sizes = df.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"))
    df.join(sizes, Seq(clusterCol))
      .withColumn("weight", lit(1.0) / col("cluster_size"))
  }
}
