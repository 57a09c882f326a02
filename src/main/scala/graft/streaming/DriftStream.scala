package graft.streaming

import graft.sources.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest with a built-in DATA-DRIFT monitor — the continuous
  * twin of [[graft.operators.Expectations.snapshotDrift]]: every
  * micro-batch lands as one exactly-once [[TxLog]] commit, and the
  * per-column profile delta it causes is appended to a monitor table in
  * the SAME pass, tagged with the data version it audited. The monitor
  * table is itself a TxLog table, so the audit trail has the same
  * time-travel/atomicity guarantees as the data — "what did the profile
  * look like when version 7 landed" is one `versionAsOf`-free read of the
  * monitor rows tagged `data_version = 7`.
  *
  * The profile is INCREMENTALLY MAINTAINED — the data table is never
  * rescanned. The previous audit's `*_after` columns ARE the before-side
  * profile (count/nulls/min/max are mergeable partials; the batch
  * contributes one O(batch) aggregate), and exact distinct counts come
  * from a persisted seen-values side table: the batch's distinct
  * (column, value) pairs anti-join the values already seen, the fresh
  * ones land tagged with the data version that introduced them, and
  * `ndv_after = ndv_before + |fresh|`. Per-batch cost is O(batch) work
  * against the data plus one scan of the STATE (the seen-value set —
  * profile-sized, two narrow columns, never the data's width or, for
  * non-key columns, its cardinality); contrast the naive monitor's two
  * full snapshot scans per micro-batch, which at 100 TB is the difference
  * between an audit and a second copy of the pipeline. The incremental
  * profile equals the full-rescan [[graft.operators.Expectations
  * .snapshotDrift]] bit-for-bit as long as this stream is the table's
  * sole writer (the usual ingest contract; spec'd).
  *
  * KEY-LIKE COLUMNS: exact NDV state is cardinality-sized — for a
  * unique-id column the seen-values table IS the corpus. `kmvCols` opts
  * such columns into a KMV sketch (Beyer et al. 2007, the estimator
  * behind [[graft.operators.Sketches.kmvDistinct]]): the state keeps only
  * hashes that were ever among the k smallest for the column — a batch
  * hash enters the log only if it beats the current k-th smallest, so
  * state size is O(k·ln(ndv/k)) ≈ O(k) regardless of cardinality (spec'd)
  * — and `ndv_after` becomes the KMV estimate `(k−1)·2²⁸ ⁄ h_k` (exact
  * below k values), bit-equal to running `kmvDistinct` over everything
  * ingested so far. Same append-only fences, same replay story; exact
  * columns in the same table are untouched by the choice (spec'd
  * bit-for-bit).
  *
  * Replays and crash windows: all three commits (data, seen-values,
  * monitor) are fenced by the same (appId, batchVersion) transaction
  * identity, and a re-delivered batch re-attempts ALL of them — each
  * fence makes an already-landed commit a no-op, and one that crashed
  * before landing is recomputed against the data version the batch
  * actually committed (looked up from the txn entry in the log, not
  * inferred from "did the version advance"). The audit trail can
  * therefore neither miss a landed batch — even when the process died
  * between the data commit and the monitor commit — nor duplicate
  * (spec'd both ways).
  */
object DriftStream {

  private def seenPath(monitorPath: String): String = monitorPath + "__seen"

  /** The data version at which (appId, batchVersion) committed: binary
    * search over snapshots for the first version whose txn entry covers
    * the batch (txn watermarks are monotone over versions). Consulted
    * only on replay — log-of-history manifest reads, no data touched.
    */
  private def committedDataVersion(spark: SparkSession, path: String,
                                   appId: String,
                                   batchVersion: Long): Long = {
    def landed(ver: Long): Boolean = TxLog.snapshot(spark, path, ver)
      .txnVersions.get(appId).exists(_ >= batchVersion)
    var lo = 0L
    var hi = TxLog.currentVersion(spark, path)
    require(hi >= 0 && landed(hi),
      s"txn ($appId, $batchVersion) not found in $path")
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (landed(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Batch body (same code path streaming and batch, like
    * [[AnnIngest.ingestBatch]]): commit the batch exactly-once, then
    * bring the seen-values state and the monitor audit up to date for the
    * version the batch committed — unconditionally, so a crash between
    * any two commits is healed by the replay (each append is fenced).
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, dataPath: String,
                  monitorPath: String, partitionCol: String,
                  cols: Seq[String], appId: String,
                  batchVersion: Long,
                  kmvCols: Map[String, Int] = Map.empty): Unit = {
    require(cols.nonEmpty, "drift monitor needs at least one column")
    require(kmvCols.keySet.subsetOf(cols.toSet),
      s"kmvCols ${kmvCols.keySet} must be monitored columns $cols")
    require(kmvCols.values.forall(_ >= 2), "KMV needs k >= 2")
    val preVersion = TxLog.currentVersion(spark, dataPath)
    val v0 = TxLog.appendOnce(batch, dataPath, appId, batchVersion,
      partitionCol = Some(partitionCol))
    // replay: resolve the version this batch ACTUALLY landed at — never
    // return early, the state/monitor commits below may still be missing
    val v = if (v0 > preVersion) v0
            else committedDataVersion(spark, dataPath, appId, batchVersion)
    val state = seenPath(monitorPath)
    if (TxLog.txnVersion(spark, state, appId + "#seen") >= batchVersion &&
        TxLog.txnVersion(spark, monitorPath, appId + "#monitor") >= batchVersion)
      return // common restart replay: everything already landed

    // one O(batch) pass: mergeable profile partials per column (the exact
    // shape of [[Expectations.profile]] minus the distinct count)
    val exploded = batch.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*))
        .as("__x"))
      .select(col("__x.col_name").as("col_name"), col("__x.v").as("v"))
    val bAgg = exploded.groupBy("col_name").agg(
      count(lit(1)).as("__bn"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("__bnulls"),
      min(col("v")).as("__bmin"), max(col("v")).as("__bmax"))

    // exact ndv via the seen-values set: fresh pairs are the batch's
    // distincts anti-joined against state, tagged with the version that
    // introduced them — so the count of "fresh at v" is idempotent under
    // replay (re-reading the tag beats re-running the anti-join, which
    // would see its own prior commit and report zero)
    val exactCols = cols.filterNot(kmvCols.contains)
    val sketchCols = cols.filter(kmvCols.contains)
    val kdf = {
      import spark.implicits._
      broadcast(kmvCols.toSeq.toDF("col_name", "__k"))
    }
    val bDistinct = exploded.filter(col("v").isNotNull)
      .filter(col("col_name").isin(exactCols: _*))
      .select(col("col_name"), col("v")).distinct()
    val existing =
      if (TxLog.currentVersion(spark, state) < 0)
        spark.range(0).select(lit(null).cast("string").as("col_name"),
          lit(null).cast("double").as("v"))
      else TxLog.read(spark, state).select(col("col_name"), col("v"))
    val exactFresh = bDistinct.join(existing, Seq("col_name", "v"), "left_anti")
    // KMV columns: the state stores the 28-bit value HASH (cast to the
    // same double-typed `v` slot), and a batch hash enters the log only
    // if unseen AND below the column's current k-th smallest — everything
    // else can never influence the estimate, so the log stays O(k·ln ndv)
    val fresh = if (sketchCols.isEmpty) {
      exactFresh.withColumn("first_version", lit(v))
    } else {
      import org.apache.spark.sql.expressions.Window
      val bSketch = exploded.filter(col("v").isNotNull)
        .filter(col("col_name").isin(sketchCols: _*))
        .select(col("col_name"),
          graft.operators.Curation.hash28(col("v")).cast("double").as("v"))
        .distinct()
      val thr = existing
        .filter(col("col_name").isin(sketchCols: _*))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("col_name").orderBy("v")))
        .join(kdf, "col_name")
        .filter(col("__rn") === col("__k"))
        .select(col("col_name"), col("v").as("__thr"))
      // two bounds keep the log O(k)-ish: (a) below the column's current
      // k-th smallest (else it can never affect the estimate), and (b) at
      // most the k smallest of the batch itself (the first batch has no
      // threshold yet — without this cap it would log its whole hash set)
      val cand = bSketch
        .join(existing, Seq("col_name", "v"), "left_anti")
        .join(thr, Seq("col_name"), "left")
        .filter(col("__thr").isNull || col("v") < col("__thr"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("col_name").orderBy("v")))
        .join(kdf, "col_name")
        .filter(col("__rn") <= col("__k"))
        .select(col("col_name"), col("v"))
      exactFresh.unionByName(cand).withColumn("first_version", lit(v))
    }
    TxLog.appendOnce(fresh, state, appId + "#seen", batchVersion,
      partitionCol = Some("first_version"))
    val freshAtV = TxLog.readKey(spark, state, "first_version", v)
    val ndvNew =
      if (!freshAtV.columns.contains("col_name")) // no fresh values at v
        spark.range(0).select(lit(null).cast("string").as("col_name"),
          lit(null).cast("long").as("__ndvnew"))
      else freshAtV.groupBy("col_name").agg(count(lit(1)).as("__ndvnew"))

    // KMV estimate from the state's k smallest hashes per sketch column —
    // the [[graft.operators.Sketches.kmvDistinct]] formula: exact count
    // below k values, (k−1)·2²⁸ ⁄ h_k once the k-th smallest exists.
    // Computed from state as of THIS batch (replay-safe: the stream is
    // sequential, so at replay the state holds exactly batches ≤ this one).
    val ndvSketch = if (sketchCols.isEmpty) {
      spark.range(0).select(lit(null).cast("string").as("col_name"),
        lit(null).cast("long").as("__ndvest"))
    } else {
      import org.apache.spark.sql.expressions.Window
      TxLog.read(spark, state)
        .filter(col("col_name").isin(sketchCols: _*))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("col_name").orderBy("v")))
        .join(kdf, "col_name")
        .filter(col("__rn") <= col("__k"))
        .groupBy("col_name", "__k")
        .agg(count(lit(1)).as("__m"), max(col("v")).as("__hk"))
        .select(col("col_name"),
          when(col("__m") < col("__k"), col("__m").cast("double"))
            .otherwise((col("__k") - 1).cast("double") *
              lit(graft.operators.Curation.HashSpace.toDouble) / col("__hk"))
            .cast("long").as("__ndvest"))
    }

    // before-side profile: the previous audit's after-side (the monitor
    // IS the profile state), read partition-pruned from an audit-sized
    // table — the data table itself is never read
    val prevAudited: Option[Long] =
      if (TxLog.currentVersion(spark, monitorPath) < 0) None
      else {
        val r = TxLog.read(spark, monitorPath)
          .filter(col("data_version") < v)
          .agg(max("data_version")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val before = prevAudited match {
      case Some(pv) => TxLog.readKey(spark, monitorPath, "data_version", pv)
        .select(col("col_name"),
          col("n_after").as("n_before"),
          col("nulls_after").as("nulls_before"),
          col("ndv_after").as("ndv_before"),
          col("min_after").as("min_before"),
          col("max_after").as("max_before"))
      case None => spark.range(0).select(
        lit(null).cast("string").as("col_name"),
        lit(null).cast("long").as("n_before"),
        lit(null).cast("long").as("nulls_before"),
        lit(null).cast("long").as("ndv_before"),
        lit(null).cast("double").as("min_before"),
        lit(null).cast("double").as("max_before"))
    }

    // merge partials — exactly [[Expectations.snapshotDrift]]'s schema and
    // NULL semantics (first audit has no before side: NULL deltas, like
    // the full_outer join of a profile against an empty frame)
    val drift = before
      .join(bAgg, Seq("col_name"), "full_outer")
      .join(ndvNew, Seq("col_name"), "left")
      .join(ndvSketch, Seq("col_name"), "left")
      .select(col("col_name"),
        col("n_before"), col("nulls_before"), col("ndv_before"),
        col("min_before"), col("max_before"),
        (coalesce(col("n_before"), lit(0L)) +
          coalesce(col("__bn"), lit(0L))).as("n_after"),
        (coalesce(col("nulls_before"), lit(0L)) +
          coalesce(col("__bnulls"), lit(0L))).as("nulls_after"),
        // a sketch column reports the KMV estimate; exact columns the
        // running exact count — per-column, never mixed
        coalesce(col("__ndvest"),
          coalesce(col("ndv_before"), lit(0L)) +
            coalesce(col("__ndvnew"), lit(0L))).as("ndv_after"),
        least(col("min_before"), col("__bmin")).as("min_after"),
        greatest(col("max_before"), col("__bmax")).as("max_after"))
      .withColumn("row_delta", col("n_after") - col("n_before"))
      .withColumn("range_expanded",
        col("min_after") < col("min_before") ||
          col("max_after") > col("max_before"))
      .withColumn("data_version", lit(v))
    TxLog.appendOnce(drift, monitorPath, appId + "#monitor", batchVersion,
      partitionCol = Some("data_version"))
  }

  /** The stream: micro-batches drain into `dataPath` with the drift audit
    * riding along into `monitorPath`.
    */
  def monitoredIngest(stream: DataFrame, dataPath: String,
                      monitorPath: String, checkpoint: String,
                      partitionCol: String, cols: Seq[String],
                      appId: Option[String] = None,
                      kmvCols: Map[String, Int] = Map.empty): StreamingQuery = {
    val id = appId.getOrElse(AvailableNow.appId("drift", dataPath))
    AvailableNow.start(stream, checkpoint) { (batch, batchId) =>
      ingestBatch(batch.sparkSession, batch, dataPath, monitorPath,
        partitionCol, cols, id, batchId, kmvCols)
    }
  }
}
