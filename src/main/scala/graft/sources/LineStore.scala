package graft.sources

import graft.operators.TextDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LINE-CENSUS store for CCNet line/paragraph dedup — the
  * [[GramStore]] pattern at unit granularity, making
  * [[TextDedup.dropDuplicatedLinesAgainst]]'s deployment story real: at
  * corpus scale the "existing" side must not be re-exploded per batch, so
  * the census of normalized-unit md5s lives as a [[TxLog]] table that
  * incoming batches equi-join by line hash. Unlike the gram census
  * (presence-only: any recurrence of a ≥minTokens gram is a duplicate),
  * the line census is COUNTED — the drop rule is `existing count +
  * within-batch count ≥ minCount` — so the store keeps one
  * (h, cnt, first_batch) row PER BATCH per hash and the probe aggregates
  * `sum(cnt)` per hash: counts stay append-only (no read-modify-write
  * commit races), and the per-hash row count is bounded by the number of
  * batches that saw the hash. The corpus TEXT never reshuffles after its
  * one explode pass; `unitPattern` (line vs paragraph granularity) and
  * `minCount` are frozen as table state — a probe with a different split
  * would miss the census keys, the [[GramStore]] frozen-minTokens rule.
  *
  * Exactly-once streaming ingest: each batch is cleaned against the
  * census rows of STRICTLY EARLIER batches (`first_batch < batchVersion`,
  * a pushed predicate), then the batch's own per-hash counts land tagged
  * `first_batch = batchVersion` under an (appId, batchVersion) fence. A
  * replayed batch sees exactly the census its first delivery saw — its
  * own landed counts are excluded by the tag — and returns byte-identical
  * cleaned rows while the store append no-ops (spec'd).
  */
object LineStore {

  private[graft] def readMeta(spark: SparkSession, path: String) =
    StoreState.read(spark, path, "line")

  private[graft] def unitPatternOf(spark: SparkSession, path: String) =
    readMeta(spark, path)("unitPattern")

  /** Per-hash occurrence counts of the non-blank normalized units of
    * `docs` — the append-only census delta one corpus slice contributes.
    */
  private def censusOf(docs: DataFrame, idCol: String, textCol: String,
                       unitPattern: String): DataFrame =
    TextDedup.unitRows(docs, idCol, textCol, unitPattern)
      .filter(trim(col("line")) =!= "")
      .groupBy("h").agg(count(lit(1)).as("cnt"))

  /** One-time census build from the existing corpus. Pre-existing counts
    * are tagged `first_batch = -1`: earlier than every real batch, so
    * every ingest sees them.
    */
  def create(docs: DataFrame, idCol: String, textCol: String, path: String,
             minCount: Int = 2, unitPattern: String = "\n",
             nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    StoreState.create(
      StoreState.bucketed(censusOf(docs, idCol, textCol, unitPattern),
        nBuckets), path, "bucket", "line", Seq(
        "minCount" -> minCount.toString, "unitPattern" -> unitPattern,
        "nBuckets" -> nBuckets.toString))
  }

  /** Read-only probe: `batch` cleaned against (census ∪ batch) —
    * [[TextDedup.dropDuplicatedLinesAgainst]] with the existing side
    * served from the store instead of re-exploded.
    * Returns (id, n_lines, n_kept, clean_text) for batch docs.
    */
  def probeClean(spark: SparkSession, path: String, batch: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val meta = readMeta(spark, path)
    cleanAgainst(batch, idCol, textCol, meta("minCount").toInt,
      meta("unitPattern"), TxLog.read(spark, path))
  }

  private def cleanAgainst(batch: DataFrame, idCol: String, textCol: String,
                           minCount: Int, unitPattern: String,
                           censusRows: DataFrame): DataFrame = {
    // per-batch count rows sum to the corpus-wide count per hash
    val census = censusRows.groupBy("h").agg(sum(col("cnt")).as("cnt"))
    TextDedup.cleanAgainstCensus(
      TextDedup.unitRows(batch, idCol, textCol, unitPattern),
      census, minCount)
  }

  /** Exactly-once batch ingest: the batch cleaned against the
    * strictly-earlier census, its own per-hash counts appended under the
    * (appId, batchVersion) fence. The cleaned frame is LAZY — materialize
    * (or sink) it after this call returns; it reads only
    * `first_batch < batchVersion` rows, so the just-landed append cannot
    * leak into its own audit, replayed or not.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, path: String, appId: String,
                  batchVersion: Long): DataFrame = {
    val meta = readMeta(spark, path)
    val unitPattern = meta("unitPattern")
    StoreState.ingest(
      StoreState.bucketed(censusOf(batch, idCol, textCol, unitPattern),
        meta("nBuckets").toInt), path, "bucket", appId, batchVersion)
    cleanAgainst(batch, idCol, textCol, meta("minCount").toInt, unitPattern,
      TxLog.read(spark, path).filter(col("first_batch") < batchVersion))
  }

  /** CENSUS COMPACTION — [[StoreState.compact]] per hash: sum-merge the
    * counted rows of batches STRICTLY EARLIER than `upTo` (a hot
    * boilerplate hash gains a row per ingest) into one row per hash, keep
    * later rows as-is; probes stay bit-identical (spec'd) and bucket
    * partitioning is preserved so probes keep their pruning. Caller
    * contract: `upTo` at most the ingest watermark — run every K-th
    * ingest, the [[TxLog]] checkpoint cadence. Returns the new table
    * version. Scale shape: one census-sized hash-aggregate (the census is
    * distinct-lines-sized, not corpus-sized).
    */
  def compactCensus(spark: SparkSession, path: String, upTo: Long): Long =
    StoreState.compact(spark, path, "line", Seq("h"), "cnt", "bucket", upTo)
}
