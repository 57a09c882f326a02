package graft.sources

import graft.operators.Evaluation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-(group, score) COUNT census for split-conformal
  * calibration — the store-family member for
  * [[Evaluation.conformalThreshold]] ([[PreferenceStore]] /
  * [[LangIdStore]] pattern; round-12 verdict item 4): a quality gate
  * calibrates "accept iff score ≤ q̂" on held-out nonconformity scores and
  * re-reads q̂ after every labeling/scoring wave — recalibrating over every
  * raw score ever collected is corpus-sized work for a statistic that
  * depends on the data only through the per-(group, score) counts.
  *
  * Those counts are the MERGEABLE sufficient statistic of the rank-k
  * threshold (q̂ is the first distinct score whose cumulative count reaches
  * k), so disjoint score batches sum — exact BIGINT — to the census of
  * their union, new batches land under an exactly-once fence
  * ([[TxLog.appendOnce]]), and the threshold a probe derives is
  * BIT-IDENTICAL to recalibrating on the accumulated raw scores (spec'd).
  * Ingest cost is one keyed aggregate over the BATCH only; history is
  * never re-read.
  *
  * Scale shape: the table is bounded by groups × DISTINCT SCORE VALUES —
  * the [[graft.operators.Evaluation.rocAuc]] distinct-value-census
  * contract: scores are integer token counts, quantized losses, or
  * micro-unit quality scores, never raw unquantized floats (quantize
  * first; every library operator's micro-integer convention). Group is
  * cast to string at ingest — the partition-column contract.
  */
object ConformalStore {

  private def censusOf(scores: DataFrame, groupCol: String,
                       scoreCol: String): DataFrame =
    // NULL scores carry no rank information and are excluded exactly as
    // the batch operator excludes them, so the stored census stays the
    // census the raw-union recalibration would build
    scores.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"),
        col(scoreCol).as("score"))
      .agg(count(lit(1)).as("n"))

  /** One-time census build from an initial calibration set. Pre-existing
    * counts are tagged `first_batch = -1`: earlier than every real batch.
    */
  def create(scores: DataFrame, groupCol: String, scoreCol: String,
             path: String): Unit =
    StoreState.create(censusOf(scores, groupCol, scoreCol), path, "grp",
      "conformal")

  /** Exactly-once incremental refresh: the batch's score census lands
    * under the (appId, batchVersion) fence; a replayed batch no-ops.
    * Returns the new table version. History is never re-read.
    */
  def ingestBatch(spark: SparkSession, scores: DataFrame, groupCol: String,
                  scoreCol: String, path: String, appId: String,
                  batchVersion: Long): Long = {
    StoreState.read(spark, path, "conformal") // fails on a non-store path
    StoreState.ingest(censusOf(scores, groupCol, scoreCol), path, "grp",
      appId, batchVersion)
  }

  /** The accumulated census: per-batch rows sum per (grp, score) —
    * exact, order-independent.
    */
  def census(spark: SparkSession, path: String): DataFrame = {
    StoreState.read(spark, path, "conformal") // fails on a non-store path
    TxLog.read(spark, path)
      .groupBy("grp", "score").agg(sum(col("n")).as("n"))
  }

  /** The split-conformal threshold from the persisted census —
    * bit-identical to [[Evaluation.conformalThreshold]] over the union of
    * every ingested score (counts merge exactly; the rank walk sees the
    * same integers). Returns `(grp, n, k, qhat)`.
    */
  def threshold(spark: SparkSession, path: String,
                alphaMicro: Long = 100000L): DataFrame =
    Evaluation.conformalThresholdFromCensus(census(spark, path),
      "grp", "score", "n", alphaMicro)

  /** CENSUS COMPACTION — the [[StoreState.compact]] rule:
    * sum-merge rows of batches STRICTLY EARLIER than `upTo` into one row
    * per (grp, score) tagged with the max merged `first_batch`, keep later
    * rows as-is. Thresholds are unchanged (integer sums re-associate); the
    * `@txn:` watermarks ride through the overwrite so replays still no-op.
    * Caller contract: `upTo` at most the ingest watermark. Returns the new
    * table version.
    */
  def compactCensus(spark: SparkSession, path: String, upTo: Long): Long =
    StoreState.compact(spark, path, "conformal", Seq("grp", "score"), "n",
      "grp", upTo)
}
