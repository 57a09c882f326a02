package graft.sources

import graft.operators.Preference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted PAIRWISE-PREFERENCE census — the store-family member for
  * [[Preference.bradleyTerry]] ([[BloomStore]] / [[GramStore]] /
  * [[LineStore]] / [[AnnStore]] / [[LangIdStore]] pattern): an RLHF /
  * arena deployment accumulates preference comparisons continuously and
  * re-reads the leaderboard after every labeling wave — refitting over
  * every raw comparison ever collected is corpus-sized work for an
  * items²-bounded statistic.
  *
  * The store keeps the DIRECTED (winner, loser, n) census: counts are the
  * MERGEABLE sufficient statistic of the Bradley–Terry likelihood (it
  * depends on the data only through per-pair win counts), so disjoint
  * comparison batches sum — exact BIGINT — to the census of their union,
  * new batches land under an exactly-once fence ([[TxLog.appendOnce]]),
  * and the ratings a probe derives are BIT-IDENTICAL to re-fitting on the
  * accumulated raw comparisons (probe bit-identity is spec'd). Ingest cost
  * is one keyed aggregate over the BATCH only; the accumulated history is
  * never re-read.
  *
  * Scale shape: the table is items²-bounded by construction (plus one
  * appended row-set per ingest, compactable by [[compactCensus]]) —
  * corpus-size-independent, the [[Preference]] bounded-items contract
  * made durable.
  */
object PreferenceStore {

  private def censusOf(comparisons: DataFrame, winnerCol: String,
                       loserCol: String): DataFrame =
    // NULL winner/loser rows carry no pairwise information — excluded at
    // ingest (the [[Preference]] fit excludes them too, so the stored
    // census stays exactly the census the raw-union refit would build)
    comparisons
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull)
      .groupBy(col(winnerCol).cast("string").as("winner"),
        col(loserCol).cast("string").as("loser"))
      .agg(count(lit(1)).as("n"))

  /** One-time census build from an initial comparison log. Pre-existing
    * counts are tagged `first_batch = -1`: earlier than every real batch.
    */
  def create(comparisons: DataFrame, winnerCol: String, loserCol: String,
             path: String): Unit =
    StoreState.create(censusOf(comparisons, winnerCol, loserCol), path,
      "winner", "preference")

  /** Exactly-once incremental refresh: the batch's directed census lands
    * under the (appId, batchVersion) fence; a replayed batch no-ops.
    * Returns the new table version. History is never re-read.
    */
  def ingestBatch(spark: SparkSession, comparisons: DataFrame,
                  winnerCol: String, loserCol: String, path: String,
                  appId: String, batchVersion: Long): Long = {
    StoreState.read(spark, path, "preference") // fails on a non-store path
    StoreState.ingest(censusOf(comparisons, winnerCol, loserCol), path,
      "winner", appId, batchVersion)
  }

  /** The accumulated directed census: per-batch rows sum per
    * (winner, loser) — exact, order-independent.
    */
  def census(spark: SparkSession, path: String): DataFrame = {
    StoreState.read(spark, path, "preference") // fails on a non-store path
    TxLog.read(spark, path)
      .groupBy("winner", "loser").agg(sum(col("n")).as("n"))
  }

  /** Bradley–Terry ratings from the persisted census — bit-identical to
    * [[Preference.bradleyTerry]] over the union of every ingested
    * comparison (counts merge exactly; the MM fit sees the same integers).
    */
  def ratings(spark: SparkSession, path: String, iters: Int = 10,
              maxItems: Int = 1000): DataFrame =
    Preference.bradleyTerryFromCensus(census(spark, path),
      "winner", "loser", "n", iters, maxItems)

  /** CENSUS COMPACTION — the [[StoreState.compact]] rule: sum-merge
    * rows of batches STRICTLY EARLIER than `upTo` into one row per
    * (winner, loser) tagged with the max merged `first_batch`, keep later
    * rows as-is. Ratings are unchanged (integer sums re-associate); the
    * `@txn:` watermarks ride through the overwrite so replays still no-op.
    * Caller contract: `upTo` at most the ingest watermark. Returns the new
    * table version.
    */
  def compactCensus(spark: SparkSession, path: String, upTo: Long): Long =
    StoreState.compact(spark, path, "preference", Seq("winner", "loser"),
      "n", "winner", upTo)
}
