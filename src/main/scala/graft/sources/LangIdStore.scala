package graft.sources

import graft.operators.LangId
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LANGUAGE-ID PROFILE store — the missing member of the
  * persisted-census family ([[BloomStore]], [[GramStore]], [[LineStore]],
  * [[AnnStore]]): [[LangId.trigramProfiles]] recomputed the per-language
  * trigram census from the whole labeled corpus on every call, but a real
  * pipeline trains once and classifies forever (CCNet ships fastText's
  * frozen model file; here the "model" is the hashed-trigram census, so it
  * persists as a [[TxLog]] table instead).
  *
  * The store keeps RAW per-(lang, bucket) COUNTS, not the normalized
  * per-million profiles: counts are the MERGEABLE sufficient statistic —
  * counts of disjoint labeled corpora sum (exact BIGINT) to the counts of
  * their union, so newly labeled batches append under an exactly-once
  * fence ([[TxLog.appendOnce]], the LineStore pattern) and the profile a
  * probe derives (`sum(cnt)` per key, then `cnt·10⁶ DIV total(lang)`) is
  * BIT-IDENTICAL to retraining [[LangId.trigramProfiles]] on the whole
  * accumulated corpus (integer sums are order-independent; probe
  * bit-identity is spec'd). `buckets` is FROZEN as table state — a census
  * hashed into a different bucket space would score against the wrong
  * slots, the GramStore frozen-minTokens rule.
  *
  * Scale shape: the table is bounded BY CONSTRUCTION at languages ×
  * buckets rows (plus one appended row-set per ingest, compactable) —
  * corpus-size-independent, so every classify broadcast-joins it exactly
  * as the in-memory route does. Ingest cost is one trigram explode over
  * the BATCH only; the accumulated corpus is never re-read.
  */
object LangIdStore {

  private def bucketsOf(spark: SparkSession, path: String): Int =
    StoreState.read(spark, path, "langid")("buckets").toInt

  /** One-time census build from an initial labeled corpus. Pre-existing
    * counts are tagged `first_batch = -1`: earlier than every real batch.
    * `buckets` freezes as table state.
    */
  def create(labeled: DataFrame, langCol: String, textCol: String,
             path: String, buckets: Int = 4096): Unit = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    StoreState.create(LangId.trigramCounts(labeled, langCol, textCol,
      buckets), path, "lang", "langid", Seq("buckets" -> buckets.toString))
  }

  /** Exactly-once incremental refresh: the batch's per-(lang, bucket)
    * counts — hashed into the FROZEN bucket space — land under the
    * (appId, batchVersion) fence; a replayed batch no-ops. Returns the new
    * table version. The accumulated corpus is never re-read: the ingest
    * touches batch rows only.
    */
  def ingestBatch(spark: SparkSession, labeled: DataFrame, langCol: String,
                  textCol: String, path: String, appId: String,
                  batchVersion: Long): Long =
    StoreState.ingest(LangId.trigramCounts(labeled, langCol, textCol,
      bucketsOf(spark, path)), path, "lang", appId, batchVersion)

  /** The frozen profiles the store currently holds: per-batch count rows
    * sum per (lang, bucket) — exact, order-independent — then normalize to
    * integer per-million frequencies. Bit-identical to
    * [[LangId.trigramProfiles]] over the union of every ingested corpus.
    */
  def profiles(spark: SparkSession, path: String): DataFrame =
    LangId.profilesFromCounts(
      TxLog.read(spark, path)
        .groupBy("lang", "bucket").agg(sum(col("cnt")).as("cnt")))

  /** Classify `docs` against the persisted profiles — [[LangId.classify]]
    * with the model side served from the store (its frozen bucket space)
    * instead of retrained. Returns (idCol, predicted_lang, score).
    */
  def classify(spark: SparkSession, path: String, docs: DataFrame,
               idCol: String, textCol: String): DataFrame = {
    val buckets = bucketsOf(spark, path)
    LangId.classify(docs, idCol, textCol, profiles(spark, path), buckets)
  }

  /** CENSUS COMPACTION — the [[StoreState.compact]] rule at profile
    * granularity: sum-merge count rows of batches STRICTLY EARLIER than
    * `upTo` into one row per (lang, bucket) tagged with the max merged
    * `first_batch`, keep later rows as-is. Profiles are unchanged (integer
    * sums re-associate freely); the `@txn:` watermarks ride through the
    * overwrite so replays still no-op. Caller contract: `upTo` at most the
    * ingest watermark. Returns the new table version.
    */
  def compactCounts(spark: SparkSession, path: String, upTo: Long): Long =
    StoreState.compact(spark, path, "langid", Seq("lang", "bucket"), "cnt",
      "lang", upTo)
}
