package graft.sources

import graft.operators.TextDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted GRAM-CENSUS store for exact-substring dedup — the structure
  * that makes [[TextDedup.exactSubstringSpansAgainst]]'s deployment story
  * real: at corpus scale the "existing" side must not be re-fingerprinted
  * per batch, so the census of distinct `minTokens`-gram md5s lives as a
  * [[TxLog]] table (32-hex-char md5 fingerprints — a few % of the text bytes at 50-token grams — hash-bucketed partitions) that
  * incoming batches equi-join by gram key. The corpus TEXT never
  * reshuffles after its one fingerprint pass; per batch the store
  * contributes a term-keyed scan of the CENSUS (fingerprint-sized, ~1-2%
  * of the text bytes at 50-token grams), the batch side is O(batch
  * tokens).
  *
  * Exactly-once streaming ingest: each batch's spans are computed against
  * the census rows of STRICTLY EARLIER batches (`first_batch <
  * batchVersion` — a pushed predicate), then the batch's fresh grams land
  * tagged `first_batch = batchVersion` under an (appId, batchVersion)
  * fence. A replayed batch therefore sees exactly the census its first
  * delivery saw — its own landed grams are excluded by the tag, not by
  * ordering luck — and returns byte-identical spans while the store
  * append no-ops (spec'd). This is the same replay discipline as
  * [[graft.streaming.DriftStream]]'s seen-values table.
  */
object GramStore {

  private[graft] def readMeta(spark: SparkSession, path: String) =
    StoreState.read(spark, path, "gram")

  def minTokensOf(spark: SparkSession, path: String): Int =
    readMeta(spark, path)("minTokens").toInt

  /** One-time census build from the existing corpus: distinct gram
    * fingerprints, hash-bucketed partitions, `minTokens` frozen as table
    * state (probes and appends must fingerprint with exactly this width
    * or their keys miss the census — the AnnStore frozen-centroid rule).
    * Pre-existing grams are tagged `first_batch = -1`: earlier than every
    * real batch, so every ingest sees them.
    */
  def create(docs: DataFrame, idCol: String, textCol: String, path: String,
             minTokens: Int = 50, nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val grams = StoreState.bucketed(
      TextDedup.gramWindows(docs, idCol, textCol, minTokens)
        .select(col("h")).distinct(), nBuckets)
    StoreState.create(grams, path, "bucket", "gram", Seq(
      "minTokens" -> minTokens.toString, "nBuckets" -> nBuckets.toString))
  }

  /** Read-only probe: maximal duplicated spans of `batch` against
    * (census ∪ batch) — [[TextDedup.exactSubstringSpansAgainst]] with the
    * existing side served from the store instead of re-fingerprinted.
    * Returns (id, span_start, span_end, span_tokens, n_windows).
    */
  def probeSpans(spark: SparkSession, path: String, batch: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val minTokens = minTokensOf(spark, path)
    val census = TxLog.read(spark, path).select(col("h"))
    spansAgainst(batch, idCol, textCol, minTokens, census)
  }

  private def spansAgainst(batch: DataFrame, idCol: String, textCol: String,
                           minTokens: Int, census: DataFrame): DataFrame = {
    val inWins = TextDedup.gramWindows(batch, idCol, textCol, minTokens)
    val batchDup = inWins.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    val hits = inWins.join(census, Seq("h"), "left_semi")
      .unionByName(inWins.join(broadcast(batchDup), Seq("h"), "left_semi"))
      .dropDuplicates("id", "start")
    TextDedup.mergeSpans(hits, minTokens)
  }

  /** Exactly-once batch ingest: spans against the strictly-earlier census,
    * fresh grams appended under the (appId, batchVersion) fence. The spans
    * frame is LAZY — materialize (or sink) it after this call returns; it
    * reads only `first_batch < batchVersion` rows, so the just-landed
    * append cannot leak into its own audit, replayed or not.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, path: String, appId: String,
                  batchVersion: Long): DataFrame = {
    val meta = readMeta(spark, path)
    val minTokens = meta("minTokens").toInt
    val nBuckets = meta("nBuckets").toInt
    val inWins = TextDedup.gramWindows(batch, idCol, textCol, minTokens)
    // census as of strictly-earlier batches — the replay-deterministic view
    val earlier = TxLog.read(spark, path)
      .filter(col("first_batch") < batchVersion).select(col("h"))
    val fresh = StoreState.bucketed(
      inWins.select(col("h")).distinct()
        .join(TxLog.read(spark, path).select(col("h")), Seq("h"),
          "left_anti"), nBuckets)
    StoreState.ingest(fresh, path, "bucket", appId, batchVersion)
    spansAgainst(batch, idCol, textCol, minTokens, earlier)
  }
}
