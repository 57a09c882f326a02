package graft.streaming

import graft.operators.TextDedup
import graft.sources.TxLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingestion with inline dedup — the continuous-crawl twin
  * of q57's batch form: every micro-batch of documents is (1) exact-deduped
  * within the batch on a content fingerprint, (2) near-dup-filtered within
  * the batch (MinHash-LSH self-join, keep-lowest-id), (3) near-dup-filtered
  * AGAINST the already-accepted corpus
  * ([[graft.operators.TextDedup.minhashNearDupesAgainst]] — batch band rows
  * broadcast, the corpus never shuffles), and only the survivors are
  * appended. The accepted table therefore never contains two documents with
  * Jaccard ≥ the threshold, no matter how the crawl is batched.
  *
  * State lives in the accepted table itself, not in streaming state: the
  * dedup horizon is the whole corpus, which no watermarked state store could
  * hold — exactly why corpus dedup belongs in `foreachBatch` + storage
  * rather than `dropDuplicatesWithinWatermark` (whose horizon is a time
  * window; see [[EventsStream.dedupedStream]] for that shape).
  */
object CorpusIngest {

  /** Batch body, exposed for direct testing and for batch backfills (same
    * code path streaming and batch — the Structured Streaming design rule).
    * Returns the accepted survivors it appended.
    *
    * `corpusBloomItems > 0` enables an EXACT cross-corpus pre-stage between
    * (2) and (3): a persisted, delta-maintained content-fingerprint bloom
    * ([[graft.sources.BloomStore]], brought current in O(rows accepted since
    * the last batch)) anti-joins the batch against everything ever accepted,
    * so exact re-crawls — the dominant duplicate class on a continuous
    * crawl — never reach the shingle/MinHash pipeline at all. Semantics are
    * unchanged (an exact dup has Jaccard 1.0 and stage (3) would drop it
    * anyway); the stage only moves the common case off the expensive path.
    * Size `corpusBloomItems` to the expected CORPUS cardinality: an
    * undersized filter degrades fpp, which costs exact re-checks, never
    * correctness.
    */
  def acceptBatch(batch0: DataFrame, acceptedPath: String,
                  n: Int = 3, k: Int = 16, bands: Int = 8,
                  minJaccard: Double = 0.8,
                  corpusBloomItems: Long = 0L): DataFrame = {
    val spark = batch0.sparkSession
    // (1) exact dedup inside the batch: one survivor per content fingerprint
    val exact = batch0
      .withColumn("__fp", md5(col("text")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__fp").orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
    // (2) near-dup inside the batch: keep the lowest id of each pair
    val intraDrop = TextDedup
      .minhashNearDupes(exact, "doc_id", "text", n, k, bands, minJaccard)
      .select(col("b_id").as("doc_id")).distinct()
    val intra0 = exact.join(intraDrop, Seq("doc_id"), "left_anti")
    // (2.5) exact dedup against the corpus via the persisted bloom
    val withFp = (df: DataFrame) => df.withColumn("__fp", md5(col("text")))
    val intra =
      if (corpusBloomItems > 0 && TxLog.currentVersion(spark, acceptedPath) >= 0) {
        val bloom = graft.sources.BloomStore.ensureCurrent(
          spark, acceptedPath, "__fp", corpusBloomItems, prep = withFp)
        graft.operators.Dedup.bloomAntiJoinWith(
          withFp(intra0), withFp(TxLog.read(spark, acceptedPath)), "__fp", bloom)
          .drop("__fp")
      } else intra0
    // (3) near-dup against the accepted corpus (absent on the first batch).
    // The accepted table is a TxLog table: the read resolves a committed
    // manifest, so a crashed earlier batch (data files written, commit never
    // claimed) contributes NOTHING to the dedup horizon — its orphans are
    // invisible until vacuumed.
    val survivors =
      if (TxLog.currentVersion(spark, acceptedPath) >= 0) {
        val accepted = TxLog.read(spark, acceptedPath)
        val crossDrop = TextDedup
          .minhashNearDupesAgainst(accepted, intra, "doc_id", "text", n, k, bands, minJaccard)
          .select(col("in_id").as("doc_id")).distinct()
        intra.join(crossDrop, Seq("doc_id"), "left_anti")
      } else intra
    // Pin the survivor set BEFORE the append. A plain persist is NOT enough:
    // the plan reads acceptedPath, and writing to that path triggers
    // CacheManager.recacheByPath, which re-evaluates the cached plan against
    // the post-append corpus — every survivor then matches itself and the
    // frame silently becomes empty. localCheckpoint severs the plan from the
    // file source entirely (survivors are one micro-batch — small).
    val pinned = survivors.localCheckpoint(true)
    // Table-atomic append: a crash before the manifest commit leaves only
    // orphaned tx- files, never a partially-visible batch.
    TxLog.appendFlat(pinned, acceptedPath)
    // bring the fingerprint filter forward over the files just appended
    // (delta build — O(this batch)); a crash between the append and here
    // just defers the same delta-merge to the next batch's ensureCurrent
    if (corpusBloomItems > 0)
      graft.sources.BloomStore.ensureCurrent(
        spark, acceptedPath, "__fp", corpusBloomItems, prep = withFp): Unit
    pinned
  }

  /** The stream: micro-batches from `docs` drain through [[acceptBatch]]. */
  def dedupingIngest(docs: DataFrame, acceptedPath: String, checkpoint: String,
                     n: Int = 3, k: Int = 16, bands: Int = 8,
                     minJaccard: Double = 0.8,
                     corpusBloomItems: Long = 0L): StreamingQuery =
    AvailableNow.start(docs, checkpoint) { (batch, _) =>
      val accepted = acceptBatch(batch, acceptedPath, n, k, bands,
        minJaccard, corpusBloomItems)
      // the survivors landed in the TxLog; without this each micro-batch
      // leaks its pinned frame in the block manager for the stream's life
      graft.operators.Checkpoints.release(accepted)
    }
}
