package graft.streaming

import graft.sources.{GramStore, TxLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous exact-substring dedup — the streaming front of
  * [[GramStore]]: every micro-batch extends the persisted gram census
  * exactly-once AND lands its duplicated-span audit (which spans of this
  * batch already exist in the corpus or repeat within the batch) in a
  * spans TxLog table, both under the same (appId, batchVersion) fence
  * family. The audit is what a crawl pipeline acts on — route, strip
  * ([[graft.operators.TextDedup.stripDuplicateSpans]] semantics), or
  * down-weight — while the census keeps the NEXT batch's probe
  * O(batch + census), never a corpus re-fingerprint.
  *
  * Replay discipline inherited from [[GramStore.ingestBatch]] and
  * [[DriftStream]]: the span computation reads only census rows of
  * STRICTLY EARLIER batches (`first_batch < batchVersion`), so a
  * re-delivered batch sees exactly the census its first delivery saw and
  * recomputes byte-identical spans; each append's own fence makes the
  * already-landed side a no-op. A crash between the census commit and
  * the spans commit is healed by the replay (spec'd).
  */
object GramIngest {

  /** Batch body (same code path streaming and batch): extend the census
    * exactly-once, then land the batch's span audit tagged with its batch
    * version — idempotent under replay on BOTH tables.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, censusPath: String, spansPath: String,
                  appId: String, batchVersion: Long): Unit = {
    val spans = GramStore.ingestBatch(spark, batch, idCol, textCol,
      censusPath, appId, batchVersion)
    TxLog.appendOnce(spans.withColumn("batch_version", lit(batchVersion)),
      spansPath, appId + "#spans", batchVersion,
      partitionCol = Some("batch_version"))
  }

  /** The stream: micro-batches extend `censusPath` with the span audit
    * riding along into `spansPath`. The census must exist
    * ([[GramStore.create]] freezes minTokens as its table state).
    */
  def monitoredIngest(stream: DataFrame, idCol: String, textCol: String,
                      censusPath: String, spansPath: String,
                      checkpoint: String,
                      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(AvailableNow.appId("gram", censusPath))
    AvailableNow.start(stream, checkpoint) { (batch, batchId) =>
      ingestBatch(batch.sparkSession, batch, idCol, textCol, censusPath,
        spansPath, id, batchId)
    }
  }
}
