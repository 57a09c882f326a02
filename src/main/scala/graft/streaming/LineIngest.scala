package graft.streaming

import graft.sources.{LineStore, TxLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous CCNet line/paragraph dedup — the streaming front of
  * [[LineStore]] and the line-granularity sibling of [[GramIngest]]:
  * every micro-batch extends the persisted line census exactly-once AND
  * lands its CLEANED rows (boilerplate lines dropped against corpus ∪
  * batch counts) in a TxLog table, both under the same
  * (appId, batchVersion) fence family. The cleaned table is what a crawl
  * pipeline trains on; the census keeps the NEXT batch's cleaning
  * O(batch + census), never a corpus re-explode.
  *
  * Replay discipline inherited from [[LineStore.ingestBatch]]: the
  * cleaning reads only census rows of STRICTLY EARLIER batches
  * (`first_batch < batchVersion`), so a re-delivered batch sees exactly
  * the census its first delivery saw and recomputes byte-identical
  * cleaned rows; each append's own fence makes the already-landed side a
  * no-op. A crash between the census commit and the cleaned commit is
  * healed by the replay (spec'd).
  */
object LineIngest {

  /** Batch body (same code path streaming and batch): extend the census
    * exactly-once, then land the batch's cleaned rows tagged with its
    * batch version — idempotent under replay on BOTH tables.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, censusPath: String, cleanPath: String,
                  appId: String, batchVersion: Long): Unit = {
    val cleaned = LineStore.ingestBatch(spark, batch, idCol, textCol,
      censusPath, appId, batchVersion)
    TxLog.appendOnce(cleaned.withColumn("batch_version", lit(batchVersion)),
      cleanPath, appId + "#clean", batchVersion,
      partitionCol = Some("batch_version"))
  }

  /** The stream: micro-batches extend `censusPath` with the cleaned rows
    * riding along into `cleanPath`. The census must exist
    * ([[LineStore.create]] freezes minCount and the unit pattern as its
    * table state).
    */
  def monitoredIngest(stream: DataFrame, idCol: String, textCol: String,
                      censusPath: String, cleanPath: String,
                      checkpoint: String,
                      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(AvailableNow.appId("line", censusPath))
    AvailableNow.start(stream, checkpoint) { (batch, batchId) =>
      ingestBatch(batch.sparkSession, batch, idCol, textCol, censusPath,
        cleanPath, id, batchId)
    }
  }
}
