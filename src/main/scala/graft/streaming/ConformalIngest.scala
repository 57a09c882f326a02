package graft.streaming

import graft.sources.ConformalStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous conformal-calibration accumulation — the streaming front of
  * [[ConformalStore]] (the [[LineIngest]] / [[PreferenceIngest]]
  * discipline for the nonconformity-score log): every micro-batch's
  * per-(group, score) count census lands under the exactly-once
  * (appId, batchId) fence, so a re-delivered batch no-ops and the
  * threshold ([[ConformalStore.threshold]]) read at ANY point equals a
  * batch recalibration over every score delivered so far — counts are the
  * mergeable sufficient statistic, there is no second table and no crash
  * window to heal. This is the round-12 verdict's streaming conformal
  * monitor: the drift family (CUSUM, q244/q260) watches the score
  * DISTRIBUTION move; this keeps the acceptance THRESHOLD current as it
  * does.
  */
object ConformalIngest {

  /** The stream: micro-batches extend the census at `censusPath` (which
    * must exist — [[ConformalStore.create]]). AvailableNow, the library's
    * batch-boundary-replayable trigger.
    */
  def monitoredIngest(stream: DataFrame, groupCol: String,
                      scoreCol: String, censusPath: String,
                      checkpoint: String,
                      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(AvailableNow.appId("conformal", censusPath))
    AvailableNow.start(stream, checkpoint) { (batch, batchId) =>
      ConformalStore.ingestBatch(batch.sparkSession, batch, groupCol,
        scoreCol, censusPath, id, batchId): Unit
    }
  }
}
