package graft.streaming

import graft.sources.PreferenceStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous preference-census accumulation — the streaming front of
  * [[PreferenceStore]] (the [[LineIngest]] / [[GramIngest]] discipline for
  * the RLHF comparison log): every micro-batch's directed (winner, loser)
  * census lands under the exactly-once (appId, batchId) fence, so a
  * re-delivered batch no-ops and the leaderboard
  * ([[PreferenceStore.ratings]]) read at ANY point equals a batch
  * Bradley–Terry refit over every comparison delivered so far — counts are
  * the mergeable sufficient statistic, there is no second table and no
  * crash window to heal.
  */
object PreferenceIngest {

  /** The stream: micro-batches extend the census at `censusPath` (which
    * must exist — [[PreferenceStore.create]]). AvailableNow, the library's
    * batch-boundary-replayable trigger.
    */
  def monitoredIngest(stream: DataFrame, winnerCol: String,
                      loserCol: String, censusPath: String,
                      checkpoint: String,
                      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(AvailableNow.appId("pref", censusPath))
    AvailableNow.start(stream, checkpoint) { (batch, batchId) =>
      PreferenceStore.ingestBatch(batch.sparkSession, batch, winnerCol,
        loserCol, censusPath, id, batchId): Unit
    }
  }
}
