package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one launcher of the library's streaming fronts: append output, a
  * checkpoint location, and the AvailableNow trigger — the library's
  * batch-boundary-replayable trigger (a restart re-delivers exactly the
  * last uncommitted micro-batch, which the exactly-once fences absorb).
  */
object AvailableNow {

  /** Drain `stream` micro-batch by micro-batch through `body(batch,
    * batchId)`, checkpointing progress at `checkpoint`.
    */
  def start(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)
      .start()

  /** The default exactly-once identity of a `tag` stream writing `path`:
    * one logical writer per table. TxLog appIds are manifest tokens (no
    * '/', tabs, newlines), so the path separators fold to '|'.
    */
  def appId(tag: String, path: String): String =
    s"$tag-ingest:${path.replace('/', '|')}"
}
