package graft.streaming

import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.sources.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming embeddings → the persisted angular ANN layout, VERSIONED: the
  * continuous-ingest twin of [[graft.sources.AnnStore.appendAngular]],
  * with the raw-parquet store's race closed. A raw partitioned dir gives a
  * probe no snapshot — a reader listing files while an append is mid-flight
  * sees some of the batch's partitions and not others. Here every
  * micro-batch lands through ONE [[TxLog]] manifest swap (table-atomic:
  * all of the batch or none is visible to any reader, ever), replays are
  * absorbed by the exactly-once `appendOnce` contract (`appId` = the
  * stream's checkpoint identity, `batchVersion` = the micro-batch id a
  * restarted `foreachBatch` re-delivers), and probes prune by the same
  * bucket the write partitioned on — [[TxLog.readKey]]'s MANIFEST-driven
  * pruning (no directory listing; only files carrying `__bucket=<sig>`
  * segments reach the scan, exactly the AnnStore partition-pruning story
  * with snapshot isolation on top).
  *
  * The bucketing arithmetic is [[Similarity.lshBucket]] over the same
  * deterministic planes as [[Similarity.lshTopK]] and the raw store, so a
  * probe is bit-identical to the in-memory operator over whatever prefix
  * of batches the snapshot pins (spec'd in AnnIngestSpec).
  */
object AnnIngest {

  /** Batch body, exposed for direct testing and batch backfills (same code
    * path streaming and batch). Buckets the batch and commits it atomically;
    * a replay of an already-committed `batchVersion` under `appId` is a
    * no-op that removes its own orphaned files. Returns the table version
    * holding the batch.
    */
  def ingestBatch(batch: DataFrame, path: String, vecCol: String,
                  nPlanes: Int, dim: Int, appId: String,
                  batchVersion: Long): Long = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val bucketed = batch.withColumn("bucket",
      Similarity.lshBucket(col(vecCol), planes))
    TxLog.appendOnce(bucketed, path, appId, batchVersion,
      partitionCol = Some("bucket"))
  }

  /** The stream: embedding micro-batches drain into the versioned store.
    * `appId` defaults to the store path — one logical writer per store; a
    * second concurrent stream into the same store needs its own appId or
    * its batch ids collide with this one's fence.
    */
  def embeddingIngest(emb: DataFrame, path: String, checkpoint: String,
                      vecCol: String, nPlanes: Int, dim: Int,
                      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(AvailableNow.appId("ann", path))
    AvailableNow.start(emb, checkpoint) { (batch, batchId) =>
      ingestBatch(batch, path, vecCol, nPlanes, dim, id, batchId): Unit
    }
  }

  /** Probe the versioned store: ONE snapshot resolves the manifest (all of
    * every committed batch, none of any in-flight one), [[TxLog.readKey]]
    * hands the scan only the signature's bucket files, exact cosine reranks.
    */
  def probe(spark: SparkSession, path: String, idCol: String, vecCol: String,
            query: DataFrame, k: Int, nPlanes: Int, dim: Int,
            excludeId: Option[Long] = None): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val qb = query
      .select(Similarity.lshBucket(col(vecCol), planes).as("__qb"))
      .head.getLong(0)
    val hit = TxLog.readKey(spark, path, "bucket", qb)
    val pruned = excludeId.foldLeft(hit) {
      (d, id) => d.filter(col(idCol) =!= id)
    }
    pruned.crossJoin(broadcast(query.select(col(vecCol).as("__q"))))
      .select(col(idCol), cosineFast(col(vecCol), col("__q")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }
}
