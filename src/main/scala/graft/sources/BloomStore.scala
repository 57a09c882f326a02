package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.util.sketch.BloomFilter

/** Versioned persistence for corpus-key bloom filters (the amortization the
  * bloom anti-join docs promise — [[graft.operators.Dedup.bloomAntiJoin]]
  * rebuilds its filter per call, one full corpus scan each time; at 10⁹ keys
  * that build is the ONLY corpus-sized cost, so it must be paid once and
  * reused across batches).
  *
  * Layout: `<tablePath>/_graft_bloom/<key>-v<version>` — the serialized
  * filter, tagged with the [[TxLog]] version of the table it summarizes.
  * Writes go through [[TxLog.claim]], the atomic no-overwrite creation the
  * log's own version claim uses (raw, so no `.crc` sidecar); racing
  * maintainers of the same version produce identical bytes, so the loser
  * just discards its copy.
  *
  * Maintenance is INCREMENTAL: a filter persisted at version v is brought to
  * version v' by hashing only the files the manifest diff says were ADDED —
  * bloom filters are monotone sets, so append-only growth is a delta build
  * (O(new rows)) merged into the loaded filter. A diff with removals forces
  * a full rebuild: a filter that is missing a live key would let a duplicate
  * through (false negative — the one error class the anti-join cannot
  * absorb). Stale EXTRA keys are harmless (false positives re-checked by the
  * exact join), but this store never serves a stale filter anyway — reads
  * resolve the table version first.
  */
object BloomStore {

  private val Dir = "_graft_bloom"

  private def fileName(key: String, version: Long) = f"$key-v$version%020d"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hash-space filter over `xxhash64(keyCol)` — the probe side
    * ([[graft.operators.Dedup.bloomAntiJoinWith]]) hashes identically, so
    * any key type works and the probe stays codegen'd.
    */
  def build(corpus: DataFrame, keyCol: String, expectedItems: Long,
            fpp: Double): BloomFilter = {
    val hashed = corpus.select(xxhash64(col(keyCol)).as("__h"))
    // Spark's bloomFilter agg yields a null buffer on an EMPTY relation
    // (readFrom(null) NPE) — an empty commit must produce an empty filter,
    // not a crash, so the delta path survives no-op appends.
    if (hashed.isEmpty) BloomFilter.create(expectedItems, fpp)
    else hashed.stat.bloomFilter("__h", expectedItems, fpp)
  }

  /** Persist `bloom` as the filter for `tablePath`@`version`. Atomic; a
    * concurrent save of the same version wins harmlessly (same content).
    */
  def save(spark: SparkSession, tablePath: String, key: String, version: Long,
           bloom: BloomFilter): Unit = {
    val dir = new Path(tablePath, Dir)
    // false when a racing save of this version claimed it first — the
    // copies are identical, so the loser's is simply discarded
    TxLog.claim(spark, new Path(dir, fileName(key, version)))(bloom.writeTo)
    val f = fs(spark, tablePath)
    // retire superseded filters for this key (keep the latest two: a reader
    // that resolved the previous version mid-maintenance can still open its
    // file; [[load]] always picks the max, so stale files are never served)
    val prefix = s"$key-v"
    f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) &&
        n.substring(prefix.length).forall(_.isDigit))
      .map(n => n.substring(prefix.length).toLong)
      .sorted.dropRight(2)
      .foreach(v => f.delete(new Path(dir, fileName(key, v)), false))
  }

  /** Latest persisted (version, filter) for `key`, if any. */
  def load(spark: SparkSession, tablePath: String,
           key: String): Option[(Long, BloomFilter)] = {
    val f = fs(spark, tablePath)
    val dir = new Path(tablePath, Dir)
    if (!f.exists(dir)) return None
    val prefix = s"$key-v"
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) &&
        n.substring(prefix.length).forall(_.isDigit))
      .map(n => n.substring(prefix.length).toLong)
    if (versions.isEmpty) return None
    val v = versions.max
    val in = f.open(new Path(dir, fileName(key, v)))
    try Some((v, BloomFilter.readFrom(in))) finally in.close()
  }

  /** A filter guaranteed current with `tablePath`'s LATEST snapshot:
    * loads the persisted filter and, when the table moved on, either
    * delta-builds over only the manifest diff's added files (append-only
    * history — the common corpus-ingest shape) or rebuilds from scratch
    * (any removal), persisting the result either way. Cost per call on an
    * append-only table: O(rows added since the last call), never O(corpus).
    *
    * `prep` derives the key when it isn't a stored column (e.g.
    * `withColumn("__fp", md5(col("text")))` for a content fingerprint) — it
    * runs over exactly the rows being hashed (full table on rebuild, added
    * files on delta), so a derived key costs the same as a stored one.
    */
  def ensureCurrent(spark: SparkSession, tablePath: String, keyCol: String,
                    expectedItems: Long, fpp: Double = 0.01,
                    prep: DataFrame => DataFrame = identity): BloomFilter = {
    val cur = TxLog.currentVersion(spark, tablePath)
    def rebuild(): BloomFilter = {
      val bloom = build(prep(TxLog.read(spark, tablePath, cur)), keyCol,
        expectedItems, fpp)
      save(spark, tablePath, keyCol, cur, bloom)
      bloom
    }
    load(spark, tablePath, keyCol) match {
      case Some((v, bloom)) if v == cur => bloom
      case Some((v, bloom)) if v < cur =>
        val (added, removed) = TxLog.changesBetween(spark, tablePath, v, cur)
        if (removed.nonEmpty) rebuild() // a missing live key = false negative
        else {
          if (added.nonEmpty) {
            // same (expectedItems, fpp) ⇒ same bit width and hash count ⇒
            // mergeInPlace-compatible with every filter this store wrote
            val delta = build(
              prep(TxLog.readAddedSince(spark, tablePath, v, cur)),
              keyCol, expectedItems, fpp)
            bloom.mergeInPlace(delta)
          }
          save(spark, tablePath, keyCol, cur, bloom)
          bloom
        }
      case _ => rebuild() // nothing persisted, or the log was truncated
    }
  }
}
