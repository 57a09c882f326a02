package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table state and the census discipline of the persisted stores
  * ([[GramStore]], [[LineStore]], [[LangIdStore]], [[PreferenceStore]],
  * [[ConformalStore]], [[AnnStore]]).
  *
  * STATE: each store freezes what its probes and appends must agree on
  * (gram width, unit pattern, bucket space, MIPS band maxima, IVF
  * centroids) in one `key→value` file beside the data, [[TxLog]]'s kv
  * sidecar: a tmp file renamed over the old one, so a crash mid-write
  * leaves the old state or the new, never a shorter value that still
  * parses. The file carries the store's `kind`, checked on every read, so
  * a store of one kind never reads as another. Values are escaped here
  * (`\` and newline), the only reader and writer of the file.
  *
  * CENSUS: the counted stores keep one row set per batch, tagged
  * `first_batch` (-1 for the build, the batch version for an ingest) and
  * committed under the (appId, batchVersion) exactly-once fence. A probe
  * that reads `first_batch < batchVersion` therefore sees exactly the
  * census the batch's first delivery saw, replayed or not. [[compact]]
  * bounds the per-key row growth that this append-only design implies.
  */
object StoreState {

  private val File = "_graft_state"

  /** Freeze `entries` as the state of the `kind` store at `path`. */
  def write(spark: SparkSession, path: String, kind: String,
            entries: Seq[(String, String)] = Nil): Unit =
    TxLog.writeKvFile(spark, path, File,
      (("kind" -> kind) +: entries).map { case (k, v) => k -> escape(v) })

  /** The frozen state of the `kind` store at `path`; fails when `path`
    * holds no store state or a store of another kind.
    */
  def read(spark: SparkSession, path: String,
           kind: String): Map[String, String] = {
    val state = TxLog.readKvFile(spark, path, File)
      .map { case (k, v) => k -> unescape(v) }.toMap
    require(state.nonEmpty,
      s"no $File under $path — not a graft $kind store; build it first.")
    require(state.get("kind").contains(kind),
      s"$path holds a graft ${state.getOrElse("kind", "?")} store, not a " +
        s"graft $kind store")
    state
  }

  // the kv file is line-based with a tab after the key — a value
  // containing literal newlines ("\n", "\n\n+") round-trips through an
  // escape; tabs and '=' need none
  private def escape(v: String): String =
    v.replace("\\", "\\\\").replace("\n", "\\n")

  private def unescape(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      if (v.charAt(i) == '\\' && i + 1 < v.length) {
        sb.append(if (v.charAt(i + 1) == 'n') '\n' else v.charAt(i + 1))
        i += 2
      } else { sb.append(v.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** `census` with a `bucket` column of `nBuckets` hash partitions of `h`. */
  def bucketed(census: DataFrame, nBuckets: Int): DataFrame =
    census.withColumn("bucket", pmod(xxhash64(col("h")), lit(nBuckets)))

  /** One-time census build: rows tagged `first_batch = -1` (earlier than
    * every real batch, so every ingest sees them), then the store's state.
    */
  def create(census: DataFrame, path: String, partitionCol: String,
             kind: String, entries: Seq[(String, String)] = Nil): Unit = {
    TxLog.overwrite(census.withColumn("first_batch", lit(-1L)), path,
      partitionCol = partitionCol)
    write(census.sparkSession, path, kind, entries)
  }

  /** Exactly-once census append: rows tagged `first_batch = batchVersion`
    * land under the (appId, batchVersion) fence; a replay no-ops. Returns
    * the table version holding the batch.
    */
  def ingest(census: DataFrame, path: String, partitionCol: String,
             appId: String, batchVersion: Long): Long =
    TxLog.appendOnce(census.withColumn("first_batch", lit(batchVersion)),
      path, appId, batchVersion, partitionCol = Some(partitionCol))

  /** CENSUS COMPACTION — bound the per-key row growth (a hot key gains a
    * row per batch that saw it): sum-merge `countCol` over every row of
    * batches STRICTLY EARLIER than `upTo` into ONE row per `keys`, tagged
    * `first_batch = max(merged first_batch)`, and keep rows of batches
    * `>= upTo` as they are. Any fence with `batchVersion >= upTo` (every
    * future ingest, and a replay of the latest batch) then sees exactly the
    * per-key sums it saw before: the merged row is inside its
    * `first_batch < batchVersion` window and carries the same total.
    *
    * One [[TxLog.overwrite]] manifest swap in the table's own column
    * order — readers see the old or the new census, never a mix, and the
    * `@txn:` watermarks ride through it, so a replayed batch still no-ops.
    *
    * CALLER CONTRACT: `upTo` at most the ingest watermark. A replay of a
    * batch `< upTo` would see the merged row excluded by its own fence and
    * under-count; streaming restarts only replay the latest uncommitted
    * batch, so `upTo = <last committed batchVersion>` is always safe.
    * Returns the new table version.
    */
  def compact(spark: SparkSession, path: String, kind: String,
              keys: Seq[String], countCol: String, partitionCol: String,
              upTo: Long): Long = {
    read(spark, path, kind)
    val cur = TxLog.read(spark, path)
    val cols = cur.columns.toSeq.map(col)
    val merged = cur.filter(col("first_batch") < upTo)
      .groupBy((partitionCol +: keys).distinct.map(col): _*)
      .agg(sum(col(countCol)).as(countCol),
        max(col("first_batch")).as("first_batch"))
      .select(cols: _*)
    val recent = cur.filter(col("first_batch") >= upTo).select(cols: _*)
    TxLog.overwrite(merged.unionByName(recent), path,
      partitionCol = partitionCol)
  }
}
