package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets
import java.util.UUID

/** Minimal Delta-style transaction log over Parquet: the table-ATOMIC answer
  * to the reference's warehouse transaction around session delete+reload
  * (`dags/open_f1_realtime.py:221-246` — `DELETE ... ; INSERT ...; COMMIT`).
  * Plain dynamic partition overwrite ([[Sinks.replaceByKey]]) is atomic only
  * per partition: a reader can see partition A replaced but B not yet. Here
  * every mutation is ONE manifest swap — readers resolve a version and see
  * either all of a commit or none of it.
  *
  * Layout (all under the table root):
  * {{{
  *   _graft_log/00000000000000000000  ... 000n   # one manifest per version
  *   tx-<uuid>/<part=val>/part-*.parquet        # immutable data files
  * }}}
  * A manifest is a newline list of table-relative data file paths; the
  * manifest's filename is its version. Data files are immutable once
  * referenced — a "delete" is a new manifest that stops listing them, so any
  * in-flight reader keeps reading the files its snapshot pinned.
  *
  * Commit protocol: every writer commits through ONE function, [[commit]].
  * It pins the current snapshot and asks the writer for the table's NEXT
  * full entry list; [[manifestFor]] writes that list in full (at v0, every
  * [[CheckpointInterval]]-th version, a full rewrite — overwrite,
  * compaction, clone, restore — or when the delta would be empty) and
  * otherwise as a `-` remove per dropped entry path followed by a `+` add
  * per new entry. [[tryCommit]] claims the next version with a dot-temp
  * write and an atomic no-overwrite rename, so of two racing committers
  * exactly one wins; the loser backs off, re-pins the winner's snapshot,
  * re-validates (same partition touched, or a writer derived from an
  * expected version that has passed → abort) and retries, at most
  * [[MaxCommitAttempts]] times. (Object stores without atomic rename need
  * an external CAS — same deployment caveat as Delta/Iceberg on S3.)
  *
  * Scale posture: the manifest read replaces the 100 TB killer — recursive
  * directory LISTing on every query — with one small-file read; per-key reads
  * prune to the matching files BEFORE Spark ever lists anything
  * ([[readKey]]). Driver-side work is metadata-proportional (file names),
  * never data-proportional.
  *
  * Manifest scaling (Delta's checkpoint design, same motivation): a full
  * file list per commit makes COMMIT cost O(live files) — at 10⁶ files every
  * small append rewrites a multi-MB manifest. Here a commit writes only its
  * DELTA (`+`-prefixed adds, `-`-prefixed removes) and every
  * [[CheckpointInterval]]-th version — plus v0 and every full overwrite —
  * writes the complete list (a checkpoint). Snapshot resolution walks back
  * to the nearest checkpoint and replays the deltas forward, so reads cost
  * O(files + interval·delta) and commits cost O(delta): the log write no
  * longer grows with table size. Old logs (all-full manifests) parse
  * unchanged — a full file is just a zero-delta checkpoint.
  */
object TxLog {

  private val LogDir = "_graft_log"

  /** Every version divisible by this is written as a FULL manifest
    * (checkpoint); versions in between carry only their commit's delta.
    * Bounds snapshot resolution to ≤ this many delta replays.
    */
  val CheckpointInterval: Int = 10

  /** CAS-loop attempt cap shared by every committer. Optimistic commits are
    * lock-free — a writer loses an attempt only because ANOTHER writer
    * committed — so a writer's worst-case losses are bounded by the other
    * writers' total commits during its window; 50 leaves generous headroom
    * over any realistic contention burst (pinned by the chaos spec's 8
    * writers × 5 commits, worst case 39 losses). Losers also back off
    * ([[commitBackoff]]) so a thundering herd decorrelates instead of
    * re-colliding on the next manifest read.
    */
  val MaxCommitAttempts: Int = 50

  /** Jittered exponential backoff before a contended retry: 2·2^min(attempt,5)
    * ms base, plus a per-WRITER jitter so racing writers spread out. The
    * jitter mixes the caller's salt with a per-process nonce and the calling
    * thread id — contenders are by definition distinct threads or processes,
    * so they sleep different durations even on paths whose only natural salt
    * is the (shared) table path: without the mix, clone/restore/rename/drop
    * contenders on the same table would all sleep identically and re-collide
    * every round, leaning on MaxCommitAttempts alone for liveness. Sleep
    * duration never affects commit CONTENT, so the nonce costs nothing in
    * reproducibility — the chain is identical on reruns, only its timing
    * decorrelates.
    */
  private lazy val processNonce: Int = java.util.UUID.randomUUID().hashCode
  private def commitBackoff(attempt: Int, salt: Int): Unit =
    if (attempt > 0) {
      val writer = salt ^ processNonce ^
        java.lang.Long.hashCode(Thread.currentThread().getId)
      Thread.sleep((2L << math.min(attempt, 5)) + ((writer & 0x7fffffff) % 7))
    }

  private val AddPrefix = "+\t"
  private val RemovePrefix = "-\t"

  /** Metadata manifest entries (no file behind them) start with `@`. They
    * ride the SAME add/remove delta machinery as file entries — versioned,
    * snapshot-isolated, restored by [[restore]], carried by checkpoints —
    * which is the whole point: table metadata changes are commits.
    *
    * `@rename:<physical>TAB<logical>` maps a column's PHYSICAL name (what
    * the immutable data files store — fixed at first write, like Delta
    * column-mapping's physical ids) to its current LOGICAL name. Reads
    * rename physical→logical after the scan; writes rename logical→physical
    * before; metadata-driven entry points ([[readKey]]/[[readRange]]/
    * [[readPoint]]/stats) translate the caller's logical name first.
    */
  private val MetaPrefix = "@"
  private val RenameEntryPrefix = "@rename:"

  /** Per-VERSION annotation lines start with `#` and are NOT manifest
    * entries: snapshot resolution skips them, so they never replicate into
    * later versions. `#op TAB <name>` records the committing operation —
    * Delta's DESCRIBE HISTORY `operationName` ([[operationHistory]]).
    * Manifests from before this feature simply read as UNKNOWN.
    */
  private val CommentPrefix = "#"
  private val OpPrefix = "#op\t"

  /** `@dropcol:<physical>` marks a column DROPPED without touching a file
    * (Delta drop-column under column mapping): reads subtract it before
    * renames apply; appends may no longer carry the name (re-introducing a
    * dropped physical name would resurrect old file data under it — blocked
    * at commit; [[overwrite]]/[[compact]] materialize and free the name).
    */
  private val DropEntryPrefix = "@dropcol:"

  /** `@txn:<appId>TAB<batchVersion>` — Delta's `txn` (SetTransaction)
    * action: the high-water batch version an idempotent writer (a streaming
    * query's foreachBatch, a retried ingest job) has committed for `appId`.
    * Riding the manifest's add/remove delta machinery makes the marker
    * ATOMIC with the data it covers — one manifest swap carries both, so a
    * crash-restart that replays the batch sees the marker iff the data
    * landed, never one without the other. Markers survive compaction and
    * overwrite (carried forward explicitly in [[mutate]]'s dropAll path:
    * OPTIMIZE must not reopen the exactly-once window) and rewind with
    * [[restore]] alongside the data they fence, which is the consistent
    * time-travel answer.
    */
  private val TxnEntryPrefix = "@txn:"
  private def txnEntryName(appId: String) = s"$TxnEntryPrefix$appId"

  private def isDelta(lines: Seq[String]): Boolean =
    lines.exists(l => l.startsWith(AddPrefix) || l.startsWith(RemovePrefix))

  /** Directory segment prefix for partition values. The partition column is
    * DUPLICATED into `__<col>=<value>` dirs while the real column stays in
    * the data files: Spark's partition-dir inference can't cope with the
    * non-`k=v` `tx-<uuid>` level above them ([CONFLICTING_DIRECTORY_
    * STRUCTURES]), so reads disable inference ([[parquetFiles]]) and
    * take the column from the file contents — the dir name exists purely for
    * manifest-side pruning. Constant-per-file values RLE-compress to ~0 in
    * Parquet, so the duplication is free.
    */
  private def partSeg(col: String, encodedValue: String) = s"__$col=$encodedValue"
  private def partPrefix(col: String) = s"__$col="

  /** A snapshot's manifest entries. Each entry is one line:
    * `relpath` alone, or `relpath TAB col TAB min TAB max [TAB col...]` when
    * the committing write collected data-skipping stats (paths never contain
    * tabs, so the two forms coexist in one log — old manifests parse as
    * stat-less entries).
    */
  final case class Snapshot(version: Long, entries: Seq[String]) {
    /** Table-relative data file paths (the stat columns stripped; metadata
      * entries excluded — they have no file behind them).
      */
    def files: Seq[String] =
      entries.iterator.map(entryPath).filterNot(_.startsWith(MetaPrefix)).toSeq
    /** Column mapping pinned by this snapshot: physical name (in the data
      * files) → current logical name. Empty for never-renamed tables.
      */
    def renames: Map[String, String] = entries.collect {
      case e if e.startsWith(RenameEntryPrefix) && e.indexOf('\t') > 0 =>
        (entryPath(e).stripPrefix(RenameEntryPrefix),
          e.substring(e.indexOf('\t') + 1))
    }.toMap
    /** Physical names of columns dropped metadata-only ([[dropColumn]]). */
    def drops: Set[String] = entries.collect {
      case e if e.startsWith(DropEntryPrefix) =>
        entryPath(e).stripPrefix(DropEntryPrefix)
    }.toSet
    /** Idempotent-writer watermarks pinned by this snapshot: appId → the
      * highest batch version committed via [[appendOnce]].
      */
    def txnVersions: Map[String, Long] = entries.collect {
      case e if e.startsWith(TxnEntryPrefix) && e.indexOf('\t') > 0 =>
        (entryPath(e).stripPrefix(TxnEntryPrefix),
          e.substring(e.indexOf('\t') + 1).toLong)
    }.toMap
    /** `part=value` (encoded form) → files, parsed from path segments. */
    def filesForPartition(col: String, encodedValue: String): Seq[String] =
      files.filter(_.split('/').contains(partSeg(col, encodedValue)))
    def partitionValues(col: String): Set[String] =
      files.flatMap(_.split('/').collectFirst {
        case seg if seg.startsWith(partPrefix(col)) =>
          seg.substring(partPrefix(col).length)
      }).toSet
    /** (min, max) recorded for `column` in `file`'s footer-stats entry. */
    def statsFor(file: String, column: String): Option[(String, String)] = {
      entries.collectFirst {
        case e if entryPath(e) == file =>
          e.split('\t').drop(1).grouped(3).collectFirst {
            case Array(c, mn, mx) if c == column => (mn, mx)
          }
      }.flatten
    }
  }

  private def entryPath(entry: String): String = {
    val i = entry.indexOf('\t')
    if (i < 0) entry else entry.substring(0, i)
  }

  /** Manifest entries are table-relative for files this table wrote, and
    * ABSOLUTE for files a shallow clone borrowed from its source
    * ([[cloneAt]]) — resolution is the one seam both kinds pass through.
    */
  private def resolve(path: String, f: String): String =
    if (f.startsWith("/")) f else s"$path/$f"

  /** Pseudo-column name carrying each file's row count in its stats triple. */
  val RowCountCol = "__nrows"

  // ---------------------------------------------------- per-file bloom index
  //
  // Min/max stats prune RANGE queries but are useless for point lookups on
  // a column the data isn't sorted by (every file's [min, max] spans the
  // whole domain). A per-file bloom filter answers "might this file contain
  // value v?" in O(k) bit tests — the Delta/Iceberg bloom-index idea. The
  // filter rides the SAME manifest entry mechanism as min/max (a
  // `<col>#bloom` stats triple holding the hex bitset), so it is versioned,
  // snapshot-isolated, and vacuumed with the log for free. False positives
  // cost only extra I/O (the residual filter keeps reads exact); false
  // negatives are impossible for stats collected at commit time because the
  // bitset is built from the file's full column contents.

  /** Bits per file filter. 4096 bits ≈ 1% false positives at ~400 distinct
    * values/file with k=3; tune up for bigger files. 1 KiB of hex per file
    * per indexed column in the manifest.
    */
  val BloomBits: Int = 4096
  val BloomK: Int = 3

  private def bloomStatCol(c: String) = s"$c#bloom"

  /** Bit position of hash i for a value: identical expression on the write
    * and read side (both hash the STRING form, so lookups don't depend on
    * the column's physical type).
    */
  private def bloomPosition(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(lit(i), c.cast("string")), lit(BloomBits)).cast("int")
  }

  /** The lookup value's k bit positions, computed BY SPARK on a 1-row range
    * so read-side hashing is bit-identical to the write side whatever the
    * driver JVM does.
    */
  private def bloomPositionsOf(spark: SparkSession, value: Any): Seq[Int] = {
    import org.apache.spark.sql.functions.lit
    val r = spark.range(1).select(
      (0 until BloomK).map(i => bloomPosition(lit(value), i).as(s"p$i")): _*).head()
    (0 until BloomK).map(r.getInt)
  }

  private def bitsetHex(positions: Iterable[Int]): String = {
    val bytes = new Array[Byte](BloomBits / 8)
    positions.foreach(p => bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte)
    bytes.map(b => f"${b & 0xff}%02x").mkString
  }

  private def bloomMightContain(hex: String, positions: Seq[Int]): Boolean =
    positions.forall { p =>
      val b = Integer.parseInt(hex.substring((p >>> 3) * 2, (p >>> 3) * 2 + 2), 16)
      (b & (1 << (p & 7))) != 0
    }

  /** The file subset a bloom-indexed point lookup reads: files whose filter
    * rules the value out are skipped; files without a filter (older
    * commits, un-indexed columns) always stay candidates — skipping can cut
    * I/O but never rows. Exposed for spec/plan assertions.
    */
  def bloomPrunedFiles(spark: SparkSession, s: Snapshot, column: String,
                       value: Any): Seq[String] = {
    val positions = bloomPositionsOf(spark, value)
    s.files.filter { fl =>
      s.statsFor(fl, bloomStatCol(column)) match {
        case Some((hex, _)) if hex.length == BloomBits / 4 =>
          bloomMightContain(hex, positions)
        case _ => true
      }
    }
  }

  // ---------------------------------------------------- deletion vectors
  //
  // Row-level DELETE without rewriting data files (Delta deletion vectors /
  // Iceberg position deletes — the merge-on-read shape): a delete commit
  // writes only the deleted rows' (file, position) pairs as a small sidecar
  // under `dv-<uuid>/`, and re-points each touched file's manifest entry at
  // it via a `__dv` stats triple (value = sidecar dir, count = deleted rows
  // in that file). Cost is O(rows deleted), never O(file bytes rewritten) —
  // the property that makes a 3-row GDPR erasure on a 100 TB table a
  // metadata-plus-kilobytes operation instead of a multi-GB file rewrite.
  // Readers anti-join the sidecar positions against the scan's
  // `_metadata.row_index` (stable for immutable Parquet files) — a
  // broadcast-sized join that exists ONLY when the snapshot carries DVs; a
  // DV-free table keeps its zero-overhead scan. Riding the stats-triple
  // mechanism buys versioning for free: time travel to a pre-delete version
  // sees the rows (its entries carry no `__dv`), [[compact]] materializes
  // deletes (the rewrite reads through [[readMerged]], which applies them,
  // and commits fresh triple-less entries), and [[vacuum]] reclaims
  // unreferenced sidecars with the same retention rules as data files.

  /** Pseudo-column of the deletion-vector stats triple:
    * (`__dv`, sidecar dir, deleted-row count).
    */
  val DvCol = "__dv"

  /** Strip any URI scheme so `_metadata.file_path` (`file:///a/b`) compares
    * equal to [[absPath]]'s filesystem form (`/a/b`) — the equi-join key
    * between scans and manifest-derived file lists.
    */
  private def normalizeUri(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, regexp_replace}
    regexp_replace(c, lit("^[a-zA-Z][a-zA-Z0-9+.-]*:/+"), lit("/"))
  }

  private def absPath(path: String, f: String): String =
    new Path(resolve(path, f)).toUri.getPath

  /** (entry path, sidecar dir, deleted count) for every snapshot file that
    * carries a deletion vector. Metadata-sized, like the manifest itself.
    */
  private def dvRefs(s: Snapshot): Seq[(String, String, Long)] =
    s.entries.flatMap { e =>
      val p = entryPath(e)
      e.split('\t').drop(1).grouped(3).collectFirst {
        case Array(c, dv, cnt) if c == DvCol => (p, dv, cnt.toLong)
      }
    }

  /** `entry` with its `c` stats triple replaced by (c, mn, mx). */
  private def withTriple(entry: String, c: String, mn: String, mx: String): String = {
    val parts = entry.split('\t')
    val kept = parts.drop(1).grouped(3)
      .filter(t => t.length == 3 && t(0) != c).flatten.toSeq
    (Seq(parts.head) ++ kept ++ Seq(c, mn, mx)).mkString("\t")
  }

  /** The union of the snapshot's deletion-vector rows for `files`, as
    * (absolute file path, position). Sidecar rows key files by ABSOLUTE
    * path — the one form that survives a shallow clone's entry rewrite —
    * and each file takes positions only from the sidecar its entry points
    * at (matched by dir basename, which is also clone-invariant), so rows a
    * stale sidecar holds for since-re-pointed files are filtered out.
    */
  private def dvRows(spark: SparkSession, path: String, s: Snapshot,
                     files: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val fileSet = files.toSet
    val refs = dvRefs(s).filter(r => fileSet.contains(r._1))
    if (refs.isEmpty) return None
    import spark.implicits._
    val refDf = refs.map { case (f, d, _) => (absPath(path, f), d.split('/').last) }
      .toDF("__dabs", "__dvname")
    val dv = parquetFiles(spark, refs.map(_._2).distinct.map(resolve(path, _)))
    Some(dv.join(broadcast(refDf),
        dv("__file") === refDf("__dabs") && dv("__dv") === refDf("__dvname"))
      .select(col("__dabs"), col("__pos").as("__dpos")))
  }

  /** The physical (file) name behind the caller's logical column name. */
  private def toPhysical(s: Snapshot, c: String): String =
    toPhysicalIn(s.renames, c)
  private def toPhysicalIn(ren: Map[String, String], c: String): String =
    ren.collectFirst { case (p, l) if l == c => p }.getOrElse(c)

  /** Surface the snapshot's logical schema on a just-read frame: subtract
    * dropped columns, then rename physical→logical (identity when the table
    * was never altered — zero plan overhead).
    */
  private def logicalize(df: DataFrame, s: Snapshot): DataFrame = {
    val undropped = s.drops.foldLeft(df) { (d, p) =>
      if (d.columns.contains(p)) d.drop(p) else d
    }
    s.renames.foldLeft(undropped) { case (d, (p, l)) =>
      if (p != l && d.columns.contains(p)) d.withColumnRenamed(p, l) else d
    }
  }

  /** Rename logical→physical on a frame about to be written, so data files
    * stay physically consistent across renames (the Delta column-mapping
    * writer rule).
    */
  private def physicalize(df: DataFrame, ren: Map[String, String]): DataFrame =
    ren.foldLeft(df) { case (d, (p, l)) =>
      if (p != l && d.columns.contains(l)) d.withColumnRenamed(l, p) else d
    }

  /** The one raw Parquet read under a table root: exactly `paths` (data
    * files or sidecar dirs), partition inference off — see [[partSeg]].
    * Without `mergeSchema` the schema is the footer of the LAST path — the
    * newest add when `paths` are in manifest order — handed to the reader,
    * so it never depends on the order the file index lists the `tx-*`
    * directories in.
    */
  private def parquetFiles(spark: SparkSession, paths: Seq[String],
                           mergeSchema: Boolean = false): DataFrame = {
    val reader = spark.read.option("recursiveFileLookup", "true")
    if (mergeSchema) reader.option("mergeSchema", "true").parquet(paths: _*)
    else reader.schema(reader.parquet(paths.last).schema).parquet(paths: _*)
  }

  /** The one pruned read behind every snapshot reader: scan `files` (the
    * pruning survivors among `s`'s), anti-filter `s`'s deletion vectors,
    * surface `logical`'s column names ([[renameColumn]]), then apply the
    * caller's residual `where`. When no file survives, the result is empty
    * but keeps the schema of the last `donors` file — the table's newest
    * add, by default, as a full read would — so downstream resolution still
    * works; only a donor-less read is the schemaless `emptyDataFrame`.
    *
    * DVs always resolve against `s` (the snapshot that owns the files);
    * the logical surface may be pinned to a DIFFERENT snapshot —
    * [[rowChanges]] logicalizes both sides of a cross-rename span under the
    * TO snapshot, physical names being write-stable ([[physicalize]]). The
    * no-DV, no-rename path is the bare scan — zero plan overhead; with DVs
    * the anti-join's build side is the deleted positions (broadcast-sized
    * for any sane delete:table ratio, and AQE picks the strategy
    * regardless).
    */
  private def scan(spark: SparkSession, path: String, s: Snapshot)(
      files: Seq[String] = s.files, mergeSchema: Boolean = false,
      donors: Seq[String] = s.files, logical: Snapshot = s,
      where: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (files.isEmpty) {
      // one footer read; the false filter folds to an empty LocalRelation
      return if (donors.isEmpty) spark.emptyDataFrame
        else logicalize(parquetFiles(spark, Seq(resolve(path, donors.last))),
          logical).filter(lit(false))
    }
    val df = parquetFiles(spark, files.map(resolve(path, _)), mergeSchema)
    val live = dvRows(spark, path, s, files) match {
      case None => df
      case Some(dv) =>
        df.withColumn("__rabs", normalizeUri(col("_metadata.file_path")))
          .withColumn("__rpos", col("_metadata.row_index"))
          .join(dv, col("__rabs") === col("__dabs") &&
            col("__rpos") === col("__dpos"), "left_anti")
          .select(df.columns.map(col): _*)
    }
    where(logicalize(live, logical))
  }

  /** Row-level transactional DELETE (`DELETE FROM t WHERE cond`) as a
    * deletion-vector commit: rows matching the Spark SQL boolean `condition`
    * disappear from this version on, without rewriting a single data file.
    * Matching rows' (file, `_metadata.row_index`) pairs — merged with each
    * touched file's existing deleted set, sidecars being immutable — land in
    * a new sidecar; each touched file's entry is re-pointed in ONE manifest
    * swap. A file whose every row is deleted is dropped from the manifest
    * outright. Returns the new version (or `expectedVersion`/current when
    * nothing matched — no empty commit).
    *
    * Serializable like [[mergeKeys]]: the delete is derived from
    * `expectedVersion`'s snapshot (default current) and commits ONLY at
    * `expectedVersion + 1` — any interleaving commit aborts it with
    * [[ConcurrentWriteConflict]] (first-committer-wins), never the other
    * writer.
    *
    * Scale shape: one predicate-pushed scan finds matches (at 100 TB you
    * bound it the same way any delete must — partition/stats-prunable
    * predicates); driver state is one row PER TOUCHED FILE (counts), never
    * per deleted row; the sidecar write is O(deleted rows), and read-side
    * cost is the anti-join, paid only while DVs exist — [[compact]] is the
    * escape valve that folds them back to zero.
    */
  def deleteWhere(spark: SparkSession, path: String, condition: String,
                  expectedVersion: Long = -1L): Long =
    maskWhere(spark, path, condition, expectedVersion,
      writeReplacement = _ => Vector.empty, op = "DELETE")

  /** Row-level transactional UPDATE (`UPDATE t SET c = e WHERE cond`) in the
    * same merge-on-read shape as [[deleteWhere]]: matching rows' positions
    * are masked by a deletion-vector sidecar AND their updated images —
    * `set` expressions evaluated over the OLD row — land as new data files,
    * all in ONE manifest swap: readers see the whole update or none of it.
    * No existing file is rewritten; cost is O(matched rows). Because the
    * mask is positional, an update may move a row across partition values
    * freely (unlike [[mergeKeys]], whose key-scoped replace requires stable
    * partition keys). Same first-committer-wins rule as [[deleteWhere]].
    */
  def updateWhere(spark: SparkSession, path: String, condition: String,
                  set: Map[String, String], expectedVersion: Long = -1L,
                  statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.expr
    maskWhere(spark, path, condition, expectedVersion, op = "UPDATE",
      writeReplacement = { s =>
      val txDir = s"tx-${UUID.randomUUID().toString.take(8)}"
      // DVs applied: a previously-deleted row matching `condition` must not
      // be resurrected as an updated image
      val live = scan(spark, path, s)(mergeSchema = true)
      // UPDATE preserves column types (the Delta rule): each set expression
      // is cast back to the column's live type, so a literal of a narrower
      // type can't drift the replacement files' schema
      val updated = set.foldLeft(live.filter(expr(condition))) {
        case (df, (c, e)) =>
          val cast = live.schema.find(_.name == c)
            .map(f => expr(e).cast(f.dataType)).getOrElse(expr(e))
          df.withColumn(c, cast)
      }
      // the Delta update rule for GENERATED ALWAYS AS columns: recompute
      // from the post-SET row unless the caller set the column explicitly
      // (an explicit value is validated against the expression pre-commit
      // in maskWhere, same as mutate's gate)
      val regenerated = generatedColumns(spark, path).foldLeft(updated) {
        case (df, (n, e)) =>
          if (set.contains(n) || !df.columns.contains(n)) df
          else {
            val t = live.schema.find(_.name == n).map(_.dataType)
            df.withColumn(n, t.fold(expr(e))(expr(e).cast))
          }
      }
      // replacement images must carry PHYSICAL names like every other file
      physicalize(regenerated, s.renames).write.parquet(s"$path/$txDir")
      withStats(spark, path, writtenFiles(spark, path, txDir),
        statsCols.map(toPhysical(s, _)))
    })
  }

  /** Shared merge-on-read core of [[deleteWhere]]/[[updateWhere]]: mask the
    * rows matching `condition` behind a deletion-vector sidecar and commit —
    * together with whatever replacement entries `writeReplacement` produced
    * from the pinned snapshot — as one manifest version.
    */
  private def maskWhere(spark: SparkSession, path: String, condition: String,
                        expectedVersion: Long,
                        writeReplacement: Snapshot => Vector[String],
                        op: String = "DELETE"): Long = {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    val v0 = pinned(spark, path, expectedVersion)
    require(v0 >= 0, s"deleteWhere on a table with no commits: $path")
    val s = snapshot(spark, path, v0)
    if (s.files.isEmpty) return v0
    // mergeSchema: a drifted table must still resolve the predicate; rows
    // where it evaluates NULL (e.g. a column a file predates) are NOT
    // deleted — ANSI WHERE semantics. Sidecar rows key by ABSOLUTE file
    // path (see [[dvRows]] — clone-invariant).
    // pin the metadata columns BEFORE logicalize (the rename projection sits
    // above the scan; grabbing `_metadata` first keeps resolution trivial),
    // then evaluate the predicate over LOGICAL names
    val matched = logicalize(
        parquetFiles(spark, s.files.map(resolve(path, _)), mergeSchema = true)
          .withColumn("__mfile", normalizeUri(col("_metadata.file_path")))
          .withColumn("__mpos", col("_metadata.row_index")), s)
      .filter(expr(condition))
      .select(col("__mfile").as("__file"), col("__mpos").as("__pos"))
    // merge with the already-deleted sets: sidecars are immutable, so a
    // touched file's NEW sidecar carries its FULL deleted set (re-matching
    // an already-deleted row is harmless — the union dedupes)
    val merged = dvRows(spark, path, s, s.files) match {
      case None => matched
      case Some(dv) =>
        matched.unionByName(
          dv.select(col("__dabs").as("__file"), col("__dpos").as("__pos")))
    }
    val allDel = merged.distinct()
    val counts = allDel.groupBy("__file").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val existingCount = dvRefs(s).map(r => absPath(path, r._1) -> r._3).toMap
    val touched = counts.filter { case (f, c) => c > existingCount.getOrElse(f, 0L) }
    if (touched.isEmpty) return v0
    // replacement files (UPDATE images) are written only once we know the
    // commit will happen — a no-match update leaves no orphans
    val replacements = writeReplacement(s)
    // the same pre-CAS gate every append/mutate batch passes: an UPDATE ...
    // SET image must not smuggle in a CHECK violation or a generated-column
    // value disagreeing with its declared expression (later generated-
    // partition reads trust those values). Rejection aborts before the
    // manifest swap — the table stays at v0, images are unreferenced.
    validateBatch(spark, path, replacements.map(entryPath),
      generatedColumns(spark, path))
    val dvDir = s"dv-${UUID.randomUUID().toString.take(8)}"
    allDel.filter(col("__file").isin(touched.keys.toSeq: _*))
      .withColumn("__dv", lit(dvDir))
      .coalesce(1)
      .write.parquet(s"$path/$dvDir")
    // each touched file's entry is re-pointed at the new sidecar, or leaves
    // the manifest outright when every one of its rows is deleted
    val next = s.entries.flatMap { e =>
      touched.get(absPath(path, entryPath(e))) match {
        case None => Some(e)
        case Some(cnt) =>
          if (s.statsFor(entryPath(e), RowCountCol).exists(_._1.toLong == cnt)) None
          else Some(withTriple(e, DvCol, dvDir, cnt.toString))
      }
    } ++ replacements
    commit(spark, path, op, expectedVersion = v0)(_ => Right(next))
  }

  /** Point lookup through the per-file bloom index: only files that might
    * contain `value` (plus index-less files) reach the reader; the residual
    * equality filter keeps the result EXACT whatever the filters admitted.
    * This is the high-cardinality complement to [[readKey]] (partition
    * pruning) and [[readRange]] (min/max skipping): an unsorted,
    * unpartitioned column still skips to O(files actually containing v).
    */
  def readPoint(spark: SparkSession, path: String, column: String,
                value: Any, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snapshot(spark, path, version)
    scan(spark, path, s)(bloomPrunedFiles(spark, s, toPhysical(s, column), value),
      where = _.filter(col(column).cast("string") === lit(String.valueOf(value))))
  }

  /** Metadata-only COUNT(*): the sum of per-file row counts recorded at
    * commit time — Some(n) only when EVERY file in the snapshot carries one
    * (any stat-less file forces the honest answer: None → scan). Zero data
    * I/O; this is how Delta answers `SELECT count(*)` from its log.
    */
  def fastCount(spark: SparkSession, path: String, version: Long = -1L): Option[Long] = {
    val s = snapshot(spark, path, version)
    val counts = s.files.map(f => s.statsFor(f, RowCountCol).map(_._1.toLong))
    if (counts.forall(_.isDefined))
      Some(counts.flatten.sum - dvRefs(s).map(_._3).sum) // live = written − deleted
    else None
  }

  /** Manifest diff between two versions: (added, removed) file paths.
    * `removed.isEmpty` ⇔ the change was append-only — the contract
    * incremental consumers ([[Materialize]]) check before doing delta-only
    * work. The diff is over ENTRIES, not paths: a deletion-vector commit
    * keeps a file's path but changes its rows, so the file must surface in
    * BOTH lists (its old state removed, its new state added) — an append-only
    * consumer that diffed paths alone would silently miss the delete.
    */
  def changesBetween(spark: SparkSession, path: String,
                     fromVersion: Long, toVersion: Long = -1L): (Seq[String], Seq[String]) = {
    val from = if (fromVersion < 0) Set.empty[String]
      else snapshot(spark, path, fromVersion).entries.toSet
    val to = snapshot(spark, path, toVersion).entries.toSet
    // metadata entries (renames) have no file behind them: a rename-only
    // commit is a zero-file, append-only change to every consumer
    ((to -- from).toSeq.map(entryPath).filterNot(_.startsWith(MetaPrefix))
        .distinct.sorted,
      (from -- to).toSeq.map(entryPath).filterNot(_.startsWith(MetaPrefix))
        .distinct.sorted)
  }

  /** DataFrame over only the files ADDED since `fromVersion` (valid when
    * [[changesBetween]] reports no removals — append-only CDC reads), read
    * through `toVersion`'s deletion vectors like every other snapshot read.
    */
  def readAddedSince(spark: SparkSession, path: String, fromVersion: Long,
                     toVersion: Long = -1L): DataFrame = {
    val (added, _) = changesBetween(spark, path, fromVersion, toVersion)
    scan(spark, path, snapshot(spark, path, toVersion))(added)
  }

  /** Row-level change-data feed between two versions: each changed row
    * tagged `insert` or `delete` (an update = delete + insert of the new
    * row). Manifest-aware: only the files the commits ADDED or REMOVED are
    * read — rows in kept files are bit-identical on both sides (files are
    * immutable) and can never contribute a change, so a replace that
    * rewrites one partition diffs that partition, not the table. Within the
    * changed files, unchanged rewritten rows cancel via `exceptAll`
    * (multiset semantics — duplicate rows produce the right multiplicity).
    */
  def rowChanges(spark: SparkSession, path: String,
                 fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (added, removed) = changesBetween(spark, path, fromVersion, toVersion)
    if (added.isEmpty && removed.isEmpty) return spark.emptyDataFrame
    val sFrom = if (fromVersion < 0) Snapshot(-1L, Nil)
      else snapshot(spark, path, fromVersion)
    val sTo = snapshot(spark, path, toVersion)
    // each side reads its files through ITS version's deletion vectors (a
    // DV-only commit diffs to exactly the newly deleted rows), but BOTH
    // sides surface the TO snapshot's logical schema: physical column names
    // are write-stable across renames, so FROM-era files resolve correctly
    // under TO's physical→logical map, and a span crossing a rename/drop
    // commit diffs under one coherent naming instead of throwing. An empty
    // side takes its schema from the other side's files.
    val a0 = scan(spark, path, sTo)(added, donors = removed)
    val r0 = scan(spark, path, sFrom)(removed, donors = added, logical = sTo)
    // width-align across in-span schema drift (a column added/widened
    // between the versions): absent columns surface as typed NULLs — the
    // same view a merged-schema read of the old files would give
    val union = (a0.columns ++ r0.columns.filterNot(a0.columns.contains)).toSeq
    def align(df: DataFrame, other: DataFrame): DataFrame =
      df.select(union.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(other.schema(c).dataType).as(c)
      }: _*)
    val a = align(a0, r0)
    val r = align(r0, a0)
    a.exceptAll(r).withColumn("change", lit("insert"))
      .unionByName(r.exceptAll(a).withColumn("change", lit("delete")))
  }

  final class ConcurrentWriteConflict(msg: String) extends RuntimeException(msg)

  /** A commit's batch violated a table CHECK constraint (or couldn't be
    * validated against one); nothing was committed.
    */
  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  // -------------------------------------------------------- CHECK constraints
  //
  // Table-level CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT`):
  // declared once, enforced on EVERY subsequent commit against the freshly
  // written batch — one column-pruned scan of the new files only, O(batch)
  // never O(table). ANSI CHECK semantics: a row passes when the expression
  // is TRUE or NULL; only FALSE rejects. A batch whose schema can't resolve
  // the expression rejects too (a drifted append can't silently dodge the
  // contract). Validation happens BEFORE the manifest CAS, so a rejected
  // batch leaves the table untouched at its previous version.

  private val ConstraintsFile = "_constraints"

  /** Declare (or redefine) a named CHECK constraint as a Spark SQL boolean
    * expression over the table's columns, e.g. `"qty >= 0"`.
    */
  def setConstraint(spark: SparkSession, path: String, name: String,
                    sqlExpr: String): Unit = {
    require(!name.contains('\t') && !sqlExpr.contains('\t') &&
      !name.contains('\n') && !sqlExpr.contains('\n'),
      "constraint names/expressions must not contain tabs or newlines")
    val next = constraints(spark, path).filterNot(_._1 == name) :+ (name -> sqlExpr)
    writeConstraints(spark, path, next)
  }

  def dropConstraint(spark: SparkSession, path: String, name: String): Unit =
    writeConstraints(spark, path, constraints(spark, path).filterNot(_._1 == name))

  /** The declared constraints, in declaration order. */
  def constraints(spark: SparkSession, path: String): Seq[(String, String)] =
    readKvFile(spark, path, ConstraintsFile)

  private def writeConstraints(spark: SparkSession, path: String,
                               cs: Seq[(String, String)]): Unit =
    writeKvFile(spark, path, ConstraintsFile, cs)

  // ------------------------------------------------------ generated columns
  //
  // Delta `GENERATED ALWAYS AS (expr)`: a column the table computes. A batch
  // that omits the column gets it filled from the expression before the
  // write (so it can be the PARTITION column — the generated-partition
  // pattern that gives date-pruned layouts without trusting writers); a
  // batch that supplies it explicitly is validated value-by-value against
  // the expression and rejected on any mismatch (null-safe compare). Stored
  // in a `_generated` sidecar like CHECK constraints: declared once,
  // enforced on every commit, validation cost O(batch).

  private val GeneratedFile = "_generated"

  /** Declare (or redefine) `name` as generated from the Spark SQL `sqlExpr`
    * over the batch's other columns. Logical names on both sides.
    */
  def setGeneratedColumn(spark: SparkSession, path: String, name: String,
                         sqlExpr: String): Unit = {
    require(!name.contains('\t') && !sqlExpr.contains('\t') &&
      !name.contains('\n') && !sqlExpr.contains('\n'),
      "generated-column names/expressions must not contain tabs or newlines")
    val next = generatedColumns(spark, path).filterNot(_._1 == name) :+
      (name -> sqlExpr)
    writeKvFile(spark, path, GeneratedFile, next)
  }

  def dropGeneratedColumn(spark: SparkSession, path: String, name: String): Unit =
    writeKvFile(spark, path, GeneratedFile,
      generatedColumns(spark, path).filterNot(_._1 == name))

  /** The declared generated columns, in declaration order. */
  def generatedColumns(spark: SparkSession, path: String): Seq[(String, String)] =
    readKvFile(spark, path, GeneratedFile)

  /** Fill ABSENT generated columns on an incoming batch; returns the frame
    * plus the names that were supplied explicitly (→ must be validated
    * after the write).
    */
  private def applyGenerated(df: DataFrame, gens: Seq[(String, String)])
      : (DataFrame, Seq[(String, String)]) = {
    import org.apache.spark.sql.functions.expr
    val filled = gens.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, expr(e))
    }
    (filled, gens.filter { case (n, _) => df.columns.contains(n) })
  }

  /** The pre-CAS gate of every commit that writes data files: reject the
    * batch (the just-written `written` files, read under the table's
    * LOGICAL names) when a declared CHECK constraint is FALSE on some row,
    * when an EXPLICITLY supplied generated column disagrees with its
    * expression (null-safe compare), or when either cannot be resolved
    * against the batch schema. One O(batch) scan per check.
    */
  private def validateBatch(spark: SparkSession, path: String,
                            written: Seq[String],
                            explicitGenerated: Seq[(String, String)]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val checks = constraints(spark, path).map { case (name, e) =>
      s"constraint '$name' ($e)" -> (() => coalesce(expr(e), lit(true)))
    } ++ explicitGenerated.map { case (n, e) =>
      s"generated column '$n' ($e)" -> (() => col(n) <=> expr(e))
    }
    if (checks.isEmpty || written.isEmpty) return
    val batch = logicalize(parquetFiles(spark, written.map(resolve(path, _))),
      snapshot(spark, path))
    checks.foreach { case (what, ok) =>
      val bad =
        try batch.filter(not(ok())).limit(1).count()
        catch { case ex: Exception =>
          throw new ConstraintViolation(
            s"$what could not be validated against the batch: ${ex.getMessage}")
        }
      if (bad > 0)
        throw new ConstraintViolation(s"$what violated by the incoming batch on $path")
    }
  }

  private[sources] def readKvFile(spark: SparkSession, path: String,
                                  file: String): Seq[(String, String)] = {
    val f = fs(spark, path)
    val p = new Path(path, file)
    if (!f.exists(p)) return Nil
    val in = f.open(p)
    val text = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
    text.split('\n').filter(_.nonEmpty).toSeq.map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }
  }

  private[sources] def writeKvFile(spark: SparkSession, path: String,
                                   file: String,
                                   kvs: Seq[(String, String)]): Unit = {
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    val tmp = new Path(path, s".$file-${UUID.randomUUID()}")
    val out = rawFs(f).create(tmp, true) // no crc sidecar — see [[rawFs]]
    try out.write(kvs.map { case (n, e) => s"$n\t$e" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fc = FileContext.getFileContext(tmp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(path, file), Options.Rename.OVERWRITE)
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The checksum-free view of `f` for LOG-FILE writes. On a local
    * (Checksum)FileSystem, `create` drops a `.crc` sidecar next to the tmp
    * file and the later rename moves the (data, crc) PAIR non-atomically —
    * under contended commits a LOSING racer's sidecar rename can land next
    * to the WINNER's manifest, and every subsequent read dies with
    * ChecksumException (reproduced by the 8-writer liveness chaos test).
    * Writing log files raw means no sidecar ever exists, so the single
    * data-file rename is the whole commit — object stores and HDFS
    * (checksums live inline/in the blocks, not in sidecars) are unaffected.
    */
  private def rawFs(f: FileSystem): FileSystem = f match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def versionName(v: Long): String = f"$v%020d"

  /** Latest committed version, or -1 for an empty/absent log. */
  def currentVersion(spark: SparkSession, path: String): Long = {
    val log = new Path(path, LogDir)
    val f = fs(spark, path)
    if (!f.exists(log)) -1L
    else f.listStatus(log).map(_.getPath.getName).filter(_.forall(_.isDigit))
      .foldLeft(-1L)((m, n) => math.max(m, n.toLong))
  }

  /** Commit history (DESCRIBE HISTORY): one row per version with its commit
    * time (manifest mtime), live file count, and — when every file carries
    * row-count stats — the table's row count at that version, metadata-only.
    * Driver work is O(versions · files-per-manifest) string handling.
    *
    * Commit times are STRICTLY increasing by construction: on filesystems
    * with coarse mtime granularity (1 s on some) consecutive commits can
    * share a raw mtime, which would make [[versionAsOf]] resolve a
    * timestamp to whichever same-stamped version is highest — the reported
    * time of version v is therefore `max(mtime(v), time(v-1) + 1)`, pushing
    * ties apart by 1 ms in version order (versions ARE the commit order;
    * the manifest CAS serializes them).
    */
  def history(spark: SparkSession, path: String): Seq[(Long, Long, Int, Option[Long])] = {
    val latest = currentVersion(spark, path)
    if (latest < 0) return Nil
    val f = fs(spark, path)
    var prev = Long.MinValue
    (0L to latest).map { v =>
      val mtime = f.getFileStatus(new Path(new Path(path, LogDir), versionName(v)))
        .getModificationTime
      val ts = math.max(mtime, prev + 1)
      prev = ts
      (v, ts, snapshot(spark, path, v).files.size, fastCount(spark, path, v))
    }
  }

  /** DESCRIBE HISTORY's operationName column: which operation committed
    * each version (`APPEND`, `MERGE`, `DELETE`, `COMPACT`, `RESTORE`,
    * `RENAME-COLUMN`, …) — read from the per-version `#op` annotation,
    * O(versions) small-file reads, zero data I/O. Versions from before the
    * annotation (or foreign writers) read as `UNKNOWN`.
    */
  def operationHistory(spark: SparkSession, path: String): Seq[(Long, String)] = {
    val latest = currentVersion(spark, path)
    (0L to latest).map { v =>
      val op = manifestLines(spark, path, v)
        .collectFirst { case l if l.startsWith(OpPrefix) => l.stripPrefix(OpPrefix) }
        .getOrElse("UNKNOWN")
      (v, op)
    }
  }

  /** Version whose commit time is the latest ≤ `timestampMs` — Delta's
    * `TIMESTAMP AS OF`. None when the table didn't exist yet.
    */
  def versionAsOf(spark: SparkSession, path: String, timestampMs: Long): Option[Long] = {
    val h = history(spark, path)
    h.filter(_._2 <= timestampMs).map(_._1).maxOption
  }

  private def manifestLines(spark: SparkSession, path: String, v: Long): Seq[String] = {
    val manifest = new Path(new Path(path, LogDir), versionName(v))
    val in = fs(spark, path).open(manifest)
    val content = try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 64 * 1024, false)
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    content.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Pin a version (latest by default): the immutable read view. Resolution
    * walks back from `version` to the nearest checkpoint (full manifest) —
    * at most [[CheckpointInterval]] reads — then replays each delta commit
    * forward: removes drop by path, adds append with their stats intact.
    */
  def snapshot(spark: SparkSession, path: String, version: Long = -1L): Snapshot = {
    val v = if (version >= 0) version else currentVersion(spark, path)
    if (v < 0) return Snapshot(-1L, Nil)
    var base = v
    var deltas = List.empty[Seq[String]] // oldest-first after the walk
    def entryLines(ver: Long): Seq[String] =
      manifestLines(spark, path, ver).filterNot(_.startsWith(CommentPrefix))
    var lines = entryLines(base)
    while (isDelta(lines)) {
      deltas = lines :: deltas
      base -= 1
      require(base >= 0, s"no checkpoint below delta manifest v$v on $path")
      lines = entryLines(base)
    }
    var entries = lines
    deltas.foreach { dl =>
      val removes = dl.collect {
        case l if l.startsWith(RemovePrefix) => l.stripPrefix(RemovePrefix)
      }.toSet
      val adds = dl.collect {
        case l if l.startsWith(AddPrefix) => l.stripPrefix(AddPrefix)
      }
      entries = entries.filterNot(e => removes.contains(entryPath(e))) ++ adds
    }
    Snapshot(v, entries)
  }

  /** DataFrame over a snapshot; partition columns are read from the data
    * files (see [[partSeg]]). The schema is one footer's (cheap): that of the
    * snapshot's newest add in manifest order, so a table whose later
    * commits ADDED a column reads with it, whatever the file listing order.
    * To union the footers of a table whose commits DRIFTED schemas, use
    * [[readMerged]].
    */
  def read(spark: SparkSession, path: String, version: Long = -1L): DataFrame =
    scan(spark, path, snapshot(spark, path, version))()

  /** Schema-evolving read (S5 drift recovery on the versioned table): union
    * the footers of every file the snapshot pins, so commits that ADDED
    * columns read back as one unified schema with NULLs where a file
    * predates the column — the `mergeSchema` contract, scoped to the
    * manifest's file list (no directory walk). Footer-read cost is
    * O(snapshot files); prefer [[read]] when the schema is known stable.
    */
  def readMerged(spark: SparkSession, path: String, version: Long = -1L): DataFrame =
    scan(spark, path, snapshot(spark, path, version))(mergeSchema = true)

  /** The files a key-scoped read must hand the reader: those carrying the
    * exact `col=value` segment, PLUS any file with no `col` segment at all —
    * a file written before the table partitioned by `col` (appendFlat, or a
    * different-column era under partition evolution) can still hold matching
    * rows, and proving absence from the path is impossible. Files tagged
    * with a DIFFERENT value are the ones pruning can drop.
    */
  def keyFiles(s: Snapshot, col: String, value: String): Seq[String] = {
    val prefix = partPrefix(col)
    s.files.filter { f =>
      val segs = f.split('/')
      segs.contains(partSeg(col, value)) || !segs.exists(_.startsWith(prefix))
    }
  }

  /** Key-scoped read with MANIFEST-driven partition pruning: only
    * [[keyFiles]] are handed to the reader — no directory listing, no footer
    * reads outside the candidate set. EXACT under partition-layout
    * evolution: segment-less files (earlier eras, flat appends) are read
    * too, and a residual `col = value` filter — comparing through the same
    * string form the partition dirs encode — keeps the result right
    * whatever the pruning admitted; on a uniformly-partitioned table it
    * folds into the scan as a pushed filter over constant-RLE pages (~free).
    * An absent key reads as zero rows with the table's columns.
    */
  def readKey(spark: SparkSession, path: String, col: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val s = snapshot(spark, path)
    val v = String.valueOf(value)
    val phys = toPhysical(s, col) // partition dirs use physical names
    val candidates = keyFiles(s, phys, v)
    // mixed eras can carry drifted schemas — union the candidate footers
    val mixed = candidates.exists(!_.split('/').contains(partSeg(phys, v)))
    scan(spark, path, s)(candidates, mergeSchema = mixed, where = df =>
      if (!df.columns.contains(col)) df.filter(lit(false)) // column never existed
      else df.filter(c(col).cast("string") === lit(v)))
  }

  /** Key-range read with MANIFEST-driven file skipping (Delta-style data
    * skipping): only files whose recorded `[min, max]` for `column`
    * intersects `[lo, hi]` — or that carry no stats for it (always safe) —
    * reach the reader. The residual filter still applies, so the result is
    * EXACT regardless of which files were skipped; stats only cut I/O.
    *
    * The 100 TB shape this buys: a time/key-range query over a table whose
    * batches arrive in key order touches O(matching files), not O(table) —
    * on top of [[readKey]]'s partition pruning, this prunes WITHIN a
    * partition by any stats-collected column, before Spark lists or opens
    * anything.
    */
  def readRange(spark: SparkSession, path: String, column: String,
                lo: BigDecimal, hi: BigDecimal, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snapshot(spark, path, version)
    scan(spark, path, s)(prunedFiles(s, toPhysical(s, column), lo, hi),
      where = _.filter(col(column) >= lit(lo) && col(column) <= lit(hi)))
  }

  /** The file subset [[readRange]] would hand the reader (exposed so specs
    * and operators can assert skipping). Numeric-stat comparison; a file
    * without stats for `column` is always kept.
    */
  def prunedFiles(s: Snapshot, column: String,
                  lo: BigDecimal, hi: BigDecimal): Seq[String] =
    statsPruned(s, column) { (mn, mx) =>
      try !(BigDecimal(mx) < lo || BigDecimal(mn) > hi)
      catch { case _: NumberFormatException => true }
    }

  /** The files whose recorded `(min, max)` for `column` `overlaps` the
    * range; a file without stats for it is always kept.
    */
  private def statsPruned(s: Snapshot, column: String)(
      overlaps: (String, String) => Boolean): Seq[String] =
    s.files.filter(f => s.statsFor(f, column).forall(overlaps.tupled))

  /** LEXICAL-range file skipping — [[readRange]] for string-typed columns
    * whose encoding orders like the value: ISO dates/timestamps
    * (`2023-01-15`), zero-padded ids, category codes. min/max stats are
    * stored as strings already, so the comparison is the column's own
    * collation-free ordering (Spark's UTF8String binary order ≡ Java String
    * compare for the ASCII ranges these columns live in). Numeric strings do
    * NOT order lexically (`"9" > "10"`) — use [[readRange]] for those.
    */
  def prunedFilesString(s: Snapshot, column: String,
                        lo: String, hi: String): Seq[String] =
    statsPruned(s, column)((mn, mx) => !(mx < lo || mn > hi))

  /** String-range read with manifest file skipping (the lexical twin of
    * [[readRange]] — date-string and category predicates prune files before
    * any listing or footer I/O). The residual filter keeps the result EXACT
    * whatever the stats pruned.
    */
  def readRangeString(spark: SparkSession, path: String, column: String,
                      lo: String, hi: String, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snapshot(spark, path, version)
    scan(spark, path, s)(prunedFilesString(s, toPhysical(s, column), lo, hi),
      where = _.filter(col(column) >= lit(lo) && col(column) <= lit(hi)))
  }

  /** Transactional append (S3/S4 semantics, table-atomic). `statsCols`
    * nonempty → per-file min/max of those (numeric) columns land in the
    * manifest for [[readRange]] skipping.
    */
  def append(df: DataFrame, path: String, partitionCol: String,
             statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    mutate(df, path, Some(partitionCol), replacedValues = _ => Set.empty,
      statsCols = statsCols, bloomCols = bloomCols, op = "APPEND")

  /** Transactional append WITHOUT a partition column: whole-commit atomicity
    * for tables whose reads are full scans anyway (e.g. the accepted-corpus
    * dedup table, which every batch joins in full). No partition pruning —
    * use [[append]] when reads are key-scoped.
    */
  def appendFlat(df: DataFrame, path: String, statsCols: Seq[String] = Nil,
                 bloomCols: Seq[String] = Nil): Long =
    mutate(df, path, None, replacedValues = _ => Set.empty,
      statsCols = statsCols, bloomCols = bloomCols, op = "APPEND")

  /** Transactional unpartitioned full-table overwrite — [[overwrite]] for
    * tables whose reads are full scans (derived/materialized state): the new
    * manifest lists only this write's files, in ONE swap.
    */
  def overwriteFlat(df: DataFrame, path: String, statsCols: Seq[String] = Nil): Long =
    mutate(df, path, None, replacedValues = _ => Set.empty, dropAll = true,
      statsCols = statsCols, op = "OVERWRITE")

  /** EXACTLY-ONCE append — Delta's idempotent-writer contract
    * (`txnAppId`/`txnVersion`, the SetTransaction action): commit `df` only
    * if no batch ≥ `batchVersion` has been committed under `appId`, else
    * no-op. The caller is a writer that can REPLAY after a crash — a
    * Structured Streaming `foreachBatch(batchDf, batchId)` sink restarting
    * from its checkpoint re-delivers the last epoch; a retried ingest job
    * re-runs its batch — and plain [[appendFlat]] would double the rows.
    *
    * The `@txn:` watermark entry rides in the SAME manifest swap as the data
    * files, so marker and data are atomic: a crash before the swap leaves
    * neither (the replay re-appends, correctly); a crash after leaves both
    * (the replay is skipped, correctly). There is no window in between.
    * Safe under RACING duplicates too — the check re-runs inside the commit
    * CAS loop, so of two writers carrying the same (appId, batchVersion)
    * exactly one lands and the other degrades to a no-op that removes its
    * own orphaned files.
    *
    * At 100 TB this is what makes restart-after-failure a non-event: the
    * sink never needs a read-side dedup pass over the table to recover —
    * recovery cost is one manifest read, not data-proportional.
    *
    * Batch versions per appId must be non-decreasing and are fenced at the
    * latest committed one; distinct appIds are independent. Returns the
    * table version holding the batch (the new commit, or the version that
    * already contained it).
    */
  def appendOnce(df: DataFrame, path: String, appId: String, batchVersion: Long,
                 statsCols: Seq[String] = Nil,
                 bloomCols: Seq[String] = Nil,
                 partitionCol: Option[String] = None): Long = {
    require(appId.nonEmpty && !appId.exists(c => c == '\t' || c == '\n' ||
        c == '\r' || c == '/'),
      s"invalid txn appId: '$appId'")
    require(batchVersion >= 0, s"negative txn batchVersion: $batchVersion")
    val spark = df.sparkSession
    // cheap pre-check: the common replay (restart re-delivering the last
    // batch) is recognized from the snapshot alone — no files written. The
    // authoritative check lives inside mutate's CAS loop for racers.
    val cur = snapshot(spark, path)
    if (cur.version >= 0 && cur.txnVersions.get(appId).exists(_ >= batchVersion))
      return cur.version
    // pass partitionCol when the table's other writers are partition-scoped
    // ([[replaceKeys]]/[[mergeKeys]]): like appendFlat, an unpartitioned
    // batch carries no partition segments, so partition-scoped replaces
    // cannot see (and so cannot replace) its rows
    mutate(df, path, partitionCol, replacedValues = _ => Set.empty,
      statsCols = statsCols, bloomCols = bloomCols, op = "APPEND-ONCE",
      txn = Some((appId, batchVersion)))
  }

  /** Latest batch version committed for `appId` via [[appendOnce]] (Delta's
    * `txnVersion(appId)`), or -1 — what a restarting writer consults to know
    * where to resume.
    */
  def txnVersion(spark: SparkSession, path: String, appId: String): Long = {
    val cur = snapshot(spark, path)
    if (cur.version < 0) -1L else cur.txnVersions.getOrElse(appId, -1L)
  }

  /** Transactional full-table overwrite — the `overwriteSchema` commit: the
    * new manifest lists ONLY this write's files, so the table's schema is
    * whatever `df` carries from this version on, while every prior version
    * still time-travels with ITS schema (the immutable files stay until
    * [[vacuum]]). This is S5's drift recovery
    * (`dags/open_f1_historical.py:141-152` — drop + recreate on schema
    * mismatch) made non-destructive on the versioned table.
    */
  def overwrite(df: DataFrame, path: String, partitionCol: String,
                statsCols: Seq[String] = Nil): Long =
    mutate(df, path, Some(partitionCol), replacedValues = _ => Set.empty,
      dropAll = true, statsCols = statsCols, op = "OVERWRITE")

  /** Transactional key-scoped replace — the reference's session
    * delete+insert as ONE commit (S6, table-atomic this time): partitions
    * present in `df` are replaced, all others untouched. Readers see the old
    * or the new table, never a mix.
    */
  def replaceKeys(df: DataFrame, path: String, partitionCol: String,
                  statsCols: Seq[String] = Nil,
                  expectedVersion: Long = -1L): Long =
    mutate(df, path, Some(partitionCol), replacedValues = identity,
      statsCols = statsCols, expectedVersion = expectedVersion, op = "REPLACE")

  /** Row-level MERGE (Delta `MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
    * INSERT`, the upsert shape): within the partitions `updates` touches,
    * rows whose `keyCols` match an update are replaced by it and unmatched
    * updates are inserted; rows in untouched partitions are never rewritten.
    * One manifest swap — readers see the whole merge or none of it.
    *
    * Lost-update protection: the merge derives the new partition contents
    * from the snapshot pinned at `expectedVersion` (default: current), and
    * the commit succeeds ONLY at `expectedVersion + 1`. A commit that lands
    * in between — even into another partition — aborts this merge with
    * [[ConcurrentWriteConflict]] rather than silently overwriting the
    * racing writer's rows with stale-read-derived data (first-committer-wins
    * optimistic concurrency, the Delta/Iceberg serializable-merge rule).
    *
    * Keys must not move between partitions: a key's old row is only
    * replaced where the update's partition value points (the same
    * stable-partition-key requirement as a partition-pruned Delta merge).
    *
    * Scale shape: only touched partitions are read (manifest-side pruning,
    * no LISTing), the anti-join is keyCols-only on the build side, and the
    * rewrite volume is bounded by the touched partitions, not the table.
    *
    * `allowSchemaEvolution` (Delta `MERGE WITH SCHEMA EVOLUTION` /
    * `autoMerge`): updates may carry columns the table lacks — survivor
    * rows take NULL in them, and the widened schema lands in the SAME
    * commit as the merged rows (rewritten partitions carry it physically;
    * untouched partitions stay on the old file schema and widen through
    * [[readMerged]], exactly like an S5 drift append). Off by default:
    * an unexpected source column is usually a bug upstream, and silently
    * widening the table hides it — opt in per call, as Delta does.
    */
  def mergeKeys(updates: DataFrame, path: String, partitionCol: String,
                keyCols: Seq[String], expectedVersion: Long = -1L,
                statsCols: Seq[String] = Nil,
                allowSchemaEvolution: Boolean = false): Long =
    mergeOnKeys(updates, updates, path, partitionCol, keyCols, expectedVersion,
      statsCols, allowSchemaEvolution, op = "MERGE")

  /** CDC APPLY CHANGES INTO (the Delta Live Tables `apply_changes` /
    * Debezium-sink shape): fold a change feed of (keys…, payload…, seqCol,
    * opCol ∈ {'upsert','delete'}) into the table in ONE commit. Per key the
    * change with the highest (seq, op) wins — `op` descending breaks exact
    * sequence ties deterministically ('upsert' > 'delete'); give changes
    * unique sequences if the tie rule shouldn't matter. Winning upserts are
    * merged (update-or-insert), winning deletes remove the key; everything
    * else is untouched.
    *
    * Idempotency: re-applying the same feed — or any feed whose winners are
    * unchanged — produces a new version with identical rows, which is what
    * makes at-least-once CDC delivery safe. Out-of-order arrivals are
    * absorbed by the winner rule: a stale change never overwrites a newer
    * one already applied IF the re-delivered feed still contains the newer
    * change (ship feeds as per-key prefix-closed batches, the CDC-log
    * contract).
    *
    * Same bounds and OCC as [[mergeKeys]]: only touched partitions are read
    * and rewritten (a partition whose rows all die IS rewritten — to empty),
    * commit succeeds only at `expectedVersion + 1`, and keys must not move
    * partitions (delete rows carry the key's partition value). The table
    * schema is the feed schema minus (seqCol, opCol).
    */
  def applyChanges(feed: DataFrame, path: String, partitionCol: String,
                   keyCols: Seq[String], seqCol: String, opCol: String,
                   expectedVersion: Long = -1L,
                   statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(keyCols.map(feed.col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc)
    val winners = feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    mergeOnKeys(winners,
      winners.filter(col(opCol) === "upsert").drop(seqCol, opCol),
      path, partitionCol, keyCols, expectedVersion, statsCols,
      evolve = false, op = "CDC-APPLY")
  }

  /** The one key-merge body of [[mergeKeys]] and [[applyChanges]]: read the
    * partitions `keys` touches at the pinned version, anti-join `keys`'
    * keyCols, union `upserts` and commit a partition replace on top of that
    * version. Every TOUCHED partition is replaced, not just those the
    * rewrite wrote files for — a partition whose rows were all deleted must
    * still drop its old files from the manifest. `evolve` unions the
    * footers of the read and lets `upserts` widen the schema.
    */
  private def mergeOnKeys(keys: DataFrame, upserts: DataFrame, path: String,
                          partitionCol: String, keyCols: Seq[String],
                          expectedVersion: Long, statsCols: Seq[String],
                          evolve: Boolean, op: String): Long = {
    import org.apache.spark.sql.functions.col
    val spark = upserts.sparkSession
    val v0 = pinned(spark, path, expectedVersion)
    if (v0 < 0) return mutate(upserts, path, Some(partitionCol),
      replacedValues = identity, statsCols = statsCols, op = op)
    val touched = keys.select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    val survivors = scan(spark, path, snapshot(spark, path, v0))(mergeSchema = evolve)
      .filter(col(partitionCol).cast("string").isin(touched.toSeq: _*))
      .join(keys.select(keyCols.map(keys.col): _*).distinct(), keyCols, "left_anti")
    val merged =
      if (evolve) survivors.unionByName(upserts, allowMissingColumns = true)
      else survivors.select(upserts.columns.map(col): _*).unionByName(upserts)
    mutate(merged, path, Some(partitionCol), replacedValues = _ ++ touched,
      expectedVersion = v0, statsCols = statsCols, op = op)
  }

  /** `expectedVersion` when the caller pinned one, else the current version. */
  private def pinned(spark: SparkSession, path: String, expectedVersion: Long): Long =
    if (expectedVersion >= 0) expectedVersion else currentVersion(spark, path)

  /** Identity-column append (Delta `GENERATED ALWAYS AS IDENTITY`, dense
    * variant): assign each appended row a unique id continuing from the
    * table's current maximum — discovered from the MANIFEST STATS alone
    * (the id column's per-file max triples), never by scanning data.
    *
    * Dense deterministic assignment without a global sort: rows bucket by
    * the caller's `bucket` expression (any value-monotone function of the
    * ordering, e.g. `key div 1000` — NOT a hash, so bucket order = value
    * order), per-bucket counts cumulate into offsets (ONE window over the
    * bucket-count-sized frame — thousands of rows, not data), and each row's
    * id is `start + bucket offset + rank within its bucket`. The only
    * per-row work is a bucket-partitioned window — the shuffle is on the
    * bucket key, bounded by the BATCH being appended, never the table.
    *
    * Concurrency: `start` binds to the snapshot version the maxes were read
    * from and the commit lands only at that version + 1 — a racing append
    * aborts with [[ConcurrentWriteConflict]] instead of minting duplicate
    * ids (retry re-reads the new max). Ids are dense within a batch and
    * monotone across batches; a FAILED attempt leaves no gap (nothing
    * committed), matching Delta's "unique, not necessarily consecutive"
    * contract strengthened to per-batch density.
    *
    * `orderCols` must totally order rows within a bucket or the assignment
    * is ambiguous — pass the row's natural key.
    */
  def appendWithIdentity(df: DataFrame, path: String, idCol: String,
                         bucket: org.apache.spark.sql.Column,
                         orderCols: Seq[String],
                         statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, row_number, sum}
    val spark = df.sparkSession
    val v0 = currentVersion(spark, path)
    val start = if (v0 < 0) 1L else {
      val s = snapshot(spark, path, v0)
      val physId = toPhysical(s, idCol) // stats entries store physical names
      val maxes = s.files.flatMap(f => s.statsFor(f, physId).map(_._2.toLong))
      if (maxes.isEmpty) 1L else maxes.max + 1L
    }
    val b = df.withColumn("__bk", bucket)
    val counts = b.groupBy("__bk").agg(count(lit(1)).as("__cnt"))
    val offsets = counts.withColumn("__off",
        sum(col("__cnt")).over(Window.orderBy("__bk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("__cnt"))
      .select(col("__bk"), col("__off"))
    val withIds = b.join(broadcast(offsets), Seq("__bk"))
      .withColumn(idCol, lit(start) + col("__off") +
        row_number().over(Window.partitionBy("__bk")
          .orderBy(orderCols.map(col): _*)) - 1)
      .drop("__bk", "__off")
    mutate(withIds, path, None, replacedValues = _ => Set.empty,
      expectedVersion = v0, statsCols = (statsCols :+ idCol).distinct,
      op = "APPEND-IDENTITY")
  }

  /** Snapshot-isolated small-file maintenance (S12 on the versioned table):
    * rewrite the CURRENT snapshot's rows as one file per partition value and
    * commit the swap as ONE manifest version. Zero rows change — only file
    * layout. Readers pinned at v_n keep reading the old files (immutable
    * until [[vacuum]]); the swap is first-committer-wins: any commit landing
    * between the snapshot read and the compaction commit aborts the
    * compaction with [[ConcurrentWriteConflict]] (never the other writer),
    * so a lost compaction costs a retry, never data.
    *
    * Scale shape: `repartition(partitionCol)` routes each partition value to
    * one task → one output file per value; rewrite volume is the live table,
    * driver state is file names only. At 100 TB you compact partition
    * subsets per run (filter the snapshot first) — same commit protocol.
    */
  def compact(spark: SparkSession, path: String, partitionCol: String,
              expectedVersion: Long = -1L, statsCols: Seq[String] = Nil): Long = {
    val v0 = pinned(spark, path, expectedVersion)
    if (v0 < 0) return -1L
    // readMerged, not read: compacting a schema-DRIFTED table with one
    // file's footer schema would silently drop the drifted columns
    val packed = readMerged(spark, path, v0)
      .repartition(org.apache.spark.sql.functions.col(partitionCol))
    mutate(packed, path, Some(partitionCol), replacedValues = _ => Set.empty,
      expectedVersion = v0, dropAll = true, statsCols = statsCols,
      op = "COMPACT")
  }

  /** Auto-compaction policy (Delta's auto-compact loop as a library call):
    * compact iff some partition value owns more than `maxFilesPerPartition`
    * live data files — otherwise a no-op. The trigger check reads the
    * MANIFEST only (no filesystem listing, no footer reads), so it is
    * O(manifest entries) and cheap enough to call after every append; the
    * compaction itself, when triggered, targets only the offending
    * partitions through [[compactWhere]] when the table is uniformly
    * tagged, falling back to a full [[compact]] for mixed-era layouts.
    *
    * Concurrency: the commit binds to the snapshot the trigger counted
    * (first-committer-wins); on a racing write the maintenance yields
    * (`None`) rather than retrying — the caller's NEXT append re-triggers
    * against the fresh snapshot, which is the steady-state behavior an
    * ingest loop wants from background maintenance.
    *
    * @return Some(version) when a compaction committed, None otherwise
    */
  def maybeCompact(spark: SparkSession, path: String, partitionCol: String,
                   maxFilesPerPartition: Int = 8,
                   statsCols: Seq[String] = Nil): Option[Long] = {
    val s0 = snapshot(spark, path)
    if (s0.version < 0) return None
    val phys = toPhysical(s0, partitionCol)
    val prefix = partPrefix(phys)
    val bySeg = s0.files.groupBy(f =>
      f.split('/').find(_.startsWith(prefix)).getOrElse(""))
    val offending = bySeg.collect {
      case (seg, fs) if fs.size > maxFilesPerPartition && seg.nonEmpty =>
        seg.substring(prefix.length)
    }.toSeq.sorted
    val mixedEra = bySeg.contains("")
    val untaggedOver = mixedEra && bySeg("").size > maxFilesPerPartition
    if (offending.isEmpty && !untaggedOver) return None
    try {
      if (mixedEra)
        Some(compact(spark, path, partitionCol, expectedVersion = s0.version,
          statsCols = statsCols))
      else
        Some(compactWhere(spark, path, partitionCol, offending,
          expectedVersion = s0.version, statsCols = statsCols))
    } catch { case _: ConcurrentWriteConflict => None }
  }

  /** Partition-scoped small-file maintenance (`OPTIMIZE t WHERE part IN
    * (...)`): rewrite ONLY the named partition values — one file per value —
    * in one manifest swap; every other entry passes through untouched. This
    * is how maintenance actually runs at 100 TB: the hot partitions nightly,
    * never the table ([[compact]]'s own Scaladoc promises exactly this
    * shape). Reads go through [[readKey]], so deletion vectors are
    * MATERIALIZED for the compacted partitions and their sidecar references
    * drop with the old entries. Same first-committer-wins rule as
    * [[compact]].
    *
    * Restricted to uniformly-tagged partitions: a segment-less file (an
    * earlier flat/partition-evolution era) can hold several values' rows,
    * so rewriting one value from it would either lose or duplicate rows —
    * such values are rejected; run a full [[compact]] to normalize first.
    */
  def compactWhere(spark: SparkSession, path: String, partitionCol: String,
                   values: Seq[String], expectedVersion: Long = -1L,
                   statsCols: Seq[String] = Nil): Long = {
    val v0 = pinned(spark, path, expectedVersion)
    if (v0 < 0) return -1L
    val s = snapshot(spark, path, v0)
    val physCol = toPhysical(s, partitionCol)
    val prefix = partPrefix(physCol)
    val untagged = s.files.filter(!_.split('/').exists(_.startsWith(prefix)))
    require(untagged.isEmpty,
      s"compactWhere needs a uniformly partition-tagged table; ${untagged.size} " +
        s"file(s) carry no $partitionCol segment (run compact() to normalize): $path")
    val present = values.filter(v => keyFiles(s, physCol, v).nonEmpty)
    if (present.isEmpty) return v0
    val packed = present.map(v => readKey(spark, path, partitionCol, v))
      .reduce(_ unionByName _)
      .repartition(org.apache.spark.sql.functions.col(partitionCol))
    mutate(packed, path, Some(partitionCol), replacedValues = identity,
      expectedVersion = v0, statsCols = statsCols, op = "COMPACT-WHERE")
  }

  /** Snapshot-isolated Z-ORDER compaction (`OPTIMIZE ZORDER BY (x, y)` on
    * the versioned table): rewrite the current snapshot range-partitioned
    * and sorted by the Morton interleave of two range-reduced columns, so
    * every output file is a compact 2-D tile — manifest min/max stats
    * (collected on BOTH dimensions in the same commit) are tight on x AND
    * y, and [[readRange]] on either column prunes to O(√files) tiles
    * (ZOrderSpec measures the claim on the plain-parquet writer; this
    * commits the same layout as ONE manifest swap with the same
    * first-committer-wins protocol as [[compact]] — zero rows change,
    * readers pinned at v_n keep their files, a racing commit aborts the
    * compaction, never the writer).
    */
  def compactZOrdered(spark: SparkSession, path: String, xCol: String,
                      yCol: String, bits: Int, nFiles: Int,
                      expectedVersion: Long = -1L,
                      extraStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val v0 = pinned(spark, path, expectedVersion)
    if (v0 < 0) return -1L
    val z = graft.functions.ZOrder.zValue(
      col(xCol).bitwiseAND(lit((1L << bits) - 1)),
      col(yCol).bitwiseAND(lit((1L << bits) - 1)), bits)
    val packed = readMerged(spark, path, v0)
      .withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    mutate(packed, path, None, replacedValues = _ => Set.empty,
      expectedVersion = v0, dropAll = true,
      statsCols = Seq(xCol, yCol) ++ extraStatsCols, op = "ZORDER")
  }

  /** Zero-copy SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`):
    * a new, independently-writable table whose first manifest lists the
    * SOURCE's data files by absolute path — O(metadata) whatever the table
    * size, no data copied. Stats triples (min/max, blooms, row counts) ride
    * along, so the clone prunes exactly like its source. Writes to the
    * clone land under the clone root as normal relative entries and never
    * touch the source; writes to the source are invisible to the clone (it
    * pinned a version). [[compact]] on the clone rewrites every borrowed
    * file locally — the "materialize the clone" escape hatch. [[vacuum]]
    * only ever deletes files under ITS OWN table root, so vacuuming the
    * clone cannot delete source data; vacuuming the SOURCE can break
    * clones, the same retention hazard Delta documents — retain or
    * materialize first.
    *
    * The dev/test fork, the experiment branch, the pre-migration backup:
    * all O(1) on a 100 TB table.
    */
  def cloneAt(spark: SparkSession, srcPath: String, destPath: String,
              version: Long = -1L): Long = {
    val s = snapshot(spark, srcPath, version)
    val srcRoot = new Path(srcPath).toUri.getPath
    val entries = s.entries.map { e =>
      if (e.startsWith(MetaPrefix)) e // metadata entries carry no path
      else {
      val parts = e.split('\t')
      val p = parts.head
      val abs = if (p.startsWith("/")) p else s"$srcRoot/$p"
      // a borrowed file's deletion-vector sidecar lives under the SOURCE
      // root — absolutize its triple value like the file path itself
      val triples = parts.drop(1).grouped(3).flatMap {
        case Array(c, dv, cnt) if c == DvCol && !dv.startsWith("/") =>
          Seq(c, s"$srcRoot/$dv", cnt)
        case t => t.toSeq
      }
      (abs +: triples.toSeq).mkString("\t")
      }
    }
    commit(spark, destPath, "CLONE", rewrite = true)(_ => Right(entries))
  }

  /** RESTORE TABLE ... TO VERSION — roll the table back to `toVersion`'s
    * content as a NEW commit (history is preserved; this is Delta's RESTORE,
    * not a log rewind): the commit's entries are exactly the target
    * snapshot's, files re-referenced rather than copied — O(metadata) at any
    * table size. Deletion-vector references ride along unchanged, so a
    * restore across DV commits reinstates exactly the masked view of that
    * version. Time travel still reaches every intermediate version, and a
    * crash leaves either the old current or the restored commit — never a
    * mix. Same CAS commit rule as every other writer.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val s = snapshot(spark, path, toVersion)
    commit(spark, path, "RESTORE", rewrite = true) { cur =>
      // already there: the no-op commit is skipped
      if (cur.version == toVersion) Left(toVersion) else Right(s.entries)
    }
  }

  /** METADATA-ONLY column rename (Delta column mapping's `RENAME COLUMN`):
    * not one data file is touched — the commit adds a `@rename` manifest
    * entry mapping the column's immutable PHYSICAL name (whatever the files
    * already store) to its new LOGICAL name. Reads at this version onward
    * surface the new name; time travel below it surfaces the old one;
    * appends/merges written under the new name are physicalized back, so
    * files stay mutually consistent forever. Renaming the PARTITION or a
    * stats/bloom column works — the partition dirs and stats triples keep
    * the physical name and every metadata-driven entry point translates.
    *
    * A full [[overwrite]]/[[compact]] MATERIALIZES the mapping (rewrites
    * files under the then-logical names and drops the meta entries), the
    * same escape valve that folds deletion vectors away.
    *
    * Renaming `to` back to the column's physical name simply drops the
    * mapping. Same CAS commit rule as every writer; a racing data commit
    * retries here, a racing rename of the same column aborts one side.
    *
    * @return the new version
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
                   to: String): Long = {
    def ok(n: String) = n.nonEmpty && !n.contains('\t') && !n.contains('\n') &&
      !n.contains('/') && !n.startsWith(MetaPrefix)
    require(ok(from) && ok(to), s"invalid column name in rename: '$from'->'$to'")
    require(from != to, s"rename to the same name: '$from'")
    require(!generatedColumns(spark, path).exists(_._1 == from),
      s"'$from' is a generated column on $path — drop its definition first " +
        "(the sidecar is unversioned and would keep generating the old name)")
    commit(spark, path, "RENAME-COLUMN") { cur =>
      require(cur.version >= 0, s"renameColumn on a table with no commits: $path")
      // merged view: a drift-era column is renameable / collides like any other
      val logicalCols = scan(spark, path, cur)(mergeSchema = true).columns.toSet
      require(logicalCols.contains(from), s"no such column '$from' on $path")
      require(!logicalCols.contains(to), s"column '$to' already exists on $path")
      val phys = toPhysical(cur, from)
      // `to` must not shadow another column's PHYSICAL name, or the write-
      // side physicalize would collide. The union must span EVERY schema
      // era of a drifted table (a physical column present only in later
      // files would otherwise be shadowed silently, after which logicalize
      // yields duplicate names), so read footers under mergeSchema — the
      // same merged view [[readMerged]] serves to readers; footer-only,
      // no row scan
      val physicalCols = (cur.renames.keySet ++
        (if (cur.files.nonEmpty)
          parquetFiles(spark, cur.files.map(resolve(path, _)),
            mergeSchema = true).columns.toSet
         else Set.empty[String])) - phys
      require(!physicalCols.contains(to),
        s"'$to' is the physical name of another column on $path")
      Right(cur.entries.filterNot(e => entryPath(e) == renameEntryName(phys)) ++
        (if (to == phys) Nil else Seq(s"${renameEntryName(phys)}\t$to")))
    }
  }

  private def renameEntryName(phys: String) = s"$RenameEntryPrefix$phys"

  /** METADATA-ONLY drop column (Delta `DROP COLUMN` under column mapping):
    * zero files rewritten — the commit adds a `@dropcol` entry; reads from
    * this version on subtract the column, time travel below still shows it,
    * [[restore]] resurrects it, and [[overwrite]]/[[compact]] materialize
    * the drop (rewriting without the column and freeing its name). Appends
    * that try to re-introduce the name are rejected until then (old files
    * still store data under it). The partition column and the last column
    * cannot be dropped. Same CAS rule as every writer.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    require(name.nonEmpty && !name.contains('\t') && !name.contains('\n') &&
      !name.contains('/') && !name.startsWith(MetaPrefix),
      s"invalid column name in drop: '$name'")
    require(!generatedColumns(spark, path).exists(_._1 == name),
      s"'$name' is a generated column on $path — drop its definition first")
    commit(spark, path, "DROP-COLUMN") { cur =>
      require(cur.version >= 0, s"dropColumn on a table with no commits: $path")
      // a drifted table can hold the column in only SOME file eras — the
      // merged view is the table's logical schema for drop purposes
      val logicalCols = scan(spark, path, cur)(mergeSchema = true).columns.toSeq
      require(logicalCols.contains(name), s"no such column '$name' on $path")
      require(logicalCols.size > 1, s"cannot drop the last column on $path")
      val phys = toPhysical(cur, name)
      require(!cur.files.exists(_.split('/').exists(_.startsWith(partPrefix(phys)))),
        s"cannot drop partition column '$name' on $path")
      Right(cur.entries.filterNot(e => entryPath(e) == renameEntryName(phys)) :+
        s"$DropEntryPrefix$phys")
    }
  }

  /** Write `df`'s data files once, then [[commit]] the manifest.
    * `replacedValues` picks, from the new files' partition values, which
    * existing partitions the commit REMOVES (empty set → pure append).
    * `partitionCol = None` writes unpartitioned files (pure appends only —
    * `replacedValues` must return the empty set then).
    */
  private def mutate(df: DataFrame, path: String, partitionCol: Option[String],
                     replacedValues: Set[String] => Set[String],
                     expectedVersion: Long = -1L,
                     dropAll: Boolean = false,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil,
                     op: String = "WRITE",
                     txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    // column mapping: the caller speaks LOGICAL names; files, partition
    // segments and stats entries store PHYSICAL ones. A dropAll commit
    // (overwrite/compact) intentionally bypasses the mapping — it rewrites
    // the whole table under the df's own names, materializing renames (the
    // meta entries drop with the old manifest entries below).
    val sPre = if (dropAll) Snapshot(-1L, Nil) else snapshot(spark, path)
    val ren = sPre.renames
    // generated columns: fill the ones the batch omitted (before
    // physicalize — expressions and names are logical), remember the
    // explicitly-supplied ones for post-write validation
    val (dfG, explicitGen) = applyGenerated(df, generatedColumns(spark, path))
    val dfW = physicalize(dfG, ren)
    // a batch may not re-introduce a dropped physical name — old files still
    // store data under it, and a later merged read would resurrect it
    val reIntroduced = dfW.columns.toSet.intersect(sPre.drops)
    require(reIntroduced.isEmpty,
      s"column(s) $reIntroduced were dropped metadata-only on $path; " +
        "overwrite/compact the table to reuse the name")
    // nor may it write under a renamed column's PHYSICAL name — the caller
    // must use logical names (writing `payload` after payload→body was
    // renamed is either a stale writer or would collide with the rename)
    val stalePhysical = df.columns.toSet
      .intersect(ren.collect { case (p, l) if p != l => p }.toSet)
    require(stalePhysical.isEmpty,
      s"column(s) $stalePhysical are PHYSICAL names of renamed columns on " +
        s"$path — write under the current logical names")
    val pColW = partitionCol.map(toPhysicalIn(ren, _))
    val statsW = statsCols.map(toPhysicalIn(ren, _))
    val bloomW = bloomCols.map(toPhysicalIn(ren, _))
    val txDir = s"tx-${UUID.randomUUID().toString.take(8)}"
    pColW match {
      case Some(c) =>
        dfW.withColumn(s"__$c", dfW.col(c))
          .write.mode(SaveMode.Overwrite).partitionBy(s"__$c")
          .parquet(s"$path/$txDir")
      case None =>
        dfW.write.mode(SaveMode.Overwrite).parquet(s"$path/$txDir")
    }
    val written = writtenFiles(spark, path, txDir)
    // CHECK constraints and generated-column agreement gate the commit: a
    // rejected batch's files never reach a manifest, and the tx dir is
    // removed so vacuum has less to do
    try validateBatch(spark, path, written, explicitGen)
    catch { case e: ConstraintViolation =>
      f.delete(new Path(path, txDir), true); throw e
    }
    val touched = pColW match {
      case Some(c) => replacedValues(Snapshot(0, written).partitionValues(c))
      case None => Set.empty[String]
    }
    def inTouched(file: String): Boolean = pColW.exists { c =>
      file.split('/').exists(seg => seg.startsWith(partPrefix(c)) &&
        touched.contains(seg.substring(partPrefix(c).length)))
    }
    val adds = withStats(spark, path, written, statsW, bloomW) ++
      txn.map { case (appId, v) => s"${txnEntryName(appId)}\t$v" }
    var lastSeen: Option[Snapshot] = None
    commit(spark, path, op, expectedVersion, rewrite = dropAll) { cur =>
      // exactly-once guard, INSIDE the CAS loop: if a racing writer (a
      // twice-restarted streaming query, a retried job) already committed
      // this (appId, batchVersion) — or a later batch — this commit is a
      // replay. Drop its files and report the current version as success:
      // the data is already in the table exactly once.
      if (txn.exists { case (appId, v) => cur.txnVersions.get(appId).exists(_ >= v) }) {
        f.delete(new Path(path, txDir), true)
        Left(cur.version)
      } else {
        // the files were physicalized under the mapping read above — a rename
        // or drop landing in between would make their column names stale
        if (!dropAll && (cur.renames != ren || cur.drops != sPre.drops))
          throw new ConcurrentWriteConflict(
            s"column mapping changed concurrently on $path")
        // loser of a race: a commit into the SAME partition since the last
        // attempt's snapshot is a real conflict
        lastSeen.foreach { prior =>
          val seen = prior.files.toSet
          if (cur.files.exists(fl => !seen(fl) && inTouched(fl)))
            throw new ConcurrentWriteConflict(
              s"partition(s) $touched were modified concurrently on $path")
        }
        lastSeen = Some(cur)
        // a full rewrite (overwrite/compact) drops file and mapping entries
        // but carries the idempotent-writer watermarks forward — OPTIMIZE
        // must not reopen a streaming sink's exactly-once window; this
        // commit's watermark replaces the appId's previous entry
        val kept =
          if (dropAll) cur.entries.filter(_.startsWith(TxnEntryPrefix))
          else cur.entries.filterNot(e => inTouched(entryPath(e)))
        Right(txn.fold(kept) { case (appId, _) =>
          kept.filterNot(e => entryPath(e) == txnEntryName(appId)) } ++ adds)
      }
    }
  }

  /** Table-relative paths of the Parquet files a txn wrote under `txDir`
    * (metadata-sized).
    */
  private def writtenFiles(spark: SparkSession, path: String,
                           txDir: String): Vector[String] = {
    val it = fs(spark, path).listFiles(new Path(path, txDir), true)
    val root = new Path(path).toUri.getPath
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .map(_.toUri.getPath.stripPrefix(root).stripPrefix("/")).toVector
  }

  /** Manifest entries for a txn's files: the path alone, or the path plus
    * its per-file stats triples ([[fileStats]] — one extra column-pruned
    * pass over just-written files, file-count rows to the driver).
    */
  private def withStats(spark: SparkSession, path: String, written: Vector[String],
                        statsCols: Seq[String],
                        bloomCols: Seq[String] = Nil): Vector[String] =
    if (statsCols.isEmpty && bloomCols.isEmpty) written
    else {
      val stats = fileStats(spark, path, written, statsCols, bloomCols)
      written.map(fl => stats.get(fl).map(s => (fl +: s).mkString("\t")).getOrElse(fl))
    }

  /** Per-file min/max of `statsCols` over this txn's freshly-written files:
    * ONE column-pruned scan of the new batch (the cost any stats collection
    * pays; Delta folds it into the writer, same asymptotics), grouped by
    * `input_file_name` — file-count rows to the driver, never data rows.
    * Columns missing from the batch schema or all-NULL in a file are simply
    * omitted from that file's entry (reads treat no-stats as un-prunable).
    */
  private def fileStats(spark: SparkSession, path: String, written: Seq[String],
                        statsCols: Seq[String],
                        bloomCols: Seq[String] = Nil): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, collect_set, count, input_file_name, lit, max, min}
    if (written.isEmpty) return Map.empty
    val df = parquetFiles(spark, written.map(resolve(path, _)))
    val present = statsCols.filter(df.columns.contains)
    val presentBloom = bloomCols.filter(df.columns.contains)
    val aggs = present.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))) ++
      // bloom: per file, the DISTINCT bit positions the column's values set
      // — bounded by BloomBits per file regardless of row count, so the
      // driver-side state stays files × (BloomBits/8) bytes
      presentBloom.flatMap(c => (0 until BloomK).map(i =>
        collect_set(bloomPosition(col(c), i)).as(s"__bl_${c}_$i"))) :+
      count(lit(1)).cast("string").as("__nr")
    val root = new Path(path).toUri.getPath
    df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val rel = new Path(new java.net.URI(r.getString(0))).toUri.getPath
          .stripPrefix(root).stripPrefix("/")
        // per-file row count rides as a pseudo-column triple — enables
        // metadata-only COUNT(*) (fastCount), the Delta numRecords trick
        val triples = present.flatMap { c =>
          val mn = r.getAs[String](s"__mn_$c")
          val mx = r.getAs[String](s"__mx_$c")
          // a stat VALUE carrying the manifest's own delimiters (free-text
          // string columns) would corrupt the entry line — omit it; the
          // file just stays un-prunable on that column
          def unsafe(v: String) = v.exists(ch => ch == '\t' || ch == '\n' || ch == '\r')
          if (mn == null || mx == null || unsafe(mn) || unsafe(mx)) Nil
          else Seq(c, mn, mx)
        } ++ presentBloom.flatMap { c =>
          val positions = (0 until BloomK)
            .flatMap(i => r.getSeq[Int](r.fieldIndex(s"__bl_${c}_$i")))
          Seq(bloomStatCol(c), bitsetHex(positions), "-")
        } ++ Seq(RowCountCol, r.getAs[String]("__nr"), r.getAs[String]("__nr"))
        rel -> triples
      }.filter(_._2.nonEmpty).toMap
  }

  /** The one commit every writer goes through. Each attempt pins the
    * current snapshot and asks `next` for the table's next FULL entry list
    * (`Right`), or for the version that already holds the writer's effect
    * (`Left`: a restore to the current version, a replayed batch).
    * [[manifestFor]] turns the list into this version's manifest and
    * [[tryCommit]] claims the version. A lost claim backs off
    * ([[commitBackoff]]) and asks `next` again against the winner's
    * snapshot, at most [[MaxCommitAttempts]] times. A writer that derived
    * its content from `expectedVersion` commits only on top of it: any
    * other pinned version aborts with [[ConcurrentWriteConflict]]
    * (first-committer-wins), never the other writer. `rewrite` marks a
    * commit that replaces the whole table, which always writes in full.
    */
  private def commit(spark: SparkSession, path: String, op: String,
                     expectedVersion: Long = -1L, rewrite: Boolean = false)(
      next: Snapshot => Either[Long, Seq[String]]): Long = {
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      commitBackoff(attempts, path.hashCode)
      val cur = snapshot(spark, path)
      if (expectedVersion >= 0 && cur.version != expectedVersion)
        throw new ConcurrentWriteConflict(s"${op.toLowerCase} derived from " +
          s"v$expectedVersion but table is at v${cur.version} on $path")
      next(cur) match {
        case Left(v) => return v
        case Right(entries) =>
          val target = cur.version + 1
          if (tryCommit(spark, path, target,
              s"$OpPrefix$op" +: manifestFor(cur, entries, rewrite))) return target
      }
      attempts += 1
    }
    throw new ConcurrentWriteConflict(
      s"gave up after $attempts contended ${op.toLowerCase} commits on $path")
  }

  /** The one full-versus-delta rule: the manifest that moves `cur` to the
    * `next` entry list. Checkpoints — v0, every [[CheckpointInterval]]-th
    * version and full `rewrite`s — carry the complete list; every other
    * commit carries only its delta, the `-` removes (by entry path) and
    * then the `+` adds, so the log write is O(delta) instead of O(live
    * files). An empty delta would be indistinguishable from an empty FULL
    * manifest (and would truncate the table on read), so it writes full.
    */
  private def manifestFor(cur: Snapshot, next: Seq[String],
                          rewrite: Boolean): Seq[String] =
    if (rewrite || cur.version < 0 || (cur.version + 1) % CheckpointInterval == 0) next
    else {
      val (was, now) = (cur.entries.toSet, next.toSet)
      val delta = cur.entries.filterNot(now).map(RemovePrefix + entryPath(_)) ++
        next.filterNot(was).map(AddPrefix + _)
      if (delta.isEmpty) next else delta
    }

  /** Atomic claim of manifest version `v` ([[claim]]). Returns false when
    * another committer already owns `v`.
    */
  private def tryCommit(spark: SparkSession, path: String, v: Long,
                        lines: Seq[String]): Boolean =
    claim(spark, new Path(new Path(path, LogDir), versionName(v)))(
      _.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8)))

  /** Atomic no-overwrite creation of `dst`: `write` fills a dot-temp file
    * beside it (raw, no crc sidecar — see [[rawFs]]), which then moves onto
    * `dst` only if nothing is there yet. Returns false — the temp file
    * discarded — when `dst` already exists.
    */
  private[sources] def claim(spark: SparkSession, dst: Path)(
      write: java.io.OutputStream => Unit): Boolean = {
    val f = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".tmp-${UUID.randomUUID()}")
    val out = rawFs(f).create(tmp, true)
    try write(out) finally out.close()
    if (rawFs(f).isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]) {
      // LOCAL FS: FileContext.rename(NONE) is a check-then-act (exists()
      // probe, then rename(2), which OVERWRITES on POSIX) — under real
      // contention several writers pass the probe together and silently
      // clobber each other's version file (lost commits, reproduced by the
      // 8-writer liveness chaos test). link(2) is the kernel-atomic
      // no-overwrite claim: exactly one linker wins, everyone else gets
      // EEXIST. HDFS-like stores keep the rename path below — their
      // no-overwrite rename is atomic at the namenode; object stores
      // without atomic rename need an external CAS (header contract).
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dstNio = java.nio.file.Paths.get(dst.toUri.getPath)
      try {
        java.nio.file.Files.createLink(dstNio, tmpNio)
        rawFs(f).delete(tmp, false); true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          rawFs(f).delete(tmp, false); false
      }
    } else {
      val fc = FileContext.getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      try { fc.rename(tmp, dst, Options.Rename.NONE); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          f.delete(tmp, false); false
      }
    }
  }

  /** Delete data files no manifest ≤ the retention horizon references —
    * crashed writers' orphans (data written, commit never claimed) and
    * files dropped by old versions. Keeps everything the `retainVersions`
    * most recent manifests pin, so pinned snapshots that recent stay
    * readable (time travel beyond that horizon dies, as in Delta VACUUM).
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = 1): Unit = {
    val f = fs(spark, path)
    val latest = currentVersion(spark, path)
    if (latest < 0) return
    val retained = (math.max(0, latest - retainVersions + 1) to latest)
      .map(v => snapshot(spark, path, v))
    val keep = retained.flatMap(_.files).toSet
    // deletion-vector sidecars referenced by any retained version stay;
    // superseded ones (a later delete re-pointed their files) go with the
    // same retention horizon as data files
    val keepDv = retained.flatMap(s => dvRefs(s).map(_._2)).toSet
    val it = f.listFiles(new Path(path), true)
    val root = new Path(path).toUri.getPath
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(_.getPath)
      .filter { p =>
        val rel = p.toUri.getPath.stripPrefix(root).stripPrefix("/")
        (rel.startsWith("tx-") && rel.endsWith(".parquet") && !keep.contains(rel)) ||
          (rel.startsWith("dv-") && rel.endsWith(".parquet") &&
            !keepDv.contains(rel.split('/').head))
      }.toVector
      .foreach(p => f.delete(p, false))
  }
}
