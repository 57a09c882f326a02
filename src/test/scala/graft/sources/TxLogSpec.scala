package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Table-level ACID semantics of the transaction log (the reference's
  * warehouse transaction around session delete+reload, S6 made table-atomic).
  */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def rows(path: String, version: Long = -1L): Set[(Long, String, Long)] =
    TxLog.read(spark, path, version)
      .select(col("id"), col("payload"), col("session_key").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("append then replaceKeys is table-atomic and versioned (time travel)") {
    val path = tmp("tx")
    val v0 = TxLog.append(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    assert(v0 == 0)
    val v1 = TxLog.replaceKeys(
      Seq((20L, "B2", 2L)).toDF("id", "payload", "session_key"), path, "session_key")
    assert(v1 == 1)
    // latest: session 2 fully replaced, session 1 untouched
    assert(rows(path) == Set((1L, "a", 1L), (20L, "B2", 2L)))
    // time travel: version 0 still reads the pre-replace table
    assert(rows(path, version = 0) == Set((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 2L)))
    // replaceKeys of an ABSENT key is a plain insert
    TxLog.replaceKeys(Seq((9L, "z", 9L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    assert(rows(path) == Set((1L, "a", 1L), (20L, "B2", 2L), (9L, "z", 9L)))
  }

  test("a crashed writer (data files, no commit) is invisible; vacuum reaps it") {
    val path = tmp("txcrash")
    TxLog.append(Seq((1L, "a", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    // simulate a writer that died after its data write, before its commit
    Seq((666L, "orphan", 6L)).toDF("id", "payload", "session_key")
      .withColumn("__session_key", col("session_key"))
      .write.partitionBy("__session_key").parquet(path + "/tx-deadbeef")
    assert(rows(path) == Set((1L, "a", 1L))) // snapshot readers never see it
    TxLog.vacuum(spark, path)
    val orphans = new java.io.File(path + "/tx-deadbeef/__session_key=6")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(orphans == 0)
    assert(rows(path) == Set((1L, "a", 1L))) // live data untouched
  }

  test("manifest-pinned snapshot survives a replace that drops its files") {
    val path = tmp("txpin")
    TxLog.append(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    val pinned = TxLog.read(spark, path) // reader resolves version 0
    TxLog.replaceKeys(Seq((20L, "B2", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    // data files are immutable + still referenced by manifest v0: the
    // in-flight reader's view is unchanged even after the replace commits
    assert(pinned.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(rows(path) == Set((1L, "a", 1L), (20L, "B2", 2L)))
  }

  test("version claim is exclusive: losing committer retries onto the next version") {
    val path = tmp("txrace")
    TxLog.append(Seq((1L, "a", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    // two appends into DIFFERENT partitions with interleaved snapshots:
    // both must land (the CAS loop re-reads and retries, no lost update)
    TxLog.append(Seq((2L, "b", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    TxLog.append(Seq((3L, "c", 3L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    assert(TxLog.currentVersion(spark, path) == 2)
    assert(rows(path) == Set((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)))
  }

  test("readKey prunes to the partition's files via the manifest") {
    val path = tmp("txprune")
    TxLog.append((1L to 100L).map(i => (i, s"p$i", i % 10))
      .toDF("id", "payload", "session_key"), path, "session_key")
    val one = TxLog.readKey(spark, path, "session_key", 7)
    assert(one.select("id").as[Long].collect().toSet ==
      (1L to 100L).filter(_ % 10 == 7).toSet)
    // the read was handed ONLY the matching partition's files
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("__session_key=7")))
  }

  test("readKey of an absent key: zero rows with the table's columns, like readRange") {
    val path = tmp("txabsent")
    TxLog.append(Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
      .toDF("id", "bucket", "v"), path, "bucket", statsCols = Seq("bucket"))
    val absent = TxLog.readKey(spark, path, "bucket", 5L)
    assert(absent.columns.toSeq == Seq("id", "bucket", "v"))
    // downstream resolution keeps working on the empty result
    assert(absent.filter(col("id") =!= 1L).count() == 0)
    val range = TxLog.readRange(spark, path, "bucket", 5, 5)
    assert(range.columns.toSeq == absent.columns.toSeq && range.count() == 0)
  }

  test("read: the newest add's footer sets the columns, whatever the file listing order") {
    // the tx-* directory names are random, so the listing order of the two
    // commits' files differs from table to table
    val columns = (1 to 12).map { _ =>
      val path = tmp("txschema")
      TxLog.append(Seq((1L, 0L)).toDF("k", "b"), path, "b")
      TxLog.append(Seq((2L, 1L, "x")).toDF("k", "b", "extra"), path, "b")
      TxLog.read(spark, path).columns.toSet
    }
    assert(columns.forall(_ == Set("k", "b", "extra")), columns)
  }

  test("readKey stays exact under partition-layout evolution") {
    val path = tmp("txevolve")
    // era 1: partitioned by k1 — era 2: flat append — era 3: partitioned by k2
    TxLog.append(Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("id", "k1", "k2"),
      path, "k1")
    TxLog.appendFlat(Seq((3L, 10L, 300L)).toDF("id", "k1", "k2"), path)
    TxLog.append(Seq((4L, 10L, 200L)).toDF("id", "k1", "k2"), path, "k2")
    // k1=10 rows live in all three eras — a path-only prune would silently
    // drop eras 2 and 3 (their files carry no __k1= segment)
    def ids(c: String, v: Long) = TxLog.readKey(spark, path, c, v)
      .select("id").as[Long].collect().toSet
    assert(ids("k1", 10L) == Set(1L, 3L, 4L))
    assert(ids("k2", 200L) == Set(2L, 4L))
    // pruning still prunes: files tagged with a DIFFERENT k1 value never
    // reach the reader
    val files = TxLog.readKey(spark, path, "k1", 10L).inputFiles
    assert(files.nonEmpty && !files.exists(_.contains("__k1=20")))
    // a column no era ever carried → empty result, table schema, no error
    assert(TxLog.readKey(spark, path, "k9", 1L).isEmpty)
  }

  test("compactZOrdered: 2-D manifest pruning on both dimensions, rows intact") {
    val path = tmp("txzorder")
    def batch(r: Range) = r.map { i =>
      (i.toLong, i.toLong % 1024L, (i.toLong * 7) % 1024L) }.toDF("id", "x", "y")
    // id-ordered appends: x and y are uniform within every file → a range
    // predicate on either dimension can prune NOTHING
    (0 until 4).foreach(b => TxLog.appendFlat(
      batch(b * 4096 until (b + 1) * 4096).coalesce(4), path,
      statsCols = Seq("x", "y")))
    val before = TxLog.snapshot(spark, path)
    assert(TxLog.prunedFiles(before, "x", 0, 63).size == before.files.size)
    assert(TxLog.prunedFiles(before, "y", 0, 63).size == before.files.size)

    val v = TxLog.compactZOrdered(spark, path, "x", "y", bits = 10, nFiles = 16)
    val after = TxLog.snapshot(spark, path)
    assert(after.version == v && after.files.size >= 8)
    // zero rows changed
    assert(TxLog.read(spark, path).count() == 4 * 4096)
    assert(TxLog.read(spark, path).agg(sum(col("id"))).head.getLong(0) ==
      (0L until 16384L).sum)
    // a 1/16 slab on EITHER interleaved dimension touches a strict subset
    val px = TxLog.prunedFiles(after, "x", 0, 63)
    val py = TxLog.prunedFiles(after, "y", 0, 63)
    assert(px.size < after.files.size / 2, s"x-slab ${px.size}/${after.files.size}")
    assert(py.size < after.files.size / 2, s"y-slab ${py.size}/${after.files.size}")
    // ...and the pruned read is still exact
    assert(TxLog.readRange(spark, path, "x", 0, 63).count() ==
      (0L until 16384L).count(_ % 1024 < 64))
    // snapshot isolation: the pre-compaction version still reads its files
    assert(TxLog.read(spark, path, before.version).count() == 4 * 4096)
  }

  test("mergeKeys: update-matched + insert-unmatched in one commit; untouched partitions keep their files") {
    val path = tmp("txmerge")
    TxLog.append(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    val before1 = TxLog.readKey(spark, path, "session_key", 1).inputFiles.toSet
    // update id=2, insert id=4 — both in session 2; session 1 untouched
    val v = TxLog.mergeKeys(
      Seq((2L, "B!", 2L), (4L, "d", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key", keyCols = Seq("id"))
    assert(v == 1)
    assert(rows(path) == Set(
      (1L, "a", 1L), (2L, "B!", 2L), (3L, "c", 2L), (4L, "d", 2L)))
    // untouched partition was NOT rewritten — same physical files
    assert(TxLog.readKey(spark, path, "session_key", 1).inputFiles.toSet == before1)
    // merge into an empty table is a plain insert
    val p2 = tmp("txmerge2")
    TxLog.mergeKeys(Seq((7L, "x", 7L)).toDF("id", "payload", "session_key"),
      p2, "session_key", Seq("id"))
    assert(rows(p2) == Set((7L, "x", 7L)))
  }

  test("mergeKeys: a commit landing after the snapshot read aborts the merge (no lost update)") {
    val path = tmp("txmergerace")
    TxLog.append(Seq((1L, "a", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    val v0 = TxLog.currentVersion(spark, path)
    // a racing writer commits between our snapshot read and our commit
    TxLog.append(Seq((2L, "b", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    intercept[TxLog.ConcurrentWriteConflict] {
      TxLog.mergeKeys(Seq((1L, "A!", 1L)).toDF("id", "payload", "session_key"),
        path, "session_key", Seq("id"), expectedVersion = v0)
    }
    // the racing writer's row survived untouched
    assert(rows(path) == Set((1L, "a", 1L), (2L, "b", 1L)))
  }

  test("compact: one-commit rewrite shrinks files, keeps rows, stays snapshot-isolated") {
    val path = tmp("txcompact")
    // 5 small appends × 2 sessions → 10 small files
    (1 to 5).foreach { i =>
      TxLog.append(Seq((i.toLong, s"a$i", 1L), (100L + i, s"b$i", 2L))
        .toDF("id", "payload", "session_key"), path, "session_key")
    }
    val v0 = TxLog.currentVersion(spark, path)
    val pinned = TxLog.snapshot(spark, path, v0)
    val expected = rows(path, v0)
    assert(pinned.files.size == 10)
    val vc = TxLog.compact(spark, path, "session_key")
    assert(vc == v0 + 1)
    // layout collapsed to one file per partition value, rows identical
    val after = TxLog.snapshot(spark, path)
    assert(after.files.size == 2, after.files)
    assert(after.files.toSet.intersect(pinned.files.toSet).isEmpty)
    assert(rows(path) == expected)
    // the pinned v0 reader is undisturbed: its files still exist, rows intact
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    pinned.files.foreach(f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$f")), f))
    assert(rows(path, v0) == expected)
    // a commit landing between snapshot read and compaction commit kills the
    // COMPACTION, not the writer
    val vNow = TxLog.currentVersion(spark, path)
    TxLog.append(Seq((999L, "z", 3L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    intercept[TxLog.ConcurrentWriteConflict] {
      TxLog.compact(spark, path, "session_key", expectedVersion = vNow)
    }
    assert(rows(path).contains((999L, "z", 3L)))
  }

  test("schema drift: readMerged unifies added columns; time travel keeps each version's schema") {
    val path = tmp("txdrift")
    TxLog.append(Seq((1L, "a", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    // a drifted endpoint lands an EXTRA column in the same versioned table
    TxLog.append(
      Seq((2L, "b", 2L, "new!")).toDF("id", "payload", "session_key", "extra"),
      path, "session_key")
    val merged = TxLog.readMerged(spark, path)
    assert(merged.columns.toSet == Set("id", "payload", "session_key", "extra"))
    val byId = merged.select("id", "extra").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(byId == Map(1L -> null, 2L -> "new!")) // pre-drift rows read as NULL
    // time travel to v0: the pre-drift snapshot still has the ORIGINAL schema
    assert(TxLog.readMerged(spark, path, version = 0).columns.toSet ==
      Set("id", "payload", "session_key"))
    // post-drift mutations still work: replace a key, both schema eras coexist
    TxLog.replaceKeys(
      Seq((10L, "a2", 1L, "later")).toDF("id", "payload", "session_key", "extra"),
      path, "session_key")
    assert(TxLog.readMerged(spark, path).where(col("session_key") === 1)
      .select("payload").as[String].collect().toSeq == Seq("a2"))
  }

  test("overwrite: full-table rewrite claims the schema; old versions still time-travel") {
    val path = tmp("txoverwrite")
    TxLog.append(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    // overwriteSchema-style commit: new shape (renamed/retyped column)
    val v1 = TxLog.overwrite(
      Seq((1L, 100.0, 1L), (2L, 200.0, 2L)).toDF("id", "score", "session_key"),
      path, "session_key")
    assert(v1 == 1)
    val now = TxLog.read(spark, path)
    assert(now.columns.toSet == Set("id", "score", "session_key"))
    assert(now.count() == 2)
    // no stale files bleed through readMerged either (manifest lists only v1 files)
    assert(!TxLog.readMerged(spark, path).columns.contains("payload"))
    // the pre-overwrite version still reads with its own schema
    val v0df = TxLog.read(spark, path, version = 0)
    assert(v0df.columns.toSet == Set("id", "payload", "session_key"))
    assert(v0df.count() == 2)
  }

  test("data skipping: readRange prunes files by manifest min/max stats, result exact") {
    val path = tmp("txstats")
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"p$i", i.toLong % 2)).toDF("id", "payload", "session_key")
        .coalesce(1)
    // three commits with disjoint id ranges, stats on id
    TxLog.append(batch(0 until 100), path, "session_key", statsCols = Seq("id"))
    TxLog.append(batch(100 until 200), path, "session_key", statsCols = Seq("id"))
    TxLog.append(batch(200 until 300), path, "session_key", statsCols = Seq("id"))
    val snap = TxLog.snapshot(spark, path)
    assert(snap.files.size == 6) // coalesce(1) × 2 partition values × 3 commits
    // every file carries id stats
    snap.files.foreach(f => assert(snap.statsFor(f, "id").isDefined, f))
    // a range inside batch 2 prunes to that batch's 2 files
    val pruned = TxLog.prunedFiles(snap, "id", BigDecimal(120), BigDecimal(150))
    assert(pruned.size == 2, pruned)
    val got = TxLog.readRange(spark, path, "id", BigDecimal(120), BigDecimal(150))
    assert(got.inputFiles.length == 2)
    assert(got.select("id").collect().map(_.getLong(0)).toSet == (120L to 150L).toSet)
    // stats survive LATER commits into other partitions (kept entries keep their lines)
    TxLog.replaceKeys(batch(300 until 310).withColumn("session_key", lit(5L)),
      path, "session_key", statsCols = Seq("id"))
    val snap2 = TxLog.snapshot(spark, path)
    assert(TxLog.prunedFiles(snap2, "id", BigDecimal(120), BigDecimal(150)).size == 2)
    // a stat-less commit stays readable and un-prunable (always kept)
    TxLog.append(batch(400 until 410), path, "session_key")
    val snap3 = TxLog.snapshot(spark, path)
    val keptAll = TxLog.prunedFiles(snap3, "id", BigDecimal(120), BigDecimal(150))
    assert(keptAll.size == 4) // 2 stats-matched + 2 stat-less files
    assert(TxLog.readRange(spark, path, "id", BigDecimal(120), BigDecimal(150))
      .count() == 31) // residual filter keeps the result exact
  }

  test("rowChanges: delete+insert per touched row; untouched rows and partitions cancel") {
    val path = tmp("txcdc")
    val v0 = TxLog.append(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b2", 2L), (4L, "c", 3L))
        .toDF("id", "payload", "session_key"), path, "session_key")
    // rewrite partition 2: row 2 changes, row 3 is rewritten IDENTICALLY
    TxLog.replaceKeys(
      Seq((2L, "B!", 2L), (3L, "b2", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    val changes = TxLog.rowChanges(spark, path, fromVersion = v0)
      .collect().map(r => (r.getAs[String]("change"), r.getAs[Long]("id"),
        r.getAs[String]("payload"))).toSet
    // only the genuinely-changed row appears; the identical rewrite and the
    // untouched partitions (1, 3) contribute nothing
    assert(changes == Set(("insert", 2L, "B!"), ("delete", 2L, "b")), changes)
    // append-only commit: pure inserts
    val v2 = TxLog.currentVersion(spark, path)
    TxLog.append(Seq((9L, "z", 9L)).toDF("id", "payload", "session_key"),
      path, "session_key")
    val appended = TxLog.rowChanges(spark, path, fromVersion = v2)
      .collect().map(r => (r.getAs[String]("change"), r.getAs[Long]("id"))).toSet
    assert(appended == Set(("insert", 9L)))
    // no-op range: empty feed
    val v3 = TxLog.currentVersion(spark, path)
    assert(TxLog.rowChanges(spark, path, v3, v3).isEmpty)
  }

  test("history + timestamp time travel: versions, commit times, metadata row counts") {
    val path = tmp("txhist")
    TxLog.append(Seq((1L, "a", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key", statsCols = Seq("id"))
    TxLog.append(Seq((2L, "b", 1L), (3L, "c", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key", statsCols = Seq("id"))
    val h = TxLog.history(spark, path)
    assert(h.map(_._1) == Seq(0L, 1L))
    assert(h.map(_._4) == Seq(Some(1L), Some(3L))) // metadata-only row counts
    assert(h(0)._2 <= h(1)._2) // commit times are monotone
    // pin deterministic commit times, then resolve TIMESTAMP AS OF
    val log = new java.io.File(path, "_graft_log")
    log.listFiles().filter(_.getName.forall(_.isDigit)).sortBy(_.getName)
      .zipWithIndex.foreach { case (fl, i) => fl.setLastModified(100000L + i * 1000) }
    assert(TxLog.versionAsOf(spark, path, 99999L).isEmpty) // before the table existed
    assert(TxLog.versionAsOf(spark, path, 100000L).contains(0L))
    assert(TxLog.versionAsOf(spark, path, 100999L).contains(0L))
    assert(TxLog.versionAsOf(spark, path, 101000L).contains(1L))
    assert(TxLog.versionAsOf(spark, path, System.currentTimeMillis()).contains(1L))
    // and the resolved version reads that snapshot
    val v = TxLog.versionAsOf(spark, path, 100500L).get
    assert(rows(path, version = v) == Set((1L, "a", 1L)))
  }

  private def rawManifest(path: String, v: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path, "_graft_log", f"$v%020d"))
      .asScala.toSeq.filter(_.nonEmpty)
      .filterNot(_.startsWith("#")) // per-version annotations aren't entries
  }
  private def isFullManifest(lines: Seq[String]): Boolean =
    !lines.exists(l => l.startsWith("+\t") || l.startsWith("-\t"))

  test("delta manifests: commits write O(delta), checkpoints bound resolution, time travel exact") {
    val path = tmp("txckpt")
    def batch(i: Int) =
      Seq((i.toLong, s"p$i", (i % 3).toLong)).toDF("id", "payload", "session_key").coalesce(1)
    (0 until 13).foreach(i => TxLog.append(batch(i), path, "session_key"))
    // v0 and v10 (CheckpointInterval) are full manifests; the rest are deltas
    assert(isFullManifest(rawManifest(path, 0)))
    assert(isFullManifest(rawManifest(path, 10)))
    assert(rawManifest(path, 10).size ==
      TxLog.snapshot(spark, path, 10).entries.size)
    (1 to 12).filter(_ != 10).foreach { v =>
      assert(rawManifest(path, v).forall(_.startsWith("+\t")),
        s"v$v should be an add-only delta")
    }
    // commit cost: a delta lists this commit's files, not the live table's
    assert(rawManifest(path, 12).size < rawManifest(path, 10).size)
    // every version resolves to exactly the rows committed so far
    (0 until 13).foreach { v =>
      assert(TxLog.read(spark, path, v).count() == v + 1, s"row count at v$v")
    }
  }

  test("delta manifests: replaces emit removes, stats ride delta entries, full-list-only logs still read") {
    val path = tmp("txckptcompat")
    TxLog.append(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key", statsCols = Seq("id"))
    TxLog.replaceKeys(Seq((20L, "B2", 2L)).toDF("id", "payload", "session_key"),
      path, "session_key", statsCols = Seq("id"))
    val raw1 = rawManifest(path, 1)
    assert(raw1.exists(_.startsWith("-\t")) && raw1.exists(_.startsWith("+\t")))
    assert(rows(path) == Set((1L, "a", 1L), (20L, "B2", 2L)))
    // data-skipping stats survive the delta round-trip
    val snap = TxLog.snapshot(spark, path)
    assert(snap.files.forall(f => snap.statsFor(f, "id").isDefined))
    assert(TxLog.readRange(spark, path, "id", BigDecimal(15), BigDecimal(25))
      .count() == 1)
    // backward compat: rewrite the log in the pre-checkpoint format (every
    // version a full list) — reads and time travel are unchanged
    (0L to 1L).foreach { v =>
      val full = TxLog.snapshot(spark, path, v).entries
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_graft_log", f"$v%020d"),
        full.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the raw rewrite bypassed Hadoop's local-FS checksum sidecar
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(path, "_graft_log", f".$v%020d.crc"))
    }
    assert(rows(path) == Set((1L, "a", 1L), (20L, "B2", 2L)))
    assert(rows(path, version = 0) == Set((1L, "a", 1L), (2L, "b", 2L)))
  }

  test("lexical data skipping: date-string stats prune files; free-text stats stay safe") {
    val path = tmp("txlex")
    def month(m: Int, n: Int) =
      (0 until n).map(i => (m * 100L + i, f"2023-$m%02d-${i % 28 + 1}%02d", 1L))
        .toDF("id", "day", "session_key").coalesce(1)
    (1 to 4).foreach(m => TxLog.append(month(m, 10), path, "session_key",
      statsCols = Seq("day")))
    val snap = TxLog.snapshot(spark, path)
    assert(snap.files.size == 4)
    // a February–March range keeps 2 of 4 files
    val kept = TxLog.prunedFilesString(snap, "day", "2023-02-01", "2023-03-31")
    assert(kept.size == 2)
    // the read is exact regardless of pruning
    val out = TxLog.readRangeString(spark, path, "day", "2023-02-01", "2023-03-31")
    assert(out.count() == 20)
    assert(out.select(min(col("day")), max(col("day"))).head() match {
      case r => r.getString(0).startsWith("2023-02") && r.getString(1).startsWith("2023-03")
    })
    // full prune keeps the schema; zero rows
    assert(TxLog.readRangeString(spark, path, "day", "2024-01-01", "2024-12-31")
      .count() == 0)
    // a tab-bearing string value cannot corrupt the manifest: its column's
    // stats are omitted (file unprunable), everything still reads
    val dirty = Seq((9000L, "has\ttab\nand newline", 2L))
      .toDF("id", "day", "session_key")
    TxLog.append(dirty, path, "session_key", statsCols = Seq("day"))
    val s2 = TxLog.snapshot(spark, path)
    val dirtyFile = s2.filesForPartition("session_key", "2").head
    assert(s2.statsFor(dirtyFile, "day").isEmpty)
    assert(s2.statsFor(dirtyFile, TxLog.RowCountCol).isDefined)
    assert(TxLog.read(spark, path).count() == 41)
    // unprunable ⇒ always kept, result still exact via the residual filter
    assert(TxLog.readRangeString(spark, path, "day", "2023-02-01", "2023-03-31")
      .count() == 20)
  }

  test("bloom index: point lookup skips files, never loses rows; index-less files stay candidates") {
    val path = tmp("txbloom")
    // 8 single-file batches of disjoint high-cardinality keys (unsorted —
    // min/max stats could not skip anything here)
    def batch(lo: Long) = (lo until lo + 100)
      .map(k => (k * 7919 % 100000, s"v$k")).toDF("key", "payload").coalesce(1)
    (0 until 8).foreach(i => TxLog.appendFlat(batch(i * 100L), path,
      bloomCols = Seq("key")))
    val snap = TxLog.snapshot(spark, path)
    assert(snap.files.size == 8)
    // every present key is found exactly, despite skipping (no false negatives)
    val all = TxLog.read(spark, path).select("key").as[Long].collect()
    val sample = all.sorted.take(50)
    var totalCandidates = 0
    sample.foreach { k =>
      val cand = TxLog.bloomPrunedFiles(spark, snap, "key", k)
      totalCandidates += cand.size
      val got = TxLog.readPoint(spark, path, "key", k).count()
      val expect = all.count(_ == k)
      assert(got == expect, s"key $k: got $got expected $expect")
    }
    // skipping is real: on average a point lookup reads FAR fewer than all
    // 8 files (each key lives in 1; fp rate at this fill is tiny)
    assert(totalCandidates < sample.length * 3,
      s"bloom admitted $totalCandidates/${sample.length * 8} file reads")
    // an absent key prunes everything (or nearly) and returns zero rows
    assert(TxLog.readPoint(spark, path, "key", 100001L).count() == 0)
    // a batch committed WITHOUT the index stays a candidate — safe, not wrong
    TxLog.appendFlat(Seq((999999L, "late")).toDF("key", "payload"), path)
    val snap2 = TxLog.snapshot(spark, path)
    assert(TxLog.bloomPrunedFiles(spark, snap2, "key", 999999L)
      .exists(f => snap2.statsFor(f, "key#bloom").isEmpty))
    assert(TxLog.readPoint(spark, path, "key", 999999L).count() == 1)
  }

  test("shallow clone: zero-copy fork prunes like its source, diverges independently, compact materializes") {
    import java.nio.file.{Files => JFiles, Paths}
    val src = tmp("txclonesrc"); val dst = tmp("txclonedst")
    def batch(ids: Range, sk: Long) =
      ids.map(i => (i.toLong, s"p$i", sk)).toDF("id", "payload", "session_key").coalesce(1)
    TxLog.append(batch(0 until 50, 1L), src, "session_key", statsCols = Seq("id"))
    TxLog.append(batch(50 until 100, 2L), src, "session_key", statsCols = Seq("id"))
    TxLog.cloneAt(spark, src, dst)
    // same rows, zero data files under the clone root (metadata-only fork)
    assert(rows(dst) == rows(src))
    val localParquet = JFiles.walk(Paths.get(dst)).iterator()
    var nData = 0
    while (localParquet.hasNext) {
      if (localParquet.next().toString.endsWith(".parquet")) nData += 1
    }
    assert(nData == 0, s"clone copied $nData data files")
    // borrowed stats prune: a range read skips the other batch's file
    assert(TxLog.readRange(spark, dst, "id", BigDecimal(10), BigDecimal(20)).count() == 11)
    val snapD = TxLog.snapshot(spark, dst)
    assert(TxLog.prunedFiles(snapD, "id", BigDecimal(0), BigDecimal(10)).size == 1)
    // divergence: a write to the clone never touches the source and vice versa
    TxLog.append(batch(100 until 110, 3L), dst, "session_key")
    TxLog.append(batch(200 until 210, 4L), src, "session_key")
    assert(TxLog.read(spark, dst).count() == 110)
    assert(TxLog.read(spark, src).count() == 110)
    assert(rows(dst).exists(_._1 == 100L) && !rows(dst).exists(_._1 == 200L))
    assert(rows(src).exists(_._1 == 200L) && !rows(src).exists(_._1 == 100L))
    // compact materializes: every entry becomes clone-local, rows intact
    TxLog.compact(spark, dst, "session_key", statsCols = Seq("id"))
    val after = TxLog.snapshot(spark, dst)
    assert(after.files.forall(!_.startsWith("/")), "compact left borrowed entries")
    assert(TxLog.read(spark, dst).count() == 110)
    // vacuum on the materialized clone never touches source data
    TxLog.vacuum(spark, dst)
    assert(TxLog.read(spark, src).count() == 110)
  }

  test("CHECK constraints: FALSE rejects atomically, NULL passes, unresolvable batch rejects, drop lifts") {
    val path = tmp("txcheck")
    TxLog.appendFlat(Seq((1L, Some(5L)), (2L, Some(3L))).toDF("id", "qty"), path)
    TxLog.setConstraint(spark, path, "qty_nonneg", "qty >= 0")
    // passing batch commits; NULL evaluates to pass (ANSI CHECK)
    TxLog.appendFlat(Seq((3L, Some(7L)), (4L, Option.empty[Long])).toDF("id", "qty"), path)
    assert(TxLog.read(spark, path).count() == 4)
    val vBefore = TxLog.currentVersion(spark, path)
    // violating batch: rejected, table untouched at the same version
    intercept[TxLog.ConstraintViolation] {
      TxLog.appendFlat(Seq((5L, Some(-1L))).toDF("id", "qty"), path)
    }
    assert(TxLog.currentVersion(spark, path) == vBefore)
    assert(TxLog.read(spark, path).count() == 4)
    // a batch that can't resolve the constrained column rejects too
    intercept[TxLog.ConstraintViolation] {
      TxLog.appendFlat(Seq((6L, "drifted")).toDF("id", "other"), path)
    }
    // dropping the constraint lifts enforcement
    TxLog.dropConstraint(spark, path, "qty_nonneg")
    TxLog.appendFlat(Seq((5L, Some(-1L))).toDF("id", "qty"), path)
    assert(TxLog.read(spark, path).count() == 5)
  }

  test("data skipping: compact recomputes stats; merged table stays prunable") {
    val path = tmp("txstatscompact")
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"p$i", 1L)).toDF("id", "payload", "session_key").coalesce(1)
    TxLog.append(batch(0 until 50), path, "session_key", statsCols = Seq("id"))
    TxLog.append(batch(50 until 100), path, "session_key", statsCols = Seq("id"))
    TxLog.compact(spark, path, "session_key", statsCols = Seq("id"))
    val snap = TxLog.snapshot(spark, path)
    assert(snap.files.size == 1)
    val (mn, mx) = snap.statsFor(snap.files.head, "id").get
    assert(BigDecimal(mn) == 0 && BigDecimal(mx) == 99)
    assert(TxLog.readRange(spark, path, "id", BigDecimal(10), BigDecimal(20)).count() == 11)
  }

  test("restore: rolls back as a NEW commit; history preserved; DV state reinstated") {
    val path = tmp("txrestore")
    TxLog.append(Seq((1L, "a", 1L), (2L, "b", 2L))
      .toDF("id", "payload", "session_key"), path, "session_key")      // v0
    TxLog.append(Seq((3L, "c", 1L)).toDF("id", "payload", "session_key"),
      path, "session_key")                                             // v1
    TxLog.deleteWhere(spark, path, "id = 2")                           // v2 (DV)
    val atV1 = rows(path, 1L)
    val atV2 = rows(path, 2L)
    assert(atV2 == Set((1L, "a", 1L), (3L, "c", 1L)))

    // restore to v1: bad delete undone, as a forward commit
    val vNew = TxLog.restore(spark, path, 1L)
    assert(vNew == 3L)
    assert(rows(path) == atV1)
    // every intermediate version still time-travels
    assert(rows(path, 2L) == atV2)
    assert(rows(path, 1L) == atV1)

    // restore ACROSS a DV commit reinstates the masked view of that version
    TxLog.restore(spark, path, 2L)
    assert(rows(path) == atV2)

    // restoring to the current version is a no-op (no empty commit)
    val v = TxLog.currentVersion(spark, path)
    assert(TxLog.restore(spark, path, v) == v)
    assert(TxLog.currentVersion(spark, path) == v)
  }
}
