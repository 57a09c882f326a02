package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder and one metrics listener under `src/main`: every
  * main runs on `BenchSession` and measures through `QueryMetrics`, so a
  * tool cannot profile a session shape `Bench` never runs. Likewise one
  * home for store table state (`StoreState`, on TxLog's kv sidecar) and
  * one stream launcher (`AvailableNow`), one TxLog commit function and raw
  * scan, one spread-before-explode rule (`Parallelism.spread`), and one
  * top-k form per vector-search probe.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def filesMatching(re: String): Seq[String] = {
    val pattern = re.r
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "src/main/scala not found from the working dir")
    files.filter((p: Path) => pattern.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).sorted
  }

  test("SparkSession.builder appears only in BenchSession") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""") ==
      Seq("BenchSession.scala"))
  }

  test("SparkListener is subclassed only in QueryMetrics") {
    assert(filesMatching("""(extends|with|new)\s+SparkListener\b""") ==
      Seq("QueryMetrics.scala"))
  }

  test("store state: its file name and kv I/O live in StoreState only") {
    assert(filesMatching("_graft_state") == Seq("StoreState.scala"))
    // TxLog owns the kv primitive (its constraints and generated columns)
    assert(filesMatching("""\b(read|write)KvFile\b""") ==
      Seq("StoreState.scala", "TxLog.scala"))
    assert(filesMatching("""_graft_\w+_meta""").isEmpty)
  }

  test("writeStream appears only in the AvailableNow launcher") {
    assert(filesMatching("""\bwriteStream\b""") == Seq("AvailableNow.scala"))
  }

  /** Occurrences of `re` per file, over the files that have any. */
  private def occurrences(re: String): Map[String, Int] = {
    val pattern = re.r
    Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.getFileName.toString -> pattern.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
  }

  test("TxLog: one commit call, one raw scan") {
    // the definition plus the one call inside TxLog's commit function
    assert(occurrences("""\btryCommit\(""") == Map("TxLog.scala" -> 2))
    assert(occurrences("recursiveFileLookup") == Map("TxLog.scala" -> 1))
  }

  test("Parallelism.estimate is called only from Parallelism.spread") {
    // the definition plus the one call inside spread
    assert(occurrences("""\bestimate\(""") == Map("Parallelism.scala" -> 2))
  }

  /** The `def` enclosing each match of `re` in the vector-search sources
    * (`Similarity.scala`, `AnnStore.scala`): the nearest `def` above it.
    */
  private def vectorSearchDefs(re: String): Seq[String] = {
    val defRe = """\bdef\s+(\w+)""".r
    Seq("operators/Similarity.scala", "sources/AnnStore.scala").flatMap { f =>
      val src = Files.readString(Paths.get(s"src/main/scala/graft/$f"))
      re.r.findAllMatchIn(src).map { m =>
        defRe.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
  }

  test("vector search: one bucket-literal guard, one top-k form per probe") {
    assert(occurrences("""\bisValidInt\b""") == Map("AnnStore.scala" -> 1))
    // the single-query probe, and ivfCentroids' init (the k smallest ids)
    assert(vectorSearchDefs("""\.limit\(""").sorted == Seq("ivfCentroids", "topK"))
    // the per-query probe, and the pair and semantic-dedup functions that
    // keep only the best match (rank 1) or rank components
    assert(vectorSearchDefs("""\brow_number\(\)""").toSet == Set("topKPerQuery",
      "semDedupPrune", "semDedupPruneAgainst", "semDedupProbe",
      "decontaminationProbe"))
  }
}
