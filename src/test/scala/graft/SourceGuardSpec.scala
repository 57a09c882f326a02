package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder and one metrics listener under `src/main`: every
  * main runs on `BenchSession` and measures through `QueryMetrics`, so a
  * tool cannot profile a session shape `Bench` never runs. Likewise one
  * home for store table state (`StoreState`, on TxLog's kv sidecar) and
  * one stream launcher (`AvailableNow`).
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
}
