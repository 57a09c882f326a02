package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** What one operation hands back: its consumed result, the time spent inside
  * the query-function call (where the iterative operators run their loops),
  * and the DataFrame whose plan the trace inspects.
  */
final case class Out(value: Any, callS: Double = 0.0, df: Option[DataFrame] = None)

/** One call into a public entry point of the engine. `layer` is the job
  * group it runs under in a traced run; `check` runs outside the timed
  * window and returns the reason when the output is wrong.
  */
final case class Op(name: String, layer: String, run: () => Out,
                    check: Out => Option[String])

final case class Sample(op: Op, wallS: Double, callS: Double, d: Delta,
                        retainedMb: Double, filesRead: Long)

/** A traced-only materialization of one layer's output. */
final case class Probe(layer: String, wallS: Double, d: Delta)

/** Runs operations one at a time from the driver thread (a closed loop with
  * one client) and keeps the attempted/failed tally.
  */
final class Runner(spark: SparkSession, counters: Counters, trace: Boolean) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  private def fail(reason: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += reason
    System.err.println(s"[perfbench] FAILED $reason")
  }

  /** Run `body` under `label` (the job group, when tracing) and return its
    * outcome, wall time and the work counted for that label meanwhile.
    */
  private def window[A](label: String)(body: => A): (Try[A], Double, Delta) = {
    counters.label(label)
    val mark = counters.mark(label)
    val t0 = System.nanoTime()
    val res = Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val d = counters.since(mark)
    counters.label("")
    attempted += 1
    (res, wall, d)
  }

  /** Time `op`, then — outside the timed window — check its output, read
    * what it left cached, and sweep the session so operations stay
    * independent.
    */
  def measure(op: Op): Sample = {
    val (res, wall, d) = window(if (trace) op.layer else "")(op.run())
    val problem = res match {
      case Failure(e) => Some(s"${op.name}: threw $e")
      case Success(out) => Try(op.check(out)) match {
        case Success(p) => p.map(r => s"${op.name}: $r")
        case Failure(e) => Some(s"${op.name}: check threw $e")
      }
    }
    problem.foreach(fail)
    val files =
      if (trace) res.toOption.flatMap(_.df).map(Runner.filesRead).getOrElse(0L) else 0L
    val retained = retainedMb()
    sweep()
    Sample(op, wall, res.map(_.callS).getOrElse(0.0), d, retained, files)
  }

  /** A traced-only probe; a probe that throws counts as a failed operation. */
  def probe(layer: String)(body: => Unit): Probe = {
    val (res, wall, d) = window(layer)(body)
    res.failed.foreach(e => fail(s"probe $layer: threw $e"))
    sweep()
    Probe(layer, wall, d)
  }

  /** Block-manager bytes (persisted and checkpointed RDDs, and materialized
    * SQL-cache relations) still held by the session.
    */
  private def retainedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Runner extends AdaptiveSparkPlanHelper {
  /** Files the executed plan's scans read after partition pruning. */
  def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
