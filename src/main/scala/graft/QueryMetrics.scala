package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** The one metrics listener: a row per completed stage and per finished
  * job, from executor task metrics (not plan estimates). `Bench` reads its
  * shuffle/spill totals from it and `tools.Probe` its per-query views.
  *
  * The listener bus is asynchronous, so a reader calls [[settle]] before
  * taking a [[position]] and again before reading what ran [[since]] it;
  * otherwise a late stage lands on the next query.
  */
final class QueryMetrics extends SparkListener {
  import QueryMetrics._

  private val stageRows = mutable.ArrayBuffer.empty[Stage]
  private val jobRows = mutable.ArrayBuffer.empty[Job]
  private val started = mutable.Map.empty[Int, (Long, Seq[Int])]

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val wall = (for (s <- si.submissionTime; c <- si.completionTime)
      yield c - s).getOrElse(0L)
    val row =
      if (m == null) Stage(si.stageId, stageName(si.name), si.numTasks, wall,
        0, 0, 0, 0, 0, 0, 0, 0, 0)
      else Stage(si.stageId, stageName(si.name), si.numTasks, wall,
        m.executorRunTime, m.executorCpuTime / 1000000,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.inputMetrics.bytesRead)
    synchronized { stageRows += row }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    synchronized { started(js.jobId) = (js.time, js.stageIds) }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    started.remove(je.jobId).foreach { case (t0, ids) =>
      jobRows += Job(je.jobId, je.time - t0, ids)
    }
  }

  /** How many stage and job rows have landed so far. */
  def position: Position = synchronized {
    Position(stageRows.size, jobRows.size)
  }

  /** The stages and jobs that landed after `p`. */
  def since(p: Position): Window = synchronized {
    Window(stageRows.drop(p.stages).toSeq, jobRows.drop(p.jobs).toSeq)
  }

  /** (shuffle read, shuffle write, memory spill, disk spill) bytes over
    * every stage completed so far.
    */
  def snapshot: (Long, Long, Long, Long) = since(Position(0, 0)).totals

  /** Polls until no stage or job row lands for two consecutive 50 ms
    * windows, so each query's stages are attributed to it, not its
    * successor. Bounded at 2 s so a stuck bus cannot hang a run.
    */
  def settle(): Unit = {
    var prev = position
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 2000) {
      Thread.sleep(50); waited += 50
      val cur = position
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }
}

object QueryMetrics {

  /** One completed stage; times in ms, sizes in bytes. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
                         runMs: Long, cpuMs: Long,
                         shuffleReadBytes: Long, shuffleReadRecords: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         memSpill: Long, diskSpill: Long, inputBytes: Long)

  /** One finished job: its wall from submission to end, and its stages
    * (skipped ones included, as the scheduler planned them).
    */
  final case class Job(id: Int, wallMs: Long, stageIds: Seq[Int])

  final case class Position(stages: Int, jobs: Int)

  final case class Window(stages: Seq[Stage], jobs: Seq[Job]) {
    /** (shuffle read, shuffle write, memory spill, disk spill) bytes. */
    def totals: (Long, Long, Long, Long) = (
      stages.map(_.shuffleReadBytes).sum, stages.map(_.shuffleWriteBytes).sum,
      stages.map(_.memSpill).sum, stages.map(_.diskSpill).sum)
  }

  private def stageName(name: String): String =
    name.takeWhile(_ != '\n').take(60)
}
