package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted in one window of the driver thread. */
final case class Delta(jobs: Long = 0, tasks: Long = 0, cpuS: Double = 0,
                       shuffleMb: Double = 0, spillMb: Double = 0,
                       gcS: Double = 0, planS: Double = 0,
                       taskMs: Vector[Long] = Vector.empty) {
  def +(o: Delta): Delta = Delta(jobs + o.jobs, tasks + o.tasks, cpuS + o.cpuS,
    shuffleMb + o.shuffleMb, spillMb + o.spillMb, gcS + o.gcS, planS + o.planS,
    taskMs ++ o.taskMs)
  def -(o: Delta): Delta = Delta(jobs - o.jobs, tasks - o.tasks, cpuS - o.cpuS,
    shuffleMb - o.shuffleMb, spillMb - o.spillMb, gcS - o.gcS, planS - o.planS,
    Vector.empty)
  /** Slowest task over the median task: 1 means even work. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(s(s.length / 2), 1L).toDouble
    }
}

/** The benchmark's own `SparkListener` + `QueryExecutionListener`. Jobs,
  * tasks, executor CPU, shuffle write and spill are attributed to the job
  * group the driver thread set (`""` when none); planning time to the label
  * the driver thread set before the query ran. Everything is summed per
  * label and read as a difference around one window after the listener bus
  * has drained.
  */
final class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class Acc {
    var jobs, tasks, cpuNs, shuffleB, spillB, planMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val accs = mutable.Map.empty[String, Acc]
  private val stageLabel = mutable.Map.empty[Int, String]
  @volatile private var planLabel = ""

  private def acc(label: String): Acc = accs.getOrElseUpdate(label, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageLabel(_) = label)
    acc(label).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLabel.getOrElse(e.stageId, ""))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    addPlan(qe)
  private def addPlan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { acc(planLabel).planMs += ms }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Label the driver thread's next jobs and queries; `""` clears it. */
  def label(name: String): Unit = {
    planLabel = name
    if (name.isEmpty) spark.sparkContext.clearJobGroup()
    else spark.sparkContext.setJobGroup(name, name)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Totals so far for `label`; the task-time list is kept by position so a
    * window can slice off its own tasks.
    */
  final case class Mark(label: String, d: Delta, taskIdx: Int)

  def mark(label: String): Mark = {
    ListenerBusDrain(spark.sparkContext)
    synchronized {
      val a = acc(label)
      Mark(label, Delta(a.jobs, a.tasks, a.cpuNs / 1e9, a.shuffleB / 1e6, a.spillB / 1e6,
        gcMs / 1e3, a.planMs / 1e3), a.taskMs.length)
    }
  }

  def since(m: Mark): Delta = {
    val now = mark(m.label)
    val tasks = synchronized(acc(m.label).taskMs.slice(m.taskIdx, now.taskIdx).toVector)
    (now.d - m.d).copy(taskMs = tasks)
  }
}
