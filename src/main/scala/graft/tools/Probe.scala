package graft.tools

import graft.{BenchSession, QueryMetrics, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Dev profiler for registry queries, in `Bench`'s session shape
  * ([[graft.BenchSession]]) and measured by its listener
  * ([[graft.QueryMetrics]]). Each query name is an exact registry name or a
  * unique prefix of one (`q38`).
  *
  * Usage: runMain graft.tools.Probe <sfDir> <q,...> [time|jobs|stages|plan] [reps]
  *
  *   - `time` (default): per rep, the build/plan/exec wall split (build =
  *     the query function, which runs any eager checkpoints; plan = physical
  *     planning of the read side; exec = the `noop` write), shuffle
  *     write/read, input and spill MB, jobs and stages; then the best rep.
  *   - `jobs`: per rep, every job's wall and its stages as `tasks@name`.
  *   - `stages`: per rep, every completed stage sorted by wall, with task
  *     run and CPU time and shuffle records in/out.
  *   - `plan`: the formatted physical plan, the AQE-final plan after one
  *     run that discards its rows (as the `noop` sink does), and the
  *     exchange/broadcast/sort/window/join counts of both.
  *
  * Every rep starts from a fresh GC, settles the listener bus before and
  * after, and releases the session's cached blocks afterwards, as `Bench`
  * does.
  */
object Probe extends AdaptiveSparkPlanHelper {

  private val Modes = Set("time", "jobs", "stages", "plan")

  /** The registry name `q` denotes: itself, or the one name it prefixes. */
  def resolve(names: Iterable[String], q: String): Either[String, String] =
    if (names.exists(_ == q)) Right(q)
    else names.filter(_.startsWith(q)).toSeq.sorted match {
      case Seq(one) => Right(one)
      case Seq() => Left(s"no query named or prefixed '$q'")
      case many => Left(s"'$q' is ambiguous: ${many.mkString(", ")}")
    }

  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 2) args(2) else "time"
    if (args.length < 2 || !Modes(mode)) {
      System.err.println("usage: Probe <sfDir> <q,...> [time|jobs|stages|plan] [reps]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val resolved = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .map(resolve(SparkEntry.queries.keys, _))
    resolved.collect { case Left(err) => err }.foreach(System.err.println)
    if (resolved.exists(_.isLeft)) sys.exit(2)
    val names = resolved.collect { case Right(n) => n }
    val reps = if (args.length > 3) args(3).toInt else 3

    val spark = BenchSession.build()
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    BenchSession.warm(spark, sfDir)
    names.foreach { name =>
      if (mode == "plan") plan(spark, sfDir, name)
      else {
        val walls = (1 to reps).map(rep => measure(spark, sfDir, name, rep, mode, metrics))
        println(f"[probe] $name best ${walls.min}%.3f s of $reps")
      }
    }
    spark.stop()
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  /** One rep of `name`; prints the `mode` view and returns the wall. */
  private def measure(spark: SparkSession, dir: String, name: String,
                      rep: Int, mode: String, metrics: QueryMetrics): Double = {
    System.gc()
    metrics.settle()
    val from = metrics.position
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val tBuild = System.nanoTime()
    df.queryExecution.executedPlan
    val tPlan = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val tExec = System.nanoTime()
    metrics.settle()
    val w = metrics.since(from)
    BenchSession.release(spark)
    val (read, write, memSpill, diskSpill) = w.totals
    val wall = (tExec - t0) / 1e9
    println(f"[probe] $name rep$rep: $wall%.3f s (build ${(tBuild - t0) / 1e9}%.3f, " +
      f"plan ${(tPlan - tBuild) / 1e9}%.3f, exec ${(tExec - tPlan) / 1e9}%.3f) " +
      f"shuffle write ${mb(write)}%.2f MB read ${mb(read)}%.2f MB, " +
      f"input ${mb(w.stages.map(_.inputBytes).sum)}%.2f MB, " +
      f"spill ${mb(memSpill)}%.2f/${mb(diskSpill)}%.2f MB mem/disk, " +
      s"${w.jobs.size} jobs, ${w.stages.size} stages")
    mode match {
      case "jobs" =>
        val byId = w.stages.map(s => s.id -> s).toMap
        w.jobs.foreach { j =>
          val stages = j.stageIds.map(id =>
            byId.get(id).fold(s"skipped#$id")(s => s"${s.tasks}@${s.name.take(40)}"))
          println(f"  job ${j.id}%4d ${j.wallMs}%7d ms  [${stages.mkString(" | ")}]")
        }
      case "stages" =>
        w.stages.sortBy(-_.wallMs).foreach { s =>
          println(f"  wall ${s.wallMs}%6d ms  run ${s.runMs}%7d ms  cpu ${s.cpuMs}%7d ms" +
            f"  tasks ${s.tasks}%4d  shufIn ${s.shuffleReadRecords}%9d" +
            f"  shufOut ${s.shuffleWriteRecords}%9d  [${s.id}] ${s.name}")
        }
      case _ => ()
    }
    wall
  }

  private def plan(spark: SparkSession, dir: String, name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, dir)
    val qe = df.queryExecution
    println(s"=== $name formatted plan ===")
    println(qe.explainString(ExplainMode.fromString("formatted")))
    // AQE re-plans the same plan object while it runs; count it first
    val initial = counts(qe.executedPlan)
    // run the plan, discarding its rows as the noop sink does
    qe.toRdd.foreach(_ => ())
    println(s"=== $name AQE-final plan ===")
    println(qe.executedPlan.treeString)
    println(s"[probe] $name initial $initial")
    println(s"[probe] $name final   ${counts(qe.executedPlan)}")
    BenchSession.release(spark)
  }

  private def counts(p: SparkPlan): String = {
    def n(f: PartialFunction[SparkPlan, Unit]) = collect(p)(f).size
    Seq(
      "exchange" -> n { case _: ShuffleExchangeLike => },
      "broadcast" -> n { case _: BroadcastExchangeLike => },
      "sort" -> n { case _: SortExec => },
      "window" -> n { case _: WindowExec => },
      "join" -> n { case _: BaseJoinExec => }
    ).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }
}
