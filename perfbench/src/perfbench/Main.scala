package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

trait Workload {
  /** Everything before the first timed operation: cold runs that write the
    * inputs the timed operations read and compile every plan shape.
    */
  def setup(): Unit
  /** The operations of one pass, in an order drawn from `rnd`. */
  def pass(rnd: Random): Seq[Op]
  /** Traced runs only: extra materializations that split a pass by layer. */
  def probes(): Seq[Probe] = Nil
  /** Per-layer metrics of one traced pass. */
  def layerMetrics(samples: Seq[Sample], probes: Seq[Probe]): Map[String, Double]
}

/** Closed-loop benchmark driver: one driver thread, one operation at a time,
  * against a `local[nproc]` session shaped like `graft.Bench`'s.
  *
  * {{{
  * perfbench.Main --workload <f1_dag_dashboard|graph_similarity> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --expected <file> --work <dir>
  * perfbench.Main --record <file> --data <dir> --work <dir>
  * }}}
  * The last line of standard output is the result JSON; `--record` instead
  * writes every checked output's digest and oracle SQL for
  * `perfbench/make_expected.py`.
  */
object Main {
  val Workloads = Seq("f1_dag_dashboard", "graph_similarity")

  /** End-to-end metrics (untraced runs) with their units. Times and CPU are
    * reported in control units (`ctl`): multiples of the same run's control
    * scan, so a host that runs everything slower for a while moves the
    * control with them and the ratio stays put. The raw figures are in the
    * box record.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_ctl" -> "ctl", "op_p50_ctl" -> "ctl", "cpu_ctl" -> "ctl",
    "shuffle_mb" -> "MB")

  /** Control blocks timed before and after the timed window, and q01 scans
    * per block: a block averages out the scheduling jitter of one short scan.
    */
  val ControlBlocks = 4
  val ScansPerBlock = 3

  /** Per-layer metrics (traced runs) with their units, for every layer of
    * both workloads; a layer the workload does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] = {
    val pipeline = Seq("pipeline.F1Synthetic", "pipeline.F1Staging",
      "pipeline.F1Intermediate.asof", "pipeline.F1Intermediate.features",
      "pipeline.F1Marts", F1DagDashboard.WriteLayer).flatMap(l => Seq(
      "wall_s" -> "s", "cpu_s" -> "s", "plan_s" -> "s", "jobs" -> "count",
      "tasks" -> "count", "shuffle_mb" -> "MB", "skew" -> "ratio")
      .map { case (k, u) => s"$l.$k" -> u })
    val read = Seq("plan_ms" -> "ms", "exec_ms" -> "ms", "jobs" -> "count",
      "tasks" -> "count", "files_read" -> "count", "files_pruned_ratio" -> "ratio")
      .map { case (k, u) => s"${F1DagDashboard.ReadLayer}.$k" -> u }
    val graph = GraphSimilarity.GraphLayers.flatMap(l => Seq("call_s" -> "s",
      "exec_s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
      "retained_mb" -> "MB").map { case (k, u) => s"$l.$k" -> u })
    val joins = GraphSimilarity.JoinLayers.flatMap(l => Seq("wall_s" -> "s",
      "cpu_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
      "skew" -> "ratio", "retained_mb" -> "MB").map { case (k, u) => s"$l.$k" -> u })
    pipeline ++ read ++ graph ++ joins ++ Seq("session.gc_s" -> "s",
      "session.control_s" -> "s", "session.trace_overhead_s" -> "s")
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k"); k.drop(2) -> v
    }.toMap
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val work = Paths.get(a("work")).toAbsolutePath.toString
    require(Files.isRegularFile(Paths.get(data, "lineitem.parquet")),
      s"input tables not found under $data")
    if (a.contains("record")) record(a("record"), data, work)
    else bench(a, data, work)
  }

  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val i = pos.toInt
    if (i + 1 < s.length) s(i) + (pos - i) * (s(i + 1) - s(i)) else s(i)
  }
  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def bench(a: Map[String, String], data: String, work: String): Unit = {
    val workload = a("workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val expected = Check.loadExpected(a("expected"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val os = ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage

    val spark = session(work)
    val counters = new Counters(spark)
    val runner = new Runner(spark, counters, trace)
    val w: Workload = workload match {
      case "f1_dag_dashboard" => new F1DagDashboard(spark, runner, data, work, expected)
      case "graph_similarity" => new GraphSimilarity(spark, runner, data, expected)
    }

    // control: a fixed q01 scan, timed warm in blocks right before and right
    // after the timed window; load from other tenants of the box slows it as
    // it slows the workload
    def control(): Double = {
      val t0 = System.nanoTime()
      (1 to ScansPerBlock).foreach(_ => SparkEntry.queries("q01_typed_projection")(spark, data)
        .write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9 / ScansPerBlock
    }
    control()

    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val control0 = Seq.fill(ControlBlocks)(control())

    val rnd = new Random(seed)
    val passes = mutable.ArrayBuffer.empty[(Seq[Sample], Seq[Probe])]
    val t0 = System.nanoTime()
    do {
      // start each pass from a collected heap and give Spark's context
      // cleaner time to drop what the collection released
      System.gc()
      Thread.sleep(200)
      val ops = w.pass(rnd)
      val probes = if (trace) w.probes() else Nil
      passes += ((ops.map(runner.measure), probes))
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    val measuredS = (System.nanoTime() - t0) / 1e9

    val control1 = Seq.fill(ControlBlocks)(control())
    val controlS = median(control0 ++ control1)
    val load1 = os.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors
    // the run itself keeps about nproc threads busy, so only a start above
    // nproc or a control that moved during the run points at other tenants
    val (c0, c1) = (median(control0), median(control1))
    val loaded = load0 > cores || c1 > 1.5 * c0 || c0 > 1.5 * c1

    val samples = passes.flatMap(_._1).toSeq
    val perPass = (f: Sample => Double) => median(passes.map(_._1.map(f).sum).toSeq)
    val passS = perPass(_.wallS)
    val opMsP50 = percentile(samples.map(_.wallS * 1000), 0.5)
    val cpuS = perPass(_.d.cpuS)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Seq(
          "setup_s" -> setupS,
          "pass_ctl" -> passS / controlS,
          "op_p50_ctl" -> opMsP50 / 1000 / controlS,
          "cpu_ctl" -> cpuS / controlS,
          "shuffle_mb" -> perPass(_.d.shuffleMb))
          .map { case (k, v) => (k, v, EndToEnd.toMap.apply(k)) }
      } else {
        val perPass = passes.map { case (samples, probes) =>
          w.layerMetrics(samples, probes) ++ Map(
            "session.gc_s" -> samples.map(_.d.gcS).sum,
            "session.trace_overhead_s" -> probes.map(_.wallS).sum)
        }
        PerLayer.map { case (k, unit) =>
          val v = if (k == "session.control_s") controlS
                  else median(perPass.map(_.getOrElse(k, 0.0)).toSeq)
          (k, v, unit)
        }
      }

    val box = Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> cores.toString, "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "load_avg_start" -> num(load0), "load_avg_end" -> num(load1),
      "control_s_before" -> num(c0), "control_s_after" -> num(c1),
      "control_s" -> num(controlS),
      "loaded" -> loaded.toString, "pass_s" -> num(passS), "op_ms_p50" -> num(opMsP50),
      "cpu_s" -> num(cpuS), "passes" -> passes.length.toString,
      "ops" -> passes.map(_._1.length).sum.toString, "measured_s" -> num(measuredS),
      "failures" -> runner.failures.map(str).mkString("[", ",", "]"),
      "ops_wall_cpu_shuffle" -> passes.flatMap(_._1).map(x =>
        s"[${str(x.op.name)}, ${num(x.wallS)}, ${num(x.d.cpuS)}, ${num(x.d.shuffleMb)}]")
        .mkString("[", ", ", "]"))
      .map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": ${runner.failed == 0}, "attempted": ${runner.attempted}, """ +
      s""""failed": ${runner.failed}, "metrics": $metricJson}"""

    val results = Paths.get(work).resolveSibling("results")
    Files.createDirectories(results)
    Files.writeString(results.resolve(s"$workload-seed$seed-trace${a("trace")}.json"),
      s"""{"box": $box, "result": $result}""" + "\n")
    spark.stop()
    println(s"""{"box": $box}""")
    println(result)
  }

  /** Digest of every checked output at this commit, with its oracle SQL. */
  private def record(path: String, data: String, work: String): Unit = {
    val spark = session(work)
    val outs = GraphSimilarity.Ops.map { case (q, _) => q -> SparkEntry.queries(q)(spark, data) }
    graft.pipeline.F1Pipeline.run(graft.pipeline.F1Synthetic.raw(spark, data), s"$work/marts")
    val rows = (outs ++ F1DagDashboard.martOutputs(spark, s"$work/marts")).map { case (q, df) =>
      val d = Check.digest(df)
      val sql = SparkEntry.oracleSql.get(q).map(str).getOrElse("null")
      s"""${str(q)}: {"rows": ${d.rows}, "hash": "${d.hash}", "columns": """ +
        df.columns.sorted.map(str).mkString("[", ", ", "]") + s""", "oracle_sql": $sql}"""
    }
    Files.writeString(Paths.get(path), rows.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
