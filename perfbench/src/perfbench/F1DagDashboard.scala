package perfbench

import scala.util.Random

import graft.pipeline.{F1Intermediate, F1Marts, F1Pipeline, F1Staging, F1Synthetic}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Workload `f1_dag_dashboard`: the paper's production path and its readers.
  *
  * Each pass runs `F1Pipeline.run(F1Synthetic.raw(...))` once — the only
  * operation that writes: raw → staging → intermediate (dedup, as-of join,
  * feature windows) → three partitioned marts — and a seeded stream of
  * dashboard requests over the marts the set-up wrote with the same call:
  * KPI tiles, lap time by `lap_number`, `pace_state` share and the summary
  * row, each filtered by `driver_number`, a `meeting_key` range (the
  * partition column) and a lap-date range. The requests are bound by
  * per-query planning, scheduling and partition pruning, so a write-layout
  * change that speeds the run but slows reads shows here.
  */
final class F1DagDashboard(spark: SparkSession, runner: Runner, data: String,
                           work: String, expected: Map[String, Check.Expected])
    extends Workload {

  import F1DagDashboard._

  private val marts = s"$work/marts"
  private val runOut = s"$work/marts_run"

  private def runOp(out: String) = Op("f1.run", WriteLayer,
    () => { F1Pipeline.run(F1Synthetic.raw(spark, data), out); Out(()) },
    _ => checkMarts(spark, out, expected))

  // dashboard reference data, collected from the set-up marts after their check
  private var laps: IndexedSeq[Lap] = IndexedSeq.empty
  private var sessions: IndexedSeq[SessionRow] = IndexedSeq.empty
  private var files: Map[String, Long] = Map.empty

  def setup(): Unit = {
    runner.measure(runOp(marts))
    laps = spark.read.parquet(s"$marts/fct_driver_laps")
      .select(col("driver_number").cast("int"), col("meeting_key").cast("int"),
        expr("unix_micros(lap_start_time)"), col("lap_number").cast("int"),
        col("lap_time"), col("is_pit_out_lap"), col("pace_stability_index"),
        col("pace_state"))
      .collect().toIndexedSeq.map(r => Lap(r.getInt(0), r.getInt(1), r.getLong(2),
        r.getInt(3), opt(r, 4), r.getBoolean(5), opt(r, 6), r.getString(7)))
    sessions = spark.read.parquet(s"$marts/fct_driver_race_summary")
      .select(col("driver_number").cast("int"), col("meeting_key").cast("int"),
        col("best_lap_time"), col("avg_lap_time"), col("pit_stop_count").cast("long"))
      .collect().toIndexedSeq.map(r =>
        SessionRow(r.getInt(0), r.getInt(1), opt(r, 2), opt(r, 3), r.getLong(4)))
    files = Seq("fct_driver_laps", "fct_driver_race_summary").map { t =>
      t -> spark.read.parquet(s"$marts/$t").inputFiles.length.toLong
    }.toMap
    // warm every request shape once; outputs are checked like timed ones
    val warm = new Random(0)
    Kinds.foreach(k => runner.measure(requestOp(randomRequest(warm, k))))
  }

  /** The run plus the same number of requests of each kind, so the
    * per-pass latency mix does not depend on the seed; the seed draws each
    * request's filters and the order.
    */
  def pass(rnd: Random): Seq[Op] =
    rnd.shuffle(runOp(runOut) +: Kinds.flatMap(k =>
      Seq.fill(RequestsPerPass / Kinds.length)(requestOp(randomRequest(rnd, k)))))

  override def probes(): Seq[Probe] = {
    // cumulative materializations of each layer's output, built with the
    // same public functions and defaults `F1Pipeline.run` uses; a layer's
    // cost is the difference from the materialization of its input
    var raw: F1Pipeline.Raw = null
    var stg: Seq[DataFrame] = Nil
    var sdl, features: DataFrame = null
    Seq(
      runner.probe("pipeline.F1Synthetic") {
        raw = F1Synthetic.raw(spark, data)
        noop(Seq(raw.lapsHistorical, raw.lapsRealtime, raw.positionHistorical,
          raw.positionRealtime))
      },
      runner.probe("pipeline.F1Staging") {
        stg = Seq(F1Staging.stgLapsHistorical(raw.lapsHistorical),
          F1Staging.stgLapsRealtime(raw.lapsRealtime),
          F1Staging.stgPosition(raw.positionHistorical, isRealtime = false),
          F1Staging.stgPosition(raw.positionRealtime, isRealtime = true))
        noop(stg)
      },
      runner.probe("pipeline.F1Intermediate.asof") {
        sdl = F1Intermediate.sessionDriverLapsOptimized(
          F1Intermediate.lapsAll(stg(0), stg(1)), F1Intermediate.positionAll(stg(2), stg(3)))
        noop(Seq(sdl))
      },
      runner.probe("pipeline.F1Intermediate.features") {
        features = F1Intermediate.driverLapFeatures(sdl)
        noop(Seq(features))
      },
      runner.probe("pipeline.F1Marts") {
        noop(Seq(F1Marts.fctDriverLaps(features), F1Marts.fctDriverRaceSummary(features),
          F1Marts.finalF1(features)))
      })
  }

  def layerMetrics(samples: Seq[Sample], probes: Seq[Probe]): Map[String, Double] = {
    val run = samples.find(_.op.layer == WriteLayer)
    val cumulative = probes ++ run.map(s => Probe(WriteLayer, s.wallS, s.d))
    val pipeline = cumulative.zipWithIndex.flatMap { case (p, i) =>
      val prev = if (i == 0) Probe("", 0.0, Delta()) else cumulative(i - 1)
      val d = p.d - prev.d
      Seq("wall_s" -> (p.wallS - prev.wallS), "cpu_s" -> d.cpuS, "plan_s" -> d.planS,
        "jobs" -> d.jobs.toDouble, "tasks" -> d.tasks.toDouble,
        "shuffle_mb" -> d.shuffleMb, "skew" -> p.d.skew)
        .map { case (k, v) => s"${p.layer}.$k" -> v }
    }
    val reqs = samples.filter(_.op.layer == ReadLayer)
    val n = math.max(reqs.length, 1)
    val planMs = reqs.map(_.d.planS).sum * 1000 / n
    val scanned = reqs.map(s => files(tableOf(s.op.name)).toDouble).sum
    val read = Seq(
      "plan_ms" -> planMs,
      "exec_ms" -> (reqs.map(_.wallS).sum * 1000 / n - planMs),
      "jobs" -> reqs.map(_.d.jobs).sum.toDouble,
      "tasks" -> reqs.map(_.d.tasks).sum.toDouble,
      "files_read" -> reqs.map(_.filesRead).sum.toDouble,
      "files_pruned_ratio" ->
        (if (scanned == 0) 0.0 else 1.0 - reqs.map(_.filesRead).sum / scanned))
      .map { case (k, v) => s"$ReadLayer.$k" -> v }
    (pipeline ++ read).toMap
  }

  // ---- dashboard requests ----

  private def randomRequest(rnd: Random, kind: String): Req = {
    val drivers = laps.map(_.driver).distinct.sorted
    val meetings = laps.map(_.meeting).distinct.sorted
    val (lo, hi) = (laps.map(_.startUs).min, laps.map(_.startUs).max)
    val span = hi - lo
    val a = meetings(rnd.nextInt(meetings.length))
    val b = meetings(rnd.nextInt(meetings.length))
    val t0 = lo + (rnd.nextDouble() * 0.5 * span).toLong
    Req(kind, drivers(rnd.nextInt(drivers.length)), math.min(a, b), math.max(a, b),
      t0, t0 + ((0.3 + 0.7 * rnd.nextDouble()) * span).toLong + 1)
  }

  private def lapSlice(r: Req): DataFrame =
    spark.read.parquet(s"$marts/fct_driver_laps").filter(
      col("driver_number") === r.driver && col("meeting_key").between(r.m0, r.m1) &&
        col("lap_start_time") >= expr(s"timestamp_micros(${r.t0})") &&
        col("lap_start_time") < expr(s"timestamp_micros(${r.t1})"))

  private def requestDf(r: Req): DataFrame = r.kind match {
    case "kpi" => lapSlice(r).agg(count(lit(1)), min("lap_time"), avg("lap_time"),
      count(when(col("is_pit_out_lap"), 1)), avg("pace_stability_index"))
    case "lap_chart" => lapSlice(r).groupBy("lap_number").agg(avg("lap_time"))
      .orderBy("lap_number")
    case "pace_share" => lapSlice(r).groupBy("pace_state").count()
    case "summary" => spark.read.parquet(s"$marts/fct_driver_race_summary")
      .filter(col("driver_number") === r.driver && col("meeting_key").between(r.m0, r.m1))
      .agg(count(lit(1)), min("best_lap_time"), avg("avg_lap_time"),
        coalesce(sum("pit_stop_count"), lit(0L)))
  }

  private def requestOp(r: Req) = Op(s"dash.${r.kind}", ReadLayer,
    () => { val df = requestDf(r); Out(df.collect().toSeq, df = Some(df)) },
    out => compareRequest(r, out.value.asInstanceOf[Seq[Row]]))

  /** The request answered again in plain Scala over the collected marts. */
  private def compareRequest(r: Req, got: Seq[Row]): Option[String] = {
    val ls = laps.filter(l => l.driver == r.driver && l.meeting >= r.m0 &&
      l.meeting <= r.m1 && l.startUs >= r.t0 && l.startUs < r.t1)
    val want: Seq[Seq[Any]] = r.kind match {
      case "kpi" => Seq(Seq(ls.length.toLong, minOf(ls.flatMap(_.lapTime)),
        avgOf(ls.flatMap(_.lapTime)), ls.count(_.pitOut).toLong, avgOf(ls.flatMap(_.psi))))
      case "lap_chart" => ls.groupBy(_.lapNumber).toSeq.sortBy(_._1)
        .map { case (n, g) => Seq(n, avgOf(g.flatMap(_.lapTime))) }
      case "pace_share" => ls.groupBy(_.paceState).toSeq
        .map { case (s, g) => Seq(s, g.length.toLong) }
      case "summary" =>
        val ss = sessions.filter(s => s.driver == r.driver && s.meeting >= r.m0 &&
          s.meeting <= r.m1)
        Seq(Seq(ss.length.toLong, minOf(ss.flatMap(_.bestLap)), avgOf(ss.flatMap(_.avgLap)),
          ss.map(_.pits).sum))
    }
    val gotRows = got.map(_.toSeq)
    val ordered = if (r.kind == "pace_share") gotRows.sortBy(_.head.toString) else gotRows
    val wantOrdered = if (r.kind == "pace_share") want.sortBy(_.head.toString) else want
    if (ordered.length == wantOrdered.length &&
        ordered.zip(wantOrdered).forall { case (g, w) => g.length == w.length &&
          g.zip(w).forall { case (a, b) => same(a, b) } }) None
    else Some(s"$r: got ${ordered.take(3)}, reference ${wantOrdered.take(3)}")
  }
}

object F1DagDashboard {
  val WriteLayer = "pipeline.F1Pipeline.write"
  val ReadLayer = "sources.read"
  val Kinds = Vector("kpi", "lap_chart", "pace_share", "summary")
  val RequestsPerPass = 24

  final case class Req(kind: String, driver: Int, m0: Int, m1: Int, t0: Long, t1: Long)
  final case class Lap(driver: Int, meeting: Int, startUs: Long, lapNumber: Int,
                       lapTime: Option[Double], pitOut: Boolean, psi: Option[Double],
                       paceState: String)
  final case class SessionRow(driver: Int, meeting: Int, bestLap: Option[Double],
                              avgLap: Option[Double], pits: Long)

  private def tableOf(op: String) =
    if (op == "dash.summary") "fct_driver_race_summary" else "fct_driver_laps"

  private def opt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  private def minOf(xs: Seq[Double]): Any = if (xs.isEmpty) null else xs.min
  private def avgOf(xs: Seq[Double]): Any = if (xs.isEmpty) null else xs.sum / xs.length

  /** Counts compare exactly; doubles to 1e-9 relative (summation order). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case (x, y) => x == y
  }

  private def noop(dfs: Seq[DataFrame]): Unit =
    dfs.foreach(_.write.format("noop").mode("overwrite").save())

  /** The written marts against the expected q38/q39/q41 outputs: the same
    * projections `F1Synthetic.summary`/`laps`/`finalF1` take, read back from
    * the partitioned Parquet.
    */
  def martOutputs(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val laps = spark.read.parquet(s"$dir/fct_driver_laps")
    val fin = spark.read.parquet(s"$dir/final_f1")
    Seq(
      "q38_f1_pipeline_summary" -> spark.read.parquet(s"$dir/fct_driver_race_summary"),
      "q39_f1_pipeline_laps" -> laps.select(
        col("meeting_key"), col("session_key"), col("driver_number"), col("lap_number"),
        expr("unix_micros(lap_start_time)").as("lap_start_us"),
        col("lap_time"), col("sector1_time"), col("sector2_time"), col("sector3_time"),
        col("is_pit_out_lap"), col("is_realtime"), col("race_position"),
        col("prev_lap_time"), col("next_lap_time"), col("rolling_avg_5_laps"),
        col("pace_momentum"), col("degradation_index"), col("position_momentum"),
        col("performance_score_raw"), col("pace_state"), col("track_position_state")),
      "q41_f1_final" -> fin.select(
        col("meeting_key"), col("session_key"), col("driver_number"), col("lap_number"),
        col("lap_time"), col("race_position"), col("performance_score_raw"),
        col("first_lap"), col("last_lap"), col("best_position"), col("worst_position"),
        col("best_lap_time"), col("avg_lap_time"), col("avg_psi"),
        col("avg_degradation"), col("avg_performance_score"), col("pit_stop_count")))
  }

  def checkMarts(spark: SparkSession, dir: String,
                 expected: Map[String, Check.Expected]): Option[String] = {
    val bad = martOutputs(spark, dir).flatMap { case (name, df) =>
      Check.compare(name, Check.digest(df), expected)
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }
}
