package graft.pipeline

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic mapping of the harness tables onto the reference's raw
  * OpenF1 shape, so the ENTIRE pipeline DAG (staging → union-dedup → as-of
  * join → feature windows → marts) can be oracle-verified end-to-end at any
  * scale factor. The oracle replicates this mapping in SQL, so both engines
  * feed identical raw strings into the same declared transformations.
  *
  * Stringification safety: every derived value is either an integer
  * (`floor(x + 0.5)` rounding — exact in both engines), a direct cast of a
  * 2-decimal source double (proven hash-identical by q01/q19 at sf0.01), or a
  * whole-second timestamp — the three forms whose string renderings agree
  * between Spark and DuckDB.
  *
  * Mapping:
  *   - laps from lineitem: session = l_orderkey % 20, meeting = session % 5,
  *     driver = l_suppkey, lap_number = row_number within (session, driver)
  *     ordered by (shipdate, orderkey, linenumber); lap_time = l_quantity.
  *   - realtime laps: every 4th session re-reported TWICE — a stale record
  *     (date −1 day, integer lap_time +900, exercising W1 latest-wins) and a
  *     fresh one (integer lap_time +100, exercising W2
  *     realtime-beats-historical).
  *   - positions from orders: same session/meeting scheme, driver =
  *     o_custkey % 100 + 1, tick time = o_orderdate; de-duplicated per
  *     (session, driver, ts) in the mapping so the pipeline's own dedup and
  *     as-of stages stay tie-free and deterministic (SURVEY §7.4.2).
  *   - realtime positions: every 4th session, position shifted by 1.
  */
object F1Synthetic {

  /** One-pass laps generator: hist / rt-fresh / rt-stale are three variants
    * of the SAME base row. Generating each as its own branch recomputes the
    * scan + lap-number window per branch (3× at sf0.1 — measured as the
    * single biggest cost in the end-to-end queries); instead, explode a
    * per-row variant-tag array so ONE scan + ONE window feeds all three.
    */
  private def lapsExplodedFrame(li: DataFrame): DataFrame = {
    // the harness lineitem has duplicate (l_orderkey, l_linenumber) keys
    // with DIFFERING values (118k at sf0.1) — the value columns extend the
    // ordering to a total one, or lap_number assignment (and every feature
    // derived from it) is an engine-dependent coin flip on the ties
    val lapW = Window.partitionBy(col("l_orderkey") % 20, col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_partkey"), col("l_returnflag"))

    // window FIRST, over raw columns only: the string-casting projection then
    // sits ABOVE the window exchange and runs on every core. Declared the
    // natural way (casts and row_number in one select), Catalyst fuses the
    // whole projection into the window's child — i.e. into the single-task
    // scan stage of the unsplittable one-row-group harness parquet (measured:
    // the generator alone was 2.1 s of q38's 4.3 s at sf0.1).
    val lapsBase = li.withColumn("__rn", row_number().over(lapW)).select(
      (col("l_orderkey") % 20 % 5).cast("string").as("meeting_key"),
      (col("l_orderkey") % 20).cast("string").as("session_key"),
      col("l_suppkey").cast("string").as("driver_number"),
      col("__rn").cast("string").as("lap_number"),
      col("l_shipdate").cast("timestamp").as("__ts"),
      floor(col("l_discount") * 100 + 0.5).cast("string").as("duration_sector_1"),
      floor(col("l_tax") * 100 + 0.5).cast("string").as("duration_sector_2"),
      floor(col("l_extendedprice") / 100 + 0.5).cast("string").as("duration_sector_3"),
      col("l_quantity").cast("string").as("lap_duration"),
      (col("l_partkey") % 300 + 100).cast("string").as("i1_speed"),
      (col("l_partkey") % 250 + 120).cast("string").as("i2_speed"),
      (col("l_partkey") % 200 + 150).cast("string").as("st_speed"),
      when(col("l_returnflag") === "R", "True").otherwise("False").as("is_pit_out_lap"),
      lit("2023").as("year"),
      lit("[2049]").as("segments_sector_1"),
      lit("[2049]").as("segments_sector_2"),
      lit("[2051]").as("segments_sector_3"),
      floor(col("l_quantity")).as("__qfloor"))

    val variantTags = when(col("session_key").cast("int") % 4 === 0,
      array(lit("h"), lit("f"), lit("s"))).otherwise(array(lit("h")))
    lapsBase
      .withColumn("__v", explode(variantTags))
      .withColumn("date_start",
        when(col("__v") === "s", (col("__ts") - expr("INTERVAL 1 DAY")).cast("string"))
          .otherwise(col("__ts").cast("string")))
      .withColumn("lap_duration",
        when(col("__v") === "f", (col("__qfloor") + 100).cast("string"))
          .when(col("__v") === "s", (col("__qfloor") + 900).cast("string"))
          .otherwise(col("lap_duration")))
      .drop("__ts", "__qfloor")
  }

  /** One-pass positions generator (hist + shifted realtime), same variant-tag
    * scheme as [[lapsExplodedFrame]].
    */
  private def posExplodedFrame(ord: DataFrame): DataFrame = {
    val posW = Window
      .partitionBy(col("o_orderkey") % 20, col("o_custkey") % 100 + 1, col("o_orderdate"))
      .orderBy(col("o_orderkey"))
    val posTags = when((col("o_orderkey") % 20) % 4 === 0,
      array(lit("h"), lit("r"))).otherwise(array(lit("h")))
    ord
      .withColumn("__rn", row_number().over(posW))
      .filter(col("__rn") === 1) // one tick per (session, driver, ts)
      .withColumn("__v", explode(posTags))
      .select(
        col("__v"),
        col("o_orderdate").cast("timestamp").cast("string").as("date"),
        (col("o_orderkey") % 20).cast("string").as("session_key"),
        (col("o_orderkey") % 20 % 5).cast("string").as("meeting_key"),
        (col("o_custkey") % 100 + 1).cast("string").as("driver_number"),
        when(col("__v") === "r", (col("o_orderkey") % 20 + 2).cast("string"))
          .otherwise((col("o_orderkey") % 20 + 1).cast("string")).as("position"),
        lit("2023").as("year"))
  }

  def raw(spark: SparkSession, dir: String): F1Pipeline.Raw = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val lapsExploded = lapsExplodedFrame(li)
    val posExploded = posExplodedFrame(ord)

    F1Pipeline.Raw(
      lapsExploded.filter(col("__v") === "h").drop("__v"),
      lapsExploded.filter(col("__v") =!= "h").drop("__v"),
      posExploded.filter(col("__v") === "h").drop("__v"),
      posExploded.filter(col("__v") === "r").drop("__v"),
      rcHist(ord), rcRt(ord))
  }

  /** Tagged-union raw shape ([[F1Pipeline.TaggedRaw]]): the same generated
    * rows as [[raw]], but one frame per endpoint with a boolean
    * `__is_realtime` tag instead of two filtered branches — the whole
    * generator (scan + lap-number window + explode) is then evaluated exactly
    * once per endpoint in the downstream plan.
    */
  def rawTagged(spark: SparkSession, dir: String): F1Pipeline.TaggedRaw = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    F1Pipeline.TaggedRaw(
      lapsExplodedFrame(li)
        .withColumn("__is_realtime", col("__v") =!= "h").drop("__v"),
      posExplodedFrame(ord)
        .withColumn("__is_realtime", col("__v") === "r").drop("__v"),
      rcExplodedFrame(ord))
  }

  /** Race-control raw rows from orders: unique message per order keeps the
    * (keys, ts, message) dedup tie-free; 'None'/'nan'/'' sentinels injected
    * deterministically to exercise the nullif + guarded-double staging
    * (stg_openf1_race_control_historical.sql:41-76) at data scale.
    */
  private def rcBase(ord: DataFrame): DataFrame =
    ord.select(
      (col("o_orderkey") % 20 % 5).cast("string").as("meeting_key"),
      (col("o_orderkey") % 20).cast("string").as("session_key"),
      col("o_orderdate").cast("timestamp").cast("string").as("date"),
      when(col("o_orderkey") % 3 === 0, "None")
        .otherwise((col("o_custkey") % 100 + 1).cast("string")).as("driver_number"),
      when(col("o_orderkey") % 5 === 0, "None")
        .otherwise((col("o_orderkey") % 60 + 1).cast("string")).as("lap_number"),
      when(col("o_orderkey") % 7 === 0, "None").otherwise("Flag").as("category"),
      when(col("o_orderstatus") === "O", "GREEN").when(col("o_orderstatus") === "F", "YELLOW")
        .otherwise("None").as("flag"),
      when(col("o_orderkey") % 2 === 0, "Track").otherwise("None").as("scope"),
      when(col("o_orderkey") % 4 === 0, "nan").when(col("o_orderkey") % 4 === 1, "None")
        .when(col("o_orderkey") % 4 === 2, "")
        .otherwise(floor(col("o_totalprice") / 1000).cast("string")).as("sector"),
      concat(lit("MSG "), col("o_orderkey").cast("string")).as("message"),
      lit("2023").as("year"))

  private def rcHist(ord: DataFrame): DataFrame = rcBase(ord)

  private def rcRt(ord: DataFrame): DataFrame =
    rcBase(ord).filter(col("session_key").cast("int") % 4 === 0)
      .withColumn("flag", lit("RED")) // same (keys, ts, message) → realtime wins
      // the realtime staging uses the reference's UNGUARDED cast
      // (stg_openf1_race_control_realtime.sql:28) — under ANSI, '' / 'nan'
      // would throw, so the realtime feed carries only the 'None' sentinel
      // (matching what the live API emits on that path)
      .withColumn("sector", lit("None"))

  /** One-pass tagged race-control generator: same rows as
    * [[rcHist]] ∪ [[rcRt]] with the realtime flag/sector overrides applied
    * row-level instead of in a second filtered branch.
    */
  private def rcExplodedFrame(ord: DataFrame): DataFrame = {
    val tags = when(col("session_key").cast("int") % 4 === 0,
      array(lit(false), lit(true))).otherwise(array(lit(false)))
    rcBase(ord)
      .withColumn("__is_realtime", explode(tags))
      .withColumn("flag", when(col("__is_realtime"), lit("RED")).otherwise(col("flag")))
      .withColumn("sector", when(col("__is_realtime"), lit("None")).otherwise(col("sector")))
  }

  /** Third mart end-to-end: `final_f1` (J2 — every lap row carries its
    * session-level aggregates), emitted oracle-safe. Runs the tagged scale
    * path: [[F1Marts.finalF1Windowed]] computes the per-driver aggregates as
    * unbounded windows on the partitioning the feature layer already has —
    * no self-join, no double evaluation of the upstream (which the join form
    * costs: measured ~2× q39's runtime at sf0.1, since Spark re-evaluates
    * everything above the last exchange per join side).
    */
  def finalF1(spark: SparkSession, dir: String): DataFrame =
    F1Pipeline.buildTagged(rawTagged(spark, dir)).finalF1.select(
      col("meeting_key"), col("session_key"), col("driver_number"), col("lap_number"),
      col("lap_time"), col("race_position"), col("performance_score_raw"),
      col("first_lap"), col("last_lap"), col("best_position"), col("worst_position"),
      col("best_lap_time"), col("avg_lap_time"), col("avg_psi"),
      col("avg_degradation"), col("avg_performance_score"), col("pit_stop_count"))

  /** Deduped race-control intermediate of the end-to-end pipeline
    * (`int_openf1_race_control_all`), emitted oracle-safe.
    */
  def raceControl(spark: SparkSession, dir: String): DataFrame =
    F1Intermediate.raceControlAllTagged(
      F1Staging.stgRaceControlTagged(rawTagged(spark, dir).raceControl)).select(
      col("meeting_key"), col("session_key"),
      expr("unix_micros(event_timestamp)").as("event_us"),
      col("driver_number"), col("lap_number"), col("category"), col("flag"),
      col("scope"), col("sector"), col("message"), col("is_realtime"))

  /** The whole reference DAG over the synthetic raw shape → per-driver
    * session summary (`fct_driver_race_summary`).
    */
  def summary(spark: SparkSession, dir: String): DataFrame =
    F1Pipeline.buildTagged(rawTagged(spark, dir)).fctDriverRaceSummary

  /** Per-lap mart (`fct_driver_laps`) with feature/label columns, emitted
    * oracle-safe (timestamps as epoch-µs).
    */
  /** KPI slice of the per-lap mart for the dashboard-parity query (q249):
    * the dashboards' pace-stability metric is avg(pace_stability_index)
    * where PSI is the ROLLING 5-LAP stddev (`int_driver_lap_features.sql:75`,
    * consumed as `avg_psi` in `fct_driver_race_summary.sql:23`), not a
    * whole-range stddev — this projection carries the PSI column so q249
    * can reproduce the reference metric exactly.
    */
  def lapsKpi(spark: SparkSession, dir: String): DataFrame =
    F1Pipeline.buildTagged(rawTagged(spark, dir)).fctDriverLaps.select(
      col("meeting_key"), col("driver_number"), col("lap_number"),
      col("lap_time"), col("degradation_index"), col("pace_stability_index"))

  def laps(spark: SparkSession, dir: String): DataFrame =
    F1Pipeline.buildTagged(rawTagged(spark, dir)).fctDriverLaps.select(
      col("meeting_key"), col("session_key"), col("driver_number"), col("lap_number"),
      expr("unix_micros(lap_start_time)").as("lap_start_us"),
      col("lap_time"), col("sector1_time"), col("sector2_time"), col("sector3_time"),
      col("is_pit_out_lap"), col("is_realtime"), col("race_position"),
      col("prev_lap_time"), col("next_lap_time"), col("rolling_avg_5_laps"),
      col("pace_momentum"), col("degradation_index"), col("position_momentum"),
      col("performance_score_raw"), col("pace_state"), col("track_position_state"))
}
