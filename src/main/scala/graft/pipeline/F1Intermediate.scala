package graft.pipeline

import graft.operators.{AsOfJoin, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Intermediate models: historical∪realtime unions with realtime-beats-
  * historical dedup, the as-of join of laps to position ticks, and the
  * window-function feature layer
  * (`/root/reference/dbt/models/intermediate *.sql`).
  */
object F1Intermediate {

  /** `int_openf1_laps_all.sql:3-87`: UNION ALL then keep one row per lap,
    * realtime first, then latest `lap_start_time` (DESC NULLS FIRST — the
    * Snowflake default this engine must replicate, SURVEY §2.6).
    */
  def lapsAll(hist: DataFrame, rt: DataFrame): DataFrame =
    Dedup.latestPerKey(hist.unionByName(rt),
      Seq("meeting_key", "session_key", "driver_number", "lap_number"),
      Seq(col("is_realtime").desc_nulls_first, col("lap_start_time").desc_nulls_first))

  /** Fused W1+W2 over the tagged union ([[F1Staging.stgLapsTagged]]): the
    * realtime pre-dedup (W1, raw `date_start` string DESC NULLS FIRST) and
    * the union dedup (W2, realtime-beats-historical then `lap_start_time`
    * DESC NULLS FIRST) collapse into ONE window pass ordered by
    * `(is_realtime, rt-only raw date_start, lap_start_time)` — all DESC NULLS
    * FIRST:
    *   - realtime rows sort before every historical row (W2's first key);
    *   - among realtime rows, the raw-string key replays W1's pick exactly
    *     (historical rows carry NULL there and never interleave — the
    *     is_realtime key already separated the sides);
    *   - among historical rows, `lap_start_time` replays W2's tie-break.
    * Equivalent to W1∘W2 whenever W1 is deterministic (after W1 exactly one
    * realtime row per key remains, so W2's ordering among realtime rows is
    * vacuous); proven row-equal to the two-stage path in F1PipelineSpec.
    * One assumption the two-stage path doesn't make: key strings must be
    * canonical (W1 groups raw strings, the fused pass groups typed keys) —
    * true of the reference's API feeds and the synthetic mapping.
    */
  def lapsAllTagged(stgTagged: DataFrame): DataFrame =
    Dedup.latestPerKey(stgTagged,
      Seq("meeting_key", "session_key", "driver_number", "lap_number"),
      Seq(col("is_realtime").desc_nulls_first,
        when(col("is_realtime"), col("__raw_date_start")).desc_nulls_first,
        col("lap_start_time").desc_nulls_first))
      .drop("__raw_date_start")

  /** `int_openf1_position_all.sql:3-50`: dedup keyed INCLUDING the timestamp. */
  def positionAll(hist: DataFrame, rt: DataFrame): DataFrame =
    Dedup.latestPerKey(hist.unionByName(rt),
      Seq("meeting_key", "session_key", "driver_number", "event_timestamp"),
      Seq(col("is_realtime").desc_nulls_first))

  /** `int_openf1_race_control_all.sql:3-59`: dedup keyed on (keys, ts, message). */
  def raceControlAll(hist: DataFrame, rt: DataFrame): DataFrame =
    Dedup.latestPerKey(hist.unionByName(rt),
      Seq("meeting_key", "session_key", "event_timestamp", "message"),
      Seq(col("is_realtime").desc_nulls_first))

  /** Tagged-union twin of [[positionAll]] (no realtime pre-dedup exists for
    * positions, so this is the same single dedup over one frame).
    */
  def positionAllTagged(stgTagged: DataFrame): DataFrame =
    Dedup.latestPerKey(stgTagged,
      Seq("meeting_key", "session_key", "driver_number", "event_timestamp"),
      Seq(col("is_realtime").desc_nulls_first))

  /** Tagged-union twin of [[raceControlAll]]. */
  def raceControlAllTagged(stgTagged: DataFrame): DataFrame =
    Dedup.latestPerKey(stgTagged,
      Seq("meeting_key", "session_key", "event_timestamp", "message"),
      Seq(col("is_realtime").desc_nulls_first))

  private val lapCols = Seq(
    "meeting_key", "session_key", "driver_number", "lap_number", "lap_start_time",
    "lap_time", "sector1_time", "sector2_time", "sector3_time",
    "i1_speed_kph", "i2_speed_kph", "st_speed_kph", "is_pit_out_lap",
    "season_year", "is_realtime")

  /** J1/W3 — `int_session_driver_laps.sql:41-100`: laps LEFT JOIN positions on
    * the 3 grain keys + `event_timestamp <= lap_start_time`, keep the latest
    * tick per lap. Reference-faithful join+rank formulation; ties cannot occur
    * because [[positionAll]] dedups on (keys, timestamp).
    */
  def sessionDriverLaps(laps: DataFrame, positions: DataFrame): DataFrame = {
    val pos = positions.select(
      col("meeting_key").as("p_meeting_key"), col("session_key").as("p_session_key"),
      col("driver_number").as("p_driver_number"),
      col("event_timestamp"), col("race_position"))
    AsOfJoin.joinFormulation(laps.select(lapCols.map(col): _*), pos,
      on = Seq("meeting_key" -> "p_meeting_key", "session_key" -> "p_session_key",
        "driver_number" -> "p_driver_number"),
      leftTs = "lap_start_time", rightTs = "event_timestamp",
      leftRowKey = Seq("meeting_key", "session_key", "driver_number", "lap_number"),
      rightTieBreak = Nil,
      leftSelect = lapCols.map(c => c -> c),
      rightSelect = Seq("race_position" -> "race_position",
        "event_timestamp" -> "position_timestamp"))
  }

  /** Scale-path twin of [[sessionDriverLaps]] (SURVEY §7.4.3): the union-merge
    * formulation — one sort, no join blow-up. Equivalence is spec-tested.
    */
  def sessionDriverLapsOptimized(laps: DataFrame, positions: DataFrame): DataFrame = {
    val pos = positions.select(
      col("meeting_key").as("p_meeting_key"), col("session_key").as("p_session_key"),
      col("driver_number").as("p_driver_number"),
      col("event_timestamp"), col("race_position"))
    AsOfJoin.unionMergeFormulation(laps.select(lapCols.map(col): _*), pos,
      on = Seq("meeting_key" -> "p_meeting_key", "session_key" -> "p_session_key",
        "driver_number" -> "p_driver_number"),
      leftTs = "lap_start_time", rightTs = "event_timestamp",
      rightTieBreak = Nil,
      leftSelect = lapCols.map(c => c -> c),
      rightSelect = Seq("race_position" -> "race_position",
        "event_timestamp" -> "position_timestamp"))
  }

  /** W4–W9 + P5/P6 — `int_driver_lap_features.sql` in full: lap-to-lap
    * windows, rolling stability, bests, the performance score, and the seven
    * CASE-ladder labels. One ordered window spec is shared by every ordered
    * function (single shuffle+sort); the session-wide aggregates are one
    * grouped aggregate joined back.
    */
  def driverLapFeatures(sdl: DataFrame): DataFrame = {
    val orderedFeats = withOrderedFeatures(sdl)
    // W8/W9: the session-wide aggregates computed once per key and joined
    // back (partial-agg shuffle instead of a full sort of every row — SURVEY
    // §7.4.4); the aggregate reads orderedFeats (not sdl) so the as-of stage
    // below feeds exactly ONE consumer and its shuffle is reused. The
    // reference's window formulation lives in F1PipelineSpec, proven
    // row-equal.
    val sess = orderedFeats.groupBy("meeting_key", "session_key")
      .agg(min("lap_time").as("best_lap_time_session"),
        countDistinct("driver_number").as("driver_count_in_session"))
    finishFeatures(orderedFeats.join(sess, Seq("meeting_key", "session_key")))
  }

  /** Single-pass twin of [[driverLapFeatures]]: the session-wide aggregates
    * (W8/W9) as unbounded windows computed BELOW the per-driver ordered
    * windows, with the windowed count-distinct as
    * `max(dense_rank() ORDER BY driver_number)` — O(1) window state (no
    * `collect_set` buffer), exact, and legal because `driver_number` is a
    * NOT-NULL grain key (P2). Plan shape: ONE exchange on
    * `(meeting_key, session_key)` — the per-driver windows above need only
    * ClusteredDistribution(meeting, session, driver), which a hash
    * partitioning on the key SUBSET already satisfies — plus two in-partition
    * sorts, and NO join: unlike the join-back form, the as-of/dedup upstream
    * feeds exactly one consumer, so nothing is evaluated twice (the join form
    * re-runs the whole generator+dedup subtree for the aggregate side —
    * exchange reuse can't kick in because column pruning differentiates the
    * two subtrees).
    *
    * Trade-off vs the join form at 100 TB: partition granularity is the
    * SESSION, so parallelism is bounded by the session count and the largest
    * session must fit a partition. Right choice when sessions are numerous
    * and bounded (the reference's domain: ~20 drivers × ~80 laps each);
    * for few-giant-partition-key regimes use [[driverLapFeatures]], whose
    * aggregate shuffles only partial rows. Row-equal to it and to the
    * reference's window formulation (F1PipelineSpec).
    */
  def driverLapFeaturesSinglePass(sdl: DataFrame): DataFrame = {
    val bySession = Window.partitionBy("meeting_key", "session_key")
    val sessionFeats = sdl
      .withColumn("__didx",
        dense_rank().over(bySession.orderBy(col("driver_number"))))
      .withColumn("driver_count_in_session",
        max(col("__didx")).over(bySession).cast("long"))
      .withColumn("best_lap_time_session", min(col("lap_time")).over(bySession))
      .drop("__didx")
    finishFeatures(withOrderedFeatures(sessionFeats))
  }

  /** W4–W7 + the per-driver ordered lag/lead/rolling features — every ordered
    * function shares ONE window spec (single shuffle+sort). W7 (driver-best)
    * piggybacks on the ordered window's existing hash-partition + sort: an
    * unbounded min over the SAME partition keys adds zero exchanges and zero
    * sorts — strictly cheaper than both the join-back (which re-consumes sdl)
    * and a separate window. `position_momentum`'s lag lives here too, so no
    * consumer re-sorts the frame for one more ordered function downstream.
    */
  private[pipeline] def withOrderedFeatures(sdl: DataFrame): DataFrame = {
    val byDriver = Window.partitionBy("meeting_key", "session_key", "driver_number")
    val ordered = byDriver.orderBy(col("lap_number"))
    val rolling5 = ordered.rowsBetween(-4, Window.currentRow)
    sdl
      .withColumn("prev_lap_time", lag(col("lap_time"), 1).over(ordered))
      .withColumn("next_lap_time", lead(col("lap_time"), 1).over(ordered))
      .withColumn("rolling_avg_5_laps", avg(col("lap_time")).over(rolling5))
      .withColumn("rolling_stddev_5_laps", stddev_samp(col("lap_time")).over(rolling5))
      .withColumn("best_lap_time_driver", min(col("lap_time")).over(byDriver))
      .withColumn("position_momentum",
        lag(col("race_position"), 1).over(ordered) - col("race_position"))
  }

  /** P5/P6 — the derived features, the performance score, and the seven
    * CASE-ladder labels (pure projections over the window/aggregate columns).
    */
  private[pipeline] def finishFeatures(base: DataFrame): DataFrame = {
    val features = base
      .withColumn("pace_momentum", col("prev_lap_time") - col("lap_time"))
      .withColumn("pace_stability_index", col("rolling_stddev_5_laps"))
      .withColumn("degradation_index", col("lap_time") - col("best_lap_time_driver"))
      .withColumn("performance_score_raw",
        coalesce(col("best_lap_time_session") /
          when(col("lap_time") === 0, lit(null)).otherwise(col("lap_time")), lit(0.0)) * 60 +
          when(col("race_position").isNotNull && col("driver_count_in_session") > 1,
            (col("driver_count_in_session") - col("race_position")).cast("double") /
              (col("driver_count_in_session") - 1) * 40)
            .otherwise(lit(0.0)))

    features
      .withColumn("pace_state",
        when(col("pace_momentum") > 0.3 && col("degradation_index") < 1.0, "ATTACKING_PACE")
          .when(col("degradation_index") > 2.5, "HIGH_TYRE_DEGRADATION")
          .when(col("pace_stability_index") < 0.15, "HIGHLY_CONSISTENT_PACE")
          .otherwise("BASELINE_RACE_PACE"))
      .withColumn("track_position_state",
        when(col("position_momentum") > 0, "GAINING_POSITIONS")
          .when(col("position_momentum") < 0, "LOSING_POSITIONS")
          .otherwise("HOLDING_POSITION"))
      .withColumn("pace_momentum_label",
        when(col("pace_momentum") > 0.25, "Strong Pace Gain")
          .when(col("pace_momentum") > 0.05, "Pace Improving")
          .when(col("pace_momentum") > -0.05, "Pace Stable")
          .when(col("pace_momentum") > -0.25, "Pace Dropping")
          .otherwise("Significant Pace Loss"))
      .withColumn("tyre_state",
        when(col("degradation_index") < 1.0, "Tyres Fresh")
          .when(col("degradation_index") < 2.5, "Low Degradation")
          .when(col("degradation_index") < 4.0, "Moderate Degradation")
          .otherwise("Severe Degradation"))
      .withColumn("consistency_label",
        when(col("pace_stability_index") < 0.10, "Very Consistent")
          .when(col("pace_stability_index") < 0.25, "Consistent")
          .otherwise("Variable Pace"))
      .withColumn("position_trend_label",
        when(col("position_momentum") > 0, "Gaining Positions")
          .when(col("position_momentum") < 0, "Losing Positions")
          .otherwise("Holding Position"))
      .withColumn("performance_rating",
        when(col("performance_score_raw") >= 80, "Excellent")
          .when(col("performance_score_raw") >= 60, "Good")
          .when(col("performance_score_raw") >= 40, "Average")
          .otherwise("Poor"))
  }
}
