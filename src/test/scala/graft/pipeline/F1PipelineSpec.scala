package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden tests of the F1 model DAG over the edge-row fixtures of
  * FIXTURES.md §A: NULL-key filtering, W1/W2 dedup winners (incl. the
  * NULLS-FIRST trap), the as-of join's boundary/no-match cases, hand-computed
  * features, and the reference's not_null constraint suite.
  */
class F1PipelineSpec extends SparkSpec {

  private val N: String = null

  // meeting 1, session 10: two drivers (44, 16); driver 44 has 3 laps,
  // lap 2 duplicated in realtime (realtime must win), realtime itself has a
  // stale duplicate (latest date_start must win) plus a NULL-date_start dup
  // for the NULLS FIRST trap on a separate lap.
  private def rawLapsHist = strDf(F1Schemas.laps, Seq(
    //           mk   sk    dn    lap  date_start                  s1       s2       s3       lap_dur  i1     i2     st     pit      year
    Seq("1", "10", "44", "1", "2023-11-26 13:00:00+00:00", "26.4", "30.1", "25.0", "81.5", "301", "280", "310", "True", "2023", "[2049]", "[2049]", "[2051]"),
    Seq("1", "10", "44", "2", "2023-11-26 13:01:30+00:00", "26.0", "29.9", "24.9", "80.8", "302", "281", "311", "False", "2023", "[2049]", "[2049]", "[2051]"),
    Seq("1", "10", "44", "3", "2023-11-26 13:03:00+00:00", "26.1", "30.0", "25.1", "81.2", "300", "279", "309", "False", "2023", "[2049]", "[2049]", "[2051]"),
    Seq("1", "10", "16", "1", "2023-11-26 13:00:05+00:00", "27.0", "30.5", "25.5", "83.0", "295", "275", "305", "True", "2023", "[2049]", "[2049]", "[2051]"),
    Seq("1", "10", "16", "2", "2023-11-26 13:01:40+00:00", "26.8", "30.3", "25.3", "82.4", "296", "276", "306", "False", "2023", "[2049]", "[2049]", "[2051]"),
    // NULL key rows must be filtered (P2)
    Seq(N, "10", "44", "9", "2023-11-26 14:00:00+00:00", "1", "1", "1", "99.0", "1", "1", "1", "False", "2023", N, N, N),
    Seq("1", "10", N, "9", "2023-11-26 14:00:00+00:00", "1", "1", "1", "99.0", "1", "1", "1", "False", "2023", N, N, N)))

  private def rawLapsRt = strDf(F1Schemas.laps, Seq(
    // lap 2 of driver 44 re-reported twice in realtime: latest date_start wins W1,
    // and then realtime beats historical in W2 (lap_time 80.0, not 80.8 / 79.0)
    Seq("1", "10", "44", "2", "2023-11-26 13:01:32+00:00", "26.0", "29.9", "24.8", "80.0", "302", "281", "311", "False", "2023", "[2049]", "[2049]", "[2051]"),
    Seq("1", "10", "44", "2", "2023-11-26 13:01:31+00:00", "26.0", "29.9", "24.8", "79.0", "302", "281", "311", "False", "2023", "[2049]", "[2049]", "[2051]"),
    // NULLS-FIRST trap: driver 16 lap 2 duplicated, one with NULL date_start —
    // Snowflake `order by date_start desc` puts NULLs FIRST, so the NULL row
    // (lap_time 70.0) must win over the dated one (lap_time 71.0)
    Seq("1", "10", "16", "2", N, "26.8", "30.3", "25.3", "70.0", "296", "276", "306", "False", "2023", "[2049]", "[2049]", "[2051]"),
    Seq("1", "10", "16", "2", "2023-11-26 13:01:41+00:00", "26.8", "30.3", "25.3", "71.0", "296", "276", "306", "False", "2023", "[2049]", "[2049]", "[2051]")))

  private def rawPosHist = strDf(F1Schemas.position, Seq(
    //   date                         sk    mk   dn    pos  year
    Seq("2023-11-26 12:59:00+00:00", "10", "1", "44", "3", "2023"),
    Seq("2023-11-26 13:00:50+00:00", "10", "1", "44", "2", "2023"),
    // tick exactly AT lap 3 start — boundary is <=, must be picked
    Seq("2023-11-26 13:03:00+00:00", "10", "1", "44", "1", "2023"),
    // driver 16 has NO tick before their first lap (13:00:05) → NULL position on lap 1
    Seq("2023-11-26 13:01:00+00:00", "10", "1", "16", "5", "2023")))

  private def rawPosRt = strDf(F1Schemas.position, Seq(
    // duplicate of the 13:00:50 hist tick with a different position — realtime wins
    Seq("2023-11-26 13:00:50+00:00", "10", "1", "44", "4", "2023")))

  private def rawRcHist = strDf(F1Schemas.raceControl, Seq(
    Seq("1", "10", "2023-11-26 13:00:00+00:00", "None", "None", "Flag", "GREEN", "Track", "nan", "GREEN LIGHT - PIT EXIT OPEN", "2023"),
    Seq("1", "10", "2023-11-26 13:02:00+00:00", "44", "2", "Flag", "YELLOW", "Sector", "7.0", "YELLOW IN SECTOR 7", "2023"),
    // NULL message must be filtered
    Seq("1", "10", "2023-11-26 13:02:30+00:00", "44", "2", "Flag", "RED", "Track", "", N, "2023")))

  private def rawRcRt = strDf(F1Schemas.raceControl, Seq(
    // same (keys, ts, message) as hist YELLOW row → dedup keeps realtime
    Seq("1", "10", "2023-11-26 13:02:00+00:00", "44", "2", "Flag", "YELLOW", "Sector", "None", "YELLOW IN SECTOR 7", "2023")))

  private def raw = F1Pipeline.Raw(rawLapsHist, rawLapsRt, rawPosHist, rawPosRt, rawRcHist, rawRcRt)

  private lazy val lapsAll = F1Intermediate.lapsAll(
    F1Staging.stgLapsHistorical(rawLapsHist), F1Staging.stgLapsRealtime(rawLapsRt))
  private lazy val positionAll = F1Intermediate.positionAll(
    F1Staging.stgPosition(rawPosHist, isRealtime = false),
    F1Staging.stgPosition(rawPosRt, isRealtime = true))
  private lazy val sdl = F1Intermediate.sessionDriverLaps(lapsAll, positionAll)
  private lazy val features = F1Intermediate.driverLapFeatures(sdl)

  test("staging filters NULL keys and types columns (P1/P2)") {
    val stg = F1Staging.stgLapsHistorical(rawLapsHist)
    assert(stg.count() == 5) // the two NULL-key rows dropped
    val r = stg.filter(col("driver_number") === 44 && col("lap_number") === 1).head()
    assert(r.getAs[Double]("lap_time") == 81.5)
    assert(r.getAs[Boolean]("is_pit_out_lap"))
    assert(r.getAs[Int]("season_year") == 2023)
  }

  test("realtime W1 keeps latest record; W2 realtime beats historical") {
    // driver 44 lap 2: realtime latest (date 13:01:32, lap_time 80.0) wins both stages
    val lap2 = lapsAll.filter(col("driver_number") === 44 && col("lap_number") === 2).collect()
    assert(lap2.length == 1)
    assert(lap2.head.getAs[Double]("lap_time") == 80.0)
    assert(lap2.head.getAs[Boolean]("is_realtime"))
  }

  test("W1 NULLS-FIRST: NULL date_start wins a DESC dedup (Snowflake default)") {
    val lap2of16 = lapsAll.filter(col("driver_number") === 16 && col("lap_number") === 2).collect()
    assert(lap2of16.length == 1)
    assert(lap2of16.head.getAs[Double]("lap_time") == 70.0)
  }

  test("as-of join picks latest tick <= lap start, boundary inclusive, no-match NULL (J1)") {
    val byLap = sdl.filter(col("driver_number") === 44)
      .select("lap_number", "race_position").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    // realtime tick at 13:00:50 (pos 4) replaced the hist one (pos 2)
    assert(byLap(1) == Some(3)) // only 12:59 tick precedes 13:00:00
    assert(byLap(2) == Some(4)) // 13:00:50 realtime tick
    assert(byLap(3) == Some(1)) // tick exactly at lap start included
    val d16lap1 = sdl.filter(col("driver_number") === 16 && col("lap_number") === 1).head()
    assert(d16lap1.isNullAt(d16lap1.fieldIndex("race_position"))) // no prior tick
  }

  test("as-of join: union-merge formulation is equivalent (scale path)") {
    assertSameRows(sdl, F1Intermediate.sessionDriverLapsOptimized(lapsAll, positionAll))
  }

  test("feature layer: partition-agg-via-join ≡ window formulation (scale path)") {
    assertSameRows(
      F1Intermediate.driverLapFeatures(sdl, partitionAggsViaJoin = true),
      F1Intermediate.driverLapFeatures(sdl, partitionAggsViaJoin = false))
  }

  test("feature layer: single-pass (dense_rank distinct-count) ≡ join formulation") {
    assertSameRows(
      F1Intermediate.driverLapFeaturesSinglePass(sdl),
      F1Intermediate.driverLapFeatures(sdl, partitionAggsViaJoin = true))
  }

  /** The reference-faithful composition — two-stage W1/W2 dedup, join+rank
    * as-of join, window partition aggregates, back-joined final mart — over
    * the two-frame fixtures: the oracle for every scale-path formulation.
    */
  private lazy val faithful = {
    val feats = F1Intermediate.driverLapFeatures(sdl, partitionAggsViaJoin = false)
    F1Pipeline.Marts(
      F1Marts.fctDriverLaps(feats),
      F1Marts.fctDriverRaceSummary(feats),
      F1Marts.finalF1(feats),
      F1Intermediate.raceControlAll(
        F1Staging.stgRaceControl(rawRcHist, isRealtime = false),
        F1Staging.stgRaceControl(rawRcRt, isRealtime = true)))
  }

  private def assertSameMarts(a: F1Pipeline.Marts, b: F1Pipeline.Marts): Unit = {
    assertSameRows(a.fctDriverRaceSummary, b.fctDriverRaceSummary)
    assertSameRows(a.fctDriverLaps, b.fctDriverLaps)
    assertSameRows(a.finalF1, b.finalF1)
    assertSameRows(a.raceControlAll, b.raceControlAll)
  }

  test("full pipeline: optimized ≡ faithful formulations end-to-end") {
    assertSameMarts(F1Pipeline.buildTagged(F1Pipeline.tagged(raw)), faithful)
  }

  test("tagged-union build ≡ two-frame build (fused W1+W2, windowed final mart)") {
    // the fixtures exercise exactly the cases the fusion must preserve: W1's
    // latest-raw-date pick, the NULLS-FIRST trap, W2 realtime-beats-historical;
    // the tagged frames are built as one log per endpoint, the way a unified
    // landing table arrives, and checked layer by layer
    def tag(df: DataFrame, rt: Boolean) =
      df.withColumn("__is_realtime", lit(rt))
    val taggedRaw = F1Pipeline.TaggedRaw(
      tag(rawLapsRt, rt = true).unionByName(tag(rawLapsHist, rt = false)),
      tag(rawPosRt, rt = true).unionByName(tag(rawPosHist, rt = false)),
      tag(rawRcRt, rt = true).unionByName(tag(rawRcHist, rt = false)))
    assertSameRows(
      F1Intermediate.lapsAllTagged(F1Staging.stgLapsTagged(taggedRaw.laps)), lapsAll)
    assertSameRows(
      F1Intermediate.positionAllTagged(F1Staging.stgPositionTagged(taggedRaw.positions)),
      positionAll)
    assertSameMarts(F1Pipeline.buildTagged(taggedRaw), faithful)
  }

  test("race-control staging + dedup: nullif/try-double, message filter, realtime wins") {
    val rc = F1Intermediate.raceControlAll(
      F1Staging.stgRaceControl(rawRcHist, isRealtime = false),
      F1Staging.stgRaceControl(rawRcRt, isRealtime = true))
    assert(rc.count() == 2) // NULL-message row dropped; YELLOW deduped
    val green = rc.filter(col("flag") === "GREEN").head()
    assert(green.isNullAt(green.fieldIndex("driver_number"))) // 'None' → NULL
    assert(green.isNullAt(green.fieldIndex("sector")))        // 'nan' → NULL
    val yellow = rc.filter(col("flag") === "YELLOW").head()
    assert(yellow.getAs[Boolean]("is_realtime"))              // realtime won
    assert(yellow.isNullAt(yellow.fieldIndex("sector")))      // rt 'None' → NULL
  }

  test("feature layer: hand-computed windows and score components (W4-W9, P6)") {
    val d44 = features.filter(col("driver_number") === 44)
      .orderBy("lap_number").collect()
    // lap times after dedup: 81.5, 80.0, 81.2
    assert(d44(0).isNullAt(d44(0).fieldIndex("prev_lap_time")))
    assert(d44(1).getAs[Double]("prev_lap_time") == 81.5)
    assert(d44(1).getAs[Double]("pace_momentum") == 81.5 - 80.0)
    assert(d44(2).isNullAt(d44(2).fieldIndex("next_lap_time"))) // last lap: no next
    assert(d44(0).getAs[Double]("next_lap_time") == 80.0)
    assert(d44(0).getAs[Double]("best_lap_time_driver") == 80.0)
    assert(d44(1).getAs[Double]("degradation_index") == 0.0)
    // session best is driver 16's NULL-winning 70.0 lap
    assert(d44(0).getAs[Double]("best_lap_time_session") == 70.0)
    assert(d44(0).getAs[Long]("driver_count_in_session") == 2L)
    // rolling avg over laps 1-2 of driver 44
    assert(math.abs(d44(1).getAs[Double]("rolling_avg_5_laps") - (81.5 + 80.0) / 2) < 1e-12)
    // 1-row frame → NULL stddev (W6)
    assert(d44(0).isNullAt(d44(0).fieldIndex("rolling_stddev_5_laps")))
    // performance score: lap1 of 44: pace 70/81.5*60 + position ((2-3)/1)*40 = -40
    val expected = 70.0 / 81.5 * 60 + (2.0 - 3.0) / 1.0 * 40
    assert(math.abs(d44(0).getAs[Double]("performance_score_raw") - expected) < 1e-9)
  }

  test("labels follow the reference CASE ladders (P5)") {
    val d44l2 = features.filter(col("driver_number") === 44 && col("lap_number") === 2).head()
    // pace_momentum = 1.5 > 0.3, degradation = 0 < 1.0 → ATTACKING_PACE
    assert(d44l2.getAs[String]("pace_state") == "ATTACKING_PACE")
    assert(d44l2.getAs[String]("pace_momentum_label") == "Strong Pace Gain")
    assert(d44l2.getAs[String]("tyre_state") == "Tyres Fresh")
    // position 2→4 = losing
    assert(d44l2.getAs[String]("track_position_state") == "LOSING_POSITIONS")
  }

  test("marts: summary aggregates and detail back-join (A1/A2/J2)") {
    val summary = F1Marts.fctDriverRaceSummary(features)
    val s44 = summary.filter(col("driver_number") === 44).head()
    assert(s44.getAs[Int]("first_lap") == 1 && s44.getAs[Int]("last_lap") == 3)
    assert(s44.getAs[Double]("best_lap_time") == 80.0)
    assert(s44.getAs[Int]("best_position") == 1 && s44.getAs[Int]("worst_position") == 4)
    assert(s44.getAs[Long]("pit_stop_count") == 1L)
    val fin = F1Marts.finalF1(features)
    val f44 = fin.filter(col("driver_number") === 44 && col("lap_number") === 1).head()
    assert(f44.getAs[Double]("best_lap_time") == 80.0) // summary landed on detail
    assert(fin.count() == features.count())
  }

  test("not_null constraint suite (the reference's dbt tests, schema.yml)") {
    val grain = Seq("meeting_key", "session_key", "driver_number", "lap_number")
    assertNoNulls(lapsAll, grain :+ "is_realtime")
    assertNoNulls(positionAll, Seq("meeting_key", "session_key", "driver_number", "event_timestamp", "race_position"))
    assertNoNulls(sdl, grain)
    assertNoNulls(features, grain)
    assertNoNulls(F1Marts.fctDriverRaceSummary(features),
      Seq("meeting_key", "session_key", "driver_number", "first_lap", "last_lap"))
  }

  test("full pipeline runs end-to-end and writes partitioned marts") {
    val out = java.nio.file.Files.createTempDirectory("f1marts").toString
    F1Pipeline.run(raw, out)
    val laps = spark.read.parquet(s"$out/fct_driver_laps")
    assert(laps.count() == 5)
    assertSameRows(laps, faithful.fctDriverLaps)
    assertSameRows(spark.read.parquet(s"$out/fct_driver_race_summary"),
      faithful.fctDriverRaceSummary)
    assertSameRows(spark.read.parquet(s"$out/final_f1"), faithful.finalF1)
  }

  test("run releases its feature checkpoint, also when a write fails") {
    // the session is shared across suites: check the RDDs this run registered
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val before = persisted
    val dir = java.nio.file.Files.createTempDirectory("f1marts")
    F1Pipeline.run(raw, dir.resolve("ok").toString)
    assert((persisted -- before).isEmpty)
    val file = java.nio.file.Files.createFile(dir.resolve("not-a-dir"))
    intercept[Exception](F1Pipeline.run(raw, file.resolve("marts").toString))
    assert((persisted -- before).isEmpty)
  }
}
