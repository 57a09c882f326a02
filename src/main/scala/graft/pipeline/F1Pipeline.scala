package graft.pipeline

import graft.operators.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** The whole reference dbt DAG (SURVEY §3.2) as one Spark lineage: staging
  * and intermediate models stay unmaterialized views (dbt
  * `materialized='view'` ≙ DataFrame lineage) and the marts are the
  * materialization points.
  *
  * [[run]] is the runner that writes the marts. Three marts consume the
  * feature layer, so `run` materializes it ONCE with an eager checkpoint
  * ([[graft.operators.Checkpoints.state]]) and writes all three from that
  * snapshot — where dbt builds its mart tables over one set of shared
  * upstream views. Without it
  * Spark re-evaluates the whole upstream (generator, dedup, as-of join,
  * feature windows) per mart write. The checkpoint holds the rows of one
  * evaluation with the lineage cut, so all three marts come from the same
  * snapshot of the sources: a lost block fails the run instead of re-reading
  * sources that may have changed since. The columnar cache (`persist`)
  * measured 2–3× slower than recomputing over the former two-frame DAG;
  * over this DAG it is slower than the checkpoint at sf0.001, as fast at
  * sf0.1, and keeps the lineage. The checkpoint keeps the
  * `(meeting_key, session_key, driver_number)` partitioning of the as-of
  * exchange (see `Checkpoints`), so the summary mart aggregates without a
  * partial-aggregate exchange; a bare `localCheckpoint` under AQE declares
  * no partitioning and paid that exchange. Measured on 4 cores with a 2 GB
  * heap in the benchmark's session shape, median of warm reps (the two
  * checkpoint rows: two runs of 4 warm reps each per side, both medians):
  *
  * | scale   | three-mart write                        | wall          | jobs | shuffle  | CPU           |
  * |---------|-----------------------------------------|---------------|------|----------|---------------|
  * | sf0.001 | two-frame DAG, evaluated per mart       | 8.0 s         | 45   | 3.69 MB  | 4.9 s         |
  * | sf0.001 | tagged DAG, evaluated per mart          | 6.8 s         |      |          |               |
  * | sf0.001 | tagged DAG, columnar cache              | 4.9 s         |      |          |               |
  * | sf0.001 | tagged DAG, bare `localCheckpoint`      | 4.8 / 4.2 s   | 14   | 1.611 MB | 2.4 / 2.3 s   |
  * | sf0.001 | tagged DAG, `Checkpoints.state` (`run`) | 4.2 / 4.3 s   | 13   | 1.599 MB | 2.1 / 2.2 s   |
  * | sf0.1   | two-frame DAG, evaluated per mart       | 45.8 s        | 45   | 363.6 MB | 116 s         |
  * | sf0.1   | tagged DAG, evaluated per mart          | 27.9 s        |      |          |               |
  * | sf0.1   | tagged DAG, columnar cache              | 16.7 s        |      |          |               |
  * | sf0.1   | tagged DAG, bare `localCheckpoint`      | 17.1 / 14.8 s | 14   | 159.5 MB | 35.8 / 33.0 s |
  * | sf0.1   | tagged DAG, `Checkpoints.state` (`run`) | 15.1 / 14.0 s | 13   | 158.6 MB | 33.1 / 31.0 s |
  *
  * At scale the mart writes go out partitioned by
  * (`season_year`, `meeting_key`) — the dashboard's filter surface — giving
  * partition pruning the reference never had (its tables are flat,
  * `dags/open_f1_historical.py:112-113`).
  */
object F1Pipeline {

  /** All raw inputs, all-string, per [[F1Schemas]]. */
  case class Raw(
      lapsHistorical: DataFrame, lapsRealtime: DataFrame,
      positionHistorical: DataFrame, positionRealtime: DataFrame,
      raceControlHistorical: DataFrame, raceControlRealtime: DataFrame)

  /** Tagged-union raw inputs: per endpoint ONE frame carrying both the
    * historical and realtime feeds, distinguished by a boolean
    * `__is_realtime` column. This is the scale-friendly ingest shape (one
    * unified log per endpoint): when the two feeds share an upstream — a
    * single staged landing table, or the synthetic generator here — the
    * two-frame [[Raw]] forces `union(filter(hist), filter(rt))` over it, and
    * Spark evaluates everything above the shared exchange once PER BRANCH.
    * The tagged shape keeps one linear lineage per endpoint.
    */
  case class TaggedRaw(laps: DataFrame, positions: DataFrame, raceControl: DataFrame)

  case class Marts(
      fctDriverLaps: DataFrame,
      fctDriverRaceSummary: DataFrame,
      finalF1: DataFrame)

  /** The two-frame raw shape as one tagged frame per endpoint. */
  def tagged(raw: Raw): TaggedRaw = {
    def tag(hist: DataFrame, rt: DataFrame): DataFrame =
      hist.withColumn("__is_realtime", lit(false))
        .unionByName(rt.withColumn("__is_realtime", lit(true)))
    TaggedRaw(
      tag(raw.lapsHistorical, raw.lapsRealtime),
      tag(raw.positionHistorical, raw.positionRealtime),
      tag(raw.raceControlHistorical, raw.raceControlRealtime))
  }

  /** Staging → intermediate → feature layer: fused staging+dedup (one window
    * pass per endpoint — [[F1Intermediate.lapsAllTagged]]), the union-merge
    * as-of join and the single-pass feature windows.
    */
  private def features(raw: TaggedRaw): DataFrame = {
    val lapsAll = F1Intermediate.lapsAllTagged(F1Staging.stgLapsTagged(raw.laps))
    val positionAll = F1Intermediate.positionAllTagged(F1Staging.stgPositionTagged(raw.positions))
    F1Intermediate.driverLapFeaturesSinglePass(
      F1Intermediate.sessionDriverLapsOptimized(lapsAll, positionAll))
  }

  /** The full model DAG, lazily. Every stage preserves the
    * `(meeting_key, session_key, driver_number)` hash-partitioning
    * established by the as-of exchange, so the feature windows and the
    * summary aggregation add sorts but NO further exchanges; the windowed
    * final mart ([[F1Marts.finalF1Windowed]]) re-partitions to the driver
    * grain once. Row-equal to the reference-faithful composition (two-stage
    * W1/W2 dedup, join+rank as-of join, window partition aggregates,
    * back-joined final mart — F1PipelineSpec).
    */
  def buildTagged(raw: TaggedRaw): Marts = {
    val feats = features(raw)
    Marts(
      F1Marts.fctDriverLaps(feats),
      F1Marts.fctDriverRaceSummary(feats),
      F1Marts.finalF1Windowed(feats))
  }

  /** Materialize the three marts as Parquet under `outDir`, partitioned by
    * the session-scoped filter keys, from one checkpoint of the feature
    * layer (see the object doc). The checkpoint is released before `run`
    * returns, also when a write fails.
    *
    * Precondition, inherited from the fused W1 dedup
    * ([[F1Intermediate.lapsAllTagged]]): key strings are canonical (W1
    * groups raw strings, the fused pass groups typed keys) and `date_start`
    * is ISO-8601, so the raw-string order is the timestamp order.
    */
  def run(raw: Raw, outDir: String): Unit = {
    val feats = Checkpoints.state(features(tagged(raw))).df
    def write(df: DataFrame, name: String, partitionCols: String*): Unit =
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(s"$outDir/$name")
    try {
      write(F1Marts.fctDriverLaps(feats), "fct_driver_laps", "season_year", "meeting_key")
      // summary has no season_year column — partition by meeting_key only
      write(F1Marts.fctDriverRaceSummary(feats), "fct_driver_race_summary", "meeting_key")
      write(F1Marts.finalF1Windowed(feats), "final_f1", "season_year", "meeting_key")
    } finally Checkpoints.release(feats)
  }
}
