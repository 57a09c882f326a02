package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window helpers for the reference's window-function surface (SURVEY
  * §2.6, W4–W9, from its
  * `dbt/models/intermediate/int_driver_lap_features.sql:26-62`).
  * The lag/lead and rolling windows (W4–W6) are built inline by
  * [[graft.pipeline.F1Intermediate]]'s feature layer on one shared
  * (partition, order) spec, so Spark plans a single shuffle + sort for all
  * of them.
  *
  * Scale notes:
  *   - Unbounded partition-wide aggregates (W7–W9) are cheaper as a
  *     `groupBy().agg()` + broadcast back-join than as window functions — one
  *     partial-aggregated shuffle instead of a full sort of every row
  *     (SURVEY §7.4.4). [[withPartitionAggs]] is that formulation;
  *     [[countDistinctOver]] is the faithful window one (Spark has no DISTINCT
  *     window aggregates, so it composes `size(collect_set)`).
  */
object WindowFeatures {

  def orderedWindow(partition: Seq[String], order: Seq[Column]): WindowSpec =
    Window.partitionBy(partition.map(col): _*).orderBy(order: _*)

  /** W9 faithful form: exact windowed count-distinct via `size(collect_set)`
    * (Snowflake `count(distinct …) over` has no direct Spark equivalent).
    */
  def countDistinctOver(df: DataFrame, partition: Seq[String], src: String, outName: String): DataFrame = {
    val w = Window.partitionBy(partition.map(col): _*)
    df.withColumn(outName, size(collect_set(col(src)).over(w)).cast("long"))
  }

  /** W7–W9 scale path: partition-wide aggregates computed once per key and
    * joined back — identical result, partial-agg shuffle instead of a sort.
    */
  def withPartitionAggs(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.join(df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*), keys)

  /** Trailing n-row rolling Pearson correlation of two INTEGER series per
    * key (the co-movement feature: lap time vs position change, price vs
    * quantity). All five running sums (Σx, Σy, Σx², Σy², Σxy) come from the
    * SAME sort-based window pass — one shuffle, one sort, five accumulators
    * — and stay exact 64-bit integers, so the final
    * (nΣxy−ΣxΣy)/(√(nΣx²−Σx²)·√(nΣy²−Σy²)) is ONE deterministic double
    * expression over exact integers: bit-identical in any engine, unlike a
    * native `corr()` window whose internal accumulation order is
    * implementation-defined. Degenerate frames (constant series, n=1)
    * yield NULL. Inputs must fit the overflow bound n·max|x|·max|y| < 2⁶³.
    */
  def rollingCorr(df: DataFrame, w: WindowSpec, xCol: String, yCol: String,
                  n: Int, outName: String): DataFrame = {
    val frame = w.rowsBetween(-(n - 1), Window.currentRow)
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val cnt = count(lit(1)).over(frame)
    val sx = sum(x).over(frame); val sy = sum(y).over(frame)
    val sxx = sum(x * x).over(frame); val syy = sum(y * y).over(frame)
    val sxy = sum(x * y).over(frame)
    val num = (cnt * sxy - sx * sy).cast("double")
    val den = sqrt((cnt * sxx - sx * sx).cast("double")) *
      sqrt((cnt * syy - sy * sy).cast("double"))
    df.withColumn(outName, when(den === 0.0, lit(null).cast("double"))
      .otherwise(num / den))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE integer `seqCol` values
    * per partition (activity streaks, contiguous id ranges, unbroken daily
    * coverage). The classic constant-difference trick: over the DISTINCT
    * (partition, seq) pairs, `seq − row_number()` is constant exactly
    * within a consecutive run, so one window pass + one aggregate finds
    * every island — no self-join, no iteration. Returns one row per island:
    * (partitionCols..., island_start, island_end, island_len).
    *
    * Scale shape: dedup + window + aggregate all share the partition-key
    * shuffle; islands are outputs, never intermediate blowups.
    */
  def islands(df: DataFrame, partitionCols: Seq[String], seqCol: String): DataFrame = {
    val d = df.select((partitionCols :+ seqCol).map(col): _*).distinct()
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(seqCol))
    d.withColumn("__grp", col(seqCol) - row_number().over(w))
      .groupBy((partitionCols :+ "__grp").map(col): _*)
      .agg(min(col(seqCol)).as("island_start"),
        max(col(seqCol)).as("island_end"),
        count(lit(1)).as("island_len"))
      .select(partitionCols.map(col) ++
        Seq(col("island_start"), col("island_end"), col("island_len")): _*)
  }
}
