package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Morton (Z-order) interleaving for multi-dimensional data clustering —
  * the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`: sort by the
  * bit-interleaved key and a range query on EITHER dimension touches
  * O(√files) instead of all of them, because each file's min/max box covers
  * a compact 2-D tile rather than a full-width slab. Pairs with the
  * transaction log's manifest stats ([[graft.sources.TxLog.readRange]]) and
  * plain parquet footer pruning alike.
  *
  * Pure `shiftright`/`bitwiseAND`/`shiftleft` arithmetic — whole-stage
  * codegen'd, deterministic, and replayable verbatim in any ANSI-ish SQL
  * dialect ([[zValueSql]] emits the identical expression for the oracle).
  */
object ZOrder {

  /** Interleave the low `bits` bits of two non-negative integral columns:
    * bit b of `x` lands at position 2b, bit b of `y` at 2b+1. Inputs outside
    * `[0, 2^bits)` should be range-reduced (e.g. `% (1 << bits)`) first —
    * higher bits are simply ignored.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).map { b =>
      shiftleft(shiftright(xs, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(ys, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
  }

  /** The same interleave as a SQL expression string over `x`/`y` column
    * names — generated term-for-term so an external oracle (DuckDB) computes
    * bit-identical z-values.
    */
  def zValueSql(x: String, y: String, bits: Int): String = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")
  }

  /** N-dimensional Morton interleave (round-robin: bit b of column i lands
    * at position `b·n + i`). `n·bits` must stay ≤ 62 to fit a signed long.
    * [[zValue]] is the n=2 special case (same bit layout).
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"need ≥2 columns, got ${cols.size}")
    require(bits > 0 && cols.size * bits <= 62,
      s"${cols.size} cols × $bits bits exceeds a signed long")
    val n = cols.size
    (for (b <- 0 until bits; (c, i) <- cols.zipWithIndex) yield
      shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i))
      .reduce(_ + _)
  }
}
