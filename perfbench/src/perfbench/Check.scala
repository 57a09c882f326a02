package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Output check: row count plus an order-insensitive content hash.
  *
  * Columns are taken in name order; each value is rendered canonically —
  * doubles rounded to 9 decimal places half-even from their exact binary
  * value (the rounding `tools/check_oracle.py` applies), null as a NUL
  * character, anything else as its string — and a row's hash is the
  * first 8 bytes of the SHA-256 of its rendering. The table hash is the sum
  * of the row hashes mod 2^64, so row order does not matter and duplicate
  * rows count. `perfbench/make_expected.py` implements the same rendering
  * over DuckDB results.
  */
object Check {
  final case class Digest(rows: Long, hash: String)
  final case class Expected(rows: Long, hash: String, source: String)

  def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
      else {
        val r = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
        if (r.signum == 0) "0.000000000" else r.toPlainString
      }
    case other => other.toString
  }

  def digest(df: DataFrame): Digest = {
    val names = df.columns.sorted
    digestRows(df.select(names.map(df.col).toIndexedSeq: _*).collect().toSeq)
  }

  /** Rows whose columns are already in name order. */
  def digestRows(rows: Seq[Row]): Digest = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val s = (0 until r.length).map(i => render(r.get(i))).mkString("\u0001")
      val h = md.digest(s.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Digest(rows.length, f"$sum%016x")
  }

  /** `None` when the digest matches the expected value, else the reason. */
  def compare(name: String, got: Digest, expected: Map[String, Expected]): Option[String] =
    expected.get(name) match {
      case None => Some(s"$name: no expected value")
      case Some(e) if e.rows == got.rows && e.hash == got.hash => None
      case Some(e) => Some(s"$name: got ${got.rows} rows ${got.hash}, " +
        s"expected ${e.rows} rows ${e.hash} (${e.source})")
    }

  def loadExpected(path: String): Map[String, Expected] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("outputs")
    root.fieldNames().asScala.map { k =>
      val n = root.get(k)
      k -> Expected(n.get("rows").asLong, n.get("hash").asText, n.get("source").asText)
    }.toMap
  }
}
