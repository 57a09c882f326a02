package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Unpersist the RDDs registered since `before` (a
    * `getPersistentRDDs` key set): what one build left behind in this
    * shared session, checkpoint blocks included.
    */
  def releaseSince(before: collection.Set[Int]): Unit =
    (spark.sparkContext.getPersistentRDDs -- before).values
      .foreach(_.unpersist(blocking = false))

  def strDf(schema: StructType, rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_: _*)), 2), schema)

  def rowsOf(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet

  /** The reference's entire test surface is dbt `not_null` checks
    * (SURVEY §5) — same assertion, engine-side.
    */
  def assertNoNulls(df: DataFrame, cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    cols.foreach { c =>
      val n = df.filter(col(c).isNull).count()
      assert(n == 0, s"column $c has $n NULLs")
    }
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val ca = a.columns.sorted.toSeq
    val cb = b.columns.sorted.toSeq
    assert(ca == cb, s"columns differ: $ca vs $cb")
    val ra = a.select(ca.head, ca.tail: _*).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val rb = b.select(ca.head, ca.tail: _*).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(ra.length == rb.length, s"row counts differ: ${ra.length} vs ${rb.length}")
    ra.zip(rb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs: $x vs $y")
    }
  }
}
