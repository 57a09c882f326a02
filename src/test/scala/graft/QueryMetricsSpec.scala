package graft

import org.apache.spark.sql.functions.col

/** `QueryMetrics` attributes each query's stages to that query, not to the
  * one after it, when a reader settles the bus around each run.
  */
class QueryMetricsSpec extends SparkSpec {

  test("back-to-back queries each get their own stages and jobs") {
    val m = new QueryMetrics
    spark.sparkContext.addSparkListener(m)
    try {
      def run(df: org.apache.spark.sql.DataFrame): QueryMetrics.Window = {
        m.settle()
        val from = m.position
        df.write.format("noop").mode("overwrite").save()
        m.settle()
        m.since(from)
      }
      m.settle()
      val base = m.snapshot
      val agg = run(spark.range(0, 20000, 1, 4)
        .groupBy(col("id") % 7).count())
      val scan = run(spark.range(0, 20000, 1, 4).toDF().filter(col("id") % 3 === 0))

      assert(scan.totals._1 == 0 && scan.totals._2 == 0, scan.totals)
      assert(scan.jobs.nonEmpty)
      assert(agg.jobs.nonEmpty && agg.totals._2 > 0, agg.totals)
      val total = m.snapshot
      assert(agg.totals._1 + scan.totals._1 == total._1 - base._1)
      assert(agg.totals._2 + scan.totals._2 == total._2 - base._2)
      assert(agg.totals._3 + scan.totals._3 == total._3 - base._3)
      assert(agg.totals._4 + scan.totals._4 == total._4 - base._4)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
