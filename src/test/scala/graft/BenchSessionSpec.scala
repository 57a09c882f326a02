package graft

import graft.operators.Triangles
import org.apache.spark.sql.execution.LogicalRDD

/** `BenchSession.release` is the one call a session owner makes between
  * queries: `clearCache()` alone leaves the checkpoint blocks a
  * self-cleaning operator returns its result in.
  */
class BenchSessionSpec extends SparkSpec {

  test("release drops the checkpoints clearCache leaves behind") {
    import spark.implicits._
    // the session is shared across suites: check the RDDs this run registered
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val before = persisted
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "d")
    val out = Triangles.triangleCount(edges, "s", "d")
    assert(out.collect().head.getLong(2) == 1)
    val result = out.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case other => fail(s"triangleCount is not a checkpoint: $other")
    }
    spark.catalog.clearCache()
    assert(persisted.contains(result))
    BenchSession.release(spark)
    assert((persisted -- before).isEmpty)
  }
}
