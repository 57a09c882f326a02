package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every main runs on (`Bench`, `Verify`,
  * `tools.Probe`, `tools.ScaleStress`), so a profile or a plan dump always
  * shows the plan `Bench` times.
  */
object BenchSession {

  /** Cores of the local master and the shuffle width: `SPARK_GRAFT_CPUS`,
    * else the machine's core count.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** AQE coalescing optimizes for shuffle BYTES; the F1 window stages are
    * CPU-bound per row (~25 µs/row of window+cast work over a ~16 MB
    * shuffle), so the default 1 MB floor coalesced 32 partitions to 16 and
    * halved the hot stage's parallelism (q39 stage wall 1.59 s → 0.74 s at
    * 128k, round-11 root-cause). Local-scale tuning only: at cluster scale
    * real partitions dwarf any floor and this is a no-op.
    */
  private val MinPartitionSize = "128k"

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Scans every harness table once, so footer reads and first-job session
    * costs do not land on whichever query is timed first. A table the data
    * dir lacks is skipped.
    */
  def warm(spark: SparkSession, dir: String): Unit =
    Seq("lineitem", "orders", "customer", "part", "supplier",
        "documents", "embeddings", "events").foreach { t =>
      try graft.sources.Tables.load(spark, dir, t).count(): Unit
      catch { case _: Throwable => () }
    }

  /** Drops everything the session holds between independent queries: the
    * SQL cache AND every persistent RDD. `clearCache` alone drops only
    * SQL-cached relations; `localCheckpoint` and explicit `persist()`
    * blocks live in the block manager and otherwise accumulate for the life
    * of the JVM (ContextCleaner reclaims them only after the owning Dataset
    * is GC'd — too late for a 280-query suite, and the observed mechanism
    * behind ambient 4x ghosts on the iterative-graph family: q41 r5, q181
    * r6). Fixtures memoize PATHS, not frames, so this is safe between
    * queries.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
