package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("state: exact row count, size = rows × row width, observed aggregates") {
    // (bigint, string): 8 B row overhead + 8 + 20 per the planner's width
    val df = spark.range(0, 1000, 1, 4)
      .filter(col("id") % 3 === 0)
      .select(col("id"), concat(lit("k"), col("id").cast("string")).as("k"))
    val st = Checkpoints.state(df, max(col("id")).as("mx"),
      sum(col("id")).as("s"))
    try {
      assert(st.rows == 334L)
      assert(st.observed.getLong(0) == 999L && st.observed.getLong(1) == 166833L)
      val stats = st.df.queryExecution.optimizedPlan.stats
      val width = EstimationUtils.getSizePerRow(st.df.queryExecution.analyzed.output)
      assert(width == BigInt(36))
      assert(stats.rowCount.contains(BigInt(334)))
      assert(stats.sizeInBytes == width * 334)
      assert(st.df.count() == 334L)
    } finally Checkpoints.release(st.df)
  }

  test("state: an empty frame observes zero rows and NULL aggregates") {
    val st = Checkpoints.state(spark.range(10).toDF().filter(col("id") < 0),
      max(col("id")).as("mx"))
    try {
      assert(st.rows == 0L && st.observed.isNullAt(0))
      assert(st.df.queryExecution.optimizedPlan.stats.sizeInBytes == 0)
    } finally Checkpoints.release(st.df)
  }

  test("sized: ⌈rows/64k⌉ partitions, never more than the frame has") {
    val st = Checkpoints.state(spark.range(0, 100, 1, 8).toDF())
    try {
      assert(st.df.rdd.getNumPartitions == 8)
      assert(Checkpoints.sized(st.df, st.rows).rdd.getNumPartitions == 1)
      assert(Checkpoints.sized(st.df, 3L * 65536L).rdd.getNumPartitions == 4)
      assert(Checkpoints.sized(st.df, 100L * 65536L).rdd.getNumPartitions == 8)
    } finally Checkpoints.release(st.df)
  }

  /** Jobs started by `body` on this thread, counted by a listener that is
    * drained deterministically: a marker job runs last, and the listener
    * sees events in order, so once it sees the marker it has seen the rest.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"checkpoints-spec-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val drained = scala.concurrent.Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) {
          if (p.getProperty("spark.job.description") == marker)
            drained.trySuccess(())
          else started.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try {
        body
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      scala.concurrent.Await.result(drained.future,
        scala.concurrent.duration.Duration(60, "s"))
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("bradleyTerryDistributed: at most 3 jobs per extra iteration") {
    // the ratings broadcast, the census-join shuffle and the observed raw
    // checkpoint; the estimated-statistics defect sort-merge joined the
    // ratings from round 2 on and spent 8 jobs per round
    val comp = PreferenceSpec.sharedFixture(spark)
    def jobs(iters: Int): Int = jobsOf {
      val out = Preference.bradleyTerryDistributed(comp, "w", "l", iters)
      Checkpoints.release(out)
    }
    val (j2, j6) = (jobs(2), jobs(6))
    assert(j6 - j2 <= 3 * (6 - 2), s"iters=2: $j2 jobs, iters=6: $j6 jobs")
  }

  /** Persistent RDDs `run` registered and left behind once its result is
    * consumed and released. The session is shared across suites, so this
    * checks the RDDs this call registered (the F1PipelineSpec method).
    */
  private def leftBehind(run: => DataFrame): collection.Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    out.collect()
    Checkpoints.release(out)
    sc.getPersistentRDDs.keySet -- before
  }

  test("the six loop operators release every checkpoint they register") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (7L, 8L)).toDF("s", "d")
    val src = Seq(1L).toDF("n")
    val runs = Seq[(String, () => DataFrame)](
      "Preference" -> (() => Preference.bradleyTerryDistributed(
        PreferenceSpec.sharedFixture(spark), "w", "l", iters = 3)),
      "Dedup" -> (() => Dedup.connectedComponents(edges, "s", "d")),
      "KCore" -> (() => KCore.peel(edges, "s", "d", k = 3, rounds = 3)),
      "PageRank" -> (() => PageRank.pageRank(edges, "s", "d", rounds = 3)),
      "LabelProp" -> (() => LabelProp.propagate(edges, "s", "d", rounds = 3)),
      "Bfs" -> (() => Bfs.levels(edges, "s", "d", src, "n", maxHops = 2)))
    runs.foreach { case (name, run) =>
      val left = leftBehind(run())
      assert(left.isEmpty, s"$name left persisted RDDs $left")
    }
  }

  test("connectedComponents releases its labels when it does not converge") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "s", "d", maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  /** A round driver over `spark.range(5)` that adds one per round, holding
    * one loop-invariant checkpoint; `step` throws at round `failStepAt` and
    * `done` at round `failDoneAt` (0: never).
    */
  private def failingLoop(failStepAt: Int, failDoneAt: Int): Unit = {
    val held = Checkpoints.state(spark.range(10).toDF()).df
    Checkpoints.iterate(Checkpoints.state(spark.range(5).toDF()), rounds = 5,
      held = Seq(held),
      step = (prev, r) => {
        if (r == failStepAt) throw new IllegalStateException(s"step $r")
        prev.df.select((col("id") + 1).as("id"))
      },
      done = (_, _, r) =>
        if (r == failDoneAt) throw new IllegalStateException(s"done $r")
        else false)
  }

  test("iterate: a step or done that throws releases the state and held frames") {
    val sc = spark.sparkContext
    Seq((2, 0), (0, 2), (0, 1)).foreach { case (failStep, failDone) =>
      val before = sc.getPersistentRDDs.keySet
      intercept[IllegalStateException](failingLoop(failStep, failDone))
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"step throws at $failStep, done at $failDone")
    }
  }

  test("zero-round loops return a frame that release frees completely") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    val runs = Seq[(String, () => DataFrame)](
      "PageRank" -> (() => PageRank.pageRank(edges, "s", "d", rounds = 0)),
      "LabelProp" -> (() => LabelProp.propagate(edges, "s", "d", rounds = 0)),
      "KCore" -> (() => KCore.peel(edges, "s", "d", k = 2, rounds = 0)),
      "Bfs" -> (() => Bfs.levels(edges, "s", "d", Seq(1L).toDF("n"), "n",
        maxHops = 0)))
    val leaks = runs.map { case (name, run) => name -> leftBehind(run()) }
      .filter(_._2.nonEmpty)
    assert(leaks.isEmpty, s"left persisted RDDs: $leaks")
  }

  test("Bfs stops once a round settles no node, with the same output") {
    // the path 0-1-2 is exhausted after two hops: the third round settles
    // nothing, so a 50-hop budget runs the same rounds as a 3-hop one
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("s", "d")
    val src = Seq(0L).toDF("n")
    val outs = collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    def jobs(hops: Int): Int = jobsOf {
      val out = Bfs.levels(edges, "s", "d", src, "n", maxHops = hops)
      outs(hops) = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      Checkpoints.release(out)
    }
    val (j3, j50) = (jobs(3), jobs(50))
    assert(j50 == j3, s"maxHops=3: $j3 jobs, maxHops=50: $j50 jobs")
    assert(outs(3) == Set(0L -> 0L, 1L -> 1L, 2L -> 2L) && outs(50) == outs(3))
  }

  test("triangleCount releases its persists when a job throws") {
    // a non-numeric src fails the ANSI cast inside the first eager job
    // (a range, not a local relation, whose cast the optimizer would fold
    // and fail before anything persists)
    val bad = spark.range(1, 5)
      .select(concat(lit("n"), col("id")).as("s"), (col("id") + 1).as("d"))
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception](Triangles.triangleCount(bad, "s", "d"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
