package graft

/** Suite-wide physical-plan lint — the scale-posture net under EVERY
  * declared query, not just the shapes PlanShapeSpec pins: build each
  * query against sf0.001 and reject outright scale-killers in the
  * optimized physical plan.
  *
  *   - `CartesianProductExec` (the non-broadcast cross product): quadratic
  *     shuffle-and-compare, the one operator that cannot survive a scale-up
  *     no matter the cluster. Intentional cross joins in this repo are all
  *     `crossJoin(broadcast(tiny))`, which compiles to
  *     BroadcastNestedLoopJoin — allowed, because the replicated side is a
  *     query vector or a 1-row stats frame by construction.
  *   - A BroadcastNestedLoopJoin with a non-broadcast-hinted streamed side
  *     of unbounded size can't be told apart from the benign form by plan
  *     text alone, so BNLJ is not flagged here; PlanShapeSpec pins the
  *     specific broadcast shapes.
  *
  * A query that fails to BUILD also fails the lint (same contract as
  * QuerySchemaGuardSpec, which guards schemas the same way).
  */
class PlanLintSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("no declared query plans a non-broadcast cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val bad =
          try {
            val plan = fn(spark, dir).queryExecution.executedPlan.toString
            if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct")
            else Nil
          } catch {
            case e: Throwable => Seq(s"$name: FAILED TO PLAN: ${e.getMessage}")
          }
        spark.catalog.clearCache()
        releaseSince(before)
        bad
    }
    assert(offenders.isEmpty,
      s"scale-killer plan shapes:\n  ${offenders.mkString("\n  ")}")
  }
}
