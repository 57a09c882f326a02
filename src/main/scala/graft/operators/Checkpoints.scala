package graft.operators

import scala.annotation.tailrec
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike,
  Partitioning, PartitioningCollection, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Loop state for the iterative operators ([[Preference]], [[Dedup]],
  * [[KCore]], [[PageRank]], [[LabelProp]], [[Bfs]]): one eager checkpoint
  * per round that knows its own size, the round driver ([[iterate]]) all
  * six loops run on, and the block-manager hygiene that goes with them.
  *
  * WHY THE STATISTICS ARE REWRITTEN: an eager `localCheckpoint` wraps its
  * blocks in a `LogicalRDD` that inherits the ESTIMATED statistics of the
  * plan it replaced, and a loop that checkpoints each round feeds that
  * estimate back into the next round's plan, so it compounds. In
  * [[Preference.bradleyTerryDistributed]] (q278) the items-bounded `raw`
  * checkpoint claimed 1.4e15 B after round 1 and about 1e10000 B by round
  * 10; from round 2 on the ratings frame was sort-merge joined to the pair
  * census, two extra shuffles per round, where a broadcast does. [[state]]
  * counts the rows in the checkpointing job itself (`Dataset.observe`, no
  * extra job) and re-plans the checkpoint with its TRUE statistics:
  * `rowCount = rows`, `sizeInBytes = rows × EstimationUtils.getSizePerRow`.
  * The same observation carries any aggregate a loop tests for
  * convergence, so neither the width rule ([[sized]]) nor a convergence
  * test spends a separate `count()`/`head()` job. Measured on a 4-core
  * box (`perfbench`, `graph_similarity`, traced, seed 7), this cut the
  * six operators' jobs per call from 95/34/22/28/9/18
  * (Preference/Dedup/LabelProp/PageRank/KCore/Bfs) to 44/20/20/20/6/15;
  * q278 runs 3 jobs per round instead of 8.
  *
  * PARTITIONING: `localCheckpoint` declares the partitioning of the
  * checkpoint job's plan as it stood BEFORE the job ran. Under AQE (the
  * `Bench`/`perfbench` session shape) that plan is an
  * `AdaptiveSparkPlanExec`, which reports `UnknownPartitioning(0)`.
  * Measured on `local[4]` with 4 shuffle partitions, on a `groupBy(k)` of
  * 200k rows into 5,000 groups: with AQE on, the final plan of the
  * checkpoint job reads `coalescedhashpartitioning(hashpartitioning(k, 4))`
  * over 1 partition, the checkpoint declares `UnknownPartitioning(0)`, and
  * a following `groupBy(k)` plans an `Exchange hashpartitioning(k, 4)`;
  * with AQE off the checkpoint declares `hashpartitioning(k, 4)` and the
  * regroup plans no exchange. [[state]] therefore reads the partitioning
  * from the plan the job RAN (the adaptive plan's final plan) and declares
  * it on the re-planned checkpoint, under the rule of `produced`. With
  * it the loops stop re-shuffling their own state: `perfbench`
  * `graph_similarity` (4 cores, traced, seed 7) wrote 1.099 MB of shuffle
  * per pass instead of 1.720, and ran 32/18/12/15/5/12 jobs
  * (Preference/Dedup/LabelProp/PageRank/KCore/Bfs) instead of
  * 44/20/20/20/6/14. [[sized]] keeps a carried hash partitioning's width.
  *
  * RELEASE: `Dataset.unpersist` only touches the SQL cache; an eager
  * `localCheckpoint`'s blocks live in the BLOCK MANAGER until the
  * ContextCleaner GC-reclaims the RDD — which needs the owning Dataset to
  * become unreachable first, far too late for a loop that checkpoints every
  * round. Without explicit release an iterative operator leaks one full
  * frame per round for the life of the job; across a long session those
  * blocks crowd the unified memory region and surface as ambient slowdowns
  * in UNRELATED queries (the round-6 q181 ghost: 13.6 s suite-ambient vs
  * 3.2 s isolated, same plan, same bytes).
  */
object Checkpoints {

  /** An eager checkpoint with true statistics, its row count and the
    * caller's observed aggregates, in the order they were passed.
    */
  final case class State(df: DataFrame, rows: Long, observed: Row)

  /** How long [[state]] waits for the checkpoint job's observed metrics.
    * They reach the driver through the session's listener bus after the
    * job has finished, so this bounds a lagging bus, not the job.
    */
  private val ObservedWait: FiniteDuration = 2.minutes

  /** Eagerly `localCheckpoint` `df`, observing its row count and
    * `observed` (aliased aggregate columns, e.g. `max(x).as("mx")`) in the
    * checkpointing job itself, and re-plan the checkpoint with its true
    * statistics and the partitioning its job produced (see the object
    * doc). Release `State.df` like any checkpoint once it is superseded.
    */
  def state(df: DataFrame, observed: Column*): State = {
    val obs = Observation()
    val od = df.observe(obs, count(lit(1)).as("__rows"), observed: _*)
    val cp = od.localCheckpoint(true)
    val row = try Await.result(obs.future, ObservedWait) catch {
      case e: TimeoutException =>
        release(cp)
        throw new IllegalStateException(
          s"Checkpoints.state: the checkpoint job finished but its observed " +
            s"metrics did not arrive within $ObservedWait (listener bus " +
            "backlog or dropped events)", e)
    }
    val rows = row.getLong(0)
    State(GraftColumnBridge.withTrueStats(cp, rows, produced(od, cp)), rows,
      Row.fromSeq(row.toSeq.tail))
  }

  /** The partitioning the checkpoint `cp` of `od` truly has, read from the
    * plan its job ran (under AQE, the adaptive plan's final plan):
    * `SinglePartition` for one partition; else the final plan's
    * partitioning, or the first member of a partitioning collection, that
    * has exactly the checkpoint's partition count and references only
    * columns of its output; else none. A partitioning over a column the
    * checkpoint projected away is not carried: a declared partitioning
    * that is not true silently breaks joins.
    */
  private def produced(od: DataFrame, cp: DataFrame): Partitioning = {
    val lr = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val parts = lr.rdd.getNumPartitions
    val ran = od.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val out = AttributeSet(lr.output)
    def flat(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(flat)
      case p => Seq(p)
    }
    if (parts == 1) SinglePartition
    else flat(ran.outputPartitioning).find {
      case p: Expression => p.numPartitions == parts && p.references.subsetOf(out)
      case _ => false
    }.getOrElse(UnknownPartitioning(parts))
  }

  /** The loop-scan width rule: read `df` (`rows` rows) at ⌈rows/64k⌉
    * partitions, never more than it has. A checkpoint keeps the partition
    * count of the stage that produced it (the session shuffle width), so
    * without this every round over a small frame schedules that many tasks
    * regardless of the data; the narrow coalesce reads the same blocks with
    * as many tasks as the DATA warrants — a per-row bound that keeps its
    * parallelism on a billion-row frame, never a core-count constant.
    *
    * Width against partitioning: a frame is coalesced unless it carries a
    * hash partitioning ([[state]]) and its target width is above 1. A
    * coalesce to n > 1 partitions reports no partitioning, so a hash-
    * partitioned state keeps the width AQE already gave the stage that
    * produced it, and a round that groups or joins it on its key needs no
    * exchange. A coalesce to 1 still reports `SinglePartition`, so that
    * width always wins. An unpartitioned or range-partitioned frame (a
    * `spark.range` source, a sort) is narrowed as before.
    */
  def sized(df: DataFrame, rows: Long): DataFrame = {
    val parts = df.rdd.getNumPartitions
    val n = math.min(parts.toLong, rows / 65536L + 1L).toInt
    val hashed = df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.outputPartitioning.isInstanceOf[HashPartitioningLike]
      case _ => false
    }
    if (n < parts && (n == 1 || !hashed)) df.coalesce(n) else df
  }

  /** The round driver of the iterative operators. Round `r` (1 to
    * `rounds`) checkpoints `step(prev, r)` through [[state]] with the loop's
    * `observed` aggregates, asks `done(prev, next, r)` whether to stop, and
    * releases `prev` once `next` holds. `init` is round 0's state, handed
    * over to the driver: an eager checkpoint, or a lazy frame over `held`
    * (the loop-invariant frames the rounds read) whose `rows`/`observed`
    * are whatever the first `step`/`done` reads of them.
    *
    * Returns the checkpointed `finish(last)` (the last state itself without
    * a `finish`; checkpointed when no round ran, so it never reads `held`)
    * and the number of rounds that ran. Every other frame (each superseded
    * state, the last one under a `finish`, `held`) is released on return,
    * and on a throw from `init`, `step`, `done` or `finish` alike.
    */
  def iterate(init: => State, rounds: Int, step: (State, Int) => DataFrame,
              done: (State, State, Int) => Boolean = (_, _, _) => false,
              observed: Seq[Column] = Nil, held: Seq[DataFrame] = Nil,
              finish: Option[State => DataFrame] = None): (DataFrame, Int) = {
    var live = held.toList // what a throw releases
    try {
      @tailrec def loop(prev: State, r: Int): (State, Int) =
        if (r > rounds) (prev, r - 1)
        else {
          val next = state(step(prev, r), observed: _*)
          live = next.df :: live
          val stop = done(prev, next, r)
          release(prev.df)
          live = live.filterNot(_ eq prev.df)
          if (stop) (next, r) else loop(next, r + 1)
        }
      val first = init
      live = first.df :: live
      val (last, ran) = loop(first, 1)
      val out = finish match {
        case Some(f) => state(f(last)).df
        case None if ran == 0 => state(last.df).df
        case None => last.df
      }
      live.filterNot(_ eq out).foreach(release)
      (out, ran)
    } catch {
      case t: Throwable => live.foreach(release); throw t
    }
  }

  /** The undirected simple graph of `edges` as one eager checkpoint of
    * (u, v): every distinct non-loop edge in both directions. One in-row
    * explode symmetrizes it, not a self-union, whose two legs each re-ran
    * the distinct shuffle.
    */
  def undirected(edges: DataFrame, srcCol: String, dstCol: String): State =
    state(edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v")))

  /** Release the storage behind an eager [[DataFrame.localCheckpoint]] once
    * the frame is SUPERSEDED. Only call after every consumer has
    * materialized — the truncated lineage cannot recompute, so a released
    * checkpoint must never be read again (an iterative loop releases round
    * i only after round i+1's eager checkpoint holds).
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false): Unit
    case _ => ()
  }
}
