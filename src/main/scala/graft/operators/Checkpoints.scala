package graft.operators

import scala.annotation.tailrec
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
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
    * statistics (see the object doc). Release `State.df` like any
    * checkpoint once it is superseded.
    */
  def state(df: DataFrame, observed: Column*): State = {
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("__rows"), observed: _*)
      .localCheckpoint(true)
    val row = try Await.result(obs.future, ObservedWait) catch {
      case e: TimeoutException =>
        release(cp)
        throw new IllegalStateException(
          s"Checkpoints.state: the checkpoint job finished but its observed " +
            s"metrics did not arrive within $ObservedWait (listener bus " +
            "backlog or dropped events)", e)
    }
    val rows = row.getLong(0)
    State(GraftColumnBridge.withTrueStats(cp, rows), rows,
      Row.fromSeq(row.toSeq.tail))
  }

  /** The loop-scan width rule: read `df` (`rows` rows) at ⌈rows/64k⌉
    * partitions, never more than it has. A checkpoint keeps the partition
    * count of the stage that produced it (the session shuffle width), so
    * without this every round over a small frame schedules that many tasks
    * regardless of the data; the narrow coalesce reads the same blocks with
    * as many tasks as the DATA warrants — a per-row bound that keeps its
    * parallelism on a billion-row frame, never a core-count constant.
    */
  def sized(df: DataFrame, rows: Long): DataFrame = {
    val parts = df.rdd.getNumPartitions
    val n = math.min(parts.toLong, rows / 65536L + 1L).toInt
    if (n < parts) df.coalesce(n) else df
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
