package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pairwise-preference aggregation (extension scope): Bradley–Terry (1952)
  * strength estimation from win/loss comparisons — the statistic behind
  * every RLHF / LLM-arena leaderboard ("annotators preferred A over B in
  * n_ab of their meetings; what are the global model strengths?"). The
  * maximization step is Hunter (2004)'s MM update
  * `p_i ← W_i / Σ_j n_ij / (p_i + p_j)`, which monotonically increases the
  * Bradley–Terry likelihood and needs no learning rate.
  */
object Preference {

  /** Bradley–Terry ratings from a comparisons frame (one row per
    * comparison, `winnerCol` / `loserCol` naming the two items). Returns
    * one row per item: `(item, wins, losses, n_comparisons, rating,
    * rank)` with ratings normalized to sum 1 and rank 1 = strongest
    * (ties broken by item ascending — ratings are integers internally, so
    * the order is exact, never a float coin-flip).
    *
    * BOUNDED-ITEMS CONTRACT (the [[Analytics.chiSquare]] guard pattern):
    * items are MODELS / POLICIES / SOURCES — a bounded vocabulary; the
    * comparisons are the corpus-sized side and fold into the items²-bounded
    * pair census in ONE map-side-combined aggregate before anything leaves
    * the executors. The census is persisted, the item-count guard reads it
    * eagerly, and the call fails loudly (cache dropped) past `maxItems` —
    * an id-like column dies here, never as a driver OOM.
    *
    * Determinism (the [[FuzzyJoin.fellegiSunterEm]] device): ratings live
    * as INTEGER MILLIONTHS between iterations. Each MM denominator is a
    * BIGINT sum of per-opponent terms `⌊n_ij·10¹²/(r_i+r_j) + ½⌋` (each a
    * double division of exact integers — reproducible), the update
    * `W_i/d_i` is rescaled by the iteration MAXIMUM (order-independent,
    * unlike a float sum) and re-quantized, so the fixed-iteration result
    * is bit-identical across partitionings, retries, and engines; the
    * DuckDB oracle replays the unrolled iterations term for term. Items
    * that never win converge to rating 0, per the model.
    */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
                   loserCol: String, iters: Int = 10,
                   maxItems: Int = 1000): DataFrame =
    bradleyTerryFromCensus(comparisons
        .groupBy(col(winnerCol).cast("string").as("__w"),
          col(loserCol).cast("string").as("__l"))
        .agg(count(lit(1)).as("__n")),
      "__w", "__l", "__n", iters, maxItems)

  /** NULL-row exclusion, the [[Evaluation.rocAuc]] convention: a
    * comparison with a NULL winner or loser carries no pairwise
    * information and is dropped up front — a raw arena/RLHF log easily
    * contains them, and letting one through used to surface as an opaque
    * driver-side NPE in the item sort (round-12 advice).
    */
  private def nonNullCensus(census: DataFrame, winnerCol: String,
                            loserCol: String): DataFrame =
    census.filter(col(winnerCol).isNotNull && col(loserCol).isNotNull)

  /** DISTRIBUTED Bradley–Terry — the form for item vocabularies past the
    * [[bradleyTerry]] bounded-items guard (per-prompt or per-annotator
    * items, document-level preference graphs): the census is NEVER
    * collected; every Hunter-MM iteration is a census self-join executed
    * on the cluster, so the only driver-side state is the loop counter.
    *
    * BIT-IDENTICAL to the driver fit (spec'd on a shared fixture): the
    * iteration state is the same integer-millionth ratings table, each
    * denominator the same BIGINT sum of `⌊n_ij·10¹²/(r_i+r_j) + ½⌋` terms
    * (BIGINT addition re-associates, so partitioning cannot change it),
    * the rescale divides by the iteration MAXIMUM (order-independent,
    * unlike a float sum), and the final rounding takes Spark's own Round.
    * The same unrolled-CTE oracle therefore replays both routes.
    *
    * Scale shape per iteration: the unordered-pair census (persisted once,
    * comparison-distinct-bounded) equi-joins the ratings table twice on
    * item — the planner broadcasts the ratings side while it is small and
    * falls back to hash joins when it is not, deciding on the TRUE size of
    * the previous round's checkpoint ([[Checkpoints.state]]) — then ONE
    * explode-melt + map-side-combined keyed sum per item (the census join
    * executes exactly once per iteration). Each iteration eagerly
    * checkpoints the items-bounded `raw` frame and observes its maximum in
    * the same job, so the rescale is a literal and the next ratings are a
    * projection of that checkpoint: three jobs per round (the ratings
    * broadcast, the census-join shuffle, the checkpoint). Truncation keeps
    * the logical plan from doubling per iteration (the exact 2^k inlining
    * the oracle's `AS MATERIALIZED` suppresses — Catalyst analysis would
    * blow up past ~15 iterations). A sparser checkpoint cadence was
    * MEASURED SLOWER — see the in-loop comment. Superseded checkpoints are
    * released as soon as the next one holds. Local checkpoints trade
    * executor-loss replayability for lineage truncation; on a real cluster
    * with flaky executors, swap for reliable `checkpoint` under a
    * checkpoint dir. The returned leaderboard is itself checkpointed
    * (items-bounded), every working cache is dropped before returning, and
    * the rank window is a single-partition sort of the ITEM VOCABULARY —
    * bounded by items, never by comparisons.
    */
  def bradleyTerryDistributed(comparisons: DataFrame, winnerCol: String,
                              loserCol: String,
                              iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val census = nonNullCensus(comparisons, winnerCol, loserCol)
      .groupBy(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__n"))
      .persist(MEMORY_AND_DISK)
    // per-item wins/losses and the unordered-pair census: the two tables
    // every iteration re-reads. Eager localCheckpoints, NOT persists: a
    // checkpoint captures the executed plan's AQE-COALESCED partitioning
    // (one block for a KB-scale item vocabulary, full width for a big
    // one), where a persist would pin the pre-AQE 32-way layout and every
    // per-round job over these tiny tables would schedule 32+ tasks —
    // measured: the 10-round loop ran 97 jobs of 32-99 tasks each with
    // half its wall time in scheduling. The directed census is dropped as
    // soon as both hold (nothing else reads it), or when either throws.
    // Both count their rows in the checkpointing job, so the ⌈rows/64k⌉
    // loop-scan width ([[Checkpoints.sized]]: one task for an items-bounded
    // census, six for q278's 368k-pair one) costs no extra job.
    val (wl, pc0) = try (
      Checkpoints.state(census.select(col("__w").as("item"),
          col("__n").as("__wv"), lit(0L).as("__lv"))
        .unionAll(census.select(col("__l"), lit(0L), col("__n")))
        .groupBy("item")
        .agg(sum(col("__wv")).as("__wins"), sum(col("__lv")).as("__losses"))),
      Checkpoints.state(census.select(
          least(col("__w"), col("__l")).as("__a"),
          greatest(col("__w"), col("__l")).as("__b"), col("__n"))
        .groupBy("__a", "__b").agg(sum(col("__n")).as("__n"))))
    finally census.unpersist(blocking = false)
    val pc = Checkpoints.sized(pc0.df, pc0.rows)
    val wlLoop = Checkpoints.sized(wl.df, wl.rows)
    // the iteration state is RAW (the items-bounded W_i/d_i frame),
    // eagerly checkpointed each round by a job that observes max(__raw):
    // the rescale is a literal, so the ratings are one projection of raw.
    // Round 0 is raw ≡ 1 with max 1, the uniform 10⁶ start.
    def ratings(raw: Checkpoints.State): DataFrame = {
      // a NULL max (no items) takes the otherwise branch
      val mx = lit(raw.observed.get(0)).cast(DoubleType)
      raw.df.select(col("item"),
        when(mx > 0.0, floor(col("__raw") / mx * lit(1e6) + lit(0.5)))
          .otherwise(lit(1000000L)).as("__r"))
    }
    // one MM round. Both rating legs read the one ratings projection
    // through aliases, so exchange reuse builds ONE broadcast of it per
    // round, and raw's true statistics keep it broadcast in every round
    // (see [[Checkpoints]]).
    def mm(raw: Checkpoints.State): DataFrame = {
      val r = ratings(raw)
      val ra = r.as("__ra"); val rb = r.as("__rb")
      val t = pc
        .join(ra, col("__a") === col("__ra.item"))
        .join(rb, col("__b") === col("__rb.item"))
        // a pair of two zero-rated items carries no gradient — dropped,
        // exactly the driver loop's guard (an unguarded division would be
        // Infinity -> overflow)
        .filter(col("__ra.__r") + col("__rb.__r") > 0L)
        .select(col("__a"), col("__b"),
          floor(col("__n").cast("double") * lit(1e12) /
            (col("__ra.__r") + col("__rb.__r")).cast("double") + lit(0.5))
            .as("__t"))
      // melt (a, b, t) → (item, t) with ONE evaluation of t: the old
      // unionAll of two projections re-ran the census join per leg. The
      // explode is a narrow in-row fan-out of exactly the same rows, so
      // the BIGINT per-item sum sees the same terms (re-association is
      // exact) — bit-identical to the union shape and to the driver fit.
      // wl rides along as a zero-term union leg carrying each item's wins,
      // so the per-item fold needs NO join-back: every item appears (the
      // old LEFT join's keep-all-items role), __d sums the identical
      // BIGINT terms plus exact zeros, and __w sums one wins value plus
      // zeros — the per-round wl⋈d join and its broadcast build are gone.
      val d = t.select(explode(array(col("__a"), col("__b"))).as("item"),
          col("__t"), lit(0L).as("__w"))
        .unionAll(wlLoop.select(col("item"), lit(0L), col("__wins")))
        .groupBy("item")
        .agg(sum(col("__t")).as("__d"), sum(col("__w")).as("__wins"))
      d.select(col("item"),
        when(col("__d") > 0L,
          col("__wins").cast("double") / col("__d").cast("double"))
          .otherwise(lit(0.0)).as("__raw"))
    }
    // CHECKPOINT CADENCE — measured, per-iteration is right: a
    // checkpoint-every-second-iteration variant (lazy odd rounds riding
    // into the even round's single materialization) was 1.7-2.6× SLOWER
    // at sf0.1/96g (13.9-21.5 s vs 8.1 s, quiet box, 3 reps × 2 runs) —
    // the lazy round's census chain is NOT deduplicated by exchange
    // reuse across the two ratings legs, so its join+agg executes twice
    // per materialization. Reverted 2026-08-19 (round 14).
    Checkpoints.iterate(Checkpoints.State(
        wlLoop.select(col("item"), lit(1.0).as("__raw")), wl.rows, Row(1.0)),
      iters, step = (raw, _) => mm(raw),
      observed = Seq(max(col("__raw")).as("__mx")), held = Seq(wl.df, pc0.df),
      finish = Some { raw =>
        val r = ratings(raw)
        val s = r.agg(sum(col("__r")).as("__s"))
        wlLoop.join(r, "item").crossJoin(broadcast(s))
          .select(col("item"), col("__wins").as("wins"),
            col("__losses").as("losses"),
            (col("__wins") + col("__losses")).as("n_comparisons"),
            round(col("__r").cast("double") / col("__s").cast("double"), 6)
              .as("rating"),
            row_number().over(
              Window.orderBy(col("__r").desc, col("item").asc)).as("rank"))
      })._1
  }

  /** [[bradleyTerry]] over a PRE-AGGREGATED directed census (winner, loser,
    * n) — the entry point for [[graft.sources.PreferenceStore]], whose
    * persisted counts merge exactly (BIGINT sums re-associate), so ratings
    * from an accumulated census are bit-identical to re-fitting on the
    * union of every raw comparison ever ingested.
    */
  def bradleyTerryFromCensus(census0: DataFrame, winnerCol: String,
                             loserCol: String, nCol: String, iters: Int,
                             maxItems: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = census0.sparkSession
    val census = nonNullCensus(census0, winnerCol, loserCol)
      .groupBy(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .agg(sum(col(nCol)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nItems = census.select(col("__w").as("i"))
      .union(census.select(col("__l"))).distinct().count()
    if (nItems > maxItems) {
      census.unpersist()
      throw new IllegalArgumentException(
        s"requirement failed: bradleyTerry: $nItems distinct items " +
          s"(> $maxItems) — items must be a bounded vocabulary (models, " +
          "policies, sources); an id-like column does not belong in a " +
          "Bradley-Terry fit")
    }
    val rows = census.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    census.unpersist(blocking = false)

    val items = rows.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val idx = items.zipWithIndex.toMap
    val L = items.length
    val wins = Array.fill(L)(0L)
    val losses = Array.fill(L)(0L)
    // unordered-pair comparison counts, folded from the directed census
    val nPair = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
    rows.foreach { case (w, l, n) =>
      val (iw, il) = (idx(w), idx(l))
      wins(iw) += n; losses(il) += n
      val key = if (iw < il) (iw, il) else (il, iw)
      nPair(key) = nPair.getOrElse(key, 0L) + n
    }
    val pairs = nPair.toArray.sortBy(_._1) // fixed fold order
    val r = Array.fill(L)(1000000L)        // micro-ratings, uniform start
    for (_ <- 0 until iters) {
      val d = Array.fill(L)(0L)
      pairs.foreach { case ((i, j), n) =>
        // a pair of two zero-rated items carries no gradient — skipped,
        // like the oracle's CASE guard (an unguarded division would be
        // Infinity -> Long.MaxValue and wrap the accumulator)
        if (r(i) + r(j) > 0L) {
          val t = math.floor(
            n.toDouble * 1e12 / (r(i) + r(j)).toDouble + 0.5).toLong
          d(i) += t; d(j) += t
        }
      }
      val raw = Array.tabulate(L)(i =>
        if (d(i) > 0L) wins(i).toDouble / d(i).toDouble else 0.0)
      val mx = raw.max
      var i = 0
      while (i < L) {
        r(i) = if (mx > 0.0) math.floor(raw(i) / mx * 1e6 + 0.5).toLong
               else 1000000L
        i += 1
      }
    }
    val s = r.sum
    val ranked = items.indices
      .sortBy(i => (-r(i), items(i)))
      .zipWithIndex.map { case (i, rk) => i -> (rk + 1) }.toMap
    val out = items.indices.map { i =>
      Row(items(i), wins(i), losses(i), wins(i) + losses(i),
        r(i).toDouble / s.toDouble, ranked(i))
    }
    val schema = StructType(Seq(
      StructField("item", StringType), StructField("wins", LongType),
      StructField("losses", LongType),
      StructField("n_comparisons", LongType),
      StructField("rating", DoubleType), StructField("rank", IntegerType)))
    // rating rounds through Spark's own Round expression (BigDecimal
    // HALF_UP), the same path every other operator's round(_, 6) takes
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava, schema)
      .withColumn("rating", round(col("rating"), 6))
      .select("item", "wins", "losses", "n_comparisons", "rating", "rank")
  }
}
