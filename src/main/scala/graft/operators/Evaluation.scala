package graft.operators

import graft.functions.BleuCounts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline retrieval-quality evaluation (extension scope): graded-relevance
  * ranking metrics — nDCG@k, MRR@k, precision@k — over a run (the system's
  * per-query ranking: BM25 [[InvertedIndex]], dense kNN [[Similarity]], or
  * fused [[Fusion.rrf]]) joined to qrels (human/synthetic judgments). The
  * standard eval loop of every retrieval/RAG pipeline; the graded complement
  * of [[Similarity.knnRecall]]'s set-overlap recall.
  *
  * Scale shape: the run is top-k-bounded by construction (≤ k·queries rows)
  * and qrels are judgment-bounded (labeling is the expensive part — per-query
  * judgment sets are small by nature), so everything here is
  * O(queries · (k + judgments)) regardless of corpus size; the corpus-sized
  * cost lives in the upstream retrieval legs. Two map-side-combinable
  * aggregates + one queries-sized join.
  *
  * Determinism (the reason this isn't a naive SUM over floats): DCG terms are
  * `(2^rel − 1) · d_rank` where the discounts `d_i = 1/log2(i+1)` are
  * DRIVER-COMPUTED double literals baked into the plan ([[discounts]] — the
  * oracle embeds the same literals, so no engine's `log` rounding enters),
  * and both DCG and IDCG fold their terms in pinned order (rank order /
  * descending-grade order) via in-row sorted `aggregate` — bit-identical
  * across engines and partitionings, like every pinned float fold in this
  * library (cf. [[Analytics.ewma]]).
  */
object Evaluation {

  /** `1/log2(i+1)` for i = 1..k — the standard nDCG position discounts, as
    * reproducible literals (java.lang.Math.log; embedded by the oracle too).
    */
  def discounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Per-query metrics of `run` (qCol, docCol, rankCol — 1-based ranks)
    * against `qrels` (qCol, docCol, relCol — integer grades, ≥1 = relevant;
    * unjudged retrieved docs count as grade 0):
    *
    *   - `ndcg` — DCG@k / IDCG@k, IDCG over the query's full judgment set
    *     (top-k grades, descending); NULL when the query has no positive
    *     judgments (IDCG = 0);
    *   - `mrr` — 1/rank of the first retrieved doc with grade > 0, 0.0 when
    *     none retrieved;
    *   - `rel_retrieved` — graded>0 hits in the top k;
    *   - `precision_at_k` — rel_retrieved / k.
    */
  def gradedMetrics(run: DataFrame, qrels: DataFrame, qCol: String,
                    docCol: String, rankCol: String, relCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val discArr = array(discounts(k).map(lit): _*)
    val judged = run.filter(col(rankCol) <= k)
      .join(qrels.select(col(qCol), col(docCol), col(relCol)),
        Seq(qCol, docCol), "left")
      .withColumn("__rel", coalesce(col(relCol), lit(0)).cast("int"))
    val dcgSide = judged.groupBy(col(qCol)).agg(
      aggregate(
        transform(
          array_sort(collect_list(struct(
            col(rankCol).cast("int").as("r"), col("__rel").as("g")))),
          x => (pow(lit(2.0), x("g").cast("double")) - lit(1.0)) *
            get(discArr, x("r") - 1)),
        lit(0.0), (a, x) => a + x).as("dcg"),
      min(when(col("__rel") > 0, col(rankCol).cast("long"))).as("__fr"),
      sum(when(col("__rel") > 0, 1L).otherwise(0L)).as("rel_retrieved"))
    val idcgSide = qrels.groupBy(col(qCol)).agg(
      aggregate(
        transform(
          slice(reverse(array_sort(collect_list(col(relCol).cast("int")))),
            1, k),
          (x, i) => (pow(lit(2.0), x.cast("double")) - lit(1.0)) *
            get(discArr, i)),
        lit(0.0), (a, x) => a + x).as("idcg"))
    dcgSide.join(idcgSide, Seq(qCol), "left")
      .select(col(qCol),
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).as("ndcg"),
        coalesce(lit(1.0) / col("__fr"), lit(0.0)).as("mrr"),
        col("rel_retrieved"),
        (col("rel_retrieved").cast("double") / lit(k.toDouble))
          .as("precision_at_k"))
  }

  /** Per-depth weights of truncated RBO: `W(m) = Σ_{d=m..k} p^(d-1)/d` — a
    * doc first present in BOTH depth-d prefixes at depth m contributes
    * exactly W(m) to `Σ_d p^(d-1)·overlap(d)/d` (it counts in every
    * overlap(d) with d ≥ m). Driver-computed literals, embedded by the
    * oracle too.
    */
  def rboWeights(k: Int, p: Double): Seq[Double] = {
    val terms = (1 to k).map(d => math.pow(p, d - 1) / d)
    (1 to k).map(m => terms.drop(m - 1).sum)
  }

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010)
    * between two rankings of the same corpus — the standard top-weighted
    * agreement measure for "how much did the ANN approximation / the new
    * ranker perturb the ranking", where recall@k sees only set membership:
    * `rbo = (1−p) Σ_{d=1..k} p^(d-1) · |A_d ∩ B_d| / d` with A_d/B_d the
    * depth-d prefixes. Emits (qCol, rbo, n_common) per query of `runA`
    * (queries sharing no docs score 0).
    *
    * Shape: the depth sum is re-expressed per common DOC (weight = W(max of
    * its two ranks), [[rboWeights]]), so the whole computation is one
    * (q, doc) equi-join of two top-k-bounded frames + one per-query fold —
    * O(queries·k), corpus-free. Determinism: weights are driver literals
    * and the fold is in-row over the (depth, doc)-sorted array — bit-
    * identical across engines, like [[gradedMetrics]].
    */
  def rbo(runA: DataFrame, runB: DataFrame, qCol: String, docCol: String,
          rankCol: String, k: Int, p: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1), got $p")
    val wArr = array(rboWeights(k, p).map(lit): _*)
    def prefix(run: DataFrame, r: String) =
      run.filter(col(rankCol) <= k)
        .select(col(qCol), col(docCol), col(rankCol).cast("int").as(r))
    val common = prefix(runA, "__ra").join(prefix(runB, "__rb"),
        Seq(qCol, docCol))
      .select(col(qCol), col(docCol),
        greatest(col("__ra"), col("__rb")).as("__m"))
    val scored = common.groupBy(col(qCol)).agg(
      aggregate(
        transform(array_sort(collect_list(struct(col("__m"), col(docCol)))),
          x => get(wArr, x("__m") - 1)),
        lit(0.0), (a, x) => a + x).as("__s"),
      count(lit(1)).as("n_common"))
    runA.select(col(qCol)).distinct()
      .join(scored, Seq(qCol), "left")
      .select(col(qCol),
        coalesce((lit(1.0) - lit(p)) * col("__s"), lit(0.0)).as("rbo"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** Kendall rank correlation (τ-a) between two rankings over their COMMON
    * top-k docs — the un-weighted complement of [[rbo]] (RBO asks "how much
    * agreement, weighted toward the top"; τ asks "of the pairs both systems
    * rank, how many do they ORDER the same way"): over the m common docs,
    * `τ = (C − D) / (m(m−1)/2)` with D the discordant pairs. Ranks within
    * a list are distinct, so no tie corrections apply; everything is exact
    * integer arithmetic plus one final division — bit-identical anywhere.
    * The pair scan is in-row over ≤ k common docs (≤ k(k−1)/2 comparisons
    * per query — constant at any corpus size). τ is NULL when m < 2.
    */
  def kendallTau(runA: DataFrame, runB: DataFrame, qCol: String,
                 docCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def prefix(run: DataFrame, r: String) =
      run.filter(col(rankCol) <= k)
        .select(col(qCol), col(docCol), col(rankCol).cast("int").as(r))
    val common = prefix(runA, "__ra").join(prefix(runB, "__rb"),
      Seq(qCol, docCol))
    val packed = common.groupBy(col(qCol)).agg(
      sort_array(collect_list(struct(col("__ra"), col("__rb")))).as("__l"))
    // D = inversions of the rb sequence read in ra order; C = pairs − D
    val m = size(col("__l"))
    val discordant = aggregate(
      flatten(transform(sequence(lit(1), m - 1), i =>
        transform(sequence(i + 1, m), j =>
          when(get(col("__l"), i - 1).getField("__rb") >
            get(col("__l"), j - 1).getField("__rb"), 1).otherwise(0)))),
      lit(0), (a, x) => a + x)
    packed.select(col(qCol),
      m.cast("long").as("n_common"),
      discordant.cast("long").as("discordant"),
      (lit(1L) * m * (m - 1) / 2 - discordant).cast("long").as("concordant"),
      when(m >= 2,
        ((lit(1L) * m * (m - 1) / 2 - lit(2L) * discordant).cast("double")) /
          ((lit(1L) * m * (m - 1) / 2).cast("double"))).as("tau"))
  }

  /** Classifier CALIBRATION (reliability diagram / ECE decomposition) for
    * the integer micro-nat scorers in this library ([[LanguageModel
    * .nbTokenClassifier]] and kin): rows bin by score — a pmod-based
    * INTEGER floor division (`(s − pmod(s, w)) div w`: the numerator is an
    * exact multiple, so truncating `div` IS floor for any sign and any bin
    * width, and `bin · binMicro` is exactly the bin's lower edge; no float
    * ever picks a bin) — and each bin reports its size, positive rate (one
    * exact-int division), model confidence (sigmoid of the bin's mean
    * per-token nats — the only transcendental, one call per BIN from exact
    * sums) and `weighted_gap = (n_b/N)·|acc − conf|`, whose sum over bins
    * IS the expected calibration error. Per-bin scalars only, everything
    * oracle-replayable; the corpus-sized work is one map-side-combinable
    * aggregate.
    */
  def reliabilityTable(df: DataFrame, labelCol: String, scoreMicroCol: String,
                       nTokensCol: String, binMicro: Long): DataFrame = {
    require(binMicro >= 1, s"binMicro must be >= 1, got $binMicro")
    val binned = df.select(
      col(labelCol).cast("boolean").as("__y"),
      col(scoreMicroCol).cast("long").as("__s"),
      col(nTokensCol).cast("long").as("__t"))
      // floor division via pmod: s − pmod(s, w) is the greatest multiple of
      // w that is ≤ s (pmod is always in [0, w)), so the truncating `div`
      // of that exact multiple equals floor(s / w) for negatives too
      .withColumn("bin",
        expr(s"(__s - pmod(__s, ${binMicro}L)) div ${binMicro}L"))
    val agg = binned.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("positives"),
      sum(col("__s")).as("__ss"), sum(col("__t")).as("__st"))
    val total = agg.agg(sum(col("n")).as("__N"))
    val conf = lit(1.0) /
      (lit(1.0) + exp(-((col("__ss").cast("double") / lit(1e6)) /
        col("__st").cast("double"))))
    agg.crossJoin(broadcast(total))
      .select(col("bin"), col("n"), col("positives"),
        (col("positives").cast("double") / col("n").cast("double"))
          .as("pos_rate"),
        round(conf, 6).as("confidence"),
        round((col("n").cast("double") / col("__N").cast("double")) *
          abs(col("positives").cast("double") / col("n").cast("double") -
            conf), 6).as("weighted_gap"))
  }

  /** Cumulative Poisson(1) thresholds over the 28-bit hash space —
    * `t_k = floor(P(X ≤ k) · 2^28)` for k = 0..7: a uniform 28-bit hash
    * `h` maps to multiplicity `Σ_k [h ≥ t_k]`, the deterministic
    * inverse-CDF draw the bootstrap uses (tail above k=8 is ~1e-7 of the
    * hash space — truncated). Driver literals, embedded by the oracle too.
    */
  def poissonThresholds: Seq[Long] = {
    val cdf = (0 to 7).scanLeft(0.0) { (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).foldLeft(1.0)(_ * _)
    }.tail
    cdf.map(c => math.floor(c * (1L << 28)).toLong)
  }

  /** POISSON BOOTSTRAP confidence interval for a per-query metric (nDCG,
    * MRR, RBO, …) — the resampling scheme that works at scale because it
    * never materializes a resample: classic bootstrap multiplicities
    * Binomial(n, 1/n) converge to Poisson(1), so each (query, resample)
    * pair draws its multiplicity INDEPENDENTLY from one hash
    * (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    * Google 2012). Zero RNG state: multiplicity is a pure function of
    * (query, resample index), so the interval is reproducible across
    * engines, reruns and partitionings.
    *
    * Shape: queries × B pairs (the metric frame is queries-sized, B is a
    * constant — the corpus never enters), one resample-keyed aggregate
    * whose weighted mean folds in query-sorted pinned order, then the
    * nearest-rank percentile bounds picked from ONE sorted in-row array of
    * B means. Returns one row: (n_resamples_used, point_mean, ci_lo,
    * ci_hi); resamples whose total multiplicity is 0 drop (deterministic
    * both sides, probability ~e^{-n}).
    */
  def poissonBootstrapCi(perQuery: DataFrame, qCol: String, xCol: String,
                         nResamples: Int, alpha: Double = 0.05): DataFrame = {
    require(nResamples >= 2, s"need >= 2 resamples, got $nResamples")
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    val spark = perQuery.sparkSession
    val b = spark.range(nResamples).select(col("id").as("__b"))
    val h = Curation.hash28(concat(col(qCol).cast("string"), lit(":"),
      col("__b").cast("string")))
    val m = poissonThresholds
      .map(t => when(h >= lit(t), 1).otherwise(0)).reduce(_ + _)
    val weighted = perQuery
      .select(col(qCol), col(xCol).cast("double").as("__x"))
      .crossJoin(broadcast(b))
      .withColumn("__m", m)
    val perB = weighted.groupBy(col("__b")).agg(
      sum(col("__m")).cast("long").as("__n"),
      aggregate(
        array_sort(collect_list(struct(col(qCol), col("__m"), col("__x")))),
        lit(0.0),
        (a, s) => a + s("__m").cast("double") * s("__x")).as("__sx"))
      .filter(col("__n") > 0)
      .select(col("__b"), (col("__sx") / col("__n").cast("double")).as("__mean"))
    val packed = perB.agg(
      sort_array(collect_list(struct(col("__mean"), col("__b")))).as("__ms"))
    val point = perQuery.agg(
      (aggregate(
        array_sort(collect_list(struct(col(qCol), col(xCol).cast("double").as("__x")))),
        lit(0.0), (a, s) => a + s("__x")) /
        count(lit(1)).cast("double")).as("__pt"))
    def rank(q: Double) =
      greatest(ceil(lit(q) * size(col("__ms"))), lit(1L)).cast("int")
    packed.crossJoin(broadcast(point))
      .select(
        size(col("__ms")).cast("long").as("n_resamples_used"),
        round(col("__pt"), 6).as("point_mean"),
        round(get(col("__ms"), rank(alpha / 2) - 1).getField("__mean"), 6)
          .as("ci_lo"),
        round(get(col("__ms"), rank(1.0 - alpha / 2) - 1).getField("__mean"), 6)
          .as("ci_hi"))
  }

  /** PAIRED Poisson-bootstrap comparison of two systems on the same query
    * set — the eval question that actually gets asked ("does the ANN
    * approximation / the new ranker significantly change the metric?"):
    * both systems are resampled with the SAME multiplicities (pairing
    * cancels between-query variance, exactly like a paired t-test), and
    * the interval is on the per-resample difference of weighted means.
    * `ci_excludes_zero` is the α-level significance verdict. Same
    * determinism story as [[poissonBootstrapCi]] — zero RNG, pinned folds,
    * reproducible at any partitioning.
    */
  def pairedBootstrapDiff(perQueryA: DataFrame, perQueryB: DataFrame,
                          qCol: String, xCol: String, nResamples: Int,
                          alpha: Double = 0.05): DataFrame = {
    require(nResamples >= 2, s"need >= 2 resamples, got $nResamples")
    // consumed twice (the resample fan-out and the point estimate) over a
    // lineage of two full metric pipelines (q233: graded metrics over a
    // brute-force run AND an IVF run) — persist the queries-bounded paired
    // frame so each pipeline runs once. Cleanup: session owner drops
    // persisted blocks between queries.
    val paired = perQueryA
      .select(col(qCol), col(xCol).cast("double").as("__xa"))
      .join(perQueryB.select(col(qCol), col(xCol).cast("double").as("__xb")),
        Seq(qCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = perQueryA.sparkSession
    val b = spark.range(nResamples).select(col("id").as("__b"))
    val h = Curation.hash28(concat(col(qCol).cast("string"), lit(":"),
      col("__b").cast("string")))
    val m = poissonThresholds
      .map(t => when(h >= lit(t), 1).otherwise(0)).reduce(_ + _)
    val weighted = paired.crossJoin(broadcast(b)).withColumn("__m", m)
    def foldOf(f: String): Column = aggregate(
      array_sort(collect_list(struct(col(qCol), col("__m"),
        col("__xa"), col("__xb")))),
      lit(0.0), (a, s) => a + s("__m").cast("double") * s(f))
    val perB = weighted.groupBy(col("__b")).agg(
      sum(col("__m")).cast("long").as("__n"),
      foldOf("__xa").as("__sa"), foldOf("__xb").as("__sb"))
      .filter(col("__n") > 0)
      .select(col("__b"),
        (col("__sa") / col("__n").cast("double") -
          col("__sb") / col("__n").cast("double")).as("__d"))
    val packed = perB.agg(
      sort_array(collect_list(struct(col("__d"), col("__b")))).as("__ms"))
    def pointFold(f: String): Column = aggregate(
      array_sort(collect_list(struct(col(qCol), col("__xa"), col("__xb")))),
      lit(0.0), (a, s) => a + s(f))
    val point = paired.agg(
      ((pointFold("__xa") - pointFold("__xb")) /
        count(lit(1)).cast("double")).as("__pt"))
    def rank(q: Double) =
      greatest(ceil(lit(q) * size(col("__ms"))), lit(1L)).cast("int")
    packed.crossJoin(broadcast(point))
      .select(
        size(col("__ms")).cast("long").as("n_resamples_used"),
        round(col("__pt"), 6).as("point_diff"),
        round(get(col("__ms"), rank(alpha / 2) - 1).getField("__d"), 6)
          .as("ci_lo"),
        round(get(col("__ms"), rank(1.0 - alpha / 2) - 1).getField("__d"), 6)
          .as("ci_hi"))
      .withColumn("ci_excludes_zero",
        col("ci_lo") > 0.0 || col("ci_hi") < 0.0)
  }

  /** Cohen's kappa between two boolean raters (weak labelers, annotator
    * pools, model-vs-heuristic): chance-corrected agreement from the four
    * exact confusion counts — `κ = (p_o − p_e) / (1 − p_e)`. One map-side
    * aggregate, a 1-row result, one fixed-shape double expression.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean"); val b = col(bCol).cast("boolean")
    val counts = df.agg(
      count(lit(1)).as("n"),
      sum(when(a && b, 1L).otherwise(0L)).as("n11"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n01"),
      sum(when(!a && !b, 1L).otherwise(0L)).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pa = (col("n11") + col("n10")).cast("double") / nD
    val pb = (col("n11") + col("n01")).cast("double") / nD
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    counts.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Per-class precision / recall / F1 for a multiclass classifier — the
    * standard evaluation surface (one row per class observed as truth OR
    * prediction) a language-id / quality-classifier stage reports before
    * its labels are trusted downstream. Exact integer confusion counts
    * (tp, n_actual, n_predicted — fp/fn are their differences), divisions
    * last: precision NULL when the class is never predicted, recall NULL
    * when it never occurs, F1 NULL unless both are defined and non-zero
    * (never an ANSI divide-by-zero). A NULL label is ITS OWN class — the
    * unlabeled / failed-prediction bucket — with exact counts (all joins
    * and the tp match use null-safe equality; plain `=` would report the
    * NULL row with zeroed counts).
    *
    * Scale shape: three map-side-combined aggregates keyed by class and
    * one class-count-sized outer join — nothing corpus-sized survives the
    * first aggregation, the result is bounded by the label vocabulary.
    */
  def multiclassPrf(df: DataFrame, actualCol: String,
                    predCol: String): DataFrame = {
    // five consumers (two class-vocabulary legs, tp, act, prd) over a frame
    // whose lineage is typically a full classifier run (q261: the trigram
    // classify) — persist the narrow 2-column projection so the upstream
    // pipeline executes once, not five times. Cleanup: session owner drops
    // persisted blocks between queries.
    val pairs = df.select(col(actualCol).cast("string").as("__a"),
      col(predCol).cast("string").as("__p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classes = pairs.select(col("__a").as("clazz"))
      .union(pairs.select(col("__p"))).distinct()
    val tp = pairs.filter(col("__a") <=> col("__p"))
      .groupBy(col("__a").as("clazz")).agg(count(lit(1)).as("__tp"))
    val act = pairs.groupBy(col("__a").as("clazz"))
      .agg(count(lit(1)).as("__na"))
    val prd = pairs.groupBy(col("__p").as("clazz"))
      .agg(count(lit(1)).as("__np"))
    // null-safe equality: a NULL label is ITS OWN class (an unlabeled /
    // failed-prediction bucket) and must carry its true counts — with
    // plain equality every join misses the NULL key and the row reported
    // tp=0/n_actual=0/n_predicted=0 even when NULL rows existed
    // (round-11 advice). NULL <=> NULL joins; counts stay exact.
    val joined = Seq(tp, act, prd).foldLeft(classes) { (acc, d) =>
        acc.join(d, acc("clazz") <=> d("clazz"), "left").drop(d("clazz"))
      }
      .select(col("clazz"),
        coalesce(col("__tp"), lit(0L)).as("tp"),
        coalesce(col("__na"), lit(0L)).as("n_actual"),
        coalesce(col("__np"), lit(0L)).as("n_predicted"))
    val prec = when(col("n_predicted") > 0,
      col("tp").cast("double") / col("n_predicted").cast("double"))
    val rec = when(col("n_actual") > 0,
      col("tp").cast("double") / col("n_actual").cast("double"))
    joined.select(col("clazz"), col("tp"), col("n_actual"),
        col("n_predicted"),
        round(prec, 6).as("precision"), round(rec, 6).as("recall"),
        round(when(prec + rec > 0.0,
          lit(2.0) * prec * rec / (prec + rec)), 6).as("f1"))
  }

  /** Krippendorff's alpha over NOMINAL ratings (Krippendorff 2004,
    * "Content Analysis", ch. 11) — the general inter-rater agreement
    * statistic [[cohenKappa]] cannot express: ANY number of raters, ANY
    * number of categories, and missing ratings (a unit rated once carries
    * no pairable information and is excluded, per the definition).
    *
    * Input is LONG format — one row per rating (unitCol, valueCol); the
    * rater identity never enters the statistic (alpha is defined on the
    * coincidence matrix, which is rater-symmetric). With per-unit value
    * counts n_uc, m_u = Σc n_uc (units with m_u ≥ 2 only), marginals
    * n_c = Σu n_uc, n = Σ m_u:
    *
    *   D_o = Σu [ (m_u² − Σc n_uc²) / (m_u − 1) ] / n
    *   D_e = (n² − Σc n_c²) / (n·(n−1))
    *   α   = 1 − D_o / D_e
    *
    * The per-unit disagreement is kept EXACT as an integer micro-count
    * (`(m_u² − Σ n_uc²)·10⁶ div (m_u−1)` — BIGINT end to end, so the sum
    * is order-independent and the oracle replays it bit-for-bit; the only
    * float operations are the three final divisions). Returns ONE row:
    * (n_units, n_ratings, n_values, dis_micro, d_o, d_e, alpha).
    *
    * Scale shape: two keyed aggregations (unit×value, then unit) plus a
    * category-sized marginal — nothing all-pairs, no per-rater state; the
    * result is category-count-bounded at any corpus size.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valueCol: String): DataFrame = {
    // consumed twice (per-unit pairable stats + the category marginal) over
    // a lineage that is typically several full rater pipelines unioned
    // (q259: label scan + marker heuristic + trained trigram classifier) —
    // persist the (unit × value)-bounded census so the raters run once.
    // Cleanup: session owner drops persisted blocks between queries.
    val uv = df.groupBy(col(unitCol).as("__u"),
        col(valueCol).cast("string").as("__v"))
      .agg(count(lit(1)).as("__nuc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val units = uv.groupBy("__u")
      .agg(sum("__nuc").as("__mu"),
        sum(col("__nuc") * col("__nuc")).as("__sq"))
      .filter(col("__mu") >= 2)
    val gl = units.agg(
      count(lit(1)).as("n_units"),
      sum("__mu").as("n_ratings"),
      sum(expr("((__mu * __mu - __sq) * 1000000L) div (__mu - 1)"))
        .as("dis_micro"))
    val mg = uv.join(units.select("__u"), "__u")
      .groupBy("__v").agg(sum("__nuc").as("__nc"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("__nc") * col("__nc")).as("__msq"))
    val n = col("n_ratings").cast("double")
    val pairsE = (col("n_ratings") * col("n_ratings") - col("__msq"))
      .cast("double")
    // no pairable unit (n = 0) or a single observed category (pairs_e = 0)
    // leaves α undefined — NULL explicitly, never an ANSI divide-by-zero
    gl.crossJoin(mg).select(
      col("n_units"), col("n_ratings"), col("n_values"), col("dis_micro"),
      when(col("n_ratings") >= 2,
        round(col("dis_micro").cast("double") / (lit(1000000.0) * n), 6))
        .as("d_o"),
      when(col("n_ratings") >= 2,
        round(pairsE / (n * (n - lit(1.0))), 6)).as("d_e"),
      when(col("n_ratings") >= 2 && pairsE > 0,
        round(lit(1.0) - col("dis_micro").cast("double") * (n - lit(1.0)) /
          (lit(1000000.0) * pairsE), 6)).as("alpha"))
  }

  /** Per-group ROC-AUC of a score against a boolean label — the
    * threshold-free ranking quality of a quality/toxicity/relevance scorer
    * ([[reliabilityTable]] answers "are the probabilities honest?"; this
    * answers "does the score ORDER positives above negatives at all?").
    * Rank-based (Mann–Whitney) form with exact average-rank tie
    * correction: over the per-(group, score) census with `tot` rows of
    * which `pos` positive and `before` rows strictly below, every row in
    * the bucket shares average rank `before + (tot+1)/2`, kept exact as
    * the HALF-UNIT integer `2·before + tot + 1`, so the positive rank-sum
    * is BIGINT end to end and order-independent; the only float operation
    * is the final division
    * `AUC = (Σ2r_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg)`.
    * NULL (never a divide-by-zero) for a group with no positives or no
    * negatives; rows with a NULL score or label carry no ranking
    * information and are excluded.
    *
    * Scale shape: one map-side-combined aggregate keyed by (group, score),
    * one running-sum window over the DISTINCT-SCORE census (a score is a
    * bounded-precision statistic — the census is radically smaller than
    * the corpus; for a truly continuous score, quantize upstream the way
    * [[reliabilityTable]]'s micro-scores already are), one group-keyed
    * final aggregate. Nothing corpus-sized crosses the window.
    */
  def rocAuc(df: DataFrame, groupCol: String, labelCol: String,
             scoreCol: String): DataFrame = {
    val census = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
        .as("__pos"), count(lit(1)).as("__tot"))
    val w = Window.partitionBy("__g").orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = census.withColumn("__before",
      coalesce(sum(col("__tot")).over(w), lit(0L)))
    val agg = ranked.groupBy("__g").agg(
      sum("__pos").as("n_pos"),
      (sum("__tot") - sum("__pos")).as("n_neg"),
      count(lit(1)).as("n_scores"),
      sum(col("__pos") * (lit(2L) * col("__before") + col("__tot") +
        lit(1L))).as("__r2"))
    agg.select(col("__g").as(groupCol), col("n_pos"), col("n_neg"),
      col("n_scores"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round((col("__r2") - col("n_pos") * (col("n_pos") + 1))
          .cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double")), 6)).as("auc"))
  }

  /** Per-group Spearman rank correlation between two numeric columns —
    * the monotone-association check (does quality rise with length? does
    * the new score agree with the old?) that Pearson overstates under
    * outliers and [[kendallTau]] prices at O(pairs). Average (fractional)
    * ranks with exact ties, held as HALF-UNIT integers (`2r = 2·before +
    * tot + 1`, the [[rocAuc]] device) so every accumulated sum — Σ2rx,
    * Σ2ry, Σ(2rx)², Σ(2ry)², Σ2rx·2ry — is BIGINT and order-independent;
    * ρ is Pearson over the ranks (the uniform ×2 scaling cancels), with
    * the three final arithmetic steps the only float operations. NULL
    * when either variable is constant in the group (zero rank variance).
    *
    * Scale shape: one distinct-value census + running-sum window per
    * variable (census-sized, never corpus-sized), two corpus-sized
    * equi-joins on (group, value) to carry ranks back to rows, one keyed
    * aggregate. The BIGINT cross-products are exact to ~10⁶ rows per
    * group (Σ(2r)² ≤ 4n³); past that the final sums would need DECIMAL
    * widening — the per-group contract of a per-source / per-snapshot
    * monitor, not a whole-corpus single group.
    */
  def spearmanRho(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val rows = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).as("__x"),
        col(yCol).as("__y"))
    def ranks(vCol: String, out: String): DataFrame = {
      val census = rows.groupBy(col("__g"), col(vCol))
        .agg(count(lit(1)).as("__tot"))
      val w = Window.partitionBy("__g").orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      census.withColumn("__before",
          coalesce(sum(col("__tot")).over(w), lit(0L)))
        .select(col("__g"), col(vCol),
          (lit(2L) * col("__before") + col("__tot") + lit(1L)).as(out))
    }
    val withR = rows
      .join(ranks("__x", "__rx"), Seq("__g", "__x"))
      .join(ranks("__y", "__ry"), Seq("__g", "__y"))
    val agg = withR.groupBy("__g").agg(
      count(lit(1)).as("n"),
      sum("__rx").as("__sx"), sum("__ry").as("__sy"),
      sum(col("__rx") * col("__rx")).as("__sxx"),
      sum(col("__ry") * col("__ry")).as("__syy"),
      sum(col("__rx") * col("__ry")).as("__sxy"))
    val nD = col("n").cast("double")
    val cov = nD * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")
    val vx = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val vy = nD * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    agg.select(col("__g").as(groupCol), col("n"),
      when(vx > 0 && vy > 0, round(cov / sqrt(vx * vy), 6)).as("rho"))
  }

  /** Split-conformal calibration threshold (Vovk et al. 2005; the
    * Angelopoulos & Bates 2023 tutorial form): per group, the
    * `⌈(n+1)(1−α)⌉`-th smallest nonconformity score — calibrate once on
    * held-out scores, then "accept iff score ≤ q̂" carries the
    * distribution-free ≥1−α coverage guarantee. The rank is computed in
    * EXACT integer arithmetic from a micro-integer α
    * (`k = ((n+1)·(10⁶−α_micro) + 10⁶−1) div 10⁶`), because the float form
    * `ceil(0.9·(n+1))` is off by one whenever the product lands on an
    * exact integer (0.9·170 = 153.00000000000003 → 154). q̂ is NULL when
    * k > n (too few calibration points for the guarantee at this α —
    * reported, never fabricated).
    *
    * Scale shape: one group-keyed window sort picks the rank-k score
    * (ties in score share the selected VALUE, so row_number is safe), one
    * group census joins the groups whose k exceeds n back in.
    */
  def conformalThreshold(df: DataFrame, groupCol: String, scoreCol: String,
                         alphaMicro: Long = 100000L): DataFrame =
    conformalThresholdFromCensus(
      df.filter(col(scoreCol).isNotNull)
        .groupBy(col(groupCol), col(scoreCol))
        .agg(count(lit(1)).as("__cn")),
      groupCol, scoreCol, "__cn", alphaMicro)

  /** [[conformalThreshold]] from a PRE-AGGREGATED per-(group, score) count
    * census — the entry point for [[graft.sources.ConformalStore]], whose
    * persisted counts merge exactly (BIGINT sums re-associate), so the
    * threshold from an accumulated census is bit-identical to
    * recalibrating on every raw score ever ingested. The rank-k score is
    * the first DISTINCT value whose cumulative count reaches k, so the
    * window walks the distinct-value census (the [[rocAuc]] device), never
    * the corpus — [[conformalThreshold]] itself routes through here, which
    * replaced its per-row rank window with this census-bounded one.
    */
  def conformalThresholdFromCensus(census: DataFrame, groupCol: String,
                                   scoreCol: String, nCol: String,
                                   alphaMicro: Long): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro in (0, 1e6), got $alphaMicro")
    // merge duplicate score rows (an accumulated store census carries one
    // row per batch) and drop NULL scores, the raw route's convention
    val pts = census.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(scoreCol).as("__s"))
      .agg(sum(col(nCol)).as("__tot"))
    // exact integer rank from the per-group count column __n
    val kExpr = expr(
      s"((__n + 1) * ${1000000L - alphaMicro} + 999999) div 1000000")
    val w = Window.partitionBy("__g").orderBy(col("__s"))
    // qhat = the distinct score whose cumulative count first reaches k:
    // cum_before < k <= cum — exactly one census row per group when k <= n
    val hit = pts
      .withColumn("__cum", sum(col("__tot")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__tot")).over(Window.partitionBy("__g")))
      .filter(col("__cum") - col("__tot") < kExpr && kExpr <= col("__cum"))
      .select(col("__g"), col("__s").as("qhat"))
    val base = pts.groupBy("__g").agg(sum(col("__tot")).as("__n"))
      .select(col("__g"), col("__n").as("n"), kExpr.as("k"))
    base.join(hit, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"), col("k"), col("qhat"))
  }

  /** Corpus-level BLEU (Papineni et al. 2002) of a candidate text column
    * against a single reference column — the summarization / translation /
    * paraphrase-distillation quality gate: clipped modified n-gram
    * precisions p₁..p₄ (per-pair clipping: a candidate n-gram counts at
    * most as often as the reference contains it), geometric mean, and the
    * brevity penalty `exp(1 − r/c)` when the candidate corpus is shorter.
    * All counts — clipped matches, candidate n-gram totals, corpus token
    * lengths — are exact BIGINT; the logs/exp at the end are the only
    * float operations. Whitespace tokenization (the library's census
    * convention); returns ONE row `(cand_tokens, ref_tokens, p1..p4,
    * brevity_penalty, bleu)`, BLEU NULL if any pₙ is zero (log undefined —
    * the smoothed variants are a caller-side choice, not silently applied).
    *
    * Each row is one pair: clipping happens inside the row, so a gram
    * never meets another row's grams. That is the per-document clipping of
    * a (document id, n, gram) census whenever the id is unique per row, as
    * it is for every caller (q270 keys on `doc_id`); a caller with several
    * rows per document would clip each row on its own.
    *
    * Scale shape: one map-side pass of the codegen'd
    * [[graft.functions.BleuCounts]] kernel (n = 1..4 and both sides in one
    * hash map per row) and one global sum of its ten BIGINT counters — no
    * gram ever leaves its row, so nothing shuffles but the single-partition
    * partial sums, and nothing is persisted. The sums are the exact
    * integers the old melted (id, n, gram) census aggregated, so the output
    * is bit-identical to it. q270 at sf0.1, 4 cores, best of 3 warm reps
    * (`graft.tools.Probe … time 3`): 7.40 s, 9 jobs and 22.12 MB shuffled
    * for the census; 0.81 s, 3 jobs and 0.00 MB for the kernel.
    */
  def corpusBleu(pairs: DataFrame, candCol: String, refCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val maxN = BleuCounts.MaxN
    def k(field: String): Column = col(s"__k.$field")
    val sums = pairs
      .select(column(BleuCounts(expression(col(candCol)), expression(col(refCol)))).as("__k"))
      .agg(sum(k("cand_tokens")).as("cand_tokens"),
        sum(k("ref_tokens")).as("ref_tokens") +:
          (1 to maxN).flatMap(n =>
            Seq(sum(k(s"m$n")).as(s"${n}_m"), sum(k(s"t$n")).as(s"${n}_t"))): _*)
    // the geometric mean folds in pinned n-order (cf. the discounts contract)
    def p(n: Int): Column =
      when(col(s"${n}_t") > 0,
        col(s"${n}_m").cast("double") / col(s"${n}_t").cast("double"))
    val c = col("cand_tokens").cast("double")
    val r = col("ref_tokens").cast("double")
    val bp = when(c >= r, lit(1.0)).otherwise(exp(lit(1.0) - r / c))
    val logSum = (1 to maxN).map(n => log(p(n))).reduce(_ + _)
    sums.select(
      col("cand_tokens"), col("ref_tokens"),
      round(p(1), 6).as("p1"), round(p(2), 6).as("p2"),
      round(p(3), 6).as("p3"), round(p(4), 6).as("p4"),
      round(bp, 6).as("brevity_penalty"),
      when((1 to maxN).map(n => p(n) > 0.0).reduce(_ && _),
        round(bp * exp(logSum / lit(maxN.toDouble)), 6)).as("bleu"))
  }
}
