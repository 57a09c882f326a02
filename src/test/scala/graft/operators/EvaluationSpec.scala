package graft.operators

import graft.SparkSpec
import graft.functions.BleuCounts
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  test("gradedMetrics: hand-computed nDCG/MRR/precision on a known run") {
    // q1: retrieved ranks 1..3 with grades (0, 3, 1); judged set grades
    // (3, 1, 2) — ideal@3 = (3, 2, 1)
    val run = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("q", "doc", "rank")
    val qrels = Seq((1L, 11L, 3), (1L, 12L, 1), (1L, 99L, 2))
      .toDF("q", "doc", "rel")
    val d = Evaluation.discounts(3)
    val m = Evaluation.gradedMetrics(run, qrels, "q", "doc", "rank", "rel", 3)
      .collect().head
    val dcg = 0.0 * d(0) + 7.0 * d(1) + 1.0 * d(2)
    val idcg = 7.0 * d(0) + 3.0 * d(1) + 1.0 * d(2)
    assert(m.getDouble(1) == dcg / idcg) // exact: same literals, same fold
    assert(m.getDouble(2) == 0.5) // first relevant at rank 2
    assert(m.getLong(3) == 2L)
    assert(m.getDouble(4) == 2.0 / 3.0)
  }

  test("gradedMetrics: perfect ranking → ndcg 1.0; no positives → NULL ndcg, 0 mrr") {
    val run = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("q", "doc", "rank")
    val qrels = Seq((1L, 10L, 3), (1L, 11L, 1)).toDF("q", "doc", "rel")
    val rows = Evaluation.gradedMetrics(run, qrels, "q", "doc", "rank",
      "rel", 2).orderBy("q").collect()
    assert(rows(0).getDouble(1) == 1.0) // retrieved IS the ideal ordering
    assert(rows(0).getDouble(2) == 1.0)
    assert(rows(1).isNullAt(1)) // q2 judged by nothing → IDCG side absent
    assert(rows(1).getDouble(2) == 0.0 && rows(1).getLong(3) == 0L)
  }

  test("gradedMetrics: swapping two grades strictly lowers ndcg (order sensitivity)") {
    val qrels = Seq((1L, 10L, 3), (1L, 11L, 1)).toDF("q", "doc", "rel")
    val good = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("q", "doc", "rank")
    val bad = Seq((1L, 11L, 1), (1L, 10L, 2)).toDF("q", "doc", "rank")
    def ndcg(run: org.apache.spark.sql.DataFrame): Double =
      Evaluation.gradedMetrics(run, qrels, "q", "doc", "rank", "rel", 2)
        .collect().head.getDouble(1)
    assert(ndcg(good) == 1.0 && ndcg(bad) < 1.0)
  }

  test("rbo: identical rankings → Σ(1-p)p^(d-1), disjoint → 0, per-doc form ≡ definition") {
    val k = 4; val p = 0.9
    def run(docs: Seq[Long]) =
      docs.zipWithIndex.map { case (d, i) => (1L, d, i + 1) }
        .toDF("q", "doc", "rank")
    def rboOf(a: Seq[Long], b: Seq[Long]): Double =
      Evaluation.rbo(run(a), run(b), "q", "doc", "rank", k, p)
        .collect().head.getDouble(1)
    // identical lists: overlap(d) = d, so rbo = (1-p)·Σ p^(d-1) — compute
    // the expectation through the SAME weight table the operator embeds
    // (an independent Σ p^(d-1) reassociates differently at the last ulp)
    val w = Evaluation.rboWeights(k, p)
    val same = (1 to k).map(m => w(m - 1)).foldLeft(0.0)(_ + _) * (1.0 - p)
    assert(rboOf(Seq(1, 2, 3, 4), Seq(1, 2, 3, 4)) == same)
    assert(rboOf(Seq(1, 2, 3, 4), Seq(9, 8, 7, 6)) == 0.0)
    // definition cross-check: rbo = (1-p) Σ_d p^(d-1)·overlap(d)/d
    val (a, b) = (Seq(1L, 2L, 3L, 4L), Seq(2L, 1L, 9L, 3L))
    val byDef = (1 to k).map { d =>
      math.pow(p, d - 1) * a.take(d).toSet.intersect(b.take(d).toSet).size / d
    }.sum * (1 - p)
    assert(math.abs(rboOf(a, b) - byDef) < 1e-12)
    // top-weighting: agreeing at the head beats agreeing at the tail
    assert(rboOf(Seq(1, 2, 3, 4), Seq(1, 9, 8, 7)) >
      rboOf(Seq(1, 2, 3, 4), Seq(9, 8, 7, 4)))
  }

  test("poissonBootstrapCi: deterministic, ordered bounds, collapses on a constant metric") {
    val metric = (1L to 40L).map(q => (q, 0.5 + (q % 7) * 0.05))
      .toDF("q", "x")
    val ci = Evaluation.poissonBootstrapCi(metric, "q", "x", nResamples = 200)
      .collect().head
    val (n, pt, lo, hi) = (ci.getLong(0), ci.getDouble(1),
      ci.getDouble(2), ci.getDouble(3))
    assert(n >= 199L) // zero-weight resamples are ~e^-40 — none expected
    assert(lo <= hi && lo <= pt && pt <= hi,
      s"point $pt outside [$lo, $hi]")
    assert(hi - lo > 0.0 && hi - lo < 0.3, s"implausible width ${hi - lo}")
    // bit-reproducible under any partitioning
    val again = Evaluation.poissonBootstrapCi(metric.repartition(13),
      "q", "x", 200).collect().head
    assert(again.toSeq == ci.toSeq)
    // a constant metric has zero sampling variance — the interval collapses
    val const = (1L to 40L).map(q => (q, 0.25)).toDF("q", "x")
    val c = Evaluation.poissonBootstrapCi(const, "q", "x", 200)
      .collect().head
    assert(c.getDouble(1) == 0.25 && c.getDouble(2) == 0.25 &&
      c.getDouble(3) == 0.25)
    // multiplicities really are ~Poisson(1): mean weight per resample ≈ n
    import org.apache.spark.sql.functions.{concat => cc}
    val h = Curation.hash28(cc(col("q").cast("string"), lit(":"),
      col("__b").cast("string")))
    val m = Evaluation.poissonThresholds
      .map(t => when(h >= lit(t), 1).otherwise(0)).reduce(_ + _)
    val meanM = metric.crossJoin(broadcast(
        spark.range(200).select(col("id").as("__b"))))
      .select(m.cast("double").as("m"))
      .agg(org.apache.spark.sql.functions.avg(col("m")))
      .head.getDouble(0)
    assert(math.abs(meanM - 1.0) < 0.05, s"multiplicity mean $meanM far from 1")
  }

  test("kendallTau: identical order → 1, reversed → -1, hand-counted inversions exact") {
    def run(docs: Seq[Long]) =
      docs.zipWithIndex.map { case (d, i) => (1L, d, i + 1) }
        .toDF("q", "doc", "rank")
    def tau(a: Seq[Long], b: Seq[Long]) =
      Evaluation.kendallTau(run(a), run(b), "q", "doc", "rank", 10)
        .collect().head
    assert(tau(Seq(1, 2, 3, 4), Seq(1, 2, 3, 4)).getAs[Double]("tau") == 1.0)
    assert(tau(Seq(1, 2, 3, 4), Seq(4, 3, 2, 1)).getAs[Double]("tau") == -1.0)
    // b orders the common docs (1,2,3,4 by a) as ranks (2,1,4,3): exactly
    // two inversions of six pairs → τ = (4 − 2)/6 = 1/3
    val r = tau(Seq(1L, 2L, 3L, 4L), Seq(2L, 1L, 4L, 3L))
    assert(r.getAs[Long]("n_common") == 4L)
    assert(r.getAs[Long]("discordant") == 2L &&
      r.getAs[Long]("concordant") == 4L)
    assert(r.getAs[Double]("tau") == (4.0 - 2.0) / 6.0)
    // partial overlap: only common docs count; one common doc → NULL τ
    val one = tau(Seq(1L, 2L), Seq(2L, 9L))
    assert(one.getAs[Long]("n_common") == 1L && one.isNullAt(4))
  }

  test("pairedBootstrapDiff: identical systems → zero interval; a real gap is significant") {
    val a = (1L to 40L).map(q => (q, 0.8 + (q % 5) * 0.02)).toDF("q", "x")
    val same = Evaluation.pairedBootstrapDiff(a, a, "q", "x", 200)
      .collect().head
    assert(same.getAs[Double]("point_diff") == 0.0)
    assert(same.getAs[Double]("ci_lo") == 0.0 &&
      same.getAs[Double]("ci_hi") == 0.0)
    assert(!same.getAs[Boolean]("ci_excludes_zero"))
    // B is uniformly 0.1 worse — the pairing makes that exactly detectable
    val b = (1L to 40L).map(q => (q, 0.7 + (q % 5) * 0.02)).toDF("q", "x")
    val diff = Evaluation.pairedBootstrapDiff(a, b, "q", "x", 200)
      .collect().head
    assert(math.abs(diff.getAs[Double]("point_diff") - 0.1) < 1e-9)
    assert(diff.getAs[Boolean]("ci_excludes_zero"))
    assert(diff.getAs[Double]("ci_lo") > 0.05)
    // and the interval is bit-stable under repartitioning
    val again = Evaluation.pairedBootstrapDiff(a.repartition(9), b, "q",
      "x", 200).collect().head
    assert(again.toSeq == diff.toSeq)
  }

  test("cohenKappa: perfect = 1, systematic disagreement < 0, hand value exact") {
    def kappa(pairs: Seq[(Boolean, Boolean)]): Double =
      Evaluation.cohenKappa(pairs.toDF("a", "b"), "a", "b")
        .collect().head.getAs[Double]("kappa")
    val perfect = Seq.fill(10)((true, true)) ++ Seq.fill(10)((false, false))
    assert(kappa(perfect) == 1.0)
    val opposite = Seq.fill(10)((true, false)) ++ Seq.fill(10)((false, true))
    assert(kappa(opposite) < 0.0)
    // classic textbook table: n11=20 n10=5 n01=10 n00=15 → κ = 0.4
    val mixed = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false))
    val r = Evaluation.cohenKappa(mixed.toDF("a", "b"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n11") == 20L && r.getAs[Long]("n00") == 15L)
    // po = 0.7, pe = 0.5*0.6 + 0.5*0.4 = 0.5 → κ = 0.2/0.5 = 0.4
    assert(r.getAs[Double]("po") == 0.7 && r.getAs[Double]("pe") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.4)
  }

  test("reliabilityTable: integer binning, exact rates, gap sums to ECE") {
    // 3 docs at ~+1 nat/token (all positive), 3 at ~-1 (one positive)
    val df = Seq(
      (true, 1000000L, 1L), (true, 1100000L, 1L), (true, 900000L, 1L),
      (false, -1000000L, 1L), (false, -1100000L, 1L), (true, -900000L, 1L))
      .toDF("y", "s", "t")
    val rows = Evaluation.reliabilityTable(df, "y", "s", "t",
      binMicro = 1000000L).orderBy("bin").collect()
    assert(rows.length >= 2)
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n == 6L)
    rows.foreach { r =>
      val rate = r.getAs[Double]("pos_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      val conf = r.getAs[Double]("confidence")
      assert(conf > 0.0 && conf < 1.0)
      // the positive-score bins must be confident, the negative ones not
      if (r.getAs[Long]("bin") >= 0) assert(conf > 0.5) else assert(conf < 0.5)
    }
    // ECE = Σ weighted_gap is bounded by the worst per-bin gap
    val ece = rows.map(_.getAs[Double]("weighted_gap")).sum
    assert(ece >= 0.0 && ece <= 1.0)
  }

  test("reliabilityTable: bin label times width IS the bin's lower edge, any width, any sign") {
    // width 7 does NOT divide any power of two — the offset-shift scheme
    // this replaced put every edge off by (2^40 mod 7); pmod-floor doesn't
    val scores = Seq(-15L, -8L, -7L, -1L, 0L, 6L, 7L, 20L)
    val df = scores.map(s => (s % 2 == 0, s, 1L)).toDF("y", "s", "t")
    val rows = Evaluation.reliabilityTable(df, "y", "s", "t", binMicro = 7L)
      .orderBy("bin").collect()
    val gotBins = rows.map(_.getAs[Long]("bin")).toSeq
    assert(gotBins == scores.map(s => Math.floorDiv(s, 7L)).distinct.sorted)
    // every score falls inside [bin·w, (bin+1)·w) of its floor bin
    scores.foreach { s =>
      val b = Math.floorDiv(s, 7L)
      assert(b * 7L <= s && s < (b + 1) * 7L)
    }
  }

  test("krippendorffAlpha: hand-computed nominal case, single-rating unit excluded") {
    // u1 (a,a), u2 (a,b), u3 (b,b), u4 (b,b), u5 (c) — u5 has one rating
    // and is unpairable. Per-unit disagreement (m²−Σn²)/(m−1): 0,2,0,0.
    // n = 8, marginals a=3 b=5 → pairs_e = 64−34 = 30.
    // α = 1 − (n−1)·Σdis/pairs_e = 1 − 7·2/30 = 0.533333…
    val r = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "b"), (3L, "b"), (4L, "b"), (4L, "b"), (5L, "c"))
      .toDF("u", "v")
    val row = Evaluation.krippendorffAlpha(r, "u", "v").collect().head
    assert(row.getLong(0) == 4L, "u5 excluded from pairable units")
    assert(row.getLong(1) == 8L)
    assert(row.getLong(2) == 2L, "'c' never appears in a pairable unit")
    assert(row.getLong(3) == 2000000L)
    assert(row.getDouble(4) == 0.25)       // D_o = 2/8
    assert(row.getDouble(5) == 0.535714)   // D_e = 30/56
    assert(row.getDouble(6) == 0.533333)
  }

  test("multiclassPrf: hand confusion counts; never-predicted/never-actual → NULLs") {
    // actual: a a b c   predicted: a b b d
    //   a: tp 1, n_act 2, n_pred 1 → P 1.0, R 0.5, F1 0.666667
    //   b: tp 1, n_act 1, n_pred 2 → P 0.5, R 1.0, F1 0.666667
    //   c: tp 0, n_act 1, n_pred 0 → P NULL, R 0.0, F1 NULL
    //   d: tp 0, n_act 0, n_pred 1 → P 0.0, R NULL, F1 NULL
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("c", "d"))
      .toDF("actual", "pred")
    val rows = Evaluation.multiclassPrf(df, "actual", "pred")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("a", "b", "c", "d"))
    assert(rows("a").getLong(1) == 1L && rows("a").getDouble(4) == 1.0 &&
      rows("a").getDouble(5) == 0.5 && rows("a").getDouble(6) == 0.666667)
    assert(rows("b").getDouble(4) == 0.5 && rows("b").getDouble(5) == 1.0 &&
      rows("b").getDouble(6) == 0.666667)
    assert(rows("c").isNullAt(4) && rows("c").getDouble(5) == 0.0 &&
      rows("c").isNullAt(6))
    assert(rows("d").getDouble(4) == 0.0 && rows("d").isNullAt(5) &&
      rows("d").isNullAt(6))
  }

  test("multiclassPrf: NULL labels form their own class with exact counts") {
    // actual: a NULL NULL b   predicted: a NULL b NULL
    //   NULL: tp 1 (both-null row), n_act 2, n_pred 2 → P 0.5, R 0.5
    // (round-11 advice: plain-equality joins reported the NULL class with
    // zeroed counts; null-safe equality carries the true confusion counts)
    val df = Seq(
      (Some("a"), Some("a")), (None, None),
      (None, Some("b")), (Some("b"), None)
    ).toDF("actual", "pred")
    val rows = Evaluation.multiclassPrf(df, "actual", "pred")
      .collect().map(r => Option(r.getString(0)) -> r).toMap
    assert(rows.keySet == Set(Some("a"), Some("b"), None))
    val nul = rows(None)
    assert(nul.getLong(1) == 1L && nul.getLong(2) == 2L &&
      nul.getLong(3) == 2L && nul.getDouble(4) == 0.5 &&
      nul.getDouble(5) == 0.5)
    assert(rows(Some("a")).getLong(1) == 1L &&
      rows(Some("a")).getDouble(4) == 1.0)
    assert(rows(Some("b")).getLong(1) == 0L)
  }

  test("krippendorffAlpha: perfect agreement → 1, pure 2-value disagreement → 0") {
    val perfect = Seq((1L, "x"), (1L, "x"), (1L, "x"), (2L, "y"), (2L, "y"))
      .toDF("u", "v")
    assert(Evaluation.krippendorffAlpha(perfect, "u", "v")
      .collect().head.getDouble(6) == 1.0)
    // one unit, ratings (a, b): D_o = 1, D_e = (4−2)/(2·1) = 1 → α = 0
    val disagree = Seq((1L, "a"), (1L, "b")).toDF("u", "v")
    assert(Evaluation.krippendorffAlpha(disagree, "u", "v")
      .collect().head.getDouble(6) == 0.0)
  }

  test("rocAuc: perfect separation → 1, reversed → 0, all-tied → 0.5") {
    val perfect = Seq(("g", true, 10), ("g", true, 9), ("g", false, 2),
      ("g", false, 1)).toDF("grp", "y", "s")
    assert(Evaluation.rocAuc(perfect, "grp", "y", "s")
      .collect().head.getDouble(4) == 1.0)
    val reversed = Seq(("g", false, 10), ("g", false, 9), ("g", true, 2),
      ("g", true, 1)).toDF("grp", "y", "s")
    assert(Evaluation.rocAuc(reversed, "grp", "y", "s")
      .collect().head.getDouble(4) == 0.0)
    // one score bucket: the tie correction alone must land exactly 0.5
    val tied = Seq(("g", true, 5), ("g", true, 5), ("g", false, 5),
      ("g", false, 5), ("g", false, 5)).toDF("grp", "y", "s")
    assert(Evaluation.rocAuc(tied, "grp", "y", "s")
      .collect().head.getDouble(4) == 0.5)
  }

  test("rocAuc: hand case with interleaving and a tie; degenerate group NULL; null rows excluded") {
    // pos scores (3, 1), neg (2): ranks 1,2,3 → pos rank-sum 4 → AUC 0.5
    val hand = Seq(("g", true, 3), ("g", true, 1), ("g", false, 2))
      .toDF("grp", "y", "s")
    val r = Evaluation.rocAuc(hand, "grp", "y", "s").collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L && r.getLong(3) == 3L)
    assert(r.getDouble(4) == 0.5)
    // all-positive group: AUC undefined → NULL, not a divide-by-zero
    val onlyPos = Seq(("g", true, 1), ("g", true, 2)).toDF("grp", "y", "s")
    assert(Evaluation.rocAuc(onlyPos, "grp", "y", "s")
      .collect().head.isNullAt(4))
    // NULL score / label rows carry no ranking information
    val withNulls = Seq(("g", Some(true), Some(3)), ("g", Some(true), None),
      ("g", None, Some(9)), ("g", Some(false), Some(2)))
      .toDF("grp", "y", "s")
    val rn = Evaluation.rocAuc(withNulls, "grp", "y", "s").collect().head
    assert(rn.getLong(1) == 1L && rn.getLong(2) == 1L &&
      rn.getDouble(4) == 1.0)
  }

  test("spearmanRho: monotone → 1, reversed → -1, hand-computed ties, constant → NULL") {
    // nonlinear but monotone: rank correlation saturates where Pearson
    // would not
    val mono = Seq(("g", 1, 1), ("g", 2, 8), ("g", 3, 27), ("g", 4, 999))
      .toDF("grp", "x", "y")
    assert(Evaluation.spearmanRho(mono, "grp", "x", "y")
      .collect().head.getDouble(2) == 1.0)
    val rev = Seq(("g", 1, 9), ("g", 2, 5), ("g", 3, 1)).toDF("grp", "x", "y")
    assert(Evaluation.spearmanRho(rev, "grp", "x", "y")
      .collect().head.getDouble(2) == -1.0)
    // x = (1,2,2,3) → fractional ranks (1, 2.5, 2.5, 4); y = (1,2,3,4)
    val ties = Seq(("g", 1, 1), ("g", 2, 2), ("g", 2, 3), ("g", 3, 4))
      .toDF("grp", "x", "y")
    val rx = Seq(2.0, 5.0, 5.0, 8.0); val ry = Seq(2.0, 4.0, 6.0, 8.0)
    val n = 4.0
    val cov = n * rx.zip(ry).map(t => t._1 * t._2).sum - rx.sum * ry.sum
    val vx = n * rx.map(v => v * v).sum - rx.sum * rx.sum
    val vy = n * ry.map(v => v * v).sum - ry.sum * ry.sum
    val expected = BigDecimal(cov / math.sqrt(vx * vy))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(Evaluation.spearmanRho(ties, "grp", "x", "y")
      .collect().head.getDouble(2) == expected)
    val const = Seq(("g", 7, 1), ("g", 7, 2)).toDF("grp", "x", "y")
    assert(Evaluation.spearmanRho(const, "grp", "x", "y")
      .collect().head.isNullAt(2))
  }

  test("corpusBleu: identity → 1; clipping caps repeated grams; brevity penalty exact") {
    val self = Seq((1L, "a b c d e f", "a b c d e f")).toDF("id", "c", "r")
    val s = Evaluation.corpusBleu(self, "c", "r").collect().head
    assert(s.getDouble(6) == 1.0 && s.getDouble(7) == 1.0)
    // candidate "the the the the" vs reference "the cat": clipped unigram
    // count = min(4, 1) = 1 → p1 = 0.25; no shared bigram → p2 = 0 → BLEU
    // NULL (never log(0))
    val clip = Seq((1L, "the the the the", "the cat x y z")).toDF("id", "c", "r")
    val c = Evaluation.corpusBleu(clip, "c", "r").collect().head
    assert(c.getDouble(2) == 0.25 && c.getDouble(3) == 0.0)
    assert(c.isNullAt(7))
    // strict-prefix candidate: every p_n = 1, BLEU = bp = exp(1 - 6/5)
    val short = Seq((1L, "a b c d e", "a b c d e f")).toDF("id", "c", "r")
    val sh = Evaluation.corpusBleu(short, "c", "r").collect().head
    val bp = BigDecimal(math.exp(1.0 - 6.0 / 5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(sh.getDouble(6) == bp && sh.getDouble(7) == bp)
    assert(sh.getLong(0) == 5L && sh.getLong(1) == 6L)
  }

  test("conformalThreshold: rank-k selection, the float-ceil trap, and the k > n corner") {
    // n = 9, α = 0.1: k = ⌈10·0.9⌉ = 9 → q̂ = the maximum
    val nine = (1 to 9).map(i => ("g", i)).toDF("grp", "s")
    val r9 = Evaluation.conformalThreshold(nine, "grp", "s").collect().head
    assert(r9.getLong(1) == 9L && r9.getLong(2) == 9L && r9.getInt(3) == 9)
    // n = 169, α = 0.1: exact k = ⌈0.9·170⌉ = 153 — the float form
    // ceil(0.9·170) = ceil(153.00000000000003) = 154 is off by one; the
    // integer micro-α arithmetic must land 153
    val big = (1 to 169).map(i => ("g", i)).toDF("grp", "s")
    val rb = Evaluation.conformalThreshold(big, "grp", "s").collect().head
    assert(rb.getLong(2) == 153L && rb.getInt(3) == 153)
    // α = 0.05, n = 9: k = 10 > n → q̂ NULL (guarantee unattainable)
    val r5 = Evaluation.conformalThreshold(nine, "grp", "s",
      alphaMicro = 50000L).collect().head
    assert(r5.getLong(2) == 10L && r5.isNullAt(3))
  }

  test("corpusBleu: clipping is PER PAIR — a gram in another doc's reference never matches") {
    // doc 1's candidate gram "x" appears only in doc 2's reference; pair
    // clipping must score p1 = 0 for doc 1's gram
    val pairs = Seq((1L, "x", "a"), (2L, "a", "x")).toDF("id", "c", "r")
    val r = Evaluation.corpusBleu(pairs, "c", "r").collect().head
    assert(r.getDouble(2) == 0.0) // 0 of 2 unigrams match within-pair
  }

  /** The (id, n, gram) census formulation corpusBleu replaced, kept as the
    * reference: candidate and reference melt into one side-tagged gram
    * stream, the census clips per (id, n, gram), the lengths are a
    * separate aggregate.
    */
  private def censusBleu(pairs: DataFrame, idCol: String, candCol: String,
                         refCol: String): DataFrame = {
    val maxN = 4
    val census = pairs
      .select(col(idCol).as("__id"),
        explode(array(
          struct(col(candCol).as("__text"), lit(1L).as("__c")),
          struct(col(refCol).as("__text"), lit(0L).as("__c")))).as("__m"))
      .select(col("__id"), split(col("__m.__text"), " ").as("__t"),
        col("__m.__c").as("__c"))
      .select(col("__id"), col("__t"), col("__c"),
        explode(sequence(lit(1), lit(maxN))).as("__n"))
      .filter(size(col("__t")) >= col("__n"))
      .select(col("__id"), col("__n"), col("__c"),
        explode(expr(
          "transform(sequence(0, size(__t) - __n), " +
            "i -> array_join(slice(__t, i + 1, __n), ' '))")).as("__gram"))
      .groupBy("__id", "__n", "__gram")
      .agg(sum(col("__c")).as("__c_cand"),
        sum(lit(1L) - col("__c")).as("__c_ref"))
    val clipped = census
      .groupBy("__n").agg(
        sum(least(col("__c_cand"), col("__c_ref"))).as("__match"),
        sum(col("__c_cand")).as("__total"))
    val lens = pairs.agg(
      sum(size(split(col(candCol), " ")).cast("long")).as("cand_tokens"),
      sum(size(split(col(refCol), " ")).cast("long")).as("ref_tokens"))
    val byN = clipped.groupBy()
      .pivot("__n", (1 to maxN).map(n => n: Any))
      .agg(first(col("__match")).as("m"), first(col("__total")).as("t"))
    def p(n: Int): Column =
      when(col(s"${n}_t") > 0,
        col(s"${n}_m").cast("double") / col(s"${n}_t").cast("double"))
    val c = col("cand_tokens").cast("double")
    val r = col("ref_tokens").cast("double")
    val bp = when(c >= r, lit(1.0)).otherwise(exp(lit(1.0) - r / c))
    val logSum = (1 to maxN).map(n => log(p(n))).reduce(_ + _)
    lens.crossJoin(byN).select(
      col("cand_tokens"), col("ref_tokens"),
      round(p(1), 6).as("p1"), round(p(2), 6).as("p2"),
      round(p(3), 6).as("p3"), round(p(4), 6).as("p4"),
      round(bp, 6).as("brevity_penalty"),
      when((1 to maxN).map(n => p(n) > 0.0).reduce(_ && _),
        round(bp * exp(logSum / lit(maxN.toDouble)), 6)).as("bleu"))
  }

  /** Field-by-field equality, doubles compared by their bits. */
  private def assertSameBits(a: Row, b: Row, what: String): Unit = {
    assert(a.length == b.length, what)
    (0 until a.length).foreach { i =>
      val same = (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          java.lang.Double.doubleToRawLongBits(x) ==
            java.lang.Double.doubleToRawLongBits(y)
        case (x, y) => x == y
      }
      assert(same, s"$what: field ${a.schema.fieldNames(i)}: $a vs $b")
    }
  }

  private def assertMatchesCensus(pairs: Seq[(Long, String, String)],
                                  what: String): Unit = {
    val df = pairs.toDF("id", "c", "r")
    assertSameBits(Evaluation.corpusBleu(df, "c", "r").collect().head,
      censusBleu(df, "id", "c", "r").collect().head, what)
  }

  test("corpusBleu: the per-row kernel returns the census row bit for bit") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "the", "cat", "é", "ß", "日本", "")
    def text(): String =
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    assertMatchesCensus((1L to 300L).map(i => (i, text(), text())),
      "seeded random corpus")
    assertMatchesCensus(Seq((1L, "the the the cat the", "the cat the cat"),
      (2L, "a a a a", "a a")), "repeated grams")
    assertMatchesCensus(Seq((1L, "a b", "a b c"), (2L, "x", "x y"),
      (3L, "a b c", "a")), "texts shorter than n")
    assertMatchesCensus(Seq((1L, "", ""), (2L, "a b c d e", ""),
      (3L, "", "a b")), "empty strings")
    assertMatchesCensus(Seq((1L, " a b", "a b "), (2L, "a  b c", "a  b  c"),
      (3L, "  ", " "), (4L, " a  b ", " a  b ")), "leading, trailing, double spaces")
    assertMatchesCensus(Seq((1L, "café naïve 日本 語", "café 日本 語 naïve"),
      (2L, "ß ß ø", "ø ß")), "multi-byte UTF-8 tokens")
    assertMatchesCensus(Seq((1L, null, "a b c"), (2L, "a b c d", "a b c d")),
      "NULL candidate")
    assertMatchesCensus(Seq((1L, "a b c", null), (2L, "a b c d", "a b c d")),
      "NULL reference")
    assertMatchesCensus(Seq((1L, null, "a b c")), "only a NULL candidate")
    assertMatchesCensus(Seq((1L, "a b c", null)), "only a NULL reference")
  }

  test("BleuCounts: interpreted eval and codegen return the same counters") {
    val e = BleuCounts(BoundReference(0, StringType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    def u(s: String) = if (s == null) null else UTF8String.fromString(s)
    def longs(r: InternalRow): Seq[Option[Long]] =
      (0 until BleuCounts.schema.size).map(i =>
        if (r.isNullAt(i)) None else Some(r.getLong(i)))
    val cases = Seq(("a b a", "a a b"), ("the the the the", "the cat"),
      ("", ""), (" a  b ", "a b"), ("café 日本 café", "日本 café"),
      (null, "a b"), ("a b", null), (null, null), ("a b c d e", "a b c d e"))
    cases.foreach { case (c, r) =>
      val in = InternalRow(u(c), u(r))
      val interp = longs(e.eval(in).asInstanceOf[InternalRow])
      assert(interp == longs(gen(in).getStruct(0, BleuCounts.schema.size)),
        s"eval/codegen disagree on ($c, $r)")
    }
    // hand-counted: unigrams min(2,2) + min(1,1) = 3 of 3; bigrams
    // {a b, b a} vs {a a, a b} share one; the trigrams differ
    val abc = longs(e.eval(InternalRow(u("a b a"), u("a a b"))).asInstanceOf[InternalRow])
    assert(abc == Seq(3L, 1L, 0L, 0L, 3L, 2L, 1L, 0L, 3L, 3L).map(Some(_)))
    val nul = longs(e.eval(InternalRow(null, u("a b"))).asInstanceOf[InternalRow])
    assert(nul == Seq.fill(8)(Some(0L)) ++ Seq(None, Some(2L)))
  }

  test("corpusBleu persists nothing: no persistent RDD, no SQL-cache entry") {
    // the session is shared across suites: check the RDDs this call registered
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val before = persisted
    val pairs = Seq((1L, "a b c d", "a b c e"), (2L, "x y", "x y z"))
      .toDF("id", "c", "r")
    val out = Evaluation.corpusBleu(pairs, "c", "r")
    out.collect()
    assert((persisted -- before).isEmpty)
    assert(!out.queryExecution.executedPlan.toString.contains("InMemory"),
      out.queryExecution.executedPlan.toString)
    assert(pairs.storageLevel == StorageLevel.NONE)
    assert(pairs.select("c", "r").storageLevel == StorageLevel.NONE)
  }
}
