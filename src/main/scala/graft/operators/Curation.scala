package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Dataset-curation operators for the training-data pipeline scope
  * (BASELINE.json extension surface): deterministic sampling, stratified
  * sampling, train/val/test split assignment, and PII redaction. All pure
  * Catalyst expressions over a content-derived integer hash — no RNG state,
  * so every operator is reproducible across runs, engines, and retries
  * (a task retry under speculative execution must not re-deal the sample),
  * and exactly replayable by an ANSI SQL oracle.
  */
object Curation {

  /** Deterministic per-key hash in [0, 2^28): first 7 hex digits of md5 —
    * the engine-portable integer-hash idiom proven by the MinHash oracle
    * ([[TextDedup.shingleBaseHash]]). Integer output keeps sampling
    * thresholds exact (no float rounding at the cut line).
    */
  val HashSpace: Long = 1L << 28
  def hash28(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 7), 16, 10).cast("long")

  /** Bernoulli-style deterministic sample: keep a row iff its key-hash falls
    * below `fraction` of the hash space. Narrow (filter-only — no shuffle,
    * fully pushdown-friendly), exact-in-expectation, and stable: the same key
    * is in or out of the sample at ANY scale factor and on every rerun —
    * unlike `df.sample()`, whose outcome depends on partitioning.
    */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(hash28(col(keyCol)) < lit((fraction * HashSpace).toLong))

  /** Importance-weighted deterministic sampling (extension; the
    * quality-weighted mixing step of a pretraining recipe — keep high-value
    * documents at higher rate instead of uniformly): each row survives with
    * probability `clamp(weight, 0, 1)` — `hash28(key) < floor(weight·2²⁸)`.
    * Same properties as [[deterministicSample]]: narrow filter, no RNG
    * state, the same key draws the same uniform variate under EVERY weight
    * function (so re-weighting flips only the rows whose threshold crossed
    * their hash — stable incremental re-curation). Engine-exact when the
    * weight expression itself is (quality's doubles bit-match the oracle,
    * proven by q23's hash-green row).
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column): DataFrame =
    df.filter(hash28(col(keyCol)) <
      floor(least(greatest(weight, lit(0.0)), lit(1.0)) * HashSpace).cast("long"))

  /** Train/val/test assignment by hash bucket: cumulative thresholds over the
    * same 28-bit space. Deterministic, disjoint, exhaustive — the standard
    * leakage-safe split for training corpora (a document's split never
    * changes when the corpus grows, so val can't bleed into train between
    * snapshots).
    */
  def splitAssign(keyCol: Column, splits: Seq[(String, Double)]): Column = {
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val h = hash28(keyCol)
    splits.map(_._1).zip(cuts).dropRight(1)
      .foldRight(lit(splits.last._1): Column) { case ((name, cut), els) =>
        when(h < lit((cut * HashSpace).toLong), lit(name)).otherwise(els)
      }
  }

  /** Leakage-safe OUT-OF-FOLD target encoding (extension — the standard
    * category→numeric feature for training tables, computed so no row's own
    * target leaks into its feature): rows are hashed into `nFolds`
    * deterministic folds ([[hash28]] — same key, same fold, at every scale
    * and on every rerun), and each row's encoding is the target mean of its
    * category computed over the OTHER folds only:
    * `(Σcat − Σcat,fold) / (Ncat − Ncat,fold)`.
    *
    * Plan shape: the fact table is scanned ONCE and never shuffled — the
    * per-(category, fold) sums are a map-side-combined aggregate whose
    * result is |categories|×nFolds rows, broadcast back twice. The division
    * is one decimal/decimal → double op per row (no floating accumulation),
    * so the result is bit-stable across engines. NULL when a category
    * exists only in the row's own fold (no out-of-fold evidence).
    *
    * Targets accumulate as DECIMAL(38,9) — fractional targets are exact to
    * 9 decimals rather than silently truncated — and NULL-target rows are
    * excluded from BOTH numerator and denominator (count(__t) skips NULLs),
    * so missing labels don't bias the encoding toward zero.
    */
  def targetEncodeOof(df: DataFrame, keyCol: String, catCol: String,
                      target: Column, nFolds: Int): DataFrame = {
    val d = df
      .withColumn("fold", pmod(hash28(col(keyCol)), lit(nFolds.toLong)))
      .withColumn("__t", target.cast("decimal(38,9)"))
    val byFold = d.groupBy(col(catCol), col("fold"))
      .agg(sum(col("__t")).as("__fs"), count(col("__t")).as("__fc"))
      // an all-NULL-target fold sums to NULL but counts 0 — coalesce so the
      // out-of-fold subtraction stays defined for the OTHER folds' rows
      .withColumn("__fs", coalesce(col("__fs"), lit(0).cast("decimal(38,9)")))
    val byCat = byFold.groupBy(col(catCol))
      .agg(sum(col("__fs")).as("__ts"), sum(col("__fc")).as("__tc"))
    d.join(broadcast(byFold), Seq(catCol, "fold"))
      .join(broadcast(byCat), Seq(catCol))
      .withColumn("oof_enc",
        when(col("__tc") =!= col("__fc"),
          (col("__ts") - col("__fs")).cast("double") /
            (col("__tc") - col("__fc")).cast("double")))
      .drop("__t", "__fs", "__fc", "__ts", "__tc")
  }

  /** Fixed-size stratified sample: the k rows of each stratum whose key-hash
    * ranks lowest (hash order = a deterministic "reservoir" draw; `keyCol`
    * breaks ties). Physical plan is WindowGroupLimit: each map task keeps a
    * running top-k per stratum BEFORE the shuffle, so only ~k·strata rows per
    * task ever move — at 100 TB the shuffle volume is bounded by the sample
    * size, not the corpus size.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String, k: Int): DataFrame =
    df.withColumn("__rank", row_number().over(
        Window.partitionBy(strataCol).orderBy(hash28(col(keyCol)), col(keyCol))))
      .filter(col("__rank") <= k)

  /** Per-domain quality cap (the C4/RefinedWeb curation staple: no single
    * domain may dominate the corpus): keep at most `k` documents per
    * domain, preferring higher `qualityCol`, ties to the lower id —
    * deterministic, no RNG. The quality twin of [[stratifiedSample]]
    * (which ranks by hash for an unbiased draw; this ranks by merit).
    *
    * Scale shape: the `rank <= k` filter compiles to a map-side
    * WindowGroupLimit (plan-guarded) — each task ships only its local k
    * per domain into the window sort, so shuffle volume is O(k·domains +
    * spill-free partial ranks), not corpus-sized.
    */
  def domainCap(df: DataFrame, domainCol: String, qualityCol: String,
                idCol: String, k: Int): DataFrame =
    df.withColumn("__rank", row_number().over(
        Window.partitionBy(domainCol)
          .orderBy(col(qualityCol).desc, col(idCol).asc)))
      .filter(col("__rank") <= k)

  /** Fixed-size weighted sample WITHOUT replacement (Efraimidis & Spirakis
    * 2006, "Weighted random sampling with a reservoir"): exactly `k` rows,
    * inclusion driven by weight — the fixed-budget counterpart of
    * [[weightedSample]] for "give me the best 10M documents, favoring
    * quality" curation draws. Each row gets the E-S key `ln(u)/w` (u =
    * its deterministic 28-bit hash variate mapped into (0,1), w > 0 its
    * weight); the k LARGEST keys are the sample — provably equivalent to
    * sequential weighted draws without replacement.
    *
    * Scale shape: the key is a narrow per-row expression (no RNG state, no
    * shuffle to generate), and the top-k compiles to TakeOrderedAndProject —
    * each map task ships only its local k candidates, so shuffle volume is
    * O(k·tasks) at any corpus size. Deterministic: hash-derived variates,
    * ties broken by key column; the ln/division doubles are the same IEEE
    * ops in any engine.
    *
    * Non-positive weights are dropped (they'd never be drawn). Returns the
    * input row plus (es_key) for auditability.
    */
  def weightedSampleK(df: DataFrame, keyCol: String, weight: Column,
                      k: Int): DataFrame = {
    val u = (hash28(col(keyCol)).cast("double") + lit(0.5)) / lit(HashSpace.toDouble)
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0.0)
      .withColumn("es_key", log(u) / col("__w"))
      .orderBy(col("es_key").desc, col(keyCol))
      .limit(k)
      .drop("__w")
  }

  /** Per-group fixed-size weighted sample — [[weightedSampleK]] with the
    * top-k taken WITHIN each group (k docs per source, k examples per
    * label): same deterministic Efraimidis–Spirakis keys, but the rank is a
    * group-partitioned window whose `rn ≤ k` filter compiles to map-side
    * WindowGroupLimit — each task ships only its local per-group k, never a
    * global sort.
    */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, keyCol: String,
                             weight: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (hash28(col(keyCol)).cast("double") + lit(0.5)) / lit(HashSpace.toDouble)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("es_key").desc, col(keyCol))
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0.0)
      .withColumn("es_key", log(u) / col("__w"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__w", "__rn")
  }

  /** PII redaction: replace emails, North-American-format phone numbers and
    * SSN-shaped ids with typed placeholder tokens. Applied in this order
    * (email → phone → id) so the narrower digit patterns can't eat pieces of
    * a wider match. Patterns restricted to syntax with identical semantics in
    * Java regex and RE2, so the oracle replays them verbatim.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"
  val IdPattern = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      IdPattern, "<ID>")

  /** k-anonymity audit over quasi-identifier columns ([[redactPii]]'s
    * governance sibling — scrubbing direct identifiers is not enough when a
    * COMBINATION of innocuous attributes singles a record out): every
    * quasi-identifier equivalence class with fewer than k members is a
    * re-identification risk. One map-side-combined groupBy; the report is
    * class-count-sized, never data-sized.
    */
  def kAnonymityReport(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .filter(col("class_size") < k)

  /** Enforcement twin: rows in k-anonymous classes pass through unchanged;
    * rows in under-k classes have their quasi-identifiers SUPPRESSED (the
    * standard generalize-or-suppress fallback). Broadcast of the (small)
    * risky-class list back onto the fact — the data itself never reshuffles.
    */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Long,
                 placeholder: String = "*"): DataFrame = {
    // null-safe (<=>) join keys: groupBy treats NULL as its own class value,
    // so the enforcement join must too — plain equality would let rows with
    // NULL quasi-identifiers silently escape suppression even when the
    // report counts their class as under-k.
    val risky = kAnonymityReport(df, quasiCols, k)
      .withColumn("__risky", lit(true))
      .select(col("__risky") +: quasiCols.map(c => col(c).as(s"__r_$c")): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _)
    val joined = df.join(broadcast(risky), cond, "left")
    quasiCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        when(col("__risky"), lit(placeholder)).otherwise(col(c).cast("string")))
    }.drop("__risky" +: quasiCols.map(c => s"__r_$c"): _*)
  }

  /** Deterministic hash-bucket NEGATIVE SAMPLING — the contrastive-training
    * data miner ("k random non-matching docs per query") without the cross
    * join that phrase implies: the corpus is hashed once into `nBuckets`
    * ([[hash28]]); each query probes `nProbes` pseudo-random buckets (a pure
    * hash of (query, probe index)); candidates come from ONE bucket
    * equi-join, so the fan-in per query is nProbes/nBuckets of the corpus —
    * tunable, never quadratic. Known positives (the `positives` (q, doc)
    * frame) are anti-joined out BEFORE ranking — a positive sampled as a
    * negative silently poisons a contrastive loss, the one failure mode this
    * operator must exclude by construction. Final per-query rank is a fresh
    * pair hash (so negatives are spread across the probed buckets, not
    * clumped in the first), `rank <= k` compiling map-side to
    * WindowGroupLimit. Zero RNG: same negatives on every rerun, any
    * partitioning, any engine (oracle-replayable md5 arithmetic).
    */
  def negativeSample(corpus: DataFrame, docCol: String,
                     queries: DataFrame, qCol: String,
                     positives: DataFrame, nBuckets: Int, nProbes: Int,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 1 && nProbes >= 1 && k >= 1,
      s"nBuckets/nProbes/k must be >= 1, got $nBuckets/$nProbes/$k")
    val c = corpus.select(col(docCol),
      (hash28(col(docCol)) % nBuckets).as("__b"))
    val q = queries.select(col(qCol)).distinct()
      .select(col(qCol), explode(array((1 to nProbes).map(j =>
        hash28(concat(col(qCol).cast("string"), lit(":" + j))) % nBuckets)
        : _*)).as("__b"))
    val cand = q.join(c, "__b")
      .filter(col(qCol) =!= col(docCol))
      .select(col(qCol), col(docCol))
      // two probes may hash to the same bucket — a candidate counts once
      .dropDuplicates(qCol, docCol)
      .join(positives.select(col(qCol), col(docCol)), Seq(qCol, docCol),
        "left_anti")
    val w = Window.partitionBy(col(qCol)).orderBy(
      hash28(concat(col(qCol).cast("string"), lit("#"),
        col(docCol).cast("string"))).asc, col(docCol).asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** LEAKAGE-SAFE train/val/test assignment — [[splitAssign]] keyed by the
    * near-dup CLUSTER representative instead of the document: every member
    * of a connected near-dup component lands in the SAME split, so a
    * duplicated document can never sit in train while its twin sits in test
    * (the classic eval contamination [[graft.operators.Decontamination]]
    * hunts after the fact — this prevents it at split time). `pairs` is any
    * near-dup edge list (MinHash-LSH [[TextDedup.minhashNearDupes]],
    * embedding LSH, …); singletons key on themselves, so the operator
    * degrades to plain [[splitAssign]] on a dup-free corpus. Cost: the
    * components iteration is bounded by the EDGE list (pairs, not corpus —
    * [[Dedup.connectedComponents]]'s contract) plus one corpus-sized
    * left join; the hash assignment itself is narrow.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       splits: Seq[(String, Double)]): DataFrame = {
    // [[Dedup.connectedComponents]] runs on LONG node ids; a string id
    // would cast to NULL edge endpoints, the join below would match
    // nothing, and the coalesce would SILENTLY degrade to a leaky plain
    // splitAssign — so misuse must fail loudly up front instead
    def longCastable(frame: DataFrame, c: String): Boolean =
      frame.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    Seq((df, idCol), (pairs, aCol), (pairs, bCol)).foreach { case (f, c) =>
      require(longCastable(f, c),
        s"leakageSafeSplit needs integral ids (components run on LONG " +
          s"nodes); column '$c' is ${f.schema(c).dataType.simpleString} — " +
          "map ids to longs (e.g. a dense id table) before splitting")
    }
    val cc = Dedup.connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("node", idCol)
    df.join(cc, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("component"), col(idCol)))
      .withColumn("split", splitAssign(col("cluster_rep"), splits))
      .drop("component")
  }

  /** l-diversity report — k-anonymity's stronger sibling (Machanavajjhala
    * et al., ICDE 2006): a quasi-identifier class is safe only if its
    * SENSITIVE attribute takes ≥ l distinct values; a class can be large
    * (k-anonymous) yet still leak everything when all members share one
    * sensitive value (the homogeneity attack). Emits the under-l classes
    * with their size and distinct-sensitive count. One corpus aggregate
    * (map-side partial on (quasi, sensitive) first — countDistinct plans
    * the standard two-phase expand), output is class-count-sized.
    */
  def lDiversityReport(df: DataFrame, quasiCols: Seq[String],
                       sensitiveCol: Column, l: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(sensitiveCol).as("sensitive_diversity"))
      .filter(col("sensitive_diversity") < l)

  /** Enforcement twin of [[lDiversityReport]], same broadcast-back shape as
    * [[kAnonymize]]: rows in under-l classes get their quasi-identifiers
    * suppressed (NULL-safe `<=>` keys, the data itself never reshuffles).
    */
  def lDiversify(df: DataFrame, quasiCols: Seq[String], sensitiveCol: Column,
                 l: Long, placeholder: String = "*"): DataFrame = {
    val risky = lDiversityReport(df, quasiCols, sensitiveCol, l)
      .withColumn("__risky", lit(true))
      .select(col("__risky") +: quasiCols.map(c => col(c).as(s"__r_$c")): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _)
    val joined = df.join(broadcast(risky), cond, "left")
    quasiCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        when(col("__risky"), lit(placeholder)).otherwise(col(c).cast("string")))
    }.drop("__risky" +: quasiCols.map(c => s"__r_$c"): _*)
  }

  /** Per-document token-repetition statistics (Gopher-style repetition
    * filters: a document dominated by one token, or with a high duplicate-
    * token fraction, is boilerplate/spam). Distributed formulation: explode
    * to (doc, token) → two-level aggregation — both groupBys partial-combine
    * map-side, the first is keyed fine ((doc, token) — no skew key exists),
    * and nothing per-document ever has to fit in one buffer, unlike a
    * collect_list-then-UDF shape.
    */
  /** Sequence packing for LLM training (concat-and-chunk): documents are
    * concatenated in deterministic order inside a shard and the token stream
    * is cut into fixed `ctxLen` context windows. Emits, per document, its
    * token-offset span within the shard and the chunk ids it lands in —
    * exactly the bookkeeping a packed-pretraining dataloader needs (which
    * documents a given context window contains, and whether a document
    * straddles a boundary).
    *
    * Scale shape: sharding by content hash bounds every window partition to
    * corpus/nShards, so the running-offset sort is per-shard, embarrassingly
    * parallel, and the shard count — not the corpus size — picks the
    * parallelism. The running sum itself is one sort per shard (no
    * quadratic/self-join anywhere). No RNG: hash-sharding plus id-ordering
    * makes the packing reproducible across reruns and engines.
    */
  def sequencePack(df: DataFrame, idCol: String, nTokCol: String,
                   nShards: Int, ctxLen: Int): DataFrame = {
    val shard = pmod(hash28(col(idCol)), lit(nShards)).as("shard")
    val w = Window.partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), shard, col(nTokCol).cast("long").as("__ntok"))
      .withColumn("end_off", sum(col("__ntok")).over(w))
      .select(col(idCol), col("shard"),
        (col("end_off") - col("__ntok")).as("start_off"), col("end_off"),
        expr(s"(end_off - __ntok) div $ctxLen").as("first_chunk"),
        expr(s"(end_off - 1) div $ctxLen").as("last_chunk"),
        (expr(s"(end_off - 1) div $ctxLen") -
          expr(s"(end_off - __ntok) div $ctxLen") + 1).as("n_chunks"))
  }

  /** Source-mix rebalancing (data mixing for training corpora): downsample
    * every stratum to the size of the smallest one, giving a uniform mix —
    * the deterministic-sampling analogue of mixture reweighting. The keep
    * threshold per stratum is ALL-integer: `min_cnt · 2^28 div cnt_s` over
    * the 28-bit content hash, so the draw is exact, reproducible, and
    * engine-replayable (no float rate anywhere). Expected kept size per
    * stratum = min_cnt (hash-uniform in expectation; the draw is a fixed
    * subset, not an exact-size cut — exact-size cuts need a per-stratum
    * rank, [[stratifiedSample]]).
    *
    * Plan shape: one partial-combined count aggregate (k rows), broadcast
    * back onto the corpus as a filter — the corpus itself never shuffles.
    */
  def rebalanceStrata(df: DataFrame, strataCol: String, keyCol: String): DataFrame = {
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__cnt"))
    val thresholds = counts
      .crossJoin(broadcast(counts.agg(min(col("__cnt")).as("__min_cnt"))))
      .select(col(strataCol),
        expr(s"__min_cnt * ${HashSpace}L div __cnt").as("__keep_below"))
    df.join(broadcast(thresholds), strataCol)
      .filter(hash28(col(keyCol)) < col("__keep_below"))
      .drop("__keep_below")
  }

  /** Curriculum binning: deciles (or n-tiles) of a score within each group,
    * deterministic via an explicit tie-break column. `ntile` is the SQL-
    * standard equal-frequency binning — one sort per group, no second pass,
    * and the bin boundaries never leave the executors (vs computing quantile
    * cut points first, which costs an extra aggregate + join).
    */
  def curriculumBins(df: DataFrame, groupCol: String, scoreCol: Column,
                     tieCol: String, nBins: Int): DataFrame =
    df.withColumn("bin", ntile(nBins).over(
      Window.partitionBy(groupCol).orderBy(scoreCol.desc, col(tieCol))))

  /** Per-stratum quantile (rank) normalization of a quality score: `outCol`
    * = percent_rank of `scoreCol` WITHIN its stratum, ties broken by
    * `tieCol` so the rank is total and engine-portable. This is how
    * heterogeneous per-domain scorers (a web-quality model, a code linter, a
    * books heuristic — each on its own scale) become comparable before ONE
    * global keep-threshold: "top 30% of every source" is `outCol >= 0.7`
    * regardless of raw score distributions. Cost at 100 TB: exactly one
    * shuffle, partitioned by stratum (the same hash partitioning any
    * per-stratum aggregate needs), one sort within partitions, no global
    * sort and no second pass — vs the naive global-histogram approach
    * that needs a per-stratum quantile sketch pass PLUS a re-read.
    * Skew note: a stratum is a single partition's sort; for a corpus where
    * one domain is >1 executor-memory of rows, pre-bin by
    * ([[deterministicSample]] hash range) and rank hierarchically.
    */
  def quantileNormalize(df: DataFrame, strataCol: String, scoreCol: Column,
                        tieCol: String, outCol: String = "qscore"): DataFrame =
    df.withColumn(outCol, percent_rank().over(
      Window.partitionBy(strataCol).orderBy(scoreCol, col(tieCol))))

  /** Dataset-card statistics: the per-stratum corpus summary every released
    * training set ships (docs, tokens, chars, exact-duplicate rate by
    * content hash per source×lang). One partial-combined aggregate — the
    * shuffle carries one row per stratum per task. `n_distinct_texts` is an
    * exact DISTINCT on the md5 fingerprint; at 100 TB swap in the KMV sketch
    * ([[Sketches.kmvDistinct]]) if an approximate card suffices.
    */
  def corpusCard(df: DataFrame, textCol: String, strataCols: Seq[String]): DataFrame =
    df.groupBy(strataCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col(textCol))).cast("long").as("n_tokens"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        countDistinct(md5(col(textCol))).as("n_distinct_texts"))
      .withColumn("exact_dup_fraction",
        lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs").cast("double"))

  /** Sliding-window document chunking (training-sequence prep): split each
    * document's token stream into windows of `size` tokens starting every
    * `stride` tokens (stride < size ⇒ overlapping context windows, the
    * standard LM pre-training shape; stride = size ⇒ disjoint chunks). The
    * counterpart of [[sequencePack]]: packing concatenates SHORT documents up
    * to the context length, chunking splits LONG ones down to it.
    *
    * Plan shape: narrow per-row compute — `sequence` builds the start
    * offsets, `posexplode` emits one row per chunk, `slice` + `array_join`
    * materialize the window. No shuffle, no state: chunking a 100 TB corpus
    * is a pure map, and the explode fan-out is bounded by ⌈len/stride⌉ per
    * document.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int, stride: Int): DataFrame = {
    require(stride >= 1 && size >= 1, "size and stride must be >= 1")
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"), org.apache.spark.sql.functions.size(toks).as("__n"))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride))).as(Seq("chunk_idx", "chunk_start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        least(lit(size), col("__n") - col("chunk_start")).cast("long").as("chunk_len"),
        array_join(slice(col("__toks"), col("chunk_start") + 1, lit(size)), " ").as("chunk_text"))
  }

  /** Exact corpus-level top-k n-grams — the boilerplate detector of a
    * training pipeline (navigation strings, license headers, cookie banners
    * surface as improbably frequent n-grams; the top-k list then drives a
    * removal filter). Two-stage exact aggregation: per-document n-gram
    * emission is a narrow array transform, the count is partial-combined
    * map-side, and the global top-k is `TakeOrderedAndProject` (each task
    * keeps k rows; only k·tasks rows reach the driver-side merge — no global
    * sort even at 10^9 distinct n-grams). Rank is assigned AFTER the limit,
    * over k rows. Ties break lexicographically so the cut line is
    * deterministic at any parallelism.
    */
  def ngramTopK(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = df
      .select(toks.as("__toks"), org.apache.spark.sql.functions.size(toks).as("__n"))
      .filter(col("__n") >= n)
      .select(explode(expr(
        s"transform(sequence(1, __n - ${n - 1}), i -> array_join(slice(__toks, i, $n), ' '))"))
        .as("ngram"))
    val counts = grams.groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram")).limit(k)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("ngram"))).cast("long"))
  }

  /** Exact duplicate-SPAN report — the chunk-fingerprint approximation of
    * exact-substring dedup (Lee et al. 2022, arXiv:2107.06499 §2: duplicated
    * spans, not whole near-dup documents, are what LMs memorize; RefinedWeb /
    * Falcon run the same pass at line granularity). Documents are cut into
    * `k`-token windows every `stride` tokens (stride < k overlaps windows so
    * a shared span can't hide astride one boundary), each window is reduced
    * to an md5 fingerprint, and any fingerprint seen more than once — within
    * one document or across documents — is reported with its occurrence and
    * document counts. Complements [[graft.operators.TextDedup]]: MinHash
    * finds documents that are MOSTLY the same; this finds exact spans
    * repeated inside otherwise-different documents (boilerplate, quoted
    * licenses, templated intros) which per-document similarity can't see.
    *
    * Scale shape: the explode emits ⌈len/stride⌉ rows per document (linear,
    * bounded fan-out — same posture as [[chunkDocs]]); the aggregate is
    * partial-combined on the fingerprint key, so the shuffle carries one row
    * per distinct span per task; the ≥2 filter runs inside the final
    * aggregate stage. No joins, no quadratic candidate set — at 100 TB this
    * is one explode + one combine-aggregated shuffle on a 16-byte key.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, stride: Int): DataFrame = {
    require(k >= 1 && stride >= 1, "k and stride must be >= 1")
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"), org.apache.spark.sql.functions.size(toks).as("__n"))
      .filter(col("__n") >= k)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, (__n - $k) div $stride), i -> md5(array_join(slice(__toks, i * $stride + 1, $k), ' ')))"))
        .as("span_md5"))
      .groupBy("span_md5")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_occurrences") >= 2)
  }

  /** Temperature-flattened source mix (α = 0.5): downsample stratum s at
    * rate √(min_cnt / cnt_s), so the kept size is √(min_cnt·cnt_s) — the
    * geometric mean between the natural mix (α=1, no resampling) and the
    * uniform mix of [[rebalanceStrata]] (α=0). This is the multilingual-
    * corpus temperature trick (sampling weight ∝ pₛ^α): big sources are
    * tamed, small ones keep more than a uniform cut would give them.
    *
    * α is PINNED at 0.5 because the keep threshold must be bit-identical
    * across engines: `sqrt`, one division, and one multiplication are each
    * IEEE-754 correctly-rounded in every implementation, so
    * ⌊2²⁸·√(min/cnt)⌋ is the same integer everywhere — whereas a general
    * `pow(x, α)` is only ~1-ulp-accurate and may round differently across
    * libm implementations, which a floor then amplifies into a different
    * row set. Same plan shape as [[rebalanceStrata]]: one k-row aggregate
    * broadcast back as a filter; the corpus never shuffles.
    */
  def temperatureRebalance(df: DataFrame, strataCol: String, keyCol: String): DataFrame = {
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__cnt"))
    val thresholds = counts
      .crossJoin(broadcast(counts.agg(min(col("__cnt")).as("__min_cnt"))))
      .select(col(strataCol),
        floor(lit(HashSpace.toDouble) *
          sqrt(col("__min_cnt").cast("double") / col("__cnt").cast("double")))
          .cast("long").as("__keep_below"))
    df.join(broadcast(thresholds), strataCol)
      .filter(hash28(col(keyCol)) < col("__keep_below"))
      .drop("__keep_below")
  }

  /** End-to-end curation funnel (extension; the C4/RefinedWeb pipeline shape
    * as ONE query): every document is assigned the FIRST stage that drops it
    * — length gate → quality gate → exact near-dup (content-fingerprint,
    * min-id representative) — or `4_kept`, and the output is the per-stage
    * census a curation run reports. One labeled pass + one count aggregate:
    * the corpus is never materialized per stage, and the dedup
    * representative is a `groupBy`+`min` (map-side combined) + AQE broadcast
    * back-join, not a window sort. Thresholds must sit AWAY from attainable
    * score values (quality is a float expression; a knife-edge threshold
    * would make the census engine-sensitive — callers pick one with
    * clearance, as q79 does).
    */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
                     minTokens: Int, minQuality: Double): DataFrame = {
    import graft.functions.TextFunctions
    val base = docs.select(col(idCol).as("__id"),
      TextFunctions.tokenCount(col(textCol)).as("__ntok"),
      TextFunctions.qualityScore(col(textCol)).as("__q"),
      TextFunctions.fingerprint(col(textCol)).as("__fp"))
    val l1 = base.filter(col("__ntok") < minTokens)
      .select(col("__id"), lit("1_length").as("stage"))
    val s1 = base.filter(col("__ntok") >= minTokens)
    val l2 = s1.filter(col("__q") < minQuality)
      .select(col("__id"), lit("2_quality").as("stage"))
    val s2 = s1.filter(col("__q") >= minQuality)
    val keep = s2.groupBy(col("__fp")).agg(min(col("__id")).as("__keep"))
    val l3 = s2.join(keep, "__fp")
      .select(col("__id"),
        when(col("__id") === col("__keep"), lit("4_kept"))
          .otherwise(lit("3_duplicate")).as("stage"))
    l1.unionByName(l2).unionByName(l3)
      .groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
  }

  def tokenRepetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
      .groupBy(idCol, "__tok").agg(count(lit(1)).as("__tf"))
      .groupBy(idCol).agg(
        max("__tf").as("top_token_count"),
        sum("__tf").as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"))
      .select(col(idCol), col("top_token_count"), col("n_tokens"),
        (col("top_token_count").cast("double") / col("n_tokens")).as("top_token_share"),
        (lit(1.0) - col("n_distinct_tokens").cast("double") / col("n_tokens"))
          .as("dup_token_fraction"))

  /** Tokenizer vocabulary construction (the id-assignment step every
    * training pipeline runs before encoding): corpus-wide token counts,
    * `minCount` floor, ids by (count DESC, token ASC) — the deterministic
    * frequency ranking, ties broken lexically so two builds of the same
    * corpus emit the same table. Id 0 is RESERVED for out-of-vocabulary.
    *
    * Scale shape: the census is one map-side-combined aggregate over the
    * token explode; the ranking window then runs over VOCAB-sized rows
    * (post-minCount distinct tokens — bounded by the token domain, not the
    * corpus; real vocabularies are ≤ a few 100k rows).
    */
  def buildVocab(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .withColumn("token_id", row_number()
        .over(Window.orderBy(col("n").desc, col("token"))).cast("long"))
      .select(col("token"), col("token_id"), col("n"))
  }

  /** Encode documents as token-id sequences against a [[buildVocab]] table:
    * position-ordered ids, OOV → 0. The vocab broadcasts (it is vocab-sized
    * by construction); the corpus explode is narrow and the re-assembly is
    * the single per-doc shuffle. Returns (idCol, token_ids: array<long>).
    */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .select(col(idCol),
        struct(col("pos"), coalesce(col("token_id"), lit(0L)).as("tid")).as("pt"))
      .groupBy(idCol).agg(collect_list(col("pt")).as("pts"))
      .select(col(idCol),
        transform(array_sort(col("pts")), x => x("tid")).as("token_ids"))

  /** Decode token-id sequences back to text against a [[buildVocab]] table —
    * the inverse of [[encodeDocs]], closing the tokenizer roundtrip (id 0 /
    * unknown ids surface as `unk`). Same shape as the encoder: narrow
    * explode, broadcast vocab join, ONE per-doc shuffle for the ordered
    * re-assembly.
    */
  def decodeDocs(encoded: DataFrame, idCol: String, idsCol: String,
                 vocab: DataFrame, unk: String = "<unk>"): DataFrame =
    encoded.select(col(idCol), posexplode(col(idsCol)).as(Seq("pos", "tid")))
      .join(broadcast(vocab.select(col("token_id").as("tid"), col("token"))),
        Seq("tid"), "left")
      .select(col(idCol),
        struct(col("pos"), coalesce(col("token"), lit(unk)).as("tok")).as("pt"))
      .groupBy(idCol).agg(collect_list(col("pt")).as("pts"))
      .select(col(idCol),
        expr("array_join(transform(array_sort(pts), x -> x.tok), ' ')")
          .as("decoded"))

  /** BPE merge training (Sennrich, Haddow & Birch 2016 — the byte-pair-
    * encoding tokenizer trainer, completing the q110/q111 vocab/encode
    * family): starting from character sequences over the word-frequency
    * census, repeatedly (a) count adjacent symbol pairs weighted by word
    * frequency, (b) pick the most frequent pair (ties broken
    * lexicographically → deterministic), (c) merge it greedily
    * left-to-right in every word. Returns the learned merge table
    * (merge_idx, left, right, pair_n) — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus collapses to its word-frequency census FIRST
    * (one map-side-combined aggregate; all later work is vocab-sized —
    * `topWords` caps it like any practical trainer). Each round is one
    * pair-explode aggregate over the census plus a narrow per-word fold
    * (higher-order `aggregate`, codegen'd); driver state per round is ONE
    * (pair, count) row — the algorithm is inherently sequential in the
    * merge ORDER, so `rounds` driver-coordinated jobs is the honest shape
    * (same posture as Lloyd iterations in IVF training).
    */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int,
               topWords: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val census = df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("__r", row_number()
        .over(Window.orderBy(col("cnt").desc, col("w"))))
      .filter(col("__r") <= topWords).drop("__r")
    var seqs = census.select(col("w"), col("cnt"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("seq"))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      // weighted adjacent-pair census; cache: the fold below re-reads it
      // single-symbol words carry no pairs — and Spark's sequence(1, 0)
      // counts DOWN rather than yielding empty, so they must filter out
      val pairs = seqs.filter(size(col("seq")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(seq) - 1)," +
            " i -> struct(seq[i - 1] as a, seq[i] as b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("n"))
      val best = pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()
      if (best.nonEmpty) {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, a, b, n))
        val mergedTok = a + b
        val next = seqs.select(col("w"), col("cnt"),
          aggregate(col("seq"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(mergedTok))))
              .otherwise(concat(acc, array(x)))).as("seq"))
          .localCheckpoint(true) // r folds must not stack into one codegen tree
        Checkpoints.release(seqs) // superseded round (no-op on round 1)
        seqs = next
      }
    }
    // the merge table is DRIVER state — the final census checkpoint has no
    // further reader and its blocks go now, not at JVM exit
    Checkpoints.release(seqs)
    // "left"/"right" are SQL keywords — mleft/mright keeps oracles unquoted
    merges.result().toDF("merge_idx", "mleft", "mright", "pair_n")
  }

  /** BPE ENCODING with a trained merge list — the apply-side twin of
    * [[bpeTrain]], closing the tokenizer family (train → vocab → encode →
    * decode): each word decomposes to characters, then every merge applies
    * in training order with the exact greedy left-first fold training used,
    * so encode(corpus) reproduces training's final symbol sequences.
    *
    * Scale shape — encode the VOCABULARY, not the corpus: the merge folds
    * run over DISTINCT words only (Heaps' law: ~O(corpus^0.5) types for
    * corpus tokens), and the corpus-sized side is one broadcast join of the
    * word→tokens dictionary back onto the exploded word stream. At 100 TB
    * the fold cost is vocabulary-bounded and the per-document work is a
    * dictionary lookup — the same trick production tokenizers (HF fast
    * tokenizers' word cache) use. No RNG, no UDFs: the fold is the same
    * higher-order `aggregate` lambda as training, codegen'd.
    *
    * Emits one row per emitted token: (idCol, word_pos, tok_pos, token) —
    * 1-based positions, words split on single spaces, empty words dropped.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__wp0", "w")))
      .filter(length(col("w")) > 0)
      .select(col(idCol), (col("__wp0") + 1).as("word_pos"), col("w"))
    val types = words.select("w").distinct()
      .withColumn("seq",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val encoded = merges.foldLeft(types) { case (d, (a, b)) =>
      d.withColumn("seq",
        aggregate(col("seq"), array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))))
    }
    words.join(broadcast(encoded), "w")
      .select(col(idCol), col("word_pos"),
        posexplode(col("seq")).as(Seq("__tp0", "token")))
      .select(col(idCol), col("word_pos"),
        (col("__tp0") + 1).as("tok_pos"), col("token"))
  }

  /** 2-D Pareto frontier (skyline, both dimensions maximized): the
    * non-dominated (x, y) points — the data-curation tradeoff curve (e.g.
    * quality score vs document length: every frontier point is a config no
    * other point beats on both axes). Strict dominance: a point survives iff
    * no other point is ≥ on both dims and > on one.
    *
    * Scale shape: the corpus-sized work is ONE map-side-combined aggregate
    * (max y per distinct x — same-x duplicates and dominated ties die
    * there); the skyline scan then runs over only |distinct x| rows, where
    * the classic sort-based sweep applies: descending by the now-UNIQUE x,
    * a point is on the frontier iff its y strictly exceeds every
    * higher-x y, i.e. the running max over the preceding rows. The
    * single-partition window is bounded by the x-domain cardinality, never
    * the input.
    */
  def paretoFrontier(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perX = df.groupBy(col(xCol).cast("long").as("x"))
      .agg(max(col(yCol).cast("long")).as("y"))
    val prevMax = max(col("y")).over(
      Window.orderBy(col("x").desc)
        .rowsBetween(Window.unboundedPreceding, -1))
    perX.withColumn("__my", prevMax)
      .filter(col("__my").isNull || col("y") > col("__my"))
      .select(col("x").as(xCol), col("y").as(yCol))
  }

  /** Gopher stopword set (Rae et al. 2021, Table A1's "stop words" rule). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** GOPHER quality-rule report (Rae et al. 2021 "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", §A.1.1 — the
    * rule-based document filter every post-Gopher pretraining pipeline
    * re-implements: MassiveWeb's repetition/format heuristics distilled to
    * document-level thresholds). Per document, the five document-level
    * rules over the whitespace tokenization, each emitted as its own
    * boolean beside the measured statistic (an audit wants to know WHICH
    * rule fired, not just that something did), plus the conjunction:
    *
    *   - word count in [minWords, maxWords] (paper: 50..100,000);
    *   - mean word length in [3, 10] characters;
    *   - symbol-to-word ratio ≤ 0.1 (`#` and `...`);
    *   - ≥ 80% of words contain at least one alphabetic character
    *     (compared in integers: `10·alpha ≥ 8·n` — no float near the
    *     threshold);
    *   - ≥ 2 of the eight Gopher stopwords present.
    *
    * With `lineRules = true` the three LINE-level format rules of the same
    * section are emitted beside the five document rules, computed on the
    * newline-delimited lines (the caller supplies line-structured text):
    *
    *   - ≤ 90% of lines start with a bullet character (`-`, `*`, `•`);
    *   - ≤ 30% of lines end with an ellipsis (`...` or `…`);
    *   - duplicate-line fraction ≤ 30% (1 − distinct/total over the
    *     lower-cased trimmed lines — the same normalization the CCNet
    *     line census uses).
    *
    * One narrow map over the corpus — every statistic is a fixed-shape
    * expression on the token array (in-row folds, replace-count
    * arithmetic, one array_contains per stopword; the line rules are
    * in-row folds over the line array), no explode, no join, no shuffle:
    * the filter costs one scan at any corpus size and every emitted
    * double is a 6-decimal-rounded ratio of exact integers (oracle-
    * replayable).
    */
  def gopherQualityReport(df: DataFrame, idCol: String, textCol: String,
                          minWords: Long = 50L,
                          maxWords: Long = 100000L,
                          lineRules: Boolean = false): DataFrame = {
    val c = col(textCol)
    // line-structured text tokenizes across line breaks too — otherwise
    // the last word of a line and the first of the next fuse into one
    // phantom token and every token statistic drifts. WHITESPACE RUNS
    // collapse ("a\n\nb" is two tokens, not two tokens and a phantom
    // empty) — blank lines are line structure, never words
    val ws = if (lineRules) split(c, "[ \n]+") else split(c, " ")
    val n = size(ws).cast("long")
    val sumLen = aggregate(ws, lit(0L), (a, w) => a + length(w))
    val hashCnt = (length(c) - length(regexp_replace(c, "#", ""))).cast("long")
    // replace-count trick: '...' occurrences, leftmost non-overlapping in
    // both engines (same contract as TextFunctions.occurrences)
    val ellCnt = ((length(c) -
      length(expr(s"replace($textCol, '...')"))) / 3).cast("long")
    val alphaCnt = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    // stopword presence on the whitespace TOKENS, lower-cased with edge
    // punctuation stripped — 'The', 'the,' and 'the.' all count (Rae et al.
    // §A.1.1 intent; the raw-substring match was case-sensitive and
    // punctuation-blind, round-9 advisory)
    val normToks = transform(ws, w =>
      lower(regexp_replace(w, "^[^a-zA-Z]+|[^a-zA-Z]+$", "")))
    val stopCnt = GopherStopwords.map(s =>
      when(array_contains(normToks, s), 1L).otherwise(0L))
      .reduce(_ + _)
    val docCols = Seq(
      n.as("n_words"),
      round(sumLen.cast("double") / n.cast("double"), 6).as("mean_word_len"),
      round((hashCnt + ellCnt).cast("double") / n.cast("double"), 6)
        .as("symbol_ratio"),
      round(alphaCnt.cast("double") / n.cast("double"), 6).as("alpha_frac"),
      stopCnt.as("n_stopwords"),
      (n >= minWords && n <= maxWords).as("r_word_count"),
      (sumLen >= n * 3L && sumLen <= n * 10L).as("r_word_len"),
      ((hashCnt + ellCnt) * 10L <= n).as("r_symbol"),
      (alphaCnt * 10L >= n * 8L).as("r_alpha"),
      (stopCnt >= 2L).as("r_stopwords"))
    val docKeep =
      col("r_word_count") && col("r_word_len") && col("r_symbol") &&
        col("r_alpha") && col("r_stopwords")
    if (!lineRules) {
      df.select(col(idCol) +: docCols: _*).withColumn("keep", docKeep)
    } else {
      val lns = split(c, "\n")
      val nL = size(lns).cast("long")
      val bulletCnt = size(filter(lns, l =>
        trim(l).rlike("^[-*•]"))).cast("long")
      val ellLineCnt = size(filter(lns, l =>
        trim(l).rlike("(\\.\\.\\.|…)$"))).cast("long")
      val dupLineCnt = (nL - size(array_distinct(
        transform(lns, l => lower(trim(l))))).cast("long"))
      val lineCols = Seq(
        nL.as("n_lines"),
        round(bulletCnt.cast("double") / nL.cast("double"), 6)
          .as("bullet_frac"),
        round(ellLineCnt.cast("double") / nL.cast("double"), 6)
          .as("ellipsis_frac"),
        round(dupLineCnt.cast("double") / nL.cast("double"), 6)
          .as("dup_line_frac"),
        (bulletCnt * 10L <= nL * 9L).as("r_bullet_lines"),
        (ellLineCnt * 10L <= nL * 3L).as("r_ellipsis_lines"),
        (dupLineCnt * 10L <= nL * 3L).as("r_dup_lines"))
      df.select(col(idCol) +: (docCols ++ lineCols): _*)
        .withColumn("keep", docKeep &&
          col("r_bullet_lines") && col("r_ellipsis_lines") &&
          col("r_dup_lines"))
    }
  }

  /** GOPHER §A.1.2 n-gram repetition report (Rae et al. 2021, Table A1) —
    * the repetition rules that complete [[gopherQualityReport]]'s format
    * rules and that per-token stats ([[tokenRepetitionStats]], q46) cannot
    * see: a document whose every WORD is distinct can still be one phrase
    * stamped out in a loop. Per document, over the whitespace word
    * n-grams:
    *
    *   - TOP n-gram character fraction (n = 2, 3, 4): characters claimed
    *     by the single most frequent n-gram — `count × chars(gram)` over
    *     the document's character length — thresholds ≤ 0.20 / 0.18 / 0.16;
    *   - DUPLICATE n-gram character fraction (n = 5..10): characters
    *     covered by ANY n-gram occurring more than once, each covered word
    *     counted ONCE no matter how many duplicated n-grams overlap it
    *     (position-coverage semantics — summing occurrence lengths would
    *     double-charge overlaps) — thresholds ≤ 0.15 / 0.14 / 0.13 / 0.12 /
    *     0.11 / 0.10.
    *
    * Determinism contract: the top n-gram ties break by (count DESC, gram
    * char length DESC, gram DESC) — struct-max on the engine side, pinned
    * ORDER BY in the oracle; every rule compares in integers
    * (`mass × 100 ≤ pct × chars`) so no document sits on a float boundary;
    * fractions are 6-dec-rounded ratios of those exact integers. Character
    * denominators use the raw text length; covered-character mass counts
    * word characters (separators carry no repetition signal).
    *
    * Scale shape: one n-gram explode with n as a COLUMN dimension (9 n
    * values, one pass each family), census by (doc, n, gram) — hash
    * partial-agg, never all-pairs; duplicate coverage is a per-partition
    * window count over the same key, a position explode, and ONE per-doc
    * distinct — everything keyed by doc id, so the corpus co-partitions
    * once and no stage is quadratic in anything but a single document's
    * own length.
    */
  def gopherRepetitionReport(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    // the 9-way n-gram explode is CPU-bound and NARROW — spread a
    // low-parallelism input first ([[Parallelism.spread]])
    val spread = Parallelism.spread(df, idCol)
    val base = spread.select(col(idCol).as("__id"),
      split(col(textCol), " ").as("__ws"))

    // TOP n-grams: census per (doc, n, gram) → deterministic struct-argmax
    // → character mass of the winner
    val topMass = base
      .select(col("__id"), explode(typedLit(topNs)).as("__n"), col("__ws"))
      .select(col("__id"), col("__n"), explode(expr(
        """CASE WHEN size(__ws) >= __n
          |THEN transform(sequence(1, size(__ws) - __n + 1),
          |               i -> array_join(slice(__ws, i, __n), ' '))
          |ELSE array() END""".stripMargin)).as("__g"))
      .groupBy("__id", "__n", "__g").agg(count(lit(1)).as("__c"))
      .groupBy("__id", "__n")
      .agg(max(struct(col("__c"), length(col("__g")).cast("long").as("__l"),
        col("__g"))).as("__top"))
      .select(col("__id"), col("__n"),
        (col("__top.__c") * col("__top.__l")).as("__mass"))
      .groupBy("__id").pivot("__n", topNs.map(_.toString)).agg(first("__mass"))

    // DUPLICATE n-grams: per-(doc, n, gram) occurrence count via window
    // (one shuffle keyed by doc — no census self-join), positions of the
    // duplicated occurrences exploded to covered word slots, each slot
    // counted once, then charged its word's character length
    val posGrams = base
      .select(col("__id"), explode(typedLit(dupNs)).as("__n"), col("__ws"))
      .select(col("__id"), col("__n"), explode(expr(
        """CASE WHEN size(__ws) >= __n
          |THEN transform(sequence(1, size(__ws) - __n + 1),
          |               i -> struct(i AS p, array_join(slice(__ws, i, __n), ' ') AS g))
          |ELSE array() END""".stripMargin)).as("__pg"))
      .select(col("__id"), col("__n"),
        col("__pg.p").as("__p"), col("__pg.g").as("__g"))
    val covered = posGrams
      .withColumn("__c",
        count(lit(1)).over(Window.partitionBy("__id", "__n", "__g")))
      .filter(col("__c") > 1)
      .select(col("__id"), col("__n"),
        explode(expr("sequence(__p, __p + __n - 1)")).as("__wp"))
      .distinct()
    val wordLens = base.select(col("__id"),
        posexplode(col("__ws")).as(Seq("__wp0", "__w")))
      .select(col("__id"), (col("__wp0") + 1).as("__wp"),
        length(col("__w")).cast("long").as("__wl"))
    val dupMass = covered.join(wordLens, Seq("__id", "__wp"))
      .groupBy("__id", "__n").agg(sum("__wl").as("__mass"))
      .groupBy("__id").pivot("__n", dupNs.map(_.toString)).agg(first("__mass"))

    val ids = spread.select(col(idCol),
      length(col(textCol)).cast("long").as("__chars"))
    def frac(m: Column): Column =
      when(col("__chars") === 0L, 0.0).otherwise(
        round(coalesce(m, lit(0L)).cast("double") /
          col("__chars").cast("double"), 6))
    // integer threshold: mass*100 <= pct*chars  ⟺  frac <= pct/100, exact
    def rule(m: Column, pct: Int): Column =
      coalesce(m, lit(0L)) * 100L <= lit(pct.toLong) * col("__chars")
    val topPct = Map(2 -> 20, 3 -> 18, 4 -> 16)
    val dupPct = Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    val joined = ids
      .join(topMass.withColumnRenamed("__id", "__tid"),
        col(idCol) === col("__tid"), "left")
      .join(dupMass.withColumnRenamed("__id", "__did"),
        col(idCol) === col("__did"), "left")
    val statCols =
      topNs.map(n => frac(joined(n.toString))
        .as(s"top_${n}gram_char_frac")) ++
      dupNs.map(n => frac(joined(n.toString))
        .as(s"dup_${n}gram_char_frac"))
    val ruleCols =
      topNs.map(n => rule(joined(n.toString), topPct(n))
        .as(s"r_top_${n}gram")) ++
      dupNs.map(n => rule(joined(n.toString), dupPct(n))
        .as(s"r_dup_${n}gram"))
    joined.select(col(idCol) +: (statCols ++ ruleCols): _*)
      .withColumn("keep",
        (topNs.map(n => col(s"r_top_${n}gram")) ++
          dupNs.map(n => col(s"r_dup_${n}gram"))).reduce(_ && _))
  }

  /** Vocabulary-coverage corpus card (Good 1953 / Chao 1984): per group,
    * the token census' count-of-counts yields the Good–Turing unseen-mass
    * estimate `P(unseen) ≈ n₁/N` (the probability the NEXT token drawn is
    * a new type — "is this corpus slice exhausted or still yielding new
    * vocabulary?") and the Chao1 richness floor `V + n₁²/(2n₂)` (how many
    * types exist including the unseen ones; NULL when no doubletons — the
    * classic estimator is undefined there, not silently zero). All counts
    * exact BIGINT; the two final divisions are the only float operations.
    *
    * Scale shape: one token explode → (group, token) census → per-group
    * count-of-counts fold; the result is group-bounded, nothing
    * corpus-sized survives the first aggregation.
    */
  def vocabularyCoverage(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val census = df
      .select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("__t"))
      .groupBy("__g", "__t").agg(count(lit(1)).as("__n"))
    val agg = census.groupBy("__g").agg(
      sum("__n").as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("__n") === 1, 1L).otherwise(0L)).as("hapax"),
      sum(when(col("__n") === 2, 1L).otherwise(0L)).as("doubletons"))
    agg.select(col("__g").as(groupCol), col("n_tokens"), col("vocab"),
      col("hapax"), col("doubletons"),
      round(col("hapax").cast("double") / col("n_tokens").cast("double"),
        6).as("p_unseen"),
      when(col("doubletons") > 0,
        round(col("vocab").cast("double") +
          (col("hapax") * col("hapax")).cast("double") /
          (lit(2.0) * col("doubletons").cast("double")), 6)).as("chao1"))
  }

  /** Blocklist filtering (the RefinedWeb / C4 "bad words" stage): per
    * document, how many tokens hit the (case-insensitive) blocklist, how
    * many DISTINCT blocklist entries appear, and a keep decision at an
    * integer percentage threshold (`n_blocked·100 ≤ maxPct·n_tokens` —
    * never a float comparison). The blocklist is a bounded vocabulary
    * baked in as an array literal — at any corpus size the filter is a
    * narrow codegen'd map over the scan, no join, no shuffle.
    */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
                      words: Seq[String], maxPct: Int): DataFrame = {
    require(words.nonEmpty && words.size <= 10000,
      s"blocklist must be a bounded vocabulary, got ${words.size}")
    val listLit = typedLit(words.map(_.toLowerCase).distinct.sorted)
    val toks = split(col(textCol), " ")
    val blockedLower = filter(transform(toks, t => lower(t)),
      t => array_contains(listLit, t))
    df.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(blockedLower).cast("long").as("n_blocked"),
        size(array_distinct(blockedLower)).cast("long")
          .as("n_distinct_blocked"))
      .withColumn("keep",
        col("n_blocked") * 100L <= lit(maxPct.toLong) * col("n_tokens"))
  }

  /** UniMax sampling allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): split a token/document `budget` across groups
    * (languages, sources, domains) as UNIFORMLY as possible subject to a
    * per-group repetition cap of `epochCap` passes over its `nCol` units —
    * the mixing rule that replaced temperature sampling because it neither
    * starves tail languages nor loops tiny ones hundreds of times.
    *
    * Closed-form water-filling instead of the paper's iterative
    * redistribution loop (same fixed point): sort groups by capacity
    * `cap = epochCap·n` ascending; group i (1-based, running prefix sum
    * `cum` BEFORE it, L groups total) is CAPPED iff
    * `cap_i · (L−i+1) ≤ budget − cum_{i−1}` — with capacities sorted the
    * capped set is a prefix, so with k = the last capped index every
    * uncapped group receives the equal share `(budget − cumcap_k)/(L−k)`.
    * The prefix test is EXACT INTEGER arithmetic (capacities in
    * micro-units, `⌊n·epochCap·10⁶+½⌋`), so cap decisions never ride a
    * float edge; the only float operation is the final share division.
    * Returns one row per group: `(group, n, capacity, allocated, epochs,
    * capped)`; allocations sum to `min(budget, Σcap)`.
    *
    * Scale shape: one map-side-combined count per group, then windows over
    * the GROUP-sized frame (a bounded vocabulary — the corpus never
    * crosses the window). The corpus-sized act of drawing the allocated
    * sample is the caller's [[weightedSampleK]] / [[stratifiedSample]]
    * stage.
    */
  def uniMaxAllocation(df: DataFrame, groupCol: String, budget: Long,
                       epochCap: Double): DataFrame =
    uniMaxFromCensus(df.groupBy(col(groupCol).as("__g"))
        .agg(count(lit(1)).as("__n")),
      "__g", "__n", budget, epochCap).withColumnRenamed("__g", groupCol)

  /** [[uniMaxAllocation]] over a PRE-AGGREGATED group census
    * `(groupCol, nCol)` — the entry point when unit counts are token
    * totals or come from a persisted census rather than a row count.
    *
    * The cap prefix test runs in DECIMAL(38,0): `capu·(L−i+1)` and the
    * running capacity sum are products/sums of BIGINTs, and at extreme
    * scale (n·epochCap·L past ~9.2·10¹⁸ micro-units) the former silently
    * wrapped Long and flipped cap decisions (round-12 advice). Decimal(38)
    * holds ANY product of two longs (< 8.6·10³⁷) and any realistic
    * capacity sum exactly, so the "exact integer, never a float edge"
    * contract now has no overflow boundary inside the representable
    * inputs.
    */
  def uniMaxFromCensus(census: DataFrame, groupCol: String, nCol: String,
                       budget: Long, epochCap: Double): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    require(epochCap > 0.0, s"epochCap must be > 0, got $epochCap")
    val counts = census.select(col(groupCol).as("__g"),
      col(nCol).cast("long").as("__n"))
    // capacity in exact micro-units: floor(n * epochCap * 1e6 + 0.5)
    val withCap = counts.withColumn("__capu",
      floor(col("__n").cast("double") * lit(epochCap) * lit(1e6) +
        lit(0.5)).cast("long"))
    val dec = "decimal(38,0)"
    // budget·10⁶ as an exact driver-side decimal literal — never a Long
    // multiply that could wrap for budgets past Long.MaxValue/10⁶
    val budgetMicro = lit(new java.math.BigDecimal(budget)
      .multiply(new java.math.BigDecimal(1000000L))).cast(dec)
    val wOrd = Window.orderBy(col("__capu"), col("__g"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val staged = withCap
      .withColumn("__i", row_number().over(wOrd))
      .withColumn("__cum", coalesce(sum(col("__capu").cast(dec)).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L).cast(dec)))
      .withColumn("__L", count(lit(1)).over(wAll))
      .withColumn("__capped",
        col("__capu").cast(dec) *
          (col("__L") - col("__i") + 1L).cast(dec) <=
          budgetMicro - col("__cum"))
    val k = staged
      .withColumn("__k",
        coalesce(max(when(col("__capped"), col("__i"))).over(wAll),
          lit(0L)))
      .withColumn("__cumk",
        coalesce(max(when(col("__capped"),
          col("__cum") + col("__capu").cast(dec))).over(wAll),
          lit(0L).cast(dec)))
    val share = (budgetMicro - col("__cumk"))
      .cast("double") / lit(1e6) /
      (col("__L") - col("__k")).cast("double")
    k.select(col("__g").as(groupCol), col("__n").as("n"),
      round(col("__capu").cast("double") / lit(1e6), 6).as("capacity"),
      round(when(col("__capped"),
        col("__capu").cast("double") / lit(1e6)).otherwise(share), 6)
        .as("allocated"),
      round(when(col("__capped"),
        col("__capu").cast("double") / lit(1e6)).otherwise(share) /
        col("__n").cast("double"), 6).as("epochs"),
      col("__capped").as("capped"))
  }
}
