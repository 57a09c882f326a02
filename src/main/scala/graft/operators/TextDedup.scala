package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over a text corpus (extension scope): word-n-gram
  * shingling, exact Jaccard, MinHash signatures, and LSH banding for
  * sub-quadratic candidate generation.
  *
  * Design for 100 TB: the quadratic shingle self-join ([[jaccardPairs]]) is
  * the oracle-checkable baseline; the production path is
  * [[minhashNearDupes]] — signatures shrink each document to k hashes, band
  * buckets bound the join fan-out, and the exact Jaccard verify runs only on
  * candidate pairs.
  *
  * MinHash uses a universal hash family over a single md5-derived base hash
  * per shingle: h(s) = first 28 bits of md5(s), then h_i(s) = (a_i·h + b_i)
  * mod (2^61-1). md5 is deliberately chosen over the faster xxhash64 because
  * it is bit-identical in ANSI SQL engines, making the whole pipeline
  * oracle-checkable — and only ONE md5 is computed per shingle regardless of
  * k. Swap [[shingleBaseHash]] for `xxhash64`-based hashing when oracle
  * parity is not needed.
  */
object TextDedup {

  /** Distinct word n-gram shingles, one row per (id, shingle). Documents with
    * fewer than n tokens produce no rows (mirrors the SQL `len(w) >= n`
    * guard; also keeps `sequence()` bounds valid under ANSI).
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val words = split(col(textCol), " ")
    // the explode + hashing downstream is CPU-bound and narrow; spread a
    // LOW-parallelism input (the single-file harness parquet) first. An
    // already-parallel input passes through untouched — [[Decontamination]]'s
    // contract is that the corpus side never shuffles.
    Parallelism.spread(df, idCol)
      .select(col(idCol).as("id"), words.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("id"), explode(
        transform(
          sequence(lit(1), size(col("w")) - lit(n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("w"), i + lit(j))): _*))
      ).as("s"))
      .distinct()
  }

  /** Exact all-pairs Jaccard over shared shingles (quadratic baseline).
    * Returns (a_id, b_id, jaccard) for pairs with jaccard >= minJaccard.
    */
  def jaccardPairs(sh0: DataFrame, minJaccard: Double): DataFrame = {
    // consumed three times (self-join ×2 + counts) — compute the shingle set once
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // the self-join's right side is broadcast EXPLICITLY: this operator's
    // contract is the bounded quadratic baseline (callers cap the input —
    // the uncapped scale paths are minhashNearDupes/prefixJaccardJoin), so
    // the frame is broadcastable by construction, and pinning it stops AQE
    // from flipping broadcast↔sort-merge run-to-run when the persisted
    // frame's size estimate shifts under memory pressure (observed as a
    // 0.9↔11 MB shuffle wobble at identical wall in the bench suite)
    val common = sh.as("x").join(broadcast(sh.as("y")),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("id").as("a_id"), col("n_sh").as("na")), "a_id")
      .join(counts.select(col("id").as("b_id"), col("n_sh").as("nb")), "b_id")
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** Modulus of the universal hash family: 2^31 - 1 (Mersenne prime).
    *
    * The modulus must sit BELOW max(a)·max(h) ≈ 2^59 so `(a·h + b) mod p`
    * actually wraps: with a larger prime (2^61-1 was round 1's choice) the
    * mod is a no-op, every `h_i` becomes an order-preserving affine map, all
    * k "permutations" pick the same argmin shingle, and the whole signature
    * degenerates to one permutation's worth of information — caught by the
    * recall spec when a j=0.9 pair shared zero signature slots. With p=2^31-1
    * the map wraps ~2^28 times, giving genuinely rank-shuffling universal
    * hashes, while `a·h + b < 2^59` keeps the arithmetic exact int64 in any
    * ANSI SQL engine.
    */
  val MinhashP: Long = 2147483647L

  /** Deterministic per-permutation multipliers/offsets. `a`,`b` < 2^31 and the
    * base hash < 2^28, so `a*h + b` stays well inside signed 64-bit — the
    * arithmetic is exact (and identical) in any ANSI SQL engine.
    */
  final case class HashParam(a: Long, b: Long)
  def hashParams(k: Int): Seq[HashParam] = (0 until k).map { i =>
    val a = ((1103515245L * (i + 1) + 12345L) % 2147483647L) | 1L
    val b = (2654435761L * (i + 7)) % 2147483647L
    HashParam(a, b)
  }

  /** Base shingle hash: first 7 hex digits of md5 → 28-bit int. ONE md5 per
    * shingle row regardless of k — the k permutations are pure integer
    * arithmetic on top (classic universal hashing), an 8× hash-work reduction
    * vs hashing per permutation. Mirrorable in the DuckDB oracle as
    * `('0x' || substr(md5(s),1,7))::BIGINT`.
    */
  def shingleBaseHash(s: Column): Column =
    conv(substring(md5(s), 1, 7), 16, 10).cast("long")

  /** MinHash signature: k independent min-hashes per document, columns
    * m0..m{k-1}.
    */
  def minhashSignature(sh: DataFrame, k: Int): DataFrame = {
    val h = shingleBaseHash(col("s"))
    val aggs = hashParams(k).zipWithIndex.map { case (p, i) =>
      min((lit(p.a) * h + lit(p.b)) % lit(MinhashP)).as(s"m$i")
    }
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: concatenate r=k/bands consecutive minhashes per band; docs
    * sharing any band bucket become candidates. Returns distinct
    * (a_id, b_id) with a_id < b_id.
    *
    * The band dimension is EXPLODED into rows so one self-join on
    * (band_index, band_value) covers all bands — one shuffle instead of one
    * join per band, and the prefixed band index keeps buckets from different
    * bands from colliding.
    */
  def lshCandidates(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val bandCols = (0 until bands).map(b =>
      concat_ws("_", lit(b) +: (b * r until (b + 1) * r).map(i => col(s"m$i")): _*))
    val exploded = sig.select(col("id"), explode(array(bandCols: _*)).as("bv"))
    exploded.as("x").join(exploded.as("y"),
        col("x.bv") === col("y.bv") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
  }

  /** Full near-dup pipeline: shingle → sign → band → candidate pairs → exact
    * Jaccard verify restricted to candidates.
    */
  def minhashNearDupes(df: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int, bands: Int, minJaccard: Double): DataFrame = {
    // the shingle set feeds three consumers (signature, candidate verify ×2) —
    // persist it so the explode+distinct shuffle runs once
    val sh = wordShingles(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // signature is tiny (one row per doc) but feeds both sides of the
    // candidate self-join — persist it so the 8-agg groupBy runs once
    val sig = minhashSignature(sh, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lshCandidates(sig, k, bands)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.as("sa"), col("sa.id") === col("a_id"))
      .join(sh.as("sb"), col("sb.id") === col("b_id") && col("sa.s") === col("sb.s"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("id").as("a_id"), col("n_sh").as("na")), "a_id")
      .join(counts.select(col("id").as("b_id"), col("n_sh").as("nb")), "b_id")
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** Signature-agreement Jaccard ESTIMATE beside the exact verify for every
    * LSH candidate pair — the near-dup family's estimator-honesty row
    * (q124's sketch-vs-exact pattern, for MinHash): `n_agree/k` is the
    * unbiased estimator of J (P[min-hash agreement] = Jaccard, Broder
    * 1997), and at corpus scale it is what a pipeline actually thresholds
    * on FIRST — k integer compares on signatures already in hand — before
    * paying the shingle join for exact verification. Emitting both lets the
    * calibration (estimator spread vs truth at k) be measured on real data.
    *
    * Returns (a_id, b_id, n_agree, est_jaccard, common, jaccard). `common`
    * may be 0: band collisions of unequal shingle sets are possible (hash
    * collisions), and the estimator row keeps them visible.
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
                           n: Int, k: Int, bands: Int): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = minhashSignature(sh, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lshCandidates(sig, k, bands)
    val sigA = sig.select(col("id").as("a_id") +:
      (0 until k).map(i => col(s"m$i").as(s"a_m$i")): _*)
    val sigB = sig.select(col("id").as("b_id") +:
      (0 until k).map(i => col(s"m$i").as(s"b_m$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.as("sa"), col("sa.id") === col("a_id"))
      .join(sh.as("sb"), col("sb.id") === col("b_id") && col("sa.s") === col("sb.s"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    cand.join(sigA, "a_id").join(sigB, "b_id")
      .select(col("a_id"), col("b_id"), agree.as("n_agree"))
      .join(common, Seq("a_id", "b_id"), "left")
      .join(counts.select(col("id").as("a_id"), col("n_sh").as("na")), "a_id")
      .join(counts.select(col("id").as("b_id"), col("n_sh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_agree"),
        (col("n_agree").cast("double") / lit(k)).as("est_jaccard"),
        coalesce(col("common"), lit(0L)).as("common"),
        (coalesce(col("common"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("common"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Incremental near-dup: flag INCOMING documents that near-duplicate the
    * EXISTING corpus — the continuous-crawl ingestion shape, where each new
    * batch is deduped against everything already accepted rather than
    * re-running the self-join over the whole corpus. Returns
    * (in_id, ex_id, jaccard); intra-batch pairs are deliberately NOT
    * produced (run [[minhashNearDupes]] on the batch for those).
    *
    * Scale shape: the batch is tiny relative to the corpus, so the batch's
    * band rows BROADCAST onto the existing band-bucket table — the corpus
    * side never shuffles for candidate generation, and at rest the
    * existing signatures/band buckets are computed once per doc at accept
    * time and stored, not recomputed per batch (here both are derived from
    * the input frames; persist/extract `minhashSignature` to materialize).
    */
  def minhashNearDupesAgainst(existing: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              n: Int, k: Int, bands: Int,
                              minJaccard: Double): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shEx = wordShingles(existing, idCol, textCol, n).persist(mem)
    val shIn = wordShingles(incoming, idCol, textCol, n).persist(mem)
    val r = k / bands
    def bandRows(sig: DataFrame): DataFrame = {
      val bandCols = (0 until bands).map(b =>
        concat_ws("_", lit(b) +: (b * r until (b + 1) * r).map(i => col(s"m$i")): _*))
      sig.select(col("id"), explode(array(bandCols: _*)).as("bv"))
    }
    val cand = bandRows(minhashSignature(shEx, k)).as("y")
      .join(broadcast(bandRows(minhashSignature(shIn, k)).as("x")),
        col("x.bv") === col("y.bv"))
      .select(col("x.id").as("in_id"), col("y.id").as("ex_id"))
      .distinct()
    val common = cand
      .join(shIn.as("sa"), col("sa.id") === col("in_id"))
      .join(shEx.as("sb"), col("sb.id") === col("ex_id") && col("sa.s") === col("sb.s"))
      .groupBy("in_id", "ex_id")
      .agg(count(lit(1)).as("common"))
    common
      .join(shIn.groupBy("id").agg(count(lit(1)).as("na"))
        .select(col("id").as("in_id"), col("na")), "in_id")
      .join(shEx.groupBy("id").agg(count(lit(1)).as("nb"))
        .select(col("id").as("ex_id"), col("nb")), "ex_id")
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("in_id", "ex_id", "jaccard")
  }

  /** SimHash (Charikar): per-token hash, per-bit ±1 vote weighted by token
    * frequency, sign → bit. The base hash is the same md5-derived 28-bit
    * integer as MinHash ([[shingleBaseHash]]) so the whole fingerprint is
    * bit-replicable in ANSI SQL engines and oracle-checkable; pass
    * `baseHash = xxhash64(_)` (and nBits ≤ 64) to trade oracle parity for a
    * faster Spark-native hash.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, nBits: Int = 16,
              baseHash: Column => Column = shingleBaseHash): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", baseHash(col("t")))
    val votes = (0 until nBits).map(p =>
      sum(when((shiftright(col("h"), p).bitwiseAND(1)) === 1, 1).otherwise(-1)).as(s"v$p"))
    tok.groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until nBits).map(p =>
          when(col(s"v$p") > 0, lit(1L << p)).otherwise(lit(0L))
        ).reduce(_ + _).as("simhash"))
  }

  /** EXACT set-similarity self-join by prefix filtering (the PPJoin/AllPairs
    * candidate rule, Xiao et al. 2008 / Bayardo et al. 2007): documents as
    * distinct-unigram sets, all pairs with Jaccard ≥ tNum/tDen — same
    * answer as the quadratic scan, sub-quadratic work. Tokens are ranked by
    * global rarity; a set of size m keeps only its m − ⌈t·m⌉ + 1 RAREST
    * tokens as its prefix, and two sets can reach Jaccard ≥ t only if their
    * prefixes share a token (|∩| ≥ t·|a| forces any (1−t)|a|+1 tokens of a
    * to hit b). Candidates therefore come from equi-joining prefixes — the
    * postings of rare tokens, the join Spark shuffles and AQE skew-splits —
    * and each candidate is verified exactly. Unlike MinHash-LSH
    * ([[minhashNearDupes]]) there is no recall loss: this is the EXACT
    * sub-quadratic path; LSH remains the approximate one.
    *
    * The threshold is a RATIONAL tNum/tDen and every filter is integer
    * arithmetic (⌈t·m⌉ = (tNum·m + tDen−1) div tDen; the verify is
    * common·tDen ≥ tNum·(na+nb−common)) — no float rounding anywhere near
    * a cut line, bit-identical across engines. Rarity is the pair
    * (document frequency ASC, token ASC) used DIRECTLY as the per-set
    * ordering key — materializing a global dense rank would need a
    * single-partition window AND a broadcast over the shingle vocabulary,
    * both of which grow with the corpus (the 10× stress caught exactly
    * that: 2.5 GB JVM heap from broadcasting a corpus-sized token map).
    * The census join on `tok` is an ordinary shuffle join instead.
    *
    * Returns (a_id, b_id, jaccard).
    */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        tNum: Int, tDen: Int, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n-gram shingle sets (n=1 → distinct unigrams): the set domain must be
    // discriminative for prefix filtering to prune — tiny-vocabulary
    // unigram sets make every pair a candidate AND a match (degenerate)
    // four consumers (freq, sizes, and both verify legs ta/tb) re-evaluate
    // the shingle explode without materialization — checkpoint the
    // (doc × distinct-shingle)-bounded frame so tokenization runs once. The
    // checkpoint is eager, so AQE plans every join above it from its true
    // size, and it keeps the hash-by-id partitioning its job produced
    // ([[Checkpoints.state]]), so the rarity window and the verify joins on
    // id read it without an exchange.
    // Cleanup: session owner drops persisted blocks between queries.
    val toks = Checkpoints.state(wordShingles(df, idCol, textCol, n)
      .select(col("id"), col("s").as("tok"))).df
    // global rarity: (document frequency ASC, token ASC) is a total order —
    // used directly, never materialized as a rank (see Scaladoc)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("df_"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("m"))
    // both legs of the candidate self-join read the prefixes — checkpoint
    // them so the rarity window runs once, not per leg
    val prefix = Checkpoints.state(toks.join(freq, Seq("tok"))
      .join(sizes, "id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df_").asc, col("tok").asc)))
      .withColumn("plen",
        col("m") - expr(s"(($tNum * m + ${tDen - 1}) div $tDen)") + 1)
      .filter(col("rn") <= col("plen"))
      .select(col("id"), col("tok"))).df
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    val common = cand
      .join(toks.as("ta"), col("ta.id") === col("a_id"))
      .join(toks.as("tb"),
        col("tb.id") === col("b_id") && col("ta.tok") === col("tb.tok"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("a_id"), col("m").as("na")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("m").as("nb")), "b_id")
      .filter(col("common") * tDen >=
        lit(tNum) * (col("na") + col("nb") - col("common")))
      .select(col("a_id"), col("b_id"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jaccard"))
  }

  /** C4/RefinedWeb-style corpus-level duplicated-chunk removal: split every
    * document into consecutive non-overlapping `chunkWords`-word chunks,
    * drop EVERY occurrence of any chunk that appears >= `minCount` times
    * across the whole corpus, and re-assemble the surviving text (the
    * boilerplate-line filter of Raffel et al. 2020 §2.2 / Penedo et al.
    * 2023, with fixed-width chunks standing in for newline-delimited lines
    * — the fixture corpus carries no newlines).
    *
    * Scale shape: the chunk explode is narrow; the global chunk census is
    * ONE map-side-combined aggregation on the 128-bit chunk hash; and the
    * removal is an UNHINTED LEFT ANTI equi-join against only the
    * DUPLICATED dictionary. The dictionary's size is duplication-
    * proportional, NOT bounded: on a high-duplication crawl (Lee et al.
    * 2022 report up to ~14% of tokens inside duplicated spans) it is
    * corpus-scale, so the join must not be force-broadcast — AQE promotes
    * it to a broadcast only when the runtime census is actually small, and
    * falls back to a shuffle anti-join otherwise (plan-guarded in
    * PlanShapeSpec). The corpus itself shuffles once more for the per-doc
    * re-assembly groupBy. md5 keeps the census rows narrow and the whole
    * pipeline oracle-replayable.
    *
    * Returns (id, n_chunks, n_kept, clean_text).
    */
  /** Asymmetric CONTAINMENT join — quote / near-verbatim-inclusion
    * detection: pairs (query, document) where at least `minNum/minDen` of
    * the QUERY's distinct word n-grams appear in the document. This is the
    * right predicate when the query is small and the document is large
    * (a benchmark prompt quoted inside a web page): Jaccard divides by the
    * UNION and so vanishes exactly when the inclusion is real — the reason
    * decontamination and quote-mining use containment, not symmetric
    * similarity (Broder 1997's "containment" alongside "resemblance").
    *
    * Scale shape: the shingle equi-join IS an inverted-index probe — both
    * sides stay distributed (unlike [[Decontamination.contaminatedDocs]],
    * which broadcasts a benchmark-sized side), the (q, d) hit count
    * partial-aggregates map-side, and the threshold compares integers
    * (`n_shared·minDen ≥ q_size·minNum` — no float in the filter). Hot
    * shingles (boilerplate) are ordinary equi-key skew — AQE/salting
    * territory; the production knob is dropping shingles with corpus
    * document-frequency above a cap, which only REMOVES candidate mass and
    * is replayed identically by any oracle.
    *
    * Returns (q_id, d_id, n_shared, q_size, containment).
    */
  def containmentJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
                      textCol: String, n: Int,
                      minNum: Int, minDen: Int): DataFrame = {
    val qsh = wordShingles(queries, idCol, textCol, n)
      .select(col("id").as("q_id"), col("s"))
    val qSize = qsh.groupBy("q_id").agg(count(lit(1)).as("q_size"))
    val csh = wordShingles(corpus, idCol, textCol, n)
      .select(col("id").as("d_id"), col("s"))
    qsh.join(csh, "s")
      .groupBy("q_id", "d_id").agg(count(lit(1)).as("n_shared"))
      .join(qSize, "q_id")
      .filter(col("n_shared") * minDen >= col("q_size") * minNum)
      .select(col("q_id"), col("d_id"), col("n_shared"), col("q_size"),
        (col("n_shared").cast("double") / col("q_size").cast("double"))
          .as("containment"))
  }

  /** CCNet-style LINE-LEVEL dedup (Wenzek et al. 2020 "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data" §4.2 — the
    * boilerplate-removal staple run before every paragraph/document pass):
    * hash every newline-delimited line, census the hashes across the WHOLE
    * corpus, and drop every line occurring ≥ `minCount` times — headers,
    * footers, nav bars and cookie banners die here, at a granularity the
    * substring family (≥ minTokens tokens, [[exactSubstringSpans]]) never
    * sees and fixed-width chunking ([[dropDuplicatedChunks]]) only hits by
    * luck of alignment. The census key is the lower-cased, trimmed line
    * (CCNet hashes a normalized line for exactly this robustness);
    * whitespace-only lines are structure, not content — they are excluded
    * from the census and always kept.
    *
    * Scale shape: one narrow (id, line_no, line) explode; the global line
    * census is ONE map-side-combined count on the 128-bit line hash; the
    * removal is an UNHINTED LEFT ANTI equi-join against only the
    * duplicated dictionary (duplication-proportional — corpus-scale on a
    * boilerplate-heavy crawl, so broadcast-vs-shuffle belongs to AQE's
    * runtime estimate, the [[exactSubstringSpans]] lesson); re-assembly is
    * one per-doc groupBy. Line-hash equi-joins throughout — never
    * all-pairs.
    *
    * `unitPattern` sets the granularity: the default `"\n"` is CCNet's
    * line mode; `"\n\n+"` is PARAGRAPH mode (the granularity CCNet's own
    * released pipeline hashes at) — same census, same plan, coarser
    * units. Re-assembly joins units back with a single newline (the
    * canonical normalized separator; exact inter-unit whitespace is not
    * preserved in paragraph mode, matching CCNet's normalize-then-hash
    * behavior).
    *
    * Returns (id, n_lines, n_kept, clean_text) for every input doc.
    */
  def dropDuplicatedLines(df: DataFrame, idCol: String, textCol: String,
                          minCount: Int = 2,
                          unitPattern: String = "\n"): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), unitPattern)).as(Seq("line_no", "line")))
      .withColumn("h", md5(lower(trim(col("line")))))
    val dup = lines.filter(trim(col("line")) =!= "")
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select("h")
    val kept = lines.join(dup, Seq("h"), "left_anti")
    val total = lines.groupBy("id").agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x("line")), "\n").as("clean_text"))
    total.join(keptAgg, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** INCREMENTAL line-level dedup — an INCOMING batch cleaned against
    * (existing ∪ incoming), without re-emitting the existing corpus: an
    * incoming line is boilerplate iff its corpus-wide occurrence count —
    * existing census count plus within-batch count — reaches `minCount`.
    * Provably equal to [[dropDuplicatedLines]] on the union restricted to
    * incoming ids (equivalence-spec'd). The against-corpus sibling of
    * [[exactSubstringSpansAgainst]], same deployment shape: the existing
    * corpus contributes ONLY its line-hash census (one md5 + count per
    * distinct normalized line — at 100 TB a persisted table the batch
    * equi-joins by line hash, the [[graft.sources.GramStore]] pattern at
    * line granularity; the corpus text never reshuffles), the batch side
    * is O(batch lines), and both censuses are map-side-combined counts.
    *
    * Returns (id, n_lines, n_kept, clean_text) for incoming docs only.
    */
  def dropDuplicatedLinesAgainst(existing: DataFrame, incoming: DataFrame,
                                 idCol: String, textCol: String,
                                 minCount: Int = 2,
                                 unitPattern: String = "\n"): DataFrame = {
    val exCensus = unitRows(existing, idCol, textCol, unitPattern)
      .filter(trim(col("line")) =!= "")
      .groupBy("h").agg(count(lit(1)).as("cnt"))
    cleanAgainstCensus(
      unitRows(incoming, idCol, textCol, unitPattern), exCensus, minCount)
  }

  /** (id, line_no, line, h) unit rows — the shared front of the line-dedup
    * family; `h` is the md5 of the lower-cased trimmed unit (the CCNet
    * normalization).
    */
  private[graft] def unitRows(df: DataFrame, idCol: String, textCol: String,
                              unitPattern: String): DataFrame = df
    .select(col(idCol).as("id"),
      posexplode(split(col(textCol), unitPattern)).as(Seq("line_no", "line")))
    .withColumn("h", md5(lower(trim(col("line")))))

  /** Clean `inLines` (unit rows) against an existing census of
    * (h, cnt) rows: a unit dies iff existing count + within-batch count
    * reaches `minCount`. The census side only ever joins by hash — the
    * [[graft.sources.LineStore]] serving shape.
    */
  private[graft] def cleanAgainstCensus(inLines: DataFrame,
                                        exCensus: DataFrame,
                                        minCount: Int): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val inCensus = inLines.filter(trim(col("line")) =!= "")
      .groupBy("h").agg(count(lit(1)).as("__in"))
    val dup = inCensus
      .join(exCensus.select(col("h"), col("cnt").as("__ex")), Seq("h"), "left")
      .filter(coalesce(col("__ex"), lit(0L)) + col("__in") >= minCount)
      .select("h")
    val kept = inLines.join(dup, Seq("h"), "left_anti")
    val total = inLines.groupBy("id").agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x("line")), "\n").as("clean_text"))
    total.join(keptAgg, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def dropDuplicatedChunks(df: DataFrame, idCol: String, textCol: String,
                           chunkWords: Int = 10, minCount: Int = 2): DataFrame = {
    val words = split(col(textCol), " ")
    val chunks = df
      .select(col(idCol).as("id"), words.as("ws"))
      .select(col("id"), explode(
        transform(
          sequence(lit(0),
            floor((size(col("ws")) - 1) / chunkWords).cast("int")),
          i => struct(i.as("chunk_idx"),
            concat_ws(" ", slice(col("ws"), i * chunkWords + 1, lit(chunkWords)))
              .as("chunk")))
      ).as("c"))
      .select(col("id"), col("c.chunk_idx"), col("c.chunk"),
        md5(col("c.chunk")).as("h"))
    val dup = chunks.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select("h")
    val kept = chunks.join(dup, Seq("h"), "left_anti")
    val total = chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
    val keptAgg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          x => x("chunk")), " ").as("clean_text"))
    total.join(keptAgg, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CONTENT-DEFINED chunking at token granularity (the Rabin/gear
    * rolling-hash idea from storage dedup, applied to text): a chunk
    * boundary falls after every token whose 28-bit hash ≡ 0
    * (mod `avgTokens`), so expected chunk length is `avgTokens` tokens and
    * a boundary depends ONLY on the token at it — never on position.
    * That is the property [[dropDuplicatedChunks]]'s fixed windows lack:
    * inserting one token early in a document shifts EVERY fixed window
    * after it (no chunk matches its twin in the unedited copy), while
    * content-defined boundaries reflow just the edited chunk and leave the
    * rest byte-identical — edit-localized dedup, spec'd as such.
    *
    * Scale shape: one narrow explode (token, position), one running-sum
    * window per doc for the chunk number, one per-(doc, chunk) re-assembly
    * groupBy. O(total tokens), no joins.
    *
    * Returns (id, chunk_no, n_tokens, chunk). */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           avgTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val boundary = graft.operators.Curation.hash28(col("token")) % avgTokens === 0
    val toks = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "token")))
    // the boundary closes its chunk — chunk_no counts boundaries BEFORE pos
    val numbered = toks.withColumn("chunk_no",
      coalesce(sum(when(boundary, 1L).otherwise(0L)).over(
        Window.partitionBy(col("id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    numbered.groupBy(col("id"), col("chunk_no"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x("token")), " ").as("chunk"))
  }

  /** Corpus-wide duplicate coverage on content-defined chunks: per doc, how
    * many of its chunks occur (verbatim) in at least one OTHER document —
    * [[duplicateSpanCoverage]]'s edit-robust sibling. The chunk census is
    * one map-side-combined count; nothing self-joins.
    */
  def cdcDupCoverage(df: DataFrame, idCol: String, textCol: String,
                     avgTokens: Int): DataFrame = {
    val chunks = contentDefinedChunks(df, idCol, textCol, avgTokens)
    val census = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("chunk"))
    chunks.join(census, Seq("chunk"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_chunks"))
      .join(chunks.groupBy("id").agg(count(lit(1)).as("n_chunks")), Seq("id"), "right")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
  }

  /** Approximate substring-level duplicate coverage (the span statistic
    * behind exact-substring dedup, Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better", approximated at word granularity):
    * every sliding `w`-word window that occurs more than once ANYWHERE in
    * the corpus marks its [start, start+w) span as duplicated; per document
    * this reports how many windows are duplicated and how many word
    * positions the union of those spans covers — the "what fraction of this
    * doc is copied text" curation signal. Complements
    * [[graft.operators.Curation.duplicateSpans]] (q66), which is the
    * SPAN-side census (which fingerprints repeat, how often, in how many
    * docs, on strided windows); this is the DOCUMENT-side roll-up on dense
    * windows, with the overlapping spans union-merged per doc.
    *
    * Scale shape: the window explode is narrow (one md5 per window); the
    * global census is one map-side-combined count on the hash; duplicated
    * window hashes join back as an UNHINTED LEFT SEMI equi-filter — the
    * duplicated set is duplication-proportional (corpus-scale on a
    * high-duplication crawl), so the join is left to AQE: broadcast when
    * the runtime census is genuinely small, shuffle semi-join when it is
    * not; and the interval-union is a per-doc running-max window over
    * only the duplicated spans, never the full text. No self-join at any
    * point: corpus cost is O(total words), not O(pairs).
    *
    * Returns (id, n_words, dup_windows, covered_words) for every input doc.
    */
  /** EXACT substring-level duplicate SPANS (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * operation, at word granularity): every maximal run of token positions
    * covered by a `minTokens`-token sliding window that occurs more than
    * once ANYWHERE in the corpus, emitted as one (doc, span) row. This is
    * the span-EMITTING sibling of [[duplicateSpanCoverage]] (which only
    * counts covered positions): a duplicated substring of length
    * ≥ minTokens shares ALL of its minTokens-grams with its twin, so the
    * union of duplicated-window spans is exactly the duplicated region —
    * including SHIFTED duplicates that fixed-boundary chunking
    * ([[dropDuplicatedChunks]]) misses when the copy lands at a different
    * chunk offset (spec'd as such).
    *
    * Scale shape — sorted-gram GROUP, never a suffix array's global sort
    * and never all-pairs: one narrow window explode (one 32-hex-char md5 per
    * position — the fingerprint stands in for Lee et al.'s suffix-array
    * comparisons; a collision needs 2^64 grams), one map-side-combined
    * census on the gram key, the duplicated grams back as an UNHINTED
    * LEFT SEMI equi-join (the count>1 gram set is duplication-
    * proportional — corpus-scale on exactly the high-duplication crawls
    * this operator targets, so the choice of broadcast vs shuffle semi-
    * join belongs to AQE's runtime size estimate, never a forced hint),
    * then a per-doc gaps-and-islands window pass over ONLY the
    * duplicated positions. O(total tokens) shuffle, document-local
    * windows, no join wider than the gram census.
    *
    * Returns (id, span_start, span_end, span_tokens, n_windows) — 1-based
    * token positions, end exclusive, spans disjoint and maximal per doc.
    */
  /** Sliding `minTokens`-gram fingerprints with 1-based positions —
    * (id, start, h); the shared front of the exact-substring family.
    */
  private[graft] def gramWindows(df: DataFrame, idCol: String,
                                 textCol: String,
                                 minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= minTokens)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("ws")) - lit(minTokens - 1)),
          i => struct(i.as("start"),
            md5(concat_ws(" ", slice(col("ws"), i, lit(minTokens))))
              .as("h")))).as("g"))
      .select(col("id"), col("g.start").cast("long").as("start"), col("g.h"))
  }

  /** Per-doc gaps-and-islands union of duplicated-window hits — (id, start)
    * rows in, maximal disjoint (id, span_start, span_end, span_tokens,
    * n_windows) out. A window starts a new island iff it begins past the
    * running max end of everything before it (contiguity merges: start ==
    * prev end means positions touch with no gap).
    */
  private[graft] def mergeSpans(hits: DataFrame,
                                minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = hits.select(col("id"), col("start"),
      (col("start") + minTokens).as("end"))
    val ord = Window.partitionBy("id").orderBy("start")
    val prevMax = max(col("end")).over(
      ord.rowsBetween(Window.unboundedPreceding, -1))
    val marked = spans.withColumn("ni",
      when(coalesce(prevMax, lit(-1L)) < col("start"), 1L).otherwise(0L))
    val islands = marked.withColumn("island",
      sum(col("ni")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("id"), col("island"))
      .agg(min(col("start")).as("span_start"),
        max(col("end")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"))
  }

  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                          minTokens: Int = 50): DataFrame = {
    // consumed twice (census + semi-join probe): persist so the 50-token
    // md5 window explode runs once. Cleanup: session owner drops persisted
    // blocks between queries.
    val wins = gramWindows(df, idCol, textCol, minTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = wins.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    mergeSpans(wins.join(dup, Seq("h"), "left_semi"), minTokens)
  }

  /** INCREMENTAL exact-substring matcher — spans of an INCOMING batch
    * duplicated against (existing ∪ incoming), without re-processing the
    * existing corpus's documents per batch: an incoming gram is duplicated
    * iff it occurs in the existing gram set at least once OR at least
    * twice within the batch — exactly [[exactSubstringSpans]] on the union
    * restricted to incoming ids (equivalence-spec'd). The against-corpus
    * sibling of [[minhashNearDupesAgainst]], same deployment shape: the
    * corpus contributes only its gram-fingerprint census (one 32-hex-char md5 per
    * token position, term-keyed — at 100 TB a persisted table the batch
    * equi-joins by gram key; the corpus text never reshuffles), the batch
    * side is O(batch tokens), and the within-batch census is one map-side
    * combine. Never all-pairs.
    *
    * Returns (id, span_start, span_end, span_tokens, n_windows) for
    * incoming docs only.
    */
  def exactSubstringSpansAgainst(existing: DataFrame, incoming: DataFrame,
                                 idCol: String, textCol: String,
                                 minTokens: Int = 50): DataFrame = {
    val inWins = gramWindows(incoming, idCol, textCol, minTokens)
    val exGrams = gramWindows(existing, idCol, textCol, minTokens)
      .select(col("h")).distinct()
    val batchDup = inWins.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    val hits = inWins.join(exGrams, Seq("h"), "left_semi")
      .unionByName(inWins.join(broadcast(batchDup), Seq("h"), "left_semi"))
      .dropDuplicates("id", "start")
    mergeSpans(hits, minTokens)
  }

  /** The removal twin of [[exactSubstringSpans]]: strip every
    * corpus-duplicated span of ≥ `minTokens` tokens from every document
    * and re-assemble the survivors in order. Conservative semantics — ALL
    * occurrences go, including the "original" (the decontamination
    * variant; keeping one canonical copy per duplicated region needs a
    * global champion election per region and is deliberately out of
    * scope — Lee et al. themselves accept removing all-but-arbitrary-one
    * and we go one further for auditability: what remains is guaranteed
    * duplicate-free at this granularity). The span set joins back
    * per-doc (spans are doc-bounded, the array is in-row) and the token
    * filter is one higher-order expression — no second corpus shuffle.
    *
    * Returns (id, n_tokens, removed_tokens, clean_text).
    */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          minTokens: Int = 50): DataFrame = {
    val spans = exactSubstringSpans(df, idCol, textCol, minTokens)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    val base = df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
    base.join(spans, Seq("id"), "left")
      .withColumn("__sp", coalesce(col("sp"),
        array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("__kept", filter(col("ws"), (tok, i) =>
        !exists(col("__sp"), s =>
          (i + 1) >= s("span_start") && (i + 1) < s("span_end"))))
      .select(col("id"), size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("__kept"))).cast("long")
          .as("removed_tokens"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  def duplicateSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                            w: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"), col("ws"), size(col("ws")).cast("long").as("n_words"))
    // consumed twice (census + semi-join probe): persist so the
    // per-position md5 window explode — the expensive part — runs once.
    // Cleanup: session owner drops persisted blocks between queries.
    val wins = base.filter(col("n_words") >= w)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("ws")) - lit(w - 1)),
          i => struct(i.as("start"),
            md5(concat_ws(" ", slice(col("ws"), i, lit(w)))).as("h")))).as("g"))
      .select(col("id"), col("g.start").cast("long").as("start"), col("g.h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = wins.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    val spans = wins.join(dup, Seq("h"), "left_semi")
      .select(col("id"), col("start"), (col("start") + w).as("end"))
    // interval union per doc: starts are unique within a doc, so the
    // ordering is total and the running max is deterministic
    val prevMax = max(col("end")).over(
      Window.partitionBy("id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1))
    val covered = spans
      .withColumn("inc", greatest(lit(0L),
        col("end") - greatest(col("start"), coalesce(prevMax, col("start")))))
      .groupBy("id")
      .agg(count(lit(1)).as("dup_windows"), sum(col("inc")).as("covered_words"))
    base.select("id", "n_words").join(covered, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_words"), lit(0L)).as("covered_words"))
  }
}
