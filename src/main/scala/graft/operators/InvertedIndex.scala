package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inverted-index search over a document corpus (extension scope): the
  * posting-list relation `(term, doc_id, tf)` and conjunctive queries over
  * it — the retrieval primitive behind corpus exploration and
  * training-data audits ("every document mentioning all of X, Y, Z").
  *
  * Scale shape: the posting build is one narrow explode + one aggregation
  * (map-side combined); at 100 TB the postings are materialized ONCE,
  * bucketed/partitioned BY TERM, so a query's `term IN (...)` prunes to the
  * query terms' partitions before anything is listed or scanned — the
  * manifest/partition layer does what a search engine's dictionary does.
  * Queries then shuffle only the matching postings (|docs containing a
  * query term|, not |corpus|), and the conjunctive AND is a count-match
  * aggregate, never a self-join chain (k-way intersection as one groupBy —
  * associative, skew-tolerant, k-independent).
  */
object InvertedIndex {

  /** The posting-list relation: one row per (term, doc) with the term
    * frequency. Whitespace tokenization to match the corpus conventions.
    *
    * Spread-before-explode ([[Parallelism.spread]]): a
    * narrow document source — one small file, a coalesced upstream — would
    * serialize the CPU-bound tokenize+explode on its few tasks, and a
    * consumer like [[bm25JoinScores]] replays this leg once per derived
    * statistic (q194's stage profile showed FOUR single-task ~300 ms
    * copies). An input that is already parallel passes through untouched —
    * at corpus scale the scan always is, and the repartition never fires.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    Parallelism.spread(docs, idCol).select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Documents containing ALL `terms`, scored by summed term frequency —
    * `(doc_id, score)`. The filter pushes to the posting scan; the AND is
    * `count(DISTINCT matched term) = |terms|` in one aggregate.
    */
  def conjunctiveSearch(postings: DataFrame, terms: Seq[String]): DataFrame =
    postings.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("__n"), sum(col("tf")).as("score"))
      .filter(col("__n") === terms.length)
      .select(col("doc_id"), col("score"))

  /** Positional postings — `(term, doc_id, pos)`, one row per occurrence:
    * the phrase-query/proximity layer of the index (Lucene's term
    * positions). Pure narrow posexplode; at scale materialized beside
    * [[postings]], partitioned by term like everything else here.
    */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    // same spread-before-explode contract as [[postings]]
    Parallelism.spread(docs, idCol).select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
  }

  /** Exact phrase occurrences — `(doc_id, n_occ)` for documents containing
    * `phrase`'s words CONSECUTIVELY. Word i's postings equi-join the
    * anchor's on (doc, pos + i): each join's left side is already only the
    * anchor-term matches (pushed filter), so work tracks the rarest-term
    * posting count, the classic phrase-intersection cost — never a scan of
    * the corpus, never a regex over text.
    */
  def phraseSearch(positional: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "a 1-word phrase is a term lookup")
    val anchor = positional.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.tail.zipWithIndex.foldLeft(anchor) { case (acc, (t, i)) =>
      acc.join(positional.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - (i + 1)).as("pos")),
        Seq("doc_id", "pos"))
    }.groupBy(col("doc_id")).agg(count(lit(1)).as("n_occ"))
  }

  /** Incrementally-maintained postings over a [[graft.sources.TxLog]]
    * corpus: `tf` is a per-(term, doc) count — self-maintainable — so each
    * refresh explodes ONLY the files the source log added (manifest diff)
    * and merges by key, exactly the [[graft.operators.Sketches.countMinRefresh]]
    * machinery pointed at the search index: a continuously-ingested corpus
    * keeps a current index at O(new docs) per batch. Honest rebuild on any
    * removal; exactly-once via the materialization commit.
    */
  def refreshPostings(spark: org.apache.spark.sql.SparkSession,
                      sourcePath: String, matPath: String, idCol: String,
                      textCol: String): graft.sources.Materialize.Refresh =
    graft.sources.Materialize.refresh(spark, sourcePath, matPath,
      keyCols = Seq("term", "doc_id"), sumCols = Nil,
      prep = df => df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term")))

  /** The maintained index in [[postings]]' (term, doc_id, tf) shape. */
  def readPostings(spark: org.apache.spark.sql.SparkSession,
                   matPath: String): DataFrame =
    graft.sources.Materialize.read(spark, matPath)
      .select(col("term"), col("doc_id"), col("__cnt").as("tf"))

  /** BM25-ranked disjunctive search (Robertson/Sparck Jones; the Lucene
    * `1 + (N − df + ½)/(df + ½)` idf form): every document matching ANY
    * query term, scored `Σ_t idf·tf·(k1+1)/(tf + k1·(1−b+b·len/avgdl))` —
    * `(doc_id, bm25)`. Everything derives from the posting relation itself
    * (doc length = Σ tf, one broadcast row of corpus stats, a |terms|-row
    * broadcast of document frequencies), so the per-query work after the
    * pushed term filter is proportional to the matching postings. Plain
    * IEEE arithmetic in a fixed operand order — an external oracle replays
    * it to comparison precision.
    */
  def bm25Search(postings: DataFrame, terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dl = postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val dfreq = postings.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings.filter(col("term").isin(terms: _*))
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__c",
        col("__idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("bm25"))
  }

  /** Batched BM25 retrieval join — the N-queries-at-once form of
    * [[bm25Search]], the shape that builds retrieval TRAINING sets
    * (mine candidates per query, rank, featurize): queries arrive as
    * (q_id, term) rows and fan out over the term-keyed postings in ONE
    * join; each query keeps its top-k docs through a rank window whose
    * `rank <= k` filter compiles to WindowGroupLimit (map-side top-k per
    * task, shuffle bounded by k·queries). Per-term scores are the exact
    * [[bm25Search]] expression; only the per-(query, doc) sum's operand
    * order is engine-dependent (ulp-level, as everywhere).
    *
    * Deployment switch: a training-set-mining batch (thousands of queries)
    * broadcasts the query-term frame — zero extra shuffles. A CORPUS-sized
    * query set (query-vs-query mining, tens of millions of rows) would
    * flip that broadcast into a driver OOM, so a caller that cannot bound
    * its query set passes `broadcastMaxQueryTerms = Some(n)`: ONE eager
    * count over the query frame (never the corpus) decides, and above `n`
    * the retrieval joins re-plan as plain shuffles keyed on `term` — the
    * postings are already term-keyed, so the extra exchange carries the
    * QUERY side only. Row-identical either way (equivalence-spec'd). The
    * default `None` keeps the builder fully LAZY (no probe job at
    * plan-construction time) and broadcasts unconditionally — the right
    * posture for the bounded mining batches this shape exists for.
    */
  def bm25JoinTopK(postings: DataFrame, queryTerms: DataFrame, k: Int,
                   k1: Double = 1.2, b: Double = 0.75,
                   broadcastMaxQueryTerms: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25JoinScores(postings, queryTerms, k1, b, broadcastMaxQueryTerms)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("bm25").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
  }

  /** The (q_id, doc_id, bm25) score relation under [[bm25JoinTopK]],
    * without the rank window — for callers that rank by their OWN ordering
    * (e.g. [[Fusion.rrf]] legs ranking on a rounded score so deep-rank
    * near-ties cannot flip between engines or partitionings).
    */
  def bm25JoinScores(postings0: DataFrame, queryTerms: DataFrame,
                     k1: Double = 1.2, b: Double = 0.75,
                     broadcastMaxQueryTerms: Option[Long] = None): DataFrame = {
    // the postings frame feeds FOUR consumers (dl, the 1-row stats under
    // it, dfreq, and the main scoring join), so each consumer re-evaluates
    // the tokenize+explode subtree — and that is the MEASURED winner:
    // round-13 tried materializing it (full postings cache, then narrow
    // dl + term-filtered caches) and both variants ran ~2× SLOWER at ×10
    // scale with flat co-tenant controls (7.8 s → 13.9 / 15.8 s, q194)
    // while staying flat at sf0.1. Each un-cached evaluation pipelines the
    // explode straight into its consumer's broadcast probe / partial
    // aggregate under whole-stage codegen and reduces early; a cache
    // instead materializes the widest frame in the query through one
    // stage and pays its memory footprint. Deliberately NOT persisted.
    val postings = postings0
    val qt = queryTerms.select(col("q_id"), col("term")).distinct()
    val small = broadcastMaxQueryTerms.forall(qt.count() <= _)
    // the large path pins sort-merge (a bare unhinted join could still be
    // STATICALLY broadcast off a bad size estimate — the exact OOM the
    // switch exists to prevent); AQE remains free to handle skew inside it
    val side: DataFrame => DataFrame =
      if (small) broadcast else (df => df.hint("merge"))
    val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val dfreq = postings
      .join(side(qt.select(col("term")).distinct()), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .join(side(qt), "term")
      .join(side(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__c",
        col("__idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("q_id"), col("doc_id")).agg(sum(col("__c")).as("bm25"))
  }
}
