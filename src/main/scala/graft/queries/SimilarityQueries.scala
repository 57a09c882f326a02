package graft.queries

import graft.functions.{GapParser, TextFunctions, VectorFunctions}
import graft.operators._
import graft.pipeline.{F1Staging, F1Synthetic}
import graft.sources.{BloomStore, Bucketed, Tables, TxLog}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryShared._

/** Embedding/ANN + full-text retrieval: brute-force and LSH/IVF/PQ/SQ8 vector search, kNN join, recall harness, pooling, tf-idf and sparse cosine, the inverted-index family.
  *
  * Split from the original single-file registry; each entry keeps its
  * Scaladoc mapping to SURVEY.md §2 / the reference files. The driver
  * surface remains [[graft.SparkEntry.queries]]/[[graft.SparkEntry.oracleSql]],
  * which merge the per-family maps.
  */
private[graft] object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    /** Similarity search baseline: brute-force cosine top-10 to vec_id=0
      * (TakeOrderedAndProject; no corpus shuffle). */
    "q27_cosine_topk" -> ((s, dir) => Similarity.bruteForceTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),

    /** SQL surface for kNN (extension; [[graft.GraftExtensions]]
      * `graft_knn` TVF): q27's exact brute-force cosine top-k driven
      * through `spark.sql` — the TVF splices [[graft.operators.Similarity
      * .bruteForceTopK]]'s analyzed plan, one physical plan both routes.
      */
    "q238_sql_knn" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      Tables.load(s, dir, "embeddings")
        .createOrReplaceTempView("graft_emb_tvf")
      s.sql("SELECT vec_id, cos_sim " +
        "FROM graft_knn('graft_emb_tvf', 'vec_id', 'embedding', 0, 10)")
    }),

    /** ANN scale path: random-hyperplane LSH bucketing. The LCG hyperplanes
      * are deterministic dyadic rationals, so the oracle replays the exact
      * bucket arithmetic from embedded literals. */
    "q28_ann_lsh" -> ((s, dir) => Similarity.lshTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nPlanes = 4, dim = 64)),

    /** Vector-column metadata: dimension + L2 norm via higher-order fns. */
    "q31_vector_meta" -> ((s, dir) => Tables.load(s, dir, "embeddings").select(
      col("vec_id"), size(col("embedding")).cast("long").as("dim"),
      VectorFunctions.l2Norm(col("embedding")).as("l2_norm"), col("label"))),

    /** Embedding-cosine near-dup (extension): all-pairs baseline over the
      * codegen'd [[graft.functions.CosineSimilarity]] expression; the LSH
      * bucketed path (q28) is the scale variant.
      */
    "q32_embedding_neardup" -> ((s, dir) => Similarity.cosineNearDupPairs(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding", minSim = 0.45)),

    /** IVF ANN scale path: deterministic k-means coarse quantizer (init = the
      * 16 smallest ids, 3 Lloyd iterations, ties to the lower index), probe
      * the 4 nearest clusters, exact cosine rerank. The oracle unrolls the
      * same 3 iterations in SQL; cluster assignment is discrete, so the
      * sub-ULP summation-order differences between the engines' means cannot
      * surface in the result (they would need a vector near-equidistant to
      * two centroids at ~1e-15 relative).
      */
    "q34_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nClusters = 16, nProbe = 4)),

    /** TF-IDF (extension, SURVEY §7.5): smoothed idf = ln((N+1)/(df+1)),
      * full (doc, term) weight table — pure aggregations, no ML-lib.
      */
    "q36_tfidf" -> ((s, dir) => {
      val d = docs(s, dir)
      val terms = d.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = terms.distinct().groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = d.agg(countDistinct("doc_id").as("n_docs"))
      tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"), col("tf"),
          (col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
            .as("tfidf"))
    }),

    /** Embedding near-dup, scale path (extension): banded multi-table
      * hyperplane LSH → candidate pairs → exact-cosine verify — the
      * sub-quadratic twin of q32 (precision 1, recall tunable; see
      * [[graft.operators.Similarity.lshNearDupPairs]]). Deterministic LCG
      * planes make the whole pipeline — including which true pairs the
      * bucketing recalls — oracle-replayable.
      */
    "q49_embedding_neardup_lsh" -> ((s, dir) => Similarity.lshNearDupPairs(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      minSim = 0.45, planesPerTable = 6, tables = 6, dim = 64)),

    /** SemDeDup (cluster-bounded semantic near-dup): same coarse quantizer
      * as q34 (16 clusters, 3 Lloyd iterations, deterministic init), pairs
      * searched within clusters only — quadratic in the largest cluster,
      * not the corpus. Same 0.45 threshold as the all-pairs baseline q32,
      * so the two results are directly comparable (q61 ⊆ q32).
      */
    "q61_semantic_dedup" -> ((s, dir) => Similarity.semanticDedupPairs(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nClusters = 16, minSim = 0.45)),

    /** SemDeDup complete (Abbas et al. 2023 §2;
      * [[graft.operators.Similarity.semDedupPrune]]): q61's within-cluster
      * pair graph folded to duplicate GROUPS (connected components — never
      * cross-cluster) and pruned to one representative each, keeping the
      * member with the LOWEST cosine-to-centroid per the paper (the
      * cluster-fringe example carries the most marginal information).
      * One row per vector with its cluster / component / centroid-cosine /
      * kept decision; `kept` rows ARE the SemDeDup'd corpus. Catches the
      * planted paraphrase pair word-level MinHash (q42) misses — spec'd in
      * SemDedupSpec.
      */
    "q256_semdedup_prune" -> ((s, dir) => Similarity.semDedupPrune(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nClusters = 16, minSim = 0.45)),

    /** Incremental SemDeDup (extension; [[graft.operators.Similarity
      * .semDedupPruneAgainst]]): the against-corpus form every dedup
      * family ships (cf. q57/q240/q252) — the `vec_id % 3 = 0` slice
      * plays the incoming batch, the rest the accepted corpus; the
      * quantizer trains on the CORPUS only, the batch is pruned against
      * accepted vectors in its cluster (intra-batch pairs excluded by
      * contract), one row per batch vector with its highest-cosine
      * accepted duplicate and the keep decision.
      */
    "q257_semdedup_incremental" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.semDedupPruneAgainst(
        e.filter(col("vec_id") % 3 =!= 0), e.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", nClusters = 16, minSim = 0.45)
    }),

    /** Incremental SemDeDup served from the cluster-partitioned store
      * (extension; [[graft.sources.AnnStore.semDedupProbe]]): q257's exact
      * semantics with the accepted corpus PERSISTED in the IVF layout
      * (inverted lists = partition directories, centroids frozen as table
      * state) — the batch probes only its own clusters' partitions
      * (plan-guarded in AnnStoreSpec) instead of re-scanning and
      * re-assigning the whole accepted set per call, which is the 100 TB
      * deployment the in-memory operator's scaladoc names. Same fixture
      * split as q257; the oracle is q257's replay verbatim — the two
      * routes are bit-identical by construction.
      */
    "q264_semdedup_store" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val path = fixture("semdedupstore", dir) { root =>
        graft.sources.AnnStore.writeIvf(e.filter(col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", root + "/ivf", nClusters = 16)
      } + "/ivf"
      graft.sources.AnnStore.semDedupProbe(s, path,
        e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        minSim = 0.45)
    }),

    /** Semantic decontamination from the cluster-partitioned store
      * (extension; [[graft.sources.AnnStore.decontaminationProbe]] —
      * round-12 verdict item 3): q52's benchmark-every-17th device in
      * EMBEDDING space — the corpus (`vec_id % 17 ≠ 0`) persisted in the
      * IVF layout, the eval slice probing only its own clusters'
      * partitions, one row per contaminated CORPUS vector with its
      * distinct-eval-hit census and best match. Catches the paraphrased
      * eval item the lexical n-gram stage (q52) is blind to — spec'd in
      * AnnStoreSpec.
      */
    "q279_semantic_decon" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val path = fixture("decontstore", dir) { root =>
        graft.sources.AnnStore.writeIvf(e.filter(col("vec_id") % 17 =!= 0),
          "vec_id", "embedding", root + "/ivf", nClusters = 16)
      } + "/ivf"
      graft.sources.AnnStore.decontaminationProbe(s, path,
        e.filter(col("vec_id") % 17 === 0), "vec_id", "embedding",
        minSim = 0.35)
    }),

    /** Cluster-quality audit (extension; [[graft.operators.Similarity
      * .simplifiedSilhouette]] — Rousseeuw 1987, centroid form): per-cluster
      * mean simplified silhouette over the q34 IVF layout (16 clusters, 3
      * Lloyd iterations) — the "is this layout actually separating?" check
      * run before an AnnStore partition scheme or a SemDedup ε is trusted.
      * Squared distances on the 2¹⁴ integer grid, scores as integer
      * millionths: the per-cluster mean is a BIGINT sum, order-independent.
      */
    "q272_silhouette" -> ((s, dir) =>
      Similarity.simplifiedSilhouette(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", nClusters = 16, iters = 3)),

    /** Int8 embedding quantization audit (extension;
      * [[graft.operators.Similarity.int8QuantizationErrors]]): per-vector
      * max/mean reconstruction error after per-dimension linear 0..255
      * quantization — the 4×-compression ANN-candidate trick with its
      * quality bound measured per vector. All `floor(x+0.5)` double
      * arithmetic; the oracle replays it term-for-term.
      */
    "q82_int8_quantization" -> ((s, dir) =>
      Similarity.int8QuantizationErrors(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .groupBy(col("vec_id"))
        .agg(max(col("err")).as("max_err"),
          (sum(col("err")) / count(lit(1))).as("mean_err"))),

    /** IVF + SQ8 ANN (extension; the FAISS IndexIVFScalarQuantizer shape,
      * [[graft.operators.Similarity.ivfSq8TopK]]): coarse probe → integer
      * symmetric int8-code distance shortlist (engine-exact) →
      * full-precision cosine rerank. The oracle replays all three stages:
      * the q34 Lloyd quantizer, the q82 quantization arithmetic, and the
      * tie-pinned shortlist/rerank orderings.
      */
    "q84_ivf_sq8" -> ((s, dir) => Similarity.ivfSq8TopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nClusters = 16, nProbe = 4, rerank = 50)),

    /** IVF + PQ ANN (extension; the FAISS IndexIVFPQ shape,
      * [[graft.operators.Similarity.ivfPqTopK]]): coarse probe → per-subspace
      * product-quantization codes → ADC shortlist (sum of m integer-grid
      * table lookups — a pure narrow map, no join) → full-precision cosine
      * rerank. The oracle replays the coarse Lloyd quantizer (q34's CTE),
      * one 2-iteration Lloyd per 16-dim subspace, the integer-quantized
      * distance table, and the tie-pinned shortlist/rerank orderings.
      */
    "q92_ivf_pq" -> ((s, dir) => Similarity.ivfPqTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nClusters = 16, nProbe = 4,
      m = 4, subDim = 16, ksub = 8, rerank = 50)),

    /** Inverted-index conjunctive search (extension;
      * [[graft.operators.InvertedIndex]]): build the (term, doc, tf)
      * posting relation, then every document containing ALL of three query
      * terms, scored by summed tf. The term filter pushes to the posting
      * scan and the k-way AND is one count-match aggregate — no self-join
      * chain, work proportional to the matching postings, never the corpus.
      */
    "q96_inverted_index" -> ((s, dir) => {
      val p = InvertedIndex.postings(docs(s, dir), "doc_id", "text")
      InvertedIndex.conjunctiveSearch(p, Seq("join", "hash", "scan"))
    }),

    /** BM25-ranked search over the inverted index (extension;
      * [[graft.operators.InvertedIndex.bm25Search]], the Lucene idf form):
      * disjunctive 3-term query, every score derived from the posting
      * relation alone — doc lengths, corpus stats (one broadcast row),
      * per-term document frequencies (a |terms|-row broadcast). The oracle
      * replays the identical operand order term by term.
      */
    "q98_bm25" -> ((s, dir) => {
      val p = InvertedIndex.postings(docs(s, dir), "doc_id", "text")
      InvertedIndex.bm25Search(p, Seq("join", "hash", "scan"))
    }),

    /** SQL surface for BM25 retrieval (extension; [[graft.GraftExtensions]]
      * `graft_bm25_topk` TVF): q98's scorer end-to-end from SQL — postings
      * built from the named table, the query string tokenized at analysis
      * time, top-k with deterministic id tie-break.
      */
    "q239_sql_bm25_topk" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      docs(s, dir).createOrReplaceTempView("graft_docs_bm25_tvf")
      s.sql("SELECT doc_id, bm25 FROM graft_bm25_topk(" +
        "'graft_docs_bm25_tvf', 'doc_id', 'text', 'join hash scan', 10)")
    }),

    /** Exact phrase search over positional postings (extension;
      * [[graft.operators.InvertedIndex.phraseSearch]]): every document
      * where "hash join" occurs as consecutive words, with the occurrence
      * count — position-offset equi-joins on the pushed per-term postings,
      * work tracking the rarest term, never a text rescan.
      */
    "q99_phrase_search" -> ((s, dir) => {
      val pp = InvertedIndex.positionalPostings(docs(s, dir), "doc_id", "text")
      InvertedIndex.phraseSearch(pp, Seq("hash", "join"))
    }),

    /** Cross-corpus embedding alignment (extension;
      * [[graft.operators.Similarity.lshCrossCorpusPairs]] — the two-sided
      * LSH join: align a batch against a reference corpus): the even/odd
      * vec_id halves bucket through the same hyperplane tables, candidates
      * come only from cross-side bucket hits, and exact cosine verifies
      * each — precision 1. The oracle replays planes, buckets, and verify.
      */
    "q100_lsh_cross_corpus" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.lshCrossCorpusPairs(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", minSim = 0.45)
    }),

    /** Predicate-filtered exact vector search (extension;
      * [[graft.operators.Similarity.filteredTopK]]): top-10 cosine
      * neighbors among `label = 3` vectors only — the metadata filter is
      * pushed into the parquet scan (plan-guarded), the ranking is a
      * TakeOrderedAndProject over survivors.
      */
    "q115_filtered_ann" -> ((s, dir) => Similarity.filteredTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      "label = 3", queryId = 0L, k = 10)),

    /** Batched IVF k-NN join (extension;
      * [[graft.operators.Similarity.ivfKnnJoin]]): top-5 neighbors for all
      * 12 query vectors in ONE plan — cluster-id equi-join + WindowGroupLimit
      * rank, the retrieval shape that scales where per-query loops don't.
      * The oracle replays quantizer, per-query probes, and tie-pinned ranks.
      */
    "q116_knn_join" -> ((s, dir) => Similarity.ivfKnnJoin(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nQueries = 12, k = 5, nClusters = 16, nProbe = 2)),

    /** Chunk-embedding mean-pooling + L2 normalization (extension;
      * [[graft.functions.VectorFunctions.meanPool]]/`normalize`): vectors
      * pooled in groups of 4 (the chunks-of-a-document shape) entirely with
      * higher-order Catalyst array expressions — `aggregate`/`zip_with`/
      * `transform`, codegen'd, zero UDFs — then unit-normalized. The
      * operator API keeps the array; the declared query explodes the unit
      * vector to scalar (g, dim, norm, i, v) rows (the oracle gate hashes
      * sorted atomic columns) and pins norm/components to 6 decimals on
      * both engines so IEEE fold-order reassociation can't drift the hash.
      */
    "q127_embedding_pool" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(expr("vec_id div 4").as("g"), col("vec_id"), col("embedding"))
      e.groupBy("g")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
          .as("vs"))
        .select(col("g"),
          VectorFunctions.meanPool(expr("transform(vs, x -> x.embedding)"))
            .as("vec"))
        .select(col("g"), size(col("vec")).cast("long").as("dim"),
          VectorFunctions.l2Norm(col("vec")).as("norm"),
          VectorFunctions.normalize(col("vec")).as("vec_n"))
        // posexplode_OUTER, deliberately: a plain posexplode triggers
        // InferFiltersFromGenerate, whose `size(vec_n)>0 AND isnotnull(vec_n)`
        // predicate pushes below the projections and INLINES the whole
        // meanPool+normalize lambda tree into an interpreted per-row Filter —
        // measured at 9-14 s for 2 000 rows. Outer explode infers no filter;
        // semantics are identical here (vec_n is NULL only for an all-zero
        // group, which would be an oracle divergence either way).
        .select(col("g"), col("dim"), round(col("norm"), 6).as("norm"),
          posexplode_outer(col("vec_n")).as(Seq("i", "v")))
        .select(col("g"), col("dim"), col("norm"),
          col("i").cast("long").as("i"), round(col("v"), 6).as("v"))
    }),

    /** ANN recall@k evaluation (extension; [[graft.operators.Similarity
      * .knnRecall]]): the IVF probe search measured against the exact
      * brute-force top-k per query — the index-quality loop run before
      * trusting an ANN configuration. The oracle replays BOTH sides
      * (quantizer + probes + exact ranks) and the overlap count.
      */
    "q140_ann_recall" -> ((s, dir) =>
      Similarity.knnRecall(Tables.load(s, dir, "embeddings"), "vec_id",
        "embedding", nQueries = 12, k = 5, nClusters = 16, nProbe = 2)),

    /** Sparse tf-idf cosine similarity join (extension; [[graft.operators
      * .SparseSimilarity.cosinePairs]]): document pairs by inverted-index
      * dot product over shared terms of the tf·ln(N/df) vectors (df ≤ 250
      * bounds the term-join fan-out; idf sends common-term weight → 0, so
      * the cut loses ~nothing). The weighted complement of the set-Jaccard
      * joins (q25/q26/q112); on this corpus scores are bimodal (near-dups
      * ≈1, everything else <0.5), so the 0.6 threshold sits in a gap.
      */
    "q160_sparse_cosine" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val nDocs = tf.select(countDistinct(col("doc_id")).cast("double").as("n"))
      val dfs = tf.groupBy(col("token"))
        .agg(count(lit(1)).cast("double").as("df"))
        .filter(col("df") <= 250.0)
      val w = tf.join(broadcast(dfs), "token").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          (col("tf").cast("double") * log(col("n") / col("df"))).as("w"))
      SparseSimilarity.cosinePairs(w, "doc_id", "token", "w",
        minSim = 0.6, maxDf = Long.MaxValue)
    }),

    /** Maximum-inner-product top-k (extension;
      * [[graft.operators.Similarity.mipsTopK]] — retrieval scoring where
      * magnitude carries signal, so cosine is the WRONG order). The stored
      * embeddings are unit vectors (MIPS ≡ cosine on them), so the query
      * first UN-normalizes deterministically — scale 1+vec_id%5, replayed
      * by the oracle via list_transform — making the inner-product ranking
      * genuinely diverge from q27's cosine ranking. Exact baseline: scan +
      * broadcast query + TakeOrderedAndProject, zero corpus shuffle. The
      * norm-augmentation LSH scale path ([[graft.operators.Similarity
      * .mipsLshTopK]], simple-LSH/ALSH reduction, multi-table) is spec'd
      * with measured recall in SimilarityMipsSpec.
      */
    "q185_mips_topk" -> ((s, dir) => {
      val scaled = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .as("embedding"))
      Similarity.mipsTopK(scaled, "vec_id", "embedding", queryId = 1L, k = 10)
    }),

    /** MIPS scale path, norm-ranged (extension; [[graft.operators
      * .Similarity.mipsNormRangedTopK]] — the published refinement of
      * simple-LSH): the corpus splits into 5 norm bands, each band pads
      * with its OWN max norm (so pads stay small relative to the band and
      * angular locality survives — the global pad's failure mode), the
      * query pads with 0 and probes every band's bucket, and the union
      * reranks by exact dot. The oracle replays the entire construction —
      * band arithmetic, band maxima, pads, the 3 dyadic hyperplane sign
      * tests over 65-dim augmented coordinates, rerank — bit-identically.
      * Recall-per-candidate vs the global pad is measured in
      * SimilarityMipsSpec.
      */
    "q197_mips_norm_ranged" -> ((s, dir) => {
      val scaled = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .as("embedding"))
      Similarity.mipsNormRangedTopK(scaled, "vec_id", "embedding",
        queryId = 1L, k = 10, nPlanes = 3, dim = 64, nBands = 5)
    }),

    /** Retrieval-training-set builder (extension; [[graft.operators
      * .InvertedIndex.bm25JoinTopK]] — the learning-to-rank /
      * hard-negative-mining shape): queries are every 29th document's
      * first 8 words; ONE term-keyed join retrieves each query's BM25
      * top-5 with WindowGroupLimit-bounded rank; each (query, candidate)
      * pair is featurized — BM25, unigram Jaccard between query terms and
      * the candidate's vocabulary — and labeled by self-retrieval (the
      * source doc is the positive, its top-ranked neighbors are exactly
      * the hard negatives a reranker trains against). Floats pinned to 6
      * decimals on both engines.
      */
    "q194_retrieval_features" -> ((s, dir) => {
      val d = docs(s, dir)
      val queries = d.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("q_id"),
          explode(slice(split(col("text"), " "), 1, 8)).as("term"))
        .distinct()
      val p = InvertedIndex.postings(d, "doc_id", "text")
      val topk = InvertedIndex.bm25JoinTopK(p, queries, k = 5)
      val qn = queries.groupBy(col("q_id")).agg(count(lit(1)).as("q_n"))
      val dn = p.groupBy(col("doc_id")).agg(count(lit(1)).as("d_n"))
      val ov = topk.select(col("q_id"), col("doc_id"))
        .join(queries, "q_id")
        .join(p.select(col("doc_id"), col("term")), Seq("doc_id", "term"), "left_semi")
        .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("n_common"))
      topk.join(broadcast(qn), "q_id").join(dn, "doc_id")
        .join(ov, Seq("q_id", "doc_id"), "left")
        .select(col("q_id"), col("doc_id"), col("rank").cast("long").as("rank"),
          round(col("bm25"), 6).as("bm25"),
          round(coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("q_n") + col("d_n") - coalesce(col("n_common"), lit(0L)))
              .cast("double"), 6).as("jaccard"),
          (col("q_id") === col("doc_id")).as("label"))
    }),

    /** Persisted bucket-partitioned ANN store (extension; [[graft.sources
      * .AnnStore]] — the materialization of the LSH operators' central
      * 100 TB claim): the corpus is written ONCE partitioned by its
      * angular-LSH bucket (fixture-memoized build, like the tx-builder
      * family — the declared query is the PROBE); the probe computes the
      * query signature, reads exactly `bucket=<sig>` (partition pruning,
      * plan-guarded in AnnStoreSpec: 1 of 2^4 partitions) and reranks that
      * one bucket by exact cosine. Bit-identical to q28's in-memory
      * construction — same oracle replay.
      */
    "q199_ann_store_probe" -> ((s, dir) => {
      val path = fixture("annstore", dir) { root =>
        graft.sources.AnnStore.writeAngular(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          root + "/ang", nPlanes = 4, dim = 64)
      } + "/ang"
      val query = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L).select(col("embedding"))
      graft.sources.AnnStore.probeAngular(s, path, "vec_id", "embedding",
        query, k = 10, nPlanes = 4, dim = 64, excludeId = Some(0L))
    }),

    /** Persisted norm-ranged MIPS store (extension; [[graft.sources
      * .AnnStore.writeMips]]): corpus written partitioned by (norm band,
      * augmented-sign bucket); the probe's signature is band-independent,
      * so one bucket filter prunes to ≤nBands of nBands·2^nPlanes
      * partitions (plan-guarded), then one exact-dot rerank. Bit-identical
      * to q197's ad-hoc construction — same oracle replay.
      */
    "q200_mips_store_probe" -> ((s, dir) => {
      val scaledEmb = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .as("embedding"))
      val path = fixture("mipsstore", dir) { root =>
        graft.sources.AnnStore.writeMips(scaledEmb, "vec_id", "embedding",
          root + "/mips", nPlanes = 3, dim = 64, nBands = 5)
      } + "/mips"
      val query = scaledEmb.filter(col("vec_id") === 1L).select(col("embedding"))
      graft.sources.AnnStore.probeMips(s, path, "vec_id", "embedding",
        query, k = 10, nPlanes = 3, dim = 64, excludeId = Some(1L))
    }),

    /** BATCHED MIPS retrieval (extension; [[graft.operators.Similarity
      * .mipsNormRangedTopKBatch]] — the N-queries-at-once shape a
      * retrieval-training pipeline runs, closing q185/q197's single-query
      * asymmetry): every 37th vector is a query, candidates come from ONE
      * bucket equi-join against the broadcast query batch (the corpus
      * never shuffles; never a cartesian), and the per-query `rank <= 5`
      * compiles to map-side WindowGroupLimit (plan-guarded) so the
      * post-join shuffle is bounded by k·queries. The oracle replays the
      * whole construction — bands, pads, signs, equi-join, rank window —
      * bit-identically.
      */
    "q201_mips_batch" -> ((s, dir) => {
      val scaledEmb = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .as("embedding"))
      Similarity.mipsNormRangedTopKBatch(scaledEmb, "vec_id", "embedding",
        scaledEmb.filter(col("vec_id") % 37 === 0), "vec_id",
        k = 5, nPlanes = 3, dim = 64, nBands = 5)
        .select(col("q_id"), col("vec_id"), col("ip"),
          col("rank").cast("long").as("rank"))
    }),

    /** MIPS store APPEND path (extension; [[graft.sources.AnnStore
      * .appendMips]] — the guarded half of the frozen-banding contract):
      * the store is built once, then a re-keyed copy of the corpus is
      * APPENDED — banded against the persisted [[graft.sources.StoreState]] stats
      * (never re-derived; [[graft.operators.Similarity
      * .normRangedBucketedFrozen]] replays the build arithmetic
      * bit-identically), with out-of-contract rows rejected whole-batch
      * (spec'd in AnnStoreSpec). The probe then runs over old+new rows
      * uniformly. Oracle: the ad-hoc construction over the doubled corpus —
      * duplicates move no min/max, so the re-derived stats equal the frozen
      * ones and the result is bit-identical.
      */
    "q202_mips_store_append" -> ((s, dir) => {
      val scaledEmb = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .as("embedding"))
      val path = fixture("mipsappend", dir) { root =>
        graft.sources.AnnStore.writeMips(scaledEmb, "vec_id", "embedding",
          root + "/mips", nPlanes = 3, dim = 64, nBands = 5)
        graft.sources.AnnStore.appendMips(
          scaledEmb.select((col("vec_id") + 100000L).as("vec_id"),
            col("embedding")),
          "vec_id", "embedding", root + "/mips")
      } + "/mips"
      val query = scaledEmb.filter(col("vec_id") === 1L).select(col("embedding"))
      graft.sources.AnnStore.probeMips(s, path, "vec_id", "embedding",
        query, k = 10, nPlanes = 3, dim = 64, excludeId = Some(1L))
    }),

    /** MULTI-TABLE persisted angular store (extension; [[graft.sources
      * .AnnStore.writeAngularMulti]] — closes q199's single-table recall
      * bound): three independent 4-plane hash tables (contiguous slices of
      * the deterministic stream, the [[graft.operators.Similarity
      * .lshNearDupPairs]] geometry), corpus written once PER TABLE under
      * `t=<i>/bucket=<sig>`; the probe reads ≤3 of 3·2^4 partitions
      * (plan-guarded in AnnStoreSpec), unions candidates, dedups by id,
      * exact-cosine reranks. Bit-identical to [[graft.operators.Similarity
      * .lshTopKMulti]]; its top-k provably dominates q199's single table
      * (spec'd). Oracle replays the OR-of-tables construction.
      */
    "q203_ann_store_multitable" -> ((s, dir) => {
      val path = fixture("annstorem", dir) { root =>
        graft.sources.AnnStore.writeAngularMulti(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          root + "/angm", planesPerTable = 4, tables = 3, dim = 64)
      } + "/angm"
      val query = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L).select(col("embedding"))
      graft.sources.AnnStore.probeAngularMulti(s, path, "vec_id", "embedding",
        query, k = 10, planesPerTable = 4, tables = 3, dim = 64,
        excludeId = Some(0L))
    }),

    /** VERSIONED streaming-ingest ANN store (extension; [[graft.streaming
      * .AnnIngest]] — closes the raw-parquet store's reader/append race):
      * the corpus drains in through three exactly-once micro-batch commits
      * ([[graft.sources.TxLog.appendOnce]] — one manifest swap per batch, so
      * a probe racing an append sees all of a batch or none, never a file
      * prefix; replays are absorbed by the (appId, batchVersion) fence); the
      * probe resolves ONE snapshot and [[graft.sources.TxLog.readKey]] hands
      * the scan only the signature's bucket files — AnnStore's
      * partition-pruning story with snapshot isolation on top. Bit-identical
      * to q28/q199's construction — same oracle replay.
      */
    "q204_ann_ingest_versioned" -> ((s, dir) => {
      val path = fixture("anningest", dir) { root =>
        val emb = Tables.load(s, dir, "embeddings")
        Seq(0, 1, 2).foreach { i =>
          graft.streaming.AnnIngest.ingestBatch(
            emb.filter(col("vec_id") % 3 === i), root + "/ann",
            "embedding", nPlanes = 4, dim = 64, appId = "q204", i.toLong)
        }
      } + "/ann"
      val query = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L).select(col("embedding"))
      graft.streaming.AnnIngest.probe(s, path, "vec_id", "embedding",
        query, k = 10, nPlanes = 4, dim = 64, excludeId = Some(0L))
    }),

    /** Batched EXACT cosine kNN join (extension; [[graft.operators
      * .Similarity.bruteForceTopKBatch]] — the recall-1.0 ground truth
      * under the ANN family and the dense leg of hybrid retrieval): the
      * query batch (every 29th vector) broadcasts against one corpus
      * scan; per-query top-5 through WindowGroupLimit, self excluded,
      * ties to the lower id. At corpus scale the identical batch shape
      * runs over the persisted store (q201) — this query IS the oracle
      * said stores are measured against.
      */
    "q205_knn_batch_exact" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") % 29 === 0), "vec_id", k = 5)
        .select(col("q_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    }),

    /** Hybrid retrieval via reciprocal-rank fusion (extension;
      * [[graft.operators.Fusion.rrf]] — the sparse+dense shape every
      * retrieval-augmented pipeline runs): BM25 top-20
      * ([[graft.operators.InvertedIndex.bm25JoinTopK]], queries = every
      * 29th document's first 8 words) fused with exact-cosine top-20 over
      * the id-aligned embeddings ([[graft.operators.Similarity
      * .bruteForceTopKBatch]]), score = Σ 1/(60 + rank), fused top-10 per
      * query. With two rankings each fused score is ONE commutative IEEE
      * addition of two exact divisions — bit-identical across engines, so
      * the fused RANKING (not just the set) is oracle-checked. The sparse
      * leg ranks on a 6-decimal-rounded bm25 ([[graft.operators
      * .InvertedIndex.bm25JoinScores]]): at k=20 the rank tail reaches
      * score near-ties whose multi-term float sums reassociate differently
      * per engine — rounding collapses them to exact ties broken on doc id
      * (caught by the sf0.1 spot gate: 2/1730 rank flips on raw scores).
      */
    "q206_hybrid_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val queries = d.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("q_id"),
          explode(slice(split(col("text"), " "), 1, 8)).as("term"))
        .distinct()
      val sw = Window.partitionBy(col("q_id"))
        .orderBy(round(col("bm25"), 6).desc, col("doc_id").asc)
      val sparse = InvertedIndex
        .bm25JoinScores(InvertedIndex.postings(d, "doc_id", "text"), queries)
        .withColumn("rank", row_number().over(sw))
        .filter(col("rank") <= 20)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val e = Tables.load(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") % 29 === 0), "vec_id", k = 20)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
      Fusion.rrf(Seq(sparse, dense), "q_id", "doc_id", "rank", k = 10)
        .select(col("q_id"), col("doc_id"), col("rrf_score"),
          col("n_rankings"), col("rank").cast("long").as("rank"))
    }),

    /** Johnson–Lindenstrauss random projection 64→8 (extension;
      * [[graft.functions.VectorFunctions.randomProject]] — the
      * dimensionality-reduction front end for shuffle-heavy embedding
      * stages): one codegen'd map over the scan, no shuffle, components
      * unnested to (i, v) rows for the nested-free oracle compare. The
      * planes are splitmix64-mixed deterministic dyadic rationals
      * ([[graft.functions.VectorFunctions.jlPlanes]] — NOT the LSH
      * lattice family, which resonates with structured inputs), so the
      * oracle replays the exact arithmetic from embedded literals;
      * distortion bounds are spec'd in VectorProjectionSpec.
      */
    "q210_random_projection" -> ((s, dir) => {
      val planes = VectorFunctions.jlPlanes(42L, 8, 64)
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(
          VectorFunctions.randomProject(col("embedding"), planes)))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          round(col("col"), 6).as("v"))
    }),

    /** Graded retrieval evaluation — nDCG@10 / MRR / precision@10
      * (extension; [[graft.operators.Evaluation.gradedMetrics]] — the
      * standard offline eval loop over a run + qrels, the graded complement
      * of q140's recall@k): the run is q205's exact-cosine top-10, the
      * synthetic qrels grade every same-label corpus vector (3 when
      * vec_id+q_id is even, else 1). DCG/IDCG terms use DRIVER-computed
      * `1/log2(i+1)` discount literals (the oracle embeds the same
      * constants — no engine `log` rounding enters) and fold in pinned rank
      * / grade order, so the doubles are bit-identical across engines.
      * Everything is O(queries·(k+judgments)); the corpus-sized work is the
      * upstream kNN leg.
      */
    "q218_ndcg_eval" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val run = Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") % 29 === 0), "vec_id", k = 10)
        .select(col("q_id"), col("vec_id"), col("rank"))
      val qrels = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("__ql"))
        .join(e.select(col("vec_id"), col("label")),
          col("label") === col("__ql") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          when((col("vec_id") + col("q_id")) % 2 === 0, 3)
            .otherwise(1).as("rel"))
      Evaluation.gradedMetrics(run, qrels, "q_id", "vec_id", "rank", "rel",
        k = 10)
    }),

    /** Persisted IVF-partitioned ANN store (extension; [[graft.sources
      * .AnnStore.writeIvf]] — the FAISS IndexIVF-on-disk layout, the third
      * leaf of the store family beside q199's angular and q200's MIPS
      * layouts): the corpus written partitioned by coarse-cluster id with
      * the Lloyd centroids FROZEN as table state; the probe ranks the
      * centroids driver-side (k metadata rows, no job) and reads only its
      * nProbe nearest inverted lists (partition-count-guarded in
      * AnnStoreSpec). Bit-identical to q34's ad-hoc [[graft.operators
      * .Similarity.ivfTopK]] — same oracle replay.
      */
    "q219_ivf_store_probe" -> ((s, dir) => {
      val path = fixture("ivfstore", dir) { root =>
        graft.sources.AnnStore.writeIvf(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          root + "/ivf", nClusters = 16)
      } + "/ivf"
      val query = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L).select(col("embedding"))
      graft.sources.AnnStore.probeIvf(s, path, "vec_id", "embedding",
        query, k = 10, nProbe = 4, excludeId = Some(0L))
    }),

    /** Rank-biased overlap between the exact and the ANN ranking
      * (extension; [[graft.operators.Evaluation.rbo]] — the top-weighted
      * agreement measure recall@k can't express: it sees WHERE the
      * approximation perturbed the list, not just set membership): q205's
      * exact-cosine top-10 vs the IVF 2-probe kNN join's top-10 for the
      * same 12 queries, p = 0.9. The depth sum is re-expressed per common
      * doc (driver-literal weights W(max rank)), so the whole metric is one
      * equi-join of two top-k-bounded frames + a pinned in-row fold —
      * O(queries·k), corpus-free, bit-identical across engines.
      */
    "q221_rbo_ann_vs_exact" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 12), "vec_id", k = 10)
        .select(col("q_id"), col("vec_id"), col("rank"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val approx = Similarity.ivfKnnJoin(e, "vec_id", "embedding",
        nQueries = 12, k = 10, nClusters = 16, nProbe = 2)
        .withColumn("rank", row_number().over(w))
        .select(col("query_id").as("q_id"), col("vec_id"), col("rank"))
      Evaluation.rbo(exact, approx, "q_id", "vec_id", "rank",
        k = 10, p = 0.9)
    }),

    /** Binary (sign) quantization retrieval (extension; [[graft.operators
      * .Similarity.binaryHammingTopK]] — the 32×-compression rung of the
      * quantization ladder under q82's int8 and q92's PQ, and the FIRST
      * stage modern vector stores run because packed-word Hamming is a few
      * xor+popcount instructions): sign-pack to one BIGINT word per 64
      * dims, shortlist 50 by Hamming (ties to lower id), exact-cosine
      * rerank to top-10. All bit arithmetic — two's-complement packing,
      * xor, popcount — replays exactly in the oracle.
      */
    "q224_binary_quantization" -> ((s, dir) =>
      Similarity.binaryHammingTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 10, shortlist = 50,
        dim = 64)),

    /** Multi-probe LSH over the persisted angular store (extension;
      * [[graft.sources.AnnStore.probeAngularMultiProbe]] — Lv et al., VLDB
      * 2007): beside its own bucket the probe reads the buckets reachable
      * by flipping its 2 lowest-|margin| sign bits — recall bought with
      * extra partition READS of the single-copy store, where q203's
      * multi-table layout buys it with L corpus COPIES (the standard
      * fewer-tables×more-probes trade). Same q199 fixture; ≤ 3 of 2^4
      * partitions read (AnnStoreSpec measures), exact-cosine rerank over
      * the disjoint-bucket union; the oracle replays margins, flip choice
      * and the IN-set from the same plane literals.
      */
    "q225_ann_multiprobe" -> ((s, dir) => {
      val path = fixture("annstore", dir) { root =>
        graft.sources.AnnStore.writeAngular(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          root + "/ang", nPlanes = 4, dim = 64)
      } + "/ang"
      val query = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L).select(col("embedding"))
      graft.sources.AnnStore.probeAngularMultiProbe(s, path, "vec_id",
        "embedding", query, k = 10, nPlanes = 4, dim = 64, nFlips = 2,
        excludeId = Some(0L))
    }),

    /** Hard-negative mining (extension; [[graft.operators.Similarity
      * .hardNegatives]] — q222's contrastive complement: not RANDOM
      * non-matches but the most-SIMILAR ones, the examples that actually
      * move an ANCE/DPR-style loss): top-30 exact-cosine pool per query,
      * same-label positives anti-joined out, 5 hardest kept. Everything
      * after the kNN leg is pool-bounded; at corpus scale the pool comes
      * from the AnnStore probes instead.
      */
    "q226_hard_negatives" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 29 === 0)
      val positives = queries
        .select(col("vec_id").as("q_id"), col("label").as("__ql"))
        .join(e.select(col("vec_id"), col("label")),
          col("label") === col("__ql"))
        .select(col("q_id"), col("vec_id"))
      Similarity.hardNegatives(e, "vec_id", "embedding", queries, "vec_id",
        positives, pool = 30, k = 5)
        .select(col("q_id"), col("vec_id"), col("cos_sim"),
          col("hard_rank").cast("long").as("hard_rank"))
    }),

    /** Poisson-bootstrap confidence interval for mean nDCG@10 (extension;
      * [[graft.operators.Evaluation.poissonBootstrapCi]] — the resampling
      * scheme that works at scale because it never materializes a
      * resample: per-(query, resample) multiplicities are independent
      * Poisson(1) draws from ONE hash, Chamandy et al., Google 2012):
      * q218's per-query metric × 200 deterministic resamples, weighted
      * means folded in query-sorted pinned order, nearest-rank 95% bounds
      * from one sorted in-row list. Zero RNG — the interval is
      * bit-reproducible across engines and partitionings.
      */
    "q232_bootstrap_ci" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val run = Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") % 29 === 0), "vec_id", k = 10)
        .select(col("q_id"), col("vec_id"), col("rank"))
      val qrels = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("__ql"))
        .join(e.select(col("vec_id"), col("label")),
          col("label") === col("__ql") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          when((col("vec_id") + col("q_id")) % 2 === 0, 3)
            .otherwise(1).as("rel"))
      val met = Evaluation.gradedMetrics(run, qrels, "q_id", "vec_id",
        "rank", "rel", k = 10)
      Evaluation.poissonBootstrapCi(met, "q_id", "ndcg", nResamples = 200)
    }),

    /** Paired system comparison (extension; [[graft.operators.Evaluation
      * .pairedBootstrapDiff]] — "did the ANN approximation significantly
      * change nDCG?", answered the right way): exact-cosine vs IVF-2-probe
      * rankings scored per query against the same graded qrels, then a
      * PAIRED 200-resample Poisson bootstrap on the difference of means —
      * both systems resampled with the SAME multiplicities, cancelling
      * between-query variance like a paired t-test. One row out:
      * point diff, 95% bounds, and the significance verdict. Deterministic
      * end to end (the oracle replays both retrieval legs, both metric
      * folds, and every resample).
      */
    "q233_system_comparison" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 12)
      // qrels feeds FOUR subtrees (the judged join + ideal-DCG side of
      // each system's gradedMetrics) — persist the (12×labelmates)-bounded
      // frame so the label self-join runs once. Cleanup: session owner
      // drops persisted blocks between queries.
      val qrels = queries
        .select(col("vec_id").as("q_id"), col("label").as("__ql"))
        .join(e.select(col("vec_id"), col("label")),
          col("label") === col("__ql") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          when((col("vec_id") + col("q_id")) % 2 === 0, 3)
            .otherwise(1).as("rel"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        queries, "vec_id", k = 10)
        .select(col("q_id"), col("vec_id"), col("rank"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val approx = Similarity.ivfKnnJoin(e, "vec_id", "embedding",
        nQueries = 12, k = 10, nClusters = 16, nProbe = 2)
        .withColumn("rank", row_number().over(w))
        .select(col("query_id").as("q_id"), col("vec_id"), col("rank"))
      def met(run: DataFrame) =
        Evaluation.gradedMetrics(run, qrels, "q_id", "vec_id", "rank",
          "rel", k = 10).select(col("q_id"), col("ndcg"))
      Evaluation.pairedBootstrapDiff(met(exact), met(approx), "q_id",
        "ndcg", nResamples = 200)
    }),

    /** Kendall τ between the exact and IVF rankings (extension;
      * [[graft.operators.Evaluation.kendallTau]] — the un-weighted
      * complement of q221's RBO: of the pairs BOTH systems rank in their
      * top-10, how many do they order the same way): exact integer
      * concordant/discordant counts over ≤ k common docs per query (the
      * pair scan is in-row and constant-size at any corpus scale), one
      * final division. Same q221 leg pair, same oracle replay of both
      * runs.
      */
    "q234_kendall_tau" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopKBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 12), "vec_id", k = 10)
        .select(col("q_id"), col("vec_id"), col("rank"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val approx = Similarity.ivfKnnJoin(e, "vec_id", "embedding",
        nQueries = 12, k = 10, nClusters = 16, nProbe = 2)
        .withColumn("rank", row_number().over(w))
        .select(col("query_id").as("q_id"), col("vec_id"), col("rank"))
      Evaluation.kendallTau(exact, approx, "q_id", "vec_id", "rank", k = 10)
    })
  )

  /** q28's replay oracle, shared with q199 (the persisted-store probe is
    * bit-identical to the in-memory construction): the SAME deterministic
    * LCG hyperplanes the engine uses, embedded as literals (their values
    * are dyadic rationals — x/2^20 - 1/2 — so the shortest-round-trip
    * decimal rendering is exact in both engines).
    */
  /** q34's replay oracle, shared with q219 (the persisted IVF store probe
    * is bit-identical to the ad-hoc construction): 3 Lloyd iterations from
    * the deterministic first-16 init, 4-probe, exact-cosine rerank.
    */
  private lazy val ivfTopKOracle: String =
    s"""WITH $ivfAssignCte,
       |qv AS (SELECT v FROM e WHERE vec_id = 0),
       |probes AS (SELECT k.c FROM c3 k, qv
       |           ORDER BY list_distance(qv.v, k.v), k.c LIMIT 4)
       |SELECT af.vec_id, list_cosine_similarity(af.v, qv.v) AS cos_sim
       |FROM af, qv
       |WHERE af.c IN (SELECT c FROM probes) AND af.vec_id <> 0
       |ORDER BY cos_sim DESC, af.vec_id ASC
       |LIMIT 10""".stripMargin

  /** q218's replay, shared with q232 (the bootstrap resamples the same
    * per-query metric): q205's exact-cosine run at k=10, the same-label
    * graded qrels, pinned-order DCG/IDCG folds over the driver discount
    * literals — ends in `met(q_id, ndcg, mrr, rel_retrieved,
    * precision_at_k)`.
    */
  private lazy val ndcgMetricsCtes: String = {
    val d = graft.operators.Evaluation.discounts(10)
    def discCase(v: String): String =
      (1 to 10).map(i => s"WHEN $i THEN ${d(i - 1)}").mkString(
        s"(CASE $v ", " ", " END)")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, label AS ql FROM e WHERE vec_id % 29 = 0),
       |cand AS (SELECT q.q_id, e.vec_id,
       |           list_cosine_similarity(e.v, q.qv) AS cos_sim
       |         FROM e, q WHERE e.vec_id <> q.q_id),
       |run AS (SELECT q_id, vec_id, rank FROM (
       |          SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM cand)
       |        WHERE rank <= 10),
       |qrel AS (SELECT q.q_id, e.vec_id,
       |           CASE WHEN (e.vec_id + q.q_id) % 2 = 0 THEN 3 ELSE 1 END AS rel
       |         FROM q JOIN e ON e.label = q.ql AND e.vec_id <> q.q_id),
       |j AS (SELECT run.q_id, run.rank, COALESCE(qrel.rel, 0) AS rel
       |      FROM run LEFT JOIN qrel USING (q_id, vec_id)),
       |contrib AS (SELECT q_id, rank, rel,
       |    (pow(2.0, CAST(rel AS DOUBLE)) - 1.0) * ${discCase("rank")} AS c
       |  FROM j),
       |dcg AS (SELECT q_id,
       |          list_reduce(list(c ORDER BY rank), (a, b) -> a + b) AS dcg,
       |          min(CASE WHEN rel > 0 THEN rank END) AS fr,
       |          CAST(count(*) FILTER (rel > 0) AS BIGINT) AS rel_retrieved
       |        FROM contrib GROUP BY 1),
       |ideal AS (SELECT q_id, list_sort(list(rel), 'DESC')[:10] AS rl
       |          FROM qrel GROUP BY 1),
       |idcg AS (SELECT q_id,
       |    list_reduce(list_transform(rl, (x, i) ->
       |      (pow(2.0, CAST(x AS DOUBLE)) - 1.0) * ${discCase("i")}),
       |      (a, b) -> a + b) AS idcg
       |  FROM ideal),
       |met AS (SELECT dcg.q_id,
       |  CASE WHEN idcg.idcg > 0 THEN dcg.dcg / idcg.idcg END AS ndcg,
       |  COALESCE(1.0 / fr, 0.0) AS mrr, rel_retrieved,
       |  CAST(rel_retrieved AS DOUBLE) / 10.0 AS precision_at_k
       |FROM dcg LEFT JOIN idcg USING (q_id))""".stripMargin
  }

  /** The exact-vs-IVF ranking pair replayed for q221 (RBO) and q234
    * (Kendall τ): q205's brute force and q116's IVF 2-probe shape at k=10
    * over queries vec_id < 12 — ends in `a(q_id, vec_id, r)` and
    * `b(q_id, vec_id, r)`.
    */
  private lazy val exactVsIvfRunsCtes: String =
    s"""$ivfAssignCte,
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 12),
       |ce AS (SELECT q.q_id, e2.vec_id,
       |         list_cosine_similarity(e2.v, q.qv) AS cs
       |       FROM e e2, q WHERE e2.vec_id <> q.q_id),
       |a AS (SELECT q_id, vec_id, r FROM (
       |        SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |          ORDER BY cs DESC, vec_id) AS r FROM ce) WHERE r <= 10),
       |pr AS (SELECT q.q_id, k.c,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY list_distance(q.qv, k.v), k.c) AS rn
       |       FROM q CROSS JOIN c3 k),
       |probes AS (SELECT q_id, c FROM pr WHERE rn <= 2),
       |cand AS (SELECT q.q_id, af.vec_id,
       |           list_cosine_similarity(af.v, q.qv) AS cs
       |         FROM af JOIN probes p ON af.c = p.c
       |         JOIN q ON q.q_id = p.q_id
       |         WHERE af.vec_id <> q.q_id),
       |b AS (SELECT q_id, vec_id, r FROM (
       |        SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |          ORDER BY cs DESC, vec_id) AS r FROM cand) WHERE r <= 10)""".stripMargin

  /** q225: annLshOracle's bucketing + the multi-probe flip replay — plane
    * margins of the query vector from the same plane literals, the 2
    * lowest-|margin| planes flipped (ties to the lower index), candidates
    * from the 3-signature IN set, exact-cosine rerank.
    */
  private lazy val annMultiProbeOracle: String = {
    val planes = graft.operators.Similarity.hyperplanes(nPlanes = 4, dim = 64)
    val planeLits = planes.map(p => p.mkString("[", ", ", "]::DOUBLE[]"))
    val bucketExpr = planeLits.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(v, $p) >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("\n       |      + ".stripMargin)
    val marginRows = planeLits.zipWithIndex.map { case (p, i) =>
      s"SELECT $i AS i, abs(list_dot_product(qv, $p)) AS m FROM q"
    }.mkString("\n       |  UNION ALL ".stripMargin)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (
       |  SELECT vec_id, v,
       |    $bucketExpr AS bucket
       |  FROM e),
       |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
       |md AS (
       |  $marginRows),
       |fl AS (SELECT i FROM md ORDER BY m, i LIMIT 2),
       |sigs AS (SELECT qb AS s FROM q
       |         UNION ALL SELECT xor(q.qb, 1::BIGINT << fl.i) FROM fl, q)
       |SELECT b.vec_id, list_cosine_similarity(b.v, q.qv) AS cos_sim
       |FROM b, q
       |WHERE b.bucket IN (SELECT s FROM sigs) AND b.vec_id <> 0
       |ORDER BY cos_sim DESC, b.vec_id ASC
       |LIMIT 10""".stripMargin
  }

  private lazy val annLshOracle: String = {
    val planes = graft.operators.Similarity.hyperplanes(nPlanes = 4, dim = 64)
    val planeLits = planes.map(p => p.mkString("[", ", ", "]::DOUBLE[]"))
    val bucketExpr = planeLits.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(v, $p) >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("\n         |      + ".stripMargin)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (
       |  SELECT vec_id, v,
       |    $bucketExpr AS bucket
       |  FROM e),
       |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
       |SELECT b.vec_id, list_cosine_similarity(b.v, q.qv) AS cos_sim
       |FROM b, q
       |WHERE b.bucket = q.qb AND b.vec_id <> 0
       |ORDER BY cos_sim DESC, b.vec_id ASC
       |LIMIT 10""".stripMargin
  }

  /** q197's replay oracle, shared with q200 (persisted norm-ranged store)
    * and — over a doubled corpus CTE — q202 (the append path: duplicates
    * move no min/max, so re-deriving the stats equals the frozen ones).
    */
  private def mipsNormRangedOracleOver(corpusCte: String): String = {
    val planes = graft.operators.Similarity.hyperplanesFrom(0, 3, 65)
    def bucketExpr(augSql: String) = planes.zipWithIndex.map { case (p, i) =>
      val main = p.init.mkString("[", ", ", "]::DOUBLE[]")
      s"CASE WHEN list_dot_product(v, $main) + $augSql * (${p.last}) >= 0 " +
        s"THEN ${1L << i} ELSE 0 END"
    }.mkString("\n        + ")
    s"""WITH $corpusCte,
       |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |g AS (SELECT max(n2) AS gmax, min(n2) AS gmin FROM n),
       |b AS (SELECT vec_id, v, n2,
       |        CAST(least(4, floor((n2 - g.gmin) * 5
       |          / (g.gmax - g.gmin + 1e-12))) AS INT) AS band
       |      FROM n, g),
       |bm AS (SELECT band, max(n2) AS m2 FROM b GROUP BY 1),
       |a AS (SELECT b.vec_id, b.v,
       |        sqrt(greatest(bm.m2 - b.n2, 0.0)) AS aug
       |      FROM b JOIN bm USING (band)),
       |h AS (SELECT vec_id, v,
       |        ${bucketExpr("aug")} AS bucket,
       |        ${bucketExpr("0.0")} AS qbucket
       |      FROM a),
       |q AS (SELECT v AS qv, qbucket AS qb FROM h WHERE vec_id = 1)
       |SELECT h.vec_id, list_dot_product(h.v, q.qv) AS ip
       |FROM h, q
       |WHERE h.bucket = q.qb AND h.vec_id <> 1
       |ORDER BY ip DESC, h.vec_id ASC
       |LIMIT 10""".stripMargin
  }

  private lazy val mipsNormRangedOracle: String = mipsNormRangedOracleOver(
    """e AS (SELECT vec_id,
      |        list_transform(embedding::DOUBLE[],
      |          x -> x * (1.0 + (vec_id % 5))) AS v
      |      FROM embeddings)""".stripMargin)

  // shared by the DataFrame query and its SQL-TVF twin — ONE oracle text
  // proves the two routes are the same plan
  private val cosineTopkSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |       list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS cos_sim
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0
      |ORDER BY cos_sim DESC, e.vec_id ASC
      |LIMIT 10""".stripMargin

  private val bm25Sql =
    """WITH p AS (
      |  SELECT term, doc_id, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM p GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
      |dfreq AS (SELECT term, count(*) AS df FROM p
      |          WHERE term IN ('join', 'hash', 'scan') GROUP BY 1)
      |SELECT p.doc_id,
      |       sum(ln(1.0 + (st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |           * (p.tf * 2.2)
      |           / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS bm25
      |FROM p
      |JOIN dfreq USING (term)
      |JOIN dl USING (doc_id), st
      |WHERE p.term IN ('join', 'hash', 'scan')
      |GROUP BY 1""".stripMargin

  // against-corpus SemDeDup replay, shared by q257 (in-memory route) and
  // q264 (cluster-partitioned store route): the quantizer CTE trained on
  // the corpus slice only; batch vectors assigned to the same centroid
  // space, best accepted duplicate per batch vector by (cos desc, id asc)
  private val semDedupIncrementalSql =
    s"""WITH ${QueryShared.ivfAssignCteFor(" WHERE vec_id % 3 <> 0")},
       |bt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE vec_id % 3 = 0),
       |ba AS (
       |  SELECT vec_id, v, c FROM (
       |    SELECT b.vec_id, b.v, k.c,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_distance(b.v, k.v), k.c) AS rn
       |    FROM bt b CROSS JOIN c3 k)
       |  WHERE rn = 1),
       |best AS (
       |  SELECT vec_id, cid AS dup_of, round(cs, 6) AS best_sim FROM (
       |    SELECT b.vec_id, a.vec_id AS cid,
       |           list_cosine_similarity(b.v, a.v) AS cs,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY list_cosine_similarity(b.v, a.v) DESC,
       |                      a.vec_id ASC) AS rn
       |    FROM ba b JOIN af a ON a.c = b.c
       |    WHERE list_cosine_similarity(b.v, a.v) >= 0.45)
       |  WHERE rn = 1)
       |SELECT ba.vec_id, CAST(ba.c AS BIGINT) AS cluster,
       |       best.dup_of, best.best_sim,
       |       best.dup_of IS NULL AS kept
       |FROM ba LEFT JOIN best ON best.vec_id = ba.vec_id""".stripMargin

  // semantic-decontamination replay (q279): the q257/q264 quantizer CTE
  // trained on the corpus slice, eval vectors assigned to the same
  // centroid space, flagged corpus docs reported with their distinct-eval
  // census and (cos desc, eval id asc) best match
  private val semanticDeconSql =
    s"""WITH ${QueryShared.ivfAssignCteFor(" WHERE vec_id % 17 <> 0")},
       |et AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE vec_id % 17 = 0),
       |ea AS (
       |  SELECT vec_id, v, c FROM (
       |    SELECT b.vec_id, b.v, k.c,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_distance(b.v, k.v), k.c) AS rn
       |    FROM et b CROSS JOIN c3 k)
       |  WHERE rn = 1),
       |hits AS (
       |  SELECT a.vec_id AS cid, a.c, e.vec_id AS eid,
       |         list_cosine_similarity(a.v, e.v) AS cs
       |  FROM af a JOIN ea e ON e.c = a.c
       |  WHERE list_cosine_similarity(a.v, e.v) >= 0.35),
       |best AS (
       |  SELECT cid, c, eid, cs FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cid
       |      ORDER BY cs DESC, eid ASC) AS rn FROM hits)
       |  WHERE rn = 1),
       |cnt AS (SELECT cid, CAST(count(DISTINCT eid) AS BIGINT)
       |          AS n_eval_docs
       |        FROM hits GROUP BY 1)
       |SELECT b.cid AS vec_id, CAST(b.c AS BIGINT) AS cluster,
       |       cnt.n_eval_docs, b.eid AS best_eval_id,
       |       round(b.cs, 6) AS best_sim
       |FROM best b JOIN cnt USING (cid)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q279_semantic_decon" -> semanticDeconSql,

    "q185_mips_topk" ->
      """WITH e AS (SELECT vec_id,
        |             list_transform(embedding::DOUBLE[],
        |               x -> x * (1.0 + (vec_id % 5))) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 1)
        |SELECT e.vec_id, list_dot_product(e.v, q.qv) AS ip
        |FROM e, q
        |WHERE e.vec_id <> 1
        |ORDER BY ip DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,

    "q27_cosine_topk" -> cosineTopkSql,

    // the TVF splices the SAME operator plan — one oracle proves both routes
    "q238_sql_knn" -> cosineTopkSql,

    "q28_ann_lsh" -> annLshOracle,
    // the persisted-store probe is bit-identical to the ad-hoc construction
    "q199_ann_store_probe" -> annLshOracle,
    // versioned-ingest probe: same buckets, same rerank, snapshot-resolved
    "q204_ann_ingest_versioned" -> annLshOracle,
    // multi-probe: same buckets + the 2-flip signature set (margin replay)
    "q225_ann_multiprobe" -> annMultiProbeOracle,

    "q205_knn_batch_exact" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 29 = 0),
        |cand AS (SELECT q.q_id, e.vec_id,
        |           list_cosine_similarity(e.v, q.qv) AS cos_sim
        |         FROM e, q WHERE e.vec_id <> q.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM cand)
        |SELECT q_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // the run replays q205's exact-cosine ranking at k=10; DCG/IDCG embed
    // the SAME driver-computed 1/log2(i+1) literals the engine's plan uses
    // and fold via list_reduce over ORDER-BY-pinned lists — bit-identical
    "q218_ndcg_eval" ->
      s"""WITH $ndcgMetricsCtes
         |SELECT q_id, ndcg, mrr, rel_retrieved, precision_at_k
         |FROM met""".stripMargin,

    // q218's per-query nDCG, then the deterministic Poisson bootstrap:
    // per-(query, resample) multiplicity from the hash vs the SAME
    // Poisson(1) CDF literals the engine embeds, weighted means folded in
    // query-sorted pinned order, nearest-rank bounds from one sorted list
    "q232_bootstrap_ci" -> {
      val ts = graft.operators.Evaluation.poissonThresholds
      val mExpr = ts.map(t =>
        s"CASE WHEN ('0x' || substr(md5(CAST(q_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 7))::BIGINT >= $t THEN 1 ELSE 0 END")
        .mkString("(", "\n         |   + ", ")")
      s"""WITH $ndcgMetricsCtes,
         |bs AS (SELECT unnest(generate_series(0, 199)) AS b),
         |wtd AS (SELECT met.q_id, bs.b, met.ndcg AS x,
         |          $mExpr AS m
         |        FROM met, bs),
         |perb AS (SELECT b, CAST(sum(m) AS BIGINT) AS n,
         |           list_reduce(list_transform(
         |             list(struct_pack(q := q_id, m := m, x := x) ORDER BY q_id),
         |             s -> CAST(s.m AS DOUBLE) * s.x),
         |             (a, c) -> a + c) AS sx
         |         FROM wtd GROUP BY 1),
         |means AS (SELECT b, sx / CAST(n AS DOUBLE) AS mean
         |          FROM perb WHERE n > 0),
         |packed AS (SELECT list_sort(list(struct_pack(mean := mean, b := b))) AS ms
         |           FROM means),
         |pt AS (SELECT
         |    list_reduce(list_transform(
         |      list(struct_pack(q := q_id, x := ndcg) ORDER BY q_id),
         |      s -> s.x), (a, c) -> a + c)
         |      / CAST(count(*) AS DOUBLE) AS p
         |  FROM met)
         |SELECT CAST(len(ms) AS BIGINT) AS n_resamples_used,
         |  round(pt.p, 6) AS point_mean,
         |  round(ms[CAST(greatest(ceil(${0.05 / 2}::DOUBLE * len(ms)), 1) AS BIGINT)].mean, 6) AS ci_lo,
         |  round(ms[CAST(greatest(ceil(${1.0 - 0.05 / 2}::DOUBLE * len(ms)), 1) AS BIGINT)].mean, 6) AS ci_hi
         |FROM packed, pt""".stripMargin
    },

    // RRF: the BM25 leg replays q194's scoring CTEs at k=20; the dense
    // leg is q205's exact-cosine ranking at k=20; fusion is pure rank
    // arithmetic so the two engines' doubles are bit-identical
    "q206_hybrid_rrf" ->
      """WITH p AS (
        |  SELECT term, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM p GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |qt AS (SELECT DISTINCT doc_id AS q_id, unnest(w[1:8]) AS term
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |       WHERE doc_id % 29 = 0),
        |dfreq AS (SELECT term, count(*) AS df FROM p
        |          WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
        |scored AS (
        |  SELECT qt.q_id, p.doc_id,
        |         sum(ln(1.0 + (st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |             * (p.tf * 2.2)
        |             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)))
        |           AS bm25
        |  FROM p JOIN qt USING (term) JOIN dfreq USING (term)
        |       JOIN dl ON dl.doc_id = p.doc_id, st
        |  GROUP BY 1, 2),
        |stop AS (SELECT * FROM (
        |           SELECT q_id, doc_id,
        |                  row_number() OVER (PARTITION BY q_id
        |                    ORDER BY round(bm25, 6) DESC, doc_id) AS rank
        |           FROM scored) WHERE rank <= 20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 29 = 0),
        |cand AS (SELECT q.q_id, e.vec_id,
        |           list_cosine_similarity(e.v, q.qv) AS cos_sim
        |         FROM e, q WHERE e.vec_id <> q.q_id),
        |dtop AS (SELECT * FROM (
        |           SELECT q_id, vec_id AS doc_id,
        |                  row_number() OVER (PARTITION BY q_id
        |                    ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |           FROM cand) WHERE rank <= 20),
        |u AS (SELECT q_id, doc_id, rank FROM stop
        |      UNION ALL SELECT q_id, doc_id, rank FROM dtop),
        |f AS (SELECT q_id, doc_id, sum(1.0 / (60 + rank)) AS rrf_score,
        |             count(*) AS n_rankings
        |      FROM u GROUP BY 1, 2),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |         ORDER BY rrf_score DESC, doc_id ASC) AS rank FROM f)
        |SELECT q_id, doc_id, rrf_score, n_rankings,
        |       CAST(rank AS BIGINT) AS rank
        |FROM rr WHERE rank <= 10""".stripMargin,

    // JL projection replay: one UNION ALL leg per output component, the
    // plane and the variance-correcting denominator embedded as literals
    // (Double.toString round-trips); both engines divide, never multiply
    // by a reciprocal, so the arithmetic is identical
    "q210_random_projection" -> {
      val planes = graft.functions.VectorFunctions.jlPlanes(42L, 8, 64)
      val denom = math.sqrt(planes.length / 12.0)
      planes.zipWithIndex.map { case (p, i) =>
        val lits = p.mkString("[", ", ", "]::DOUBLE[]")
        s"""SELECT vec_id, CAST($i AS BIGINT) AS i,
           |  round(list_dot_product(embedding::DOUBLE[], $lits) / $denom, 6) AS v
           |FROM embeddings""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    // the multi-table store probe: OR of the query's bucket across three
    // contiguous 4-plane tables of the same stream, exact-cosine rerank
    "q203_ann_store_multitable" -> {
      val allPlanes = graft.operators.Similarity.hyperplanes(12, 64)
      def bucketExpr(t: Int) = allPlanes.slice(t * 4, (t + 1) * 4)
        .zipWithIndex.map { case (p, i) =>
          val lits = p.mkString("[", ", ", "]::DOUBLE[]")
          s"CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << i} ELSE 0 END"
        }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v,
         |    ${bucketExpr(0)} AS b0,
         |    ${bucketExpr(1)} AS b1,
         |    ${bucketExpr(2)} AS b2
         |  FROM e),
         |q AS (SELECT v AS qv, b0 AS qb0, b1 AS qb1, b2 AS qb2
         |      FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, list_cosine_similarity(b.v, q.qv) AS cos_sim
         |FROM b, q
         |WHERE (b.b0 = q.qb0 OR b.b1 = q.qb1 OR b.b2 = q.qb2)
         |  AND b.vec_id <> 0
         |ORDER BY cos_sim DESC, b.vec_id ASC
         |LIMIT 10""".stripMargin
    },

    "q31_vector_meta" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm,
        |       label
        |FROM embeddings""".stripMargin,

    "q32_embedding_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45""".stripMargin,

    // q205's kNN replay at pool=30, same-label positives removed, 5 hardest
    "q226_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, label AS ql FROM e WHERE vec_id % 29 = 0),
        |cand AS (SELECT q.q_id, q.ql, e.vec_id, e.label,
        |           list_cosine_similarity(e.v, q.qv) AS cos_sim
        |         FROM e, q WHERE e.vec_id <> q.q_id),
        |pool AS (SELECT * FROM (
        |           SELECT *, row_number() OVER (PARTITION BY q_id
        |             ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM cand)
        |         WHERE rank <= 30),
        |hard AS (SELECT q_id, vec_id, cos_sim, rank FROM pool
        |         WHERE label <> ql)
        |SELECT q_id, vec_id, cos_sim, CAST(hard_rank AS BIGINT) AS hard_rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY rank ASC) AS hard_rank FROM hard)
        |WHERE hard_rank <= 5""".stripMargin,

    "q224_binary_quantization" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |  list_reduce(list_transform(generate_series(1, 64), i ->
        |    CASE WHEN embedding[i] > 0 THEN
        |      -- DuckDB overflow-checks 1<<63; the engine's shiftleft has
        |      -- Java semantics — spell the sign bit as MIN_BIGINT
        |      CASE WHEN i = 64 THEN (-9223372036854775807 - 1)::BIGINT
        |           ELSE (1::BIGINT << (i - 1)) END
        |    ELSE 0::BIGINT END), (a, b) -> a + b) AS sig
        |  FROM embeddings),
        |q AS (SELECT sig AS qsig, v AS qv FROM e WHERE vec_id = 0),
        |h AS (SELECT e.vec_id,
        |        CAST(bit_count(xor(e.sig, q.qsig)) AS BIGINT) AS hamming,
        |        list_cosine_similarity(e.v, q.qv) AS cos_sim
        |      FROM e, q WHERE e.vec_id <> 0),
        |sl AS (SELECT * FROM h ORDER BY hamming, vec_id LIMIT 50)
        |SELECT vec_id, hamming, cos_sim FROM sl
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // both retrieval legs + both metric folds + every paired resample
    "q233_system_comparison" -> {
      val d = graft.operators.Evaluation.discounts(10)
      def discCase(v: String): String =
        (1 to 10).map(i => s"WHEN $i THEN ${d(i - 1)}").mkString(
          s"(CASE $v ", " ", " END)")
      def metricFor(run: String, pfx: String): String =
        s"""j$pfx AS (SELECT $run.q_id, $run.rank, COALESCE(qrel.rel, 0) AS rel
           |      FROM $run LEFT JOIN qrel USING (q_id, vec_id)),
           |contrib$pfx AS (SELECT q_id, rank, rel,
           |    (pow(2.0, CAST(rel AS DOUBLE)) - 1.0) * ${discCase("rank")} AS c
           |  FROM j$pfx),
           |dcg$pfx AS (SELECT q_id,
           |          list_reduce(list(c ORDER BY rank), (a, b) -> a + b) AS dcg
           |        FROM contrib$pfx GROUP BY 1),
           |met$pfx AS (SELECT dcg$pfx.q_id,
           |    CASE WHEN idcg.idcg > 0 THEN dcg$pfx.dcg / idcg.idcg END AS ndcg
           |  FROM dcg$pfx LEFT JOIN idcg USING (q_id))""".stripMargin
      val ts = graft.operators.Evaluation.poissonThresholds
      val mExpr = ts.map(t =>
        s"CASE WHEN ('0x' || substr(md5(CAST(q_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 7))::BIGINT >= $t THEN 1 ELSE 0 END")
        .mkString("(", "\n         |   + ", ")")
      s"""WITH $ivfAssignCte,
         |el AS (SELECT vec_id, label FROM embeddings),
         |q AS (SELECT e.vec_id AS q_id, e.v AS qv, el.label AS ql
         |      FROM e JOIN el USING (vec_id) WHERE e.vec_id < 12),
         |ca AS (SELECT q.q_id, e.vec_id,
         |         list_cosine_similarity(e.v, q.qv) AS cs
         |       FROM e, q WHERE e.vec_id <> q.q_id),
         |runa AS (SELECT q_id, vec_id, rank FROM (
         |          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |            ORDER BY cs DESC, vec_id ASC) AS rank FROM ca)
         |         WHERE rank <= 10),
         |pr AS (SELECT q.q_id, k.c,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY list_distance(q.qv, k.v), k.c) AS rn
         |       FROM q CROSS JOIN c3 k),
         |probes AS (SELECT q_id, c FROM pr WHERE rn <= 2),
         |cb AS (SELECT q.q_id, af.vec_id,
         |         list_cosine_similarity(af.v, q.qv) AS cs
         |       FROM af JOIN probes p ON af.c = p.c
         |       JOIN q ON q.q_id = p.q_id
         |       WHERE af.vec_id <> q.q_id),
         |runb AS (SELECT q_id, vec_id, rank FROM (
         |          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |            ORDER BY cs DESC, vec_id ASC) AS rank FROM cb)
         |         WHERE rank <= 10),
         |qrel AS (SELECT q.q_id, el.vec_id,
         |           CASE WHEN (el.vec_id + q.q_id) % 2 = 0 THEN 3 ELSE 1 END AS rel
         |         FROM q JOIN el ON el.label = q.ql AND el.vec_id <> q.q_id),
         |ideal AS (SELECT q_id, list_sort(list(rel), 'DESC')[:10] AS rl
         |          FROM qrel GROUP BY 1),
         |idcg AS (SELECT q_id,
         |    list_reduce(list_transform(rl, (x, i) ->
         |      (pow(2.0, CAST(x AS DOUBLE)) - 1.0) * ${discCase("i")}),
         |      (a, b) -> a + b) AS idcg
         |  FROM ideal),
         |${metricFor("runa", "a")},
         |${metricFor("runb", "b")},
         |paired AS (SELECT q_id, meta.ndcg AS xa, metb.ndcg AS xb
         |           FROM meta JOIN metb USING (q_id)),
         |bs AS (SELECT unnest(generate_series(0, 199)) AS b),
         |wtd AS (SELECT paired.q_id, bs.b, paired.xa, paired.xb,
         |          $mExpr AS m
         |        FROM paired, bs),
         |perb AS (SELECT b, CAST(sum(m) AS BIGINT) AS n,
         |           list_reduce(list_transform(
         |             list(struct_pack(q := q_id, m := m, v := xa) ORDER BY q_id),
         |             s -> CAST(s.m AS DOUBLE) * s.v), (a, c) -> a + c) AS sa,
         |           list_reduce(list_transform(
         |             list(struct_pack(q := q_id, m := m, v := xb) ORDER BY q_id),
         |             s -> CAST(s.m AS DOUBLE) * s.v), (a, c) -> a + c) AS sb
         |         FROM wtd GROUP BY 1),
         |means AS (SELECT b,
         |            sa / CAST(n AS DOUBLE) - sb / CAST(n AS DOUBLE) AS d
         |          FROM perb WHERE n > 0),
         |packed AS (SELECT list_sort(list(struct_pack(d := d, b := b))) AS ms
         |           FROM means),
         |pt AS (SELECT
         |    (list_reduce(list_transform(
         |       list(struct_pack(q := q_id, v := xa) ORDER BY q_id),
         |       s -> s.v), (a, c) -> a + c)
         |     - list_reduce(list_transform(
         |         list(struct_pack(q := q_id, v := xb) ORDER BY q_id),
         |         s -> s.v), (a, c) -> a + c))
         |      / CAST(count(*) AS DOUBLE) AS p
         |  FROM paired)
         |SELECT CAST(len(ms) AS BIGINT) AS n_resamples_used,
         |  round(pt.p, 6) AS point_diff,
         |  round(ms[CAST(greatest(ceil(${0.05 / 2}::DOUBLE * len(ms)), 1) AS BIGINT)].d, 6) AS ci_lo,
         |  round(ms[CAST(greatest(ceil(${1.0 - 0.05 / 2}::DOUBLE * len(ms)), 1) AS BIGINT)].d, 6) AS ci_hi,
         |  (round(ms[CAST(greatest(ceil(${0.05 / 2}::DOUBLE * len(ms)), 1) AS BIGINT)].d, 6) > 0
         |   OR round(ms[CAST(greatest(ceil(${1.0 - 0.05 / 2}::DOUBLE * len(ms)), 1) AS BIGINT)].d, 6) < 0)
         |    AS ci_excludes_zero
         |FROM packed, pt""".stripMargin
    },

    "q34_ivf_topk" -> ivfTopKOracle,
    // persisted IVF store probe: frozen centroids = the same Lloyd replay,
    // partition read = the same probe set, rerank identical
    "q219_ivf_store_probe" -> ivfTopKOracle,

    // q221's leg pair; τ from the in-order rb inversion count (all-integer)
    "q234_kendall_tau" ->
      s"""WITH $exactVsIvfRunsCtes,
         |common AS (SELECT q_id, vec_id, a.r AS ra, b.r AS rb
         |           FROM a JOIN b USING (q_id, vec_id)),
         |packed AS (SELECT q_id,
         |             list(struct_pack(ra := ra, rb := rb) ORDER BY ra) AS l
         |           FROM common GROUP BY 1),
         |stats AS (SELECT q_id, CAST(len(l) AS BIGINT) AS m,
         |    CASE WHEN len(l) >= 2 THEN CAST(list_reduce(flatten(
         |      list_transform(generate_series(1, len(l) - 1), i ->
         |        list_transform(generate_series(i + 1, len(l)), j ->
         |          CASE WHEN l[i].rb > l[j].rb THEN 1 ELSE 0 END))),
         |      (x, y) -> x + y) AS BIGINT) ELSE 0 END AS d
         |  FROM packed)
         |SELECT q_id, m AS n_common, d AS discordant,
         |  m * (m - 1) // 2 - d AS concordant,
         |  CASE WHEN m >= 2 THEN
         |    CAST(m * (m - 1) // 2 - 2 * d AS DOUBLE)
         |      / CAST(m * (m - 1) // 2 AS DOUBLE) END AS tau
         |FROM stats""".stripMargin,

    // both legs replayed (q205's brute force + q116's IVF probe shape at
    // k=10/nProbe=2), RBO folded over the SAME driver-literal W(m) weights
    // the engine's plan embeds, in (depth, doc)-pinned order
    "q221_rbo_ann_vs_exact" -> {
      val w = graft.operators.Evaluation.rboWeights(10, 0.9)
      // CAST each literal: DuckDB parses bare decimal literals as DECIMAL
      // and would fold the sum in exact decimal, not the engine's IEEE
      // (shortest-round-trip decimal→DOUBLE recovers the exact bits)
      val wCase = (1 to 10)
        .map(i => s"WHEN $i THEN CAST(${w(i - 1)} AS DOUBLE)")
        .mkString("(CASE m ", " ", " END)")
      s"""WITH $exactVsIvfRunsCtes,
         |j AS (SELECT q_id, vec_id, greatest(a.r, b.r) AS m
         |      FROM a JOIN b USING (q_id, vec_id)),
         |s AS (SELECT q_id,
         |        list_reduce(list($wCase ORDER BY m, vec_id),
         |                    (x, y) -> x + y) AS sw,
         |        CAST(count(*) AS BIGINT) AS n_common
         |      FROM j GROUP BY 1)
         |SELECT qs.q_id,
         |  coalesce(CAST(${1.0 - 0.9} AS DOUBLE) * s.sw,
         |           CAST(0 AS DOUBLE)) AS rbo,
         |       coalesce(s.n_common, 0) AS n_common
         |FROM (SELECT DISTINCT q_id FROM a) qs LEFT JOIN s USING (q_id)""".stripMargin
    },

    "q36_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df
        |          FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT t.doc_id, t.term, t.tf,
        |       t.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)) AS tfidf
        |FROM tf t JOIN dfreq d ON d.term = t.term, n""".stripMargin,

    "q49_embedding_neardup_lsh" -> {
      // same LCG planes as the engine (dyadic rationals — exact decimal
      // round-trip), 6 tables × 6 planes, bucket per table as sign-bit sum
      val planesPerTable = 6; val tables = 6
      val all = graft.operators.Similarity.hyperplanes(planesPerTable * tables, 64)
      val bucketCols = (0 until tables).map { t =>
        val expr = (0 until planesPerTable).map { i =>
          val p = all(t * planesPerTable + i).mkString("[", ", ", "]::DOUBLE[]")
          s"CASE WHEN list_dot_product(v, $p) >= 0 THEN ${1L << i} ELSE 0 END"
        }.mkString(" + ")
        s"($expr) AS bk$t"
      }.mkString(",\n         |    ".stripMargin)
      val candUnion = (0 until tables).map { t =>
        s"""SELECT x.vec_id AS a_id, y.vec_id AS b_id FROM b x
           |      JOIN b y ON x.bk$t = y.bk$t AND x.vec_id < y.vec_id""".stripMargin
      }.mkString("\n         |    UNION ALL\n         |    ".stripMargin)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id,
         |    $bucketCols
         |  FROM e),
         |cand AS (
         |  SELECT DISTINCT a_id, b_id FROM (
         |    $candUnion))
         |SELECT c.a_id, c.b_id,
         |  list_cosine_similarity(ea.v, eb.v) AS cos_sim
         |FROM cand c
         |JOIN e ea ON ea.vec_id = c.a_id
         |JOIN e eb ON eb.vec_id = c.b_id
         |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45""".stripMargin
    },

    "q61_semantic_dedup" ->
      s"""WITH $ivfAssignCte
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       CAST(a.c AS BIGINT) AS cluster,
         |       list_cosine_similarity(a.v, b.v) AS cos_sim
         |FROM af a JOIN af b ON a.c = b.c AND a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin,

    // q61's pair graph → min-label connected components (the q48 recursive
    // fold) → keep-lowest-centroid-cosine representative per component
    "q256_semdedup_prune" ->
      s"""WITH RECURSIVE $ivfAssignCte,
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM af a JOIN af b ON a.c = b.c AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.45),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(node, lab) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lab),
         |comp AS (SELECT node, min(lab) AS m FROM reach GROUP BY node),
         |cs AS (SELECT af.vec_id, CAST(af.c AS BIGINT) AS cluster,
         |              list_cosine_similarity(af.v, k.v) AS cosc
         |       FROM af JOIN c3 k ON k.c = af.c),
         |lab AS (SELECT cs.vec_id, cs.cluster, cs.cosc,
         |          least(cs.vec_id, coalesce(comp.m, cs.vec_id)) AS component
         |        FROM cs LEFT JOIN comp ON comp.node = cs.vec_id),
         |rep AS (SELECT component, vec_id AS keep_id FROM (
         |          SELECT component, vec_id, row_number() OVER (
         |            PARTITION BY component
         |            ORDER BY cosc ASC, vec_id ASC) AS rn FROM lab)
         |        WHERE rn = 1)
         |SELECT l.vec_id, l.cluster, l.component,
         |       round(l.cosc, 6) AS cos_centroid,
         |       l.vec_id = r.keep_id AS kept
         |FROM lab l JOIN rep r ON r.component = l.component""".stripMargin,

    // against-corpus SemDeDup replay: the quantizer CTE trained on the
    // corpus slice only; batch vectors assigned to the same centroid
    // space, best accepted duplicate per batch vector by (cos desc, id asc)
    "q257_semdedup_incremental" -> semDedupIncrementalSql,

    // the store route is bit-identical to q257 by construction (frozen
    // centroids round-trip exactly; the partition-pruned scan reads the
    // same accepted rows) — same replay
    "q264_semdedup_store" -> semDedupIncrementalSql,

    // the q34 Lloyd centroids, then per-vector squared distances to every
    // centroid on the 2^14 integer grid; nearest/second-nearest decided by
    // (q2, c) integer order, scores quantized to millionths so the
    // per-cluster mean is an exact BIGINT sum
    "q272_silhouette" ->
      s"""WITH $ivfAssignCte,
         |dd AS (SELECT e.vec_id, k.c,
         |         CAST(floor(list_reduce(list_transform(range(1, 65),
         |             i -> (e.v[i] - k.v[i]) * (e.v[i] - k.v[i])),
         |             (a, b) -> a + b) * 16384.0 + 0.5) AS BIGINT) AS q2
         |       FROM e CROSS JOIN c3 k),
         |rk AS (SELECT vec_id, c, q2,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY q2, c) AS rn
         |       FROM dd),
         |pv AS (SELECT vec_id,
         |         max(CASE WHEN rn = 1 THEN c END) AS cluster,
         |         max(CASE WHEN rn = 1 THEN q2 END) AS qa,
         |         max(CASE WHEN rn = 2 THEN q2 END) AS qb
         |       FROM rk WHERE rn <= 2 GROUP BY 1),
         |sm AS (SELECT cluster,
         |         CAST(floor((CASE WHEN qb > 0
         |             THEN 1.0 - sqrt(CAST(qa AS DOUBLE) / CAST(qb AS DOUBLE))
         |             ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT) AS s_micro
         |       FROM pv)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(s_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    / 1e6, 6) AS mean_silhouette
         |FROM sm GROUP BY 1""".stripMargin,

    "q82_int8_quantization" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |d AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1),
        |q AS (SELECT e.vec_id, e.v, d.mn, d.mx,
        |        floor((e.v - d.mn) / (d.mx - d.mn) * 255 + 0.5) AS code
        |      FROM e JOIN d USING (dim)),
        |r AS (SELECT vec_id, abs(v - (mn + code * (mx - mn) / 255)) AS err FROM q)
        |SELECT vec_id, max(err) AS max_err, sum(err) / count(*) AS mean_err
        |FROM r GROUP BY 1""".stripMargin,

    "q84_ivf_sq8" ->
      s"""WITH $ivfAssignCte,
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |probes AS (SELECT k.c FROM c3 k, qv
         |           ORDER BY list_distance(qv.v, k.v), k.c LIMIT 4),
         |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |              CAST(unnest(embedding) AS DOUBLE) AS val
         |       FROM embeddings),
         |sc AS (SELECT dim, min(val) AS mn, max(val) AS mx FROM ex GROUP BY 1),
         |codes AS (SELECT ex.vec_id, ex.dim,
         |            floor((ex.val - sc.mn) / (sc.mx - sc.mn) * 255 + 0.5) AS code
         |          FROM ex JOIN sc USING (dim)),
         |qc AS (SELECT dim, code FROM codes WHERE vec_id = 0),
         |cand AS (SELECT af.vec_id FROM af
         |         WHERE af.c IN (SELECT c FROM probes) AND af.vec_id <> 0),
         |short AS (SELECT cc.vec_id,
         |            CAST(sum((cc.code - qc.code) * (cc.code - qc.code)) AS BIGINT) AS sdc_dist
         |          FROM cand JOIN codes cc ON cc.vec_id = cand.vec_id
         |            JOIN qc ON qc.dim = cc.dim
         |          GROUP BY 1
         |          ORDER BY sdc_dist ASC, cc.vec_id ASC LIMIT 50)
         |SELECT s.vec_id, s.sdc_dist, list_cosine_similarity(e.v, qv.v) AS cos_sim
         |FROM short s JOIN e ON e.vec_id = s.vec_id, qv
         |ORDER BY cos_sim DESC, s.vec_id ASC
         |LIMIT 10""".stripMargin,

    "q92_ivf_pq" ->
      s"""WITH $ivfAssignCte,
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |probes AS (SELECT k.c FROM c3 k, qv
         |           ORDER BY list_distance(qv.v, k.v), k.c LIMIT 4),
         |sdims AS (SELECT unnest(generate_series(1, 16)) AS i),
         |${pqSubspaceCte(0)},
         |${pqSubspaceCte(1)},
         |${pqSubspaceCte(2)},
         |${pqSubspaceCte(3)},
         |cand AS (SELECT af.vec_id FROM af
         |         WHERE af.c IN (SELECT c FROM probes) AND af.vec_id <> 0),
         |adc AS (SELECT c.vec_id,
         |          dt0.dq + dt1.dq + dt2.dq + dt3.dq AS adc_dist
         |        FROM cand c
         |        JOIN afs0 a0 ON a0.vec_id = c.vec_id JOIN dt0 ON dt0.c = a0.c
         |        JOIN afs1 a1 ON a1.vec_id = c.vec_id JOIN dt1 ON dt1.c = a1.c
         |        JOIN afs2 a2 ON a2.vec_id = c.vec_id JOIN dt2 ON dt2.c = a2.c
         |        JOIN afs3 a3 ON a3.vec_id = c.vec_id JOIN dt3 ON dt3.c = a3.c),
         |short AS (SELECT vec_id, adc_dist FROM adc
         |          ORDER BY adc_dist ASC, vec_id ASC LIMIT 50)
         |SELECT s.vec_id, s.adc_dist, list_cosine_similarity(e.v, qv.v) AS cos_sim
         |FROM short s JOIN e ON e.vec_id = s.vec_id, qv
         |ORDER BY cos_sim DESC, s.vec_id ASC
         |LIMIT 10""".stripMargin,

    "q96_inverted_index" ->
      """WITH p AS (
        |  SELECT term, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
        |FROM p
        |WHERE term IN ('join', 'hash', 'scan')
        |GROUP BY doc_id
        |HAVING count(DISTINCT term) = 3""".stripMargin,

    "q194_retrieval_features" ->
      """WITH p AS (
        |  SELECT term, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM p GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |qt AS (SELECT DISTINCT doc_id AS q_id, unnest(w[1:8]) AS term
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |       WHERE doc_id % 29 = 0),
        |dfreq AS (SELECT term, count(*) AS df FROM p
        |          WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
        |scored AS (
        |  SELECT qt.q_id, p.doc_id,
        |         sum(ln(1.0 + (st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |             * (p.tf * 2.2)
        |             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)))
        |           AS bm25
        |  FROM p JOIN qt USING (term) JOIN dfreq USING (term)
        |       JOIN dl ON dl.doc_id = p.doc_id, st
        |  GROUP BY 1, 2),
        |top AS (SELECT * FROM (
        |          SELECT q_id, doc_id, bm25,
        |                 row_number() OVER (PARTITION BY q_id
        |                   ORDER BY bm25 DESC, doc_id) AS rank
        |          FROM scored) WHERE rank <= 5),
        |qn AS (SELECT q_id, count(*) AS q_n FROM qt GROUP BY 1),
        |dn AS (SELECT doc_id, count(*) AS d_n FROM p GROUP BY 1),
        |ov AS (SELECT t.q_id, t.doc_id, count(*) AS n_common
        |       FROM top t
        |       JOIN qt ON qt.q_id = t.q_id
        |       JOIN p ON p.doc_id = t.doc_id AND p.term = qt.term
        |       GROUP BY 1, 2)
        |SELECT t.q_id, t.doc_id, CAST(t.rank AS BIGINT) AS rank,
        |       round(t.bm25, 6) AS bm25,
        |       round(CAST(coalesce(ov.n_common, 0) AS DOUBLE) /
        |             CAST(qn.q_n + dn.d_n - coalesce(ov.n_common, 0) AS DOUBLE),
        |             6) AS jaccard,
        |       t.q_id = t.doc_id AS label
        |FROM top t
        |JOIN qn USING (q_id) JOIN dn USING (doc_id)
        |LEFT JOIN ov ON ov.q_id = t.q_id AND ov.doc_id = t.doc_id""".stripMargin,

    "q197_mips_norm_ranged" -> mipsNormRangedOracle,
    // the persisted-store probe is bit-identical to the ad-hoc construction
    "q200_mips_store_probe" -> mipsNormRangedOracle,
    // the append path over the doubled corpus: frozen stats == re-derived
    "q202_mips_store_append" -> mipsNormRangedOracleOver(
      """base AS (SELECT vec_id,
        |          list_transform(embedding::DOUBLE[],
        |            x -> x * (1.0 + (vec_id % 5))) AS v
        |        FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base)""".stripMargin),

    "q201_mips_batch" -> {
      val planes = graft.operators.Similarity.hyperplanesFrom(0, 3, 65)
      def bucketExpr(augSql: String) = planes.zipWithIndex.map { case (p, i) =>
        val main = p.init.mkString("[", ", ", "]::DOUBLE[]")
        s"CASE WHEN list_dot_product(v, $main) + $augSql * (${p.last}) >= 0 " +
          s"THEN ${1L << i} ELSE 0 END"
      }.mkString("\n        + ")
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding::DOUBLE[],
         |               x -> x * (1.0 + (vec_id % 5))) AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |g AS (SELECT max(n2) AS gmax, min(n2) AS gmin FROM n),
         |b AS (SELECT vec_id, v, n2,
         |        CAST(least(4, floor((n2 - g.gmin) * 5
         |          / (g.gmax - g.gmin + 1e-12))) AS INT) AS band
         |      FROM n, g),
         |bm AS (SELECT band, max(n2) AS m2 FROM b GROUP BY 1),
         |a AS (SELECT b.vec_id, b.v,
         |        sqrt(greatest(bm.m2 - b.n2, 0.0)) AS aug
         |      FROM b JOIN bm USING (band)),
         |h AS (SELECT vec_id, v,
         |        ${bucketExpr("aug")} AS bucket,
         |        ${bucketExpr("0.0")} AS qbucket
         |      FROM a),
         |q AS (SELECT vec_id AS q_id, v AS qv, qbucket AS qb FROM h
         |      WHERE vec_id % 37 = 0),
         |s AS (SELECT q.q_id, h.vec_id, list_dot_product(h.v, q.qv) AS ip
         |      FROM h JOIN q ON h.bucket = q.qb AND h.vec_id <> q.q_id),
         |r AS (SELECT q_id, vec_id, ip,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY ip DESC, vec_id ASC) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, ip, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5""".stripMargin
    },

    "q98_bm25" -> bm25Sql,

    // the TVF's top-k over the SAME scoring plan: deterministic id
    // tie-break, replayed by ordering the shared oracle
    "q239_sql_bm25_topk" ->
      s"""$bm25Sql
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 10""".stripMargin,

    "q99_phrase_search" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) AS pos FROM w)
        |SELECT a.doc_id, count(*) AS n_occ
        |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = 'hash' AND b.term = 'join'
        |GROUP BY 1""".stripMargin,

    "q100_lsh_cross_corpus" -> {
      val planesPerTable = 6; val tables = 6
      val all = graft.operators.Similarity.hyperplanes(planesPerTable * tables, 64)
      val bucketCols = (0 until tables).map { t =>
        val expr = (0 until planesPerTable).map { i =>
          val p = all(t * planesPerTable + i).mkString("[", ", ", "]::DOUBLE[]")
          s"CASE WHEN list_dot_product(v, $p) >= 0 THEN ${1L << i} ELSE 0 END"
        }.mkString(" + ")
        s"($expr) AS bk$t"
      }.mkString(",\n         |    ".stripMargin)
      val candUnion = (0 until tables).map { t =>
        s"""SELECT x.vec_id AS a_id, y.vec_id AS b_id FROM ba x
           |      JOIN bb y ON x.bk$t = y.bk$t""".stripMargin
      }.mkString("\n         |    UNION ALL\n         |    ".stripMargin)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id,
         |    $bucketCols
         |  FROM e),
         |ba AS (SELECT * FROM b WHERE vec_id % 2 = 0),
         |bb AS (SELECT * FROM b WHERE vec_id % 2 <> 0),
         |cand AS (
         |  SELECT DISTINCT a_id, b_id FROM (
         |    $candUnion))
         |SELECT c.a_id, c.b_id,
         |  list_cosine_similarity(ea.v, eb.v) AS cos_sim
         |FROM cand c
         |JOIN e ea ON ea.vec_id = c.a_id
         |JOIN e eb ON eb.vec_id = c.b_id
         |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45""".stripMargin
    },

    "q115_filtered_ann" ->
      """WITH qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], qv.v) AS cos_sim
        |FROM embeddings e, qv
        |WHERE e.label = 3 AND e.vec_id <> 0
        |ORDER BY cos_sim DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,

    "q116_knn_join" ->
      s"""WITH $ivfAssignCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 12),
         |pr AS (SELECT q.query_id, k.c,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY list_distance(q.qv, k.v), k.c) AS rn
         |       FROM q CROSS JOIN c3 k),
         |probes AS (SELECT query_id, c FROM pr WHERE rn <= 2),
         |cand AS (
         |  SELECT q.query_id, af.vec_id,
         |         list_cosine_similarity(af.v, q.qv) AS cos_sim
         |  FROM af JOIN probes p ON af.c = p.c
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE af.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM cand)
         |SELECT query_id, vec_id, cos_sim FROM r WHERE rk <= 5""".stripMargin,

    "q127_embedding_pool" ->
      """WITH e AS (SELECT vec_id // 4 AS g, vec_id, embedding FROM embeddings),
        |pos AS (SELECT g,
        |          unnest(list_transform(generate_series(1, len(embedding)),
        |                                i -> {'i': i, 'v': embedding[i]})) AS u
        |        FROM e),
        |p AS (SELECT g, u.i AS i,
        |        sum(CAST(u.v AS DOUBLE)) / count(*) AS pv
        |      FROM pos GROUP BY 1, 2),
        |n AS (SELECT g, sqrt(sum(pv * pv)) AS norm,
        |             CAST(count(*) AS BIGINT) AS dim
        |      FROM p GROUP BY 1)
        |SELECT p.g, n.dim, round(n.norm, 6) AS norm,
        |       CAST(p.i - 1 AS BIGINT) AS i, round(p.pv / n.norm, 6) AS v
        |FROM p JOIN n USING (g)""".stripMargin,

    "q140_ann_recall" ->
      s"""WITH $ivfAssignCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 12),
         |pr AS (SELECT q.query_id, k.c,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY list_distance(q.qv, k.v), k.c) AS rn
         |       FROM q CROSS JOIN c3 k),
         |probes AS (SELECT query_id, c FROM pr WHERE rn <= 2),
         |cand AS (
         |  SELECT q.query_id, af.vec_id,
         |         list_cosine_similarity(af.v, q.qv) AS cos_sim
         |  FROM af JOIN probes p ON af.c = p.c
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE af.vec_id <> q.query_id),
         |a AS (SELECT query_id, vec_id FROM (
         |        SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM cand)
         |      WHERE rk <= 5),
         |exc AS (SELECT q.query_id, e.vec_id,
         |          list_cosine_similarity(e.v, q.qv) AS cos_sim
         |        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |ex AS (SELECT query_id, vec_id FROM (
         |        SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM exc)
         |       WHERE rk <= 5)
         |SELECT ex.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |       CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall
         |FROM ex LEFT JOIN a ON a.query_id = ex.query_id
         |                   AND a.vec_id = ex.vec_id
         |GROUP BY 1""".stripMargin,

    "q160_sparse_cosine" ->
      """WITH tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
        |dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
        |        FROM tf GROUP BY 1 HAVING count(*) <= 250),
        |w AS (SELECT tf.doc_id, tf.token,
        |             tf.tf * ln((SELECT n FROM nd) / dfs.df) AS w
        |      FROM tf JOIN dfs USING (token)),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |nw AS (SELECT w.doc_id, w.token, w.w / nrm.nrm AS nw
        |       FROM w JOIN nrm USING (doc_id)),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b,
        |             sum(x.nw * y.nw) AS cos_sim
        |      FROM nw x JOIN nw y
        |        ON x.token = y.token AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2)
        |SELECT a, b, cos_sim FROM p WHERE cos_sim >= 0.6""".stripMargin
  )
}
