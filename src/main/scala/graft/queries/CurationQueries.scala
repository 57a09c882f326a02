package graft.queries

import graft.functions.{GapParser, TextFunctions, VectorFunctions}
import graft.operators._
import graft.pipeline.{F1Staging, F1Synthetic}
import graft.sources.{BloomStore, Bucketed, Tables, TxLog}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryShared._

/** Training-data curation: sampling/splits/mixes, quality and LM scoring, tokenizer/vocab/BPE, PII, chunking/packing, corpus cards, multimodal decode.
  *
  * Split from the original single-file registry; each entry keeps its
  * Scaladoc mapping to SURVEY.md §2 / the reference files. The driver
  * surface remains [[graft.SparkEntry.queries]]/[[graft.SparkEntry.oracleSql]],
  * which merge the per-family maps.
  */
private[graft] object CurationQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    /** Text quality scoring (extension): stopword occurrences + composite score. */
    "q23_text_quality" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      TextFunctions.occurrences(col("text"), "the").as("n_the"),
      TextFunctions.occurrences(col("text"), "a").as("n_a"),
      TextFunctions.qualityScore(col("text")).as("quality"))),

    /** Language-ID heuristic (extension): marker-word scores, fixed-precedence
      * argmax. */
    "q24_lang_id" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), col("lang").as("actual_lang"),
      TextFunctions.predictLang(col("text")).as("predicted_lang"),
      TextFunctions.langScore(col("text"), Seq("the", "a")).as("score_en"))),

    /** Multimodal plumbing: text → binary column + typed metadata (the decode
      * step for real media is stubbed per the brief; schema/partition plumbing
      * is real). */
    "q30_multimodal_meta" -> ((s, dir) => {
      val bin = encode(col("text"), "UTF-8")
      docs(s, dir).select(
        col("doc_id"),
        octet_length(bin).cast("long").as("n_bytes"),
        md5(bin).as("content_hash"),
        when(col("n_chars") % 3 === 0, "image").when(col("n_chars") % 3 === 1, "audio")
          .otherwise("video").as("kind"))
    }),

    /** Dataset curation (extension): deterministic Bernoulli sample (~25% by
      * content hash), fixed-size stratified sample (20 docs per language,
      * hash-ranked), and leakage-safe train/val/test assignment — composed so
      * one result row carries all three decisions for every sampled doc.
      * Everything is md5-derived integer arithmetic: reproducible across
      * engines, reruns, and task retries (no RNG state anywhere).
      */
    "q45_curation_sample" -> ((s, dir) => {
      val strat = Curation.stratifiedSample(docs(s, dir), "lang", "doc_id", 20)
      strat.select(
        col("doc_id"), col("lang"), col("__rank").cast("long").as("strat_rank"),
        Curation.hash28(col("doc_id")).as("sample_key"),
        (Curation.hash28(col("doc_id")) < lit((0.25 * Curation.HashSpace).toLong))
          .as("in_bernoulli_25pct"),
        Curation.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    }),

    /** Token-repetition quality stats (extension; Gopher-style repetition
      * filters): top-token share and duplicate-token fraction per document via
      * explode + two-level partial aggregation — shuffle keyed on
      * (doc, token), nothing per-document held in one buffer.
      */
    "q46_repetition_stats" -> ((s, dir) =>
      Curation.tokenRepetitionStats(docs(s, dir), "doc_id", "text")
        .withColumn("is_repetitive", col("top_token_share") > 0.2)),

    /** PII redaction (extension): inject deterministic synthetic PII (the
      * harness corpus carries none), redact emails/phones/SSN-shaped ids to
      * typed placeholders, and emit the redacted hash + per-kind match counts
      * so the oracle proves byte-identical redaction.
      */
    "q47_pii_redact" -> ((s, dir) => {
      val piiText = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" id 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      docs(s, dir).select(
        col("doc_id"),
        md5(Curation.redactPii(piiText)).as("redacted_hash"),
        size(regexp_extract_all(piiText, lit(Curation.EmailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(piiText, lit(Curation.PhonePattern), lit(0)))
          .cast("long").as("n_phones"),
        length(piiText).cast("long").as("n_chars_with_pii"),
        length(Curation.redactPii(piiText)).cast("long").as("n_chars_redacted"))
    }),

    /** LLM token budgeting (extension): whitespace vs BPE-pre-tokenizer
      * token counts per doc ([[graft.functions.TextFunctions.bpeTokenCount]])
      * — numbers/punctuation split off as in the GPT-2 pre-tokenizer, the
      * closer proxy for model token cost when sizing a training mix.
      */
    "q50_bpe_token_stats" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))),

    /** Sequence packing (extension): concat-and-chunk the corpus token
      * stream into 2048-token context windows over 8 content-hash shards —
      * per-doc offset spans and chunk ids, the bookkeeping of a packed
      * pretraining dataloader ([[graft.operators.Curation.sequencePack]]).
      */
    "q53_sequence_pack" -> ((s, dir) => Curation.sequencePack(
      docs(s, dir).select(col("doc_id"),
        TextFunctions.bpeTokenCount(col("text")).as("n_tok")),
      "doc_id", "n_tok", nShards = 8, ctxLen = 2048)),

    /** Source-mix rebalancing (extension; data mixing): every stratum
      * downsampled to the smallest stratum's size via an all-integer hash
      * threshold — uniform mix, zero RNG, corpus-side filter only
      * ([[graft.operators.Curation.rebalanceStrata]]). The harness sources
      * are uniform (rebalance-to-min would be the identity), so strata are
      * skewed first: src0–src9 collapse into one 10×-sized 'bulk' stratum,
      * which the operator must cut to ~1/10th.
      */
    "q55_mix_rebalance" -> ((s, dir) =>
      Curation.rebalanceStrata(
        docs(s, dir).withColumn("stratum",
          when(length(col("source")) === 4, lit("bulk")).otherwise(col("source"))),
        "stratum", "doc_id")
        .select(col("doc_id"), col("stratum"))),

    /** Curriculum binning (extension): quality-score deciles within each
      * language via `ntile` — the per-doc bin assignment a curriculum
      * dataloader consumes ([[graft.operators.Curation.curriculumBins]];
      * quality ordering is cross-engine-exact, proven by q23's hash match).
      */
    "q56_curriculum_bins" -> ((s, dir) => Curation.curriculumBins(
      docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality")),
      "lang", col("quality"), "doc_id", 10)
      // DuckDB ntile returns BIGINT; Spark's is int — align the schema
      .select(col("doc_id"), col("lang"), col("bin").cast("long").as("bin"))),

    /** Unigram-LM quality scoring (CCNet/KenLM-style filtering, reduced to
      * its Spark-native core): train token counts on the corpus itself,
      * score every document by average token log-probability. Cross-row
      * sums are integer micro-nats — see [[graft.operators.LanguageModel]]
      * for the determinism argument.
      */
    "q58_unigram_logprob" -> ((s, dir) =>
      LanguageModel.selfScore(docs(s, dir), "doc_id", "text")),

    /** Sliding-window chunking (LM pre-training sequence prep): 64-token
      * windows every 48 tokens (16-token overlap). Pure map — no shuffle.
      */
    "q59_doc_chunking" -> ((s, dir) =>
      Curation.chunkDocs(docs(s, dir), "doc_id", "text", size = 64, stride = 48)),

    /** Exact corpus top-k n-grams (boilerplate detection): global top-20
      * trigrams via partial-combined counts + TakeOrderedAndProject.
      */
    "q60_ngram_topk" -> ((s, dir) =>
      Curation.ngramTopK(docs(s, dir), "text", n = 3, k = 20)),

    /** Dataset-card statistics per source×lang stratum: docs, tokens,
      * chars, exact-dup rate — one partial-combined aggregate.
      */
    "q62_corpus_card" -> ((s, dir) =>
      Curation.corpusCard(docs(s, dir), "text", Seq("source", "lang"))),

    /** Per-source unigram drift vs the corpus distribution (extension):
      * avg per-token log-likelihood ratio in integer micro-nats
      * ([[graft.operators.LanguageModel.sourceDrift]]) — the
      * mixture-monitoring stat that flags a source whose content
      * distribution moved between snapshots.
      */
    "q67_source_drift" -> ((s, dir) =>
      LanguageModel.sourceDrift(docs(s, dir), "source", "text")),

    /** Temperature-flattened language mix (extension, α=0.5 — the
      * multilingual sampling-temperature trick): each language kept at rate
      * √(min/cnt) so kept size is the geometric mean of its natural size
      * and the smallest language's ([[graft.operators.Curation
      * .temperatureRebalance]]; α pinned where every float op is
      * correctly-rounded, so the row set is engine-exact).
      */
    "q68_temperature_mix" -> ((s, dir) =>
      Curation.temperatureRebalance(docs(s, dir), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))),

    /** End-to-end curation funnel census (extension;
      * [[graft.operators.Curation.curationFunnel]]): the C4-style pipeline —
      * length gate → quality gate → exact-fingerprint dedup — as one labeled
      * pass, reporting how many documents each stage drops and how many
      * survive. Quality threshold 0.513 sits ≥1.4e-4 from every attainable
      * score at all sf's (measured), so the census can't flip on last-bit
      * float divergence.
      */
    "q79_curation_funnel" -> ((s, dir) =>
      Curation.curationFunnel(docs(s, dir), "doc_id", "text",
        minTokens = 20, minQuality = 0.513)),

    /** Quality-weighted sampling (extension;
      * [[graft.operators.Curation.weightedSample]]): keep each document with
      * probability equal to its q23 quality score — the importance-weighted
      * mixing step of a pretraining recipe, as a narrow deterministic
      * filter. Engine-exact because q23 proves the quality doubles
      * bit-match the oracle's.
      */
    "q85_weighted_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.weightedSample(d, "doc_id",
        graft.functions.TextFunctions.qualityScore(col("text")))
        .select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
    }),

    /** Bigram LM fluency scoring (extension;
      * [[graft.operators.LanguageModel.bigramSelfScore]]): per-document
      * average add-one-smoothed bigram log-probability in integer
      * micro-nats — the word-ORDER complement to q58's unigram score
      * (shuffled text keeps its unigram score, craters here). Pair stream
      * is a narrow array transform; only bigram-vocabulary rows shuffle.
      */
    "q87_bigram_logprob" -> ((s, dir) =>
      LanguageModel.bigramSelfScore(docs(s, dir), "doc_id", "text")),

    /** Pareto frontier (extension;
      * [[graft.operators.Curation.paretoFrontier]] — the curation tradeoff
      * curve): the documents' non-dominated (length, lexical-diversity)
      * points. One map-side-combined aggregate does the corpus-sized work;
      * the sweep touches only distinct lengths.
      */
    "q105_pareto" -> ((s, dir) => {
      val d = docs(s, dir).select(col("n_chars"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("n_distinct_words"))
      Curation.paretoFrontier(d, "n_chars", "n_distinct_words")
    }),

    /** Tokenizer vocabulary build (extension;
      * [[graft.operators.Curation.buildVocab]]): corpus token census,
      * min-count floor, deterministic (count DESC, token ASC) id
      * assignment. The ranking window is vocab-sized, the census map-side
      * combined.
      */
    "q110_vocab" -> ((s, dir) =>
      Curation.buildVocab(docs(s, dir), "text", minCount = 2L)),

    /** Document encoding against the vocabulary (extension;
      * [[graft.operators.Curation.encodeDocs]]): position-ordered token-id
      * sequences, OOV → 0, vocab broadcast. The operator returns one id
      * ARRAY per document; the declared query re-explodes it to scalar
      * (doc_id, pos, token_id) rows because the oracle gate hashes sorted
      * atomic columns — array cells aren't sortable there.
      */
    "q111_vocab_encode" -> ((s, dir) => {
      val v = Curation.buildVocab(docs(s, dir), "text", minCount = 2L)
      Curation.encodeDocs(docs(s, dir), "doc_id", "text", v)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
    }),

    /** Weak-label naive-Bayes token classifier (extension;
      * [[graft.operators.LanguageModel.nbTokenClassifier]]): the
      * fastText-style corpus filter — `lang = 'en'` weak-labels the
      * corpus, NB log-odds weights train from one token census, every doc
      * scores linearly. All integer micro-nats; the oracle replays census,
      * weights, prior, and threshold exactly.
      */
    "q118_nb_classifier" -> ((s, dir) =>
      LanguageModel.nbTokenClassifier(docs(s, dir), "doc_id", "text",
        "lang = 'en'")),

    /** BPE tokenizer TRAINING (extension; [[graft.operators.Curation
      * .bpeTrain]] — completing the q110/q111 tokenizer family with the
      * merge learner itself): three merge rounds over the corpus's
      * word-frequency census, each round's most frequent adjacent symbol
      * pair merged greedily in every word. The oracle replays all three
      * rounds — pair census, argmax, and the left-to-right merge fold —
      * with DuckDB's own lambda fold.
      */
    "q129_bpe_train" -> ((s, dir) =>
      Curation.bpeTrain(docs(s, dir), "text", rounds = 3, topWords = 500)),

    /** Fixed-size weighted sample without replacement (extension;
      * [[graft.operators.Curation.weightedSampleK]]): Efraimidis–Spirakis
      * keys from the deterministic 28-bit hash variate, top-k as
      * TakeOrderedAndProject — shuffle volume O(k·tasks) at any corpus
      * size. Weight = document length.
      */
    "q136_weighted_sample_k" -> ((s, dir) =>
      Curation.weightedSampleK(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), 100)),

    /** Tokenizer decode roundtrip (extension; [[graft.operators.Curation
      * .decodeDocs]]): ids from q111's encoder decoded back to text — OOV
      * ids surface as `<unk>`, order pinned by position. Closes the
      * vocab → encode → decode tokenizer family (q110/q111/q129).
      */
    "q159_vocab_decode" -> ((s, dir) => {
      val v = Curation.buildVocab(docs(s, dir), "text", minCount = 2L)
      Curation.decodeDocs(
        Curation.encodeDocs(docs(s, dir), "doc_id", "text", v),
        "doc_id", "token_ids", v)
    }),

    /** Per-group weighted sampling (extension; [[graft.operators.Curation
      * .weightedSamplePerGroup]]): q136's Efraimidis–Spirakis keys with the
      * top-k per SOURCE — the stratified corpus sample; the rank filter
      * compiles to map-side WindowGroupLimit.
      */
    "q165_group_sample" -> ((s, dir) =>
      Curation.weightedSamplePerGroup(
        docs(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", col("n_chars"), k = 20)),

    /** Audio metadata decode (extension; [[graft.operators.Multimodal
      * .audioMeta]]): REAL RIFF/WAV bytes generated per doc on executors,
      * parsed back by the chunk-walking header reader — rate, channels,
      * bits, sample count, duration. The audio analogue of the PNG/BMP
      * dimension reads; the oracle replays the generation arithmetic, so a
      * parser bug (byte order, chunk walk, block align) breaks the hash.
      */
    "q171_audio_meta" -> ((s, dir) => {
      import s.implicits._
      val gen = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val rate = 8000 + (id % 4).toInt * 4000
          (id, Multimodal.wavBytes(rate, 1 + (id % 2).toInt, 16,
            100 + (id % 50).toInt))
        }).toDF("media_id", "content")
      Multimodal.audioMeta(gen).toDF()
    }),

    /** Per-domain quality cap (extension; [[graft.operators.Curation
      * .domainCap]] — the C4/RefinedWeb "no domain dominates" rule): at
      * most 50 documents per source, ranked by length then id —
      * deterministic merit ranking, and the `rank <= k` filter compiles to
      * a map-side WindowGroupLimit (plan-guarded) so each task ships only
      * its local 50 per domain at any corpus size.
      */
    "q180_domain_cap" -> ((s, dir) =>
      Curation.domainCap(
        docs(s, dir).select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars")),
        "source", "n_chars", "doc_id", 50)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("__rank").cast("long").as("rank"))),

    /** Leakage-safe out-of-fold target encoding (extension;
      * [[graft.operators.Curation.targetEncodeOof]]): order priority
      * encoded against the is-fulfilled target, 5 deterministic hash
      * folds — each row's feature is its category's target mean over the
      * OTHER folds, so no row sees its own label. One scan, zero fact
      * shuffle (category×fold stats broadcast back); one bigint/bigint
      * division per row keeps the doubles bit-stable across engines.
      */
    "q187_target_encode" -> ((s, dir) =>
      Curation.targetEncodeOof(
        orders(s, dir).select(col("o_orderkey"),
          col("o_orderpriority").as("cat"),
          col("o_orderstatus")),
        "o_orderkey", "cat",
        when(col("o_orderstatus") === "F", 1L).otherwise(0L), nFolds = 5)
        .select(col("o_orderkey"), col("cat"), col("fold"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("target"),
          col("oof_enc")))
  ,

    /** Declarative data-quality expectations (extension;
      * [[graft.operators.Expectations]] — the reference's dbt schema-test
      * surface, `dbt/models/staging/schema.yml` not_null/unique/
      * relationships, plus DLT-style predicate expectations): six rules
      * over orders become ONE scan (all row-local rules in a single
      * map-side aggregate) + one groupBy (unique) + one anti-join (FK into
      * a deliberately restricted parent set, so violations are non-zero).
      * Output is the dbt test report: (rule, n_violations).
      */
    "q188_expectations" -> ((s, dir) => {
      val o = orders(s, dir)
      val restrictedParents = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
      Expectations.report(o, Seq(
        Expectations.NotNull("o_orderkey"),
        Expectations.NotNull("o_orderpriority"),
        Expectations.Unique(Seq("o_orderkey")),
        Expectations.AcceptedValues("o_orderstatus", Seq("O", "F")),
        Expectations.Relationship("o_custkey", restrictedParents, "c_custkey"),
        Expectations.Expect("price_under_400k", col("o_totalprice") < 400000.0)))
    }),

    /** k-anonymity enforcement (extension; [[graft.operators.Curation
      * .kAnonymize]] — q47 PII redaction's governance sibling): customers
      * whose (nation, segment) quasi-identifier class has fewer than k=8
      * members get both attributes suppressed to '*'; everyone else passes
      * through. The risky-class list (class-count-sized) broadcasts back
      * onto the fact — the data never reshuffles. 11 of 125 classes are
      * under-k on this table, so the suppression path is exercised.
      */
    "q191_k_anonymity" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("string").as("nation"),
          col("c_mktsegment").as("segment"))
      Curation.kAnonymize(c, Seq("nation", "segment"), k = 8)
        .select(col("c_custkey"), col("nation"), col("segment"))
    }),

    /** Per-source quantile normalization of a quality score (extension;
      * [[graft.operators.Curation.quantileNormalize]] — score calibration
      * before a cross-domain mix): each document's length score becomes its
      * percent rank WITHIN its source, making "top 40% of every source" one
      * global predicate over heterogeneous scorers. Exactly one shuffle
      * (hash by source) + one in-partition sort; the kept set demonstrates
      * the calibrated global threshold.
      */
    "q211_quantile_normalize" -> ((s, dir) =>
      Curation.quantileNormalize(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", col("n_chars"), "doc_id")
        .filter(col("qscore") >= 0.6)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("qscore"), 9).as("qscore"))),

    /** Unicode text normalization (extension; [[graft.functions
      * .NormalizeText]] — the curation pipeline's first transform, before
      * fingerprints/lang-ID/tokenization): NFC + root-locale casefold +
      * diacritic strip as ONE codegen'd Catalyst expression (UAX #15 isn't
      * expressible with built-ins — the mark repertoire is ~2k codepoints).
      * The fixture prefixes every doc with composed, decomposed, and
      * non-decomposable Latin forms ("Café", "u"+U+0308, ß, Ø, Œ) so the
      * oracle (DuckDB's utf8proc `strip_accents` route) pins real
      * normalization, not an ASCII no-op; the ASCII body takes the
      * byte-scan fast path.
      */
    "q215_normalize_text" -> ((s, dir) => {
      val accented = concat(
        // composed \u00e9/\u00cf, DECOMPOSED u+\u0308 and e+\u0301 (NFC must
        // compose before the strip), non-decomposable \u00df/\u00d8/\u0152
        lit("Caf\u00e9 NA\u00cfVE u\u0308ber STRA\u00dfE \u00d8RE \u0152uf e\u0301tude "),
        col("text"))
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.normalizeText(accented).as("norm_text"),
        length(TextFunctions.normalizeText(accented)).cast("long").as("n_norm"))
    }),

    /** BPE encode with the trained merge list (extension; [[graft.operators
      * .Curation.bpeEncode]] — q129's apply side, closing the tokenizer
      * family train → vocab → encode → decode): the corpus re-tokenized
      * through 3 trained merges. The folds run over DISTINCT words only
      * (vocabulary-bounded at any corpus size); the corpus-sized side is a
      * broadcast dictionary join. Doc set capped at 200 ids to bound the
      * exploded output; training (the merge list) sees the full table, so
      * the oracle's merge replay is byte-identical to q129's.
      */
    "q216_bpe_encode" -> ((s, dir) => {
      val m = Curation.bpeTrain(docs(s, dir), "text", rounds = 3,
        topWords = 500)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Curation.bpeEncode(docs(s, dir).filter(col("doc_id") < 200),
        "doc_id", "text", m)
        .select(col("doc_id"), col("word_pos").cast("long").as("word_pos"),
          col("tok_pos").cast("long").as("tok_pos"), col("token"))
    }),

    /** l-diversity enforcement (extension; [[graft.operators.Curation
      * .lDiversify]] — k-anonymity's homogeneity-attack fix, q191's
      * stronger sibling): a (lang, source) class whose members' sensitive
      * length bucket takes < 3 distinct values gets its quasi-identifiers
      * suppressed even if the class is large. 58 of 97 classes are under-l
      * on this table, so both paths are exercised; the risky-class list
      * broadcasts back, the data never reshuffles.
      */
    "q217_l_diversity" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 100").as("bucket"))
      Curation.lDiversify(d, Seq("lang", "source"), col("bucket"), l = 3)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
    }),

    /** Hash-bucket negative sampling (extension; [[graft.operators.Curation
      * .negativeSample]] — the contrastive-training miner, "k random
      * non-matching docs per query" WITHOUT the cross join): corpus hashed
      * into 64 buckets, every 29th doc as a query probing 8 pseudo-random
      * buckets, known positives (the query's own source domain) anti-joined
      * out BEFORE ranking — a positive sampled as a negative silently
      * poisons the loss. Fan-in per query is nProbes/nBuckets of the
      * corpus; the rank filter compiles map-side to WindowGroupLimit. Zero
      * RNG — same negatives at any partitioning, oracle-replayed md5
      * arithmetic end to end.
      */
    "q222_negative_sampling" -> ((s, dir) => {
      val d = docs(s, dir)
      val qs = d.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("q_id"))
      val pos = d.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("q_id"), col("source"))
        .join(d.select(col("doc_id"), col("source")), "source")
        .select(col("q_id"), col("doc_id"))
      Curation.negativeSample(d.select(col("doc_id")), "doc_id", qs, "q_id",
        pos, nBuckets = 64, nProbes = 8, k = 5)
        .select(col("q_id"), col("doc_id"),
          col("rank").cast("long").as("rank"))
    }),

    /** Flesch Reading Ease scoring (extension; [[graft.functions
      * .TextFunctions.fleschReadingEase]] — the classic readability filter
      * beside q23's composite quality and q46's repetition stats): terminal
      * punctuation floored at 1 sentence, syllables as vowel groups (the
      * standard cheap estimator), the score one fixed-shape double
      * expression so both engines run the identical IEEE sequence. A
      * sentence-marker suffix is injected deterministically (the word-salad
      * corpus carries none) so the sentence-count path is exercised.
      */
    "q228_readability" -> ((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(". Done! Sure?")).otherwise(lit("")))
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(t).as("n_words"),
        TextFunctions.sentenceCount(t).as("n_sentences"),
        TextFunctions.syllableGroups(t).as("n_syllables"),
        round(TextFunctions.fleschReadingEase(t), 6).as("flesch"))
    }),

    /** Classifier calibration / reliability diagram (extension;
      * [[graft.operators.Evaluation.reliabilityTable]] over q118's NB
      * scorer vs the true language label): pmod-floored INTEGER score
      * binning (no float ever picks a bin), per-bin positive rate from
      * exact counts, model confidence as the sigmoid of the bin's mean
      * per-token nats (one transcendental per BIN), and the weighted gap
      * whose sum is the expected calibration error.
      */
    "q230_calibration" -> ((s, dir) => {
      val d = docs(s, dir)
      val scored = LanguageModel
        .nbTokenClassifier(d, "doc_id", "text", "lang = 'en'")
        .join(d.select(col("doc_id"), (col("lang") === "en").as("is_en")),
          "doc_id")
      Evaluation.reliabilityTable(scored, "is_en", "score_micro",
        "n_tokens", binMicro = 500000L)
    }),

    /** Inter-rater agreement (extension; [[graft.operators.Evaluation
      * .cohenKappa]] — the weak-supervision diagnostic: how much do two
      * labelers agree BEYOND chance): q118's NB classifier vs q24's
      * marker-word heuristic as English-detectors. Four exact confusion
      * counts, one fixed-shape double expression — a 1-row result at any
      * corpus size.
      */
    "q231_rater_agreement" -> ((s, dir) => {
      val d = docs(s, dir)
      val nb = LanguageModel
        .nbTokenClassifier(d, "doc_id", "text", "lang = 'en'")
        .select(col("doc_id"), col("predicted_pos"))
      val heur = d.select(col("doc_id"),
        (TextFunctions.predictLang(col("text")) === "en").as("heur_pos"))
      Evaluation.cohenKappa(nb.join(heur, "doc_id"), "predicted_pos",
        "heur_pos")
    }),

    /** DSIR data selection (extension; [[graft.operators.LanguageModel
      * .dsirSelect]] — Xie et al. 2023 "Data Selection for Language Models
      * via Importance Resampling"): every 13th doc plays the trusted
      * domain sample, the rest the web-scale pool; importance weights are
      * log-ratios of two add-one multinomials over HASHED bigram buckets
      * (fixed 1024-bucket feature space — both count tables broadcast at
      * any corpus size), selection is deterministic Gumbel-top-k (the
      * without-replacement ∝-weight sampler, zero RNG — the Gumbel variate
      * is a pure hash of the doc id). Integer micro-nat keys end to end.
      */
    "q243_dsir_select" -> ((s, dir) => {
      val d = docs(s, dir)
      LanguageModel.dsirSelect(
        d.filter(col("doc_id") % 13 =!= 0), d.filter(col("doc_id") % 13 === 0),
        "doc_id", "text", nBuckets = 1024, k = 100)
    }),

    /** DSIR from SQL (extension; [[graft.GraftExtensions]]
      * `graft_dsir_select` TVF — q243's engine as the dbt-shaped spelling;
      * the TVF splices [[graft.operators.LanguageModel.dsirSelect]]'s
      * analyzed plan over two catalog-resolved tables, one physical plan
      * both routes, shared oracle).
      */
    "q245_sql_dsir" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      val d = docs(s, dir)
      d.filter(col("doc_id") % 13 =!= 0)
        .createOrReplaceTempView("graft_dsir_raw")
      d.filter(col("doc_id") % 13 === 0)
        .createOrReplaceTempView("graft_dsir_target")
      s.sql("SELECT doc_id, n_bigrams, llr_micro, key_micro " +
        "FROM graft_dsir_select('graft_dsir_raw', 'graft_dsir_target', " +
        "'doc_id', 'text', 1024, 100)")
    }),

    /** Gopher quality-rule report (extension; [[graft.operators.Curation
      * .gopherQualityReport]] — Rae et al. 2021 §A.1.1, the rule filter
      * every post-Gopher pretraining pipeline re-implements): the five
      * document-level rules each as its own boolean beside its measured
      * statistic, plus the conjunction. One narrow scan — in-row folds and
      * replace-count arithmetic, no explode, no join; thresholds compared
      * in integers so no float ever decides a rule.
      */
    "q246_gopher_quality" -> ((s, dir) =>
      Curation.gopherQualityReport(docs(s, dir), "doc_id", "text",
        minWords = 20L)),

    /** Gopher LINE-level format rules beside the document rules (extension;
      * [[graft.operators.Curation.gopherQualityReport]] with
      * `lineRules = true` — Rae et al. 2021 §A.1.1 completed): the harness
      * corpus carries no newlines, so the query first restructures each
      * document into 6-word lines with DETERMINISTIC decorations — a
      * bullet prefix when the line's length ≡ 0 (mod 7), an ellipsis
      * suffix when ≡ 0 (mod 5) — replayed exactly by the oracle. The
      * bullet-start (≤90%), ellipsis-end (≤30%) and duplicate-line (≤30%)
      * fractions are emitted beside the five document rules; still one
      * narrow scan, all in-row folds, no shuffle.
      */
    "q248_gopher_line_rules" -> ((s, dir) => {
      val ws0 = split(col("text"), " ")
      val rawLines = transform(
        sequence(lit(0), floor((size(ws0) - 1) / 6).cast("int")),
        i => concat_ws(" ", slice(ws0, i * 6 + 1, lit(6))))
      val decorated = transform(rawLines, l => concat(
        when(length(l) % 7 === 0, lit("- ")).otherwise(lit("")),
        l,
        when(length(l) % 5 === 0, lit(" ...")).otherwise(lit(""))))
      val lined = docs(s, dir).select(col("doc_id"),
        array_join(decorated, "\n").as("text"))
      Curation.gopherQualityReport(lined, "doc_id", "text",
        minWords = 20L, lineRules = true)
    }),

    /** CCNet perplexity buckets (extension; [[graft.operators.LanguageModel
      * .ccnetBuckets]] — Wenzek et al. 2020 §4.3, the head/middle/tail
      * split): every document scored under the add-one bigram LM trained
      * on the CLEAN reference slice (doc_id % 13 = 0 — the q243 DSIR
      * target convention), then cut into exact nearest-rank terciles of
      * the perplexity proxy. Cross-corpus scoring: unseen bigrams/
      * histories hit the smoothed floor via LEFT joins; integer micro-nat
      * logs, so DuckDB replays the buckets bit-for-bit.
      */
    "q250_ccnet_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      LanguageModel.ccnetBuckets(
        d.filter(col("doc_id") % 13 === 0), d, "doc_id", "text")
    }),

    /** Gopher §A.1.2 n-gram REPETITION rules (extension; [[graft.operators
      * .Curation.gopherRepetitionReport]] — Rae et al. 2021, Table A1):
      * the top-2/3/4-gram character fraction (≤ 0.20/0.18/0.16) and the
      * duplicate-5..10-gram character fraction (≤ 0.15…0.10, overlapping
      * covered words counted once), completing the §A.1 rule set beside
      * q246 (document rules) and q248 (line rules). Catches the looped-
      * phrase document that per-token stats (q46) pass: every WORD can be
      * distinct-ish while one 4-gram claims half the characters. All
      * thresholds compare in integers; n-gram census and coverage are
      * doc-keyed equi-work, never all-pairs (spec: planted repeated-4-gram
      * doc passes q46's unigram gates, fails r_top_4gram).
      */
    "q254_gopher_repetition" -> ((s, dir) =>
      Curation.gopherRepetitionReport(docs(s, dir), "doc_id", "text")),

    /** CCNet STAGE 1 — language identification (extension; [[graft
      * .operators.LangId]] — Wenzek et al. 2020 §3; Cavnar & Trenkle 1994
      * n-gram profiles): hashed char-trigram frequency profiles trained on
      * the even-id half of the corpus (the fixture's own labels — no
      * external model files), every document scored by exact BIGINT dot
      * products against the ≤ langs×4096-row broadcast profile table,
      * argmax with lexical tie-break, `und` when a document has no
      * trigrams. Completes the in-engine CCNet chain: q255 langid →
      * q247 line dedup → q250 perplexity buckets (composed end-to-end in
      * CcnetChainSpec).
      */
    "q255_ccnet_langid" -> ((s, dir) => {
      val d = docs(s, dir)
      val profiles = LangId.trigramProfiles(
        d.filter(col("doc_id") % 2 === 0), "lang", "text")
      LangId.classify(d, "doc_id", "text", profiles)
        .join(d.select(col("doc_id"), col("lang").as("actual_lang")), "doc_id")
        .select(col("doc_id"), col("actual_lang"), col("predicted_lang"),
          col("score"),
          (col("predicted_lang") === col("actual_lang")).as("is_correct"))
    }),

    /** Language identification from SQL (extension; [[graft
      * .GraftExtensions]] `graft_langid` TVF — q255's engine as the
      * dbt-shaped spelling: trains the trigram profiles on a labeled
      * catalog table and splices [[graft.operators.LangId.classify]]'s
      * analyzed plan over the docs table — one physical plan both routes,
      * same trained-on-even-ids parameters as q255).
      */
    "q258_sql_langid" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      val d = docs(s, dir)
      d.filter(col("doc_id") % 2 === 0)
        .createOrReplaceTempView("graft_langid_labeled")
      d.createOrReplaceTempView("graft_langid_docs")
      s.sql("SELECT doc_id, predicted_lang, score FROM graft_langid(" +
        "'graft_langid_labeled', 'graft_langid_docs', " +
        "'lang', 'text', 'doc_id', 4096)")
    }),

    /** Krippendorff's alpha (extension; [[graft.operators.Evaluation
      * .krippendorffAlpha]] — the multi-rater, multi-category agreement
      * statistic Cohen's κ (q231) cannot express): THREE language raters
      * per document — the fixture's own label, the marker-word heuristic
      * (q24), and the trained trigram classifier (q255) — in long format,
      * nominal-distance alpha over the coincidence matrix, per-unit
      * disagreement kept as exact integer micro-counts so the sum is
      * order-independent on every engine.
      */
    "q259_krippendorff" -> ((s, dir) => {
      val d = docs(s, dir)
      val label = d.select(col("doc_id"), col("lang").as("rating"))
      val marker = d.select(col("doc_id"),
        TextFunctions.predictLang(col("text")).as("rating"))
      val profiles = LangId.trigramProfiles(
        d.filter(col("doc_id") % 2 === 0), "lang", "text")
      val trig = LangId.classify(d, "doc_id", "text", profiles)
        .select(col("doc_id"), col("predicted_lang").as("rating"))
      Evaluation.krippendorffAlpha(
        label.unionByName(marker).unionByName(trig), "doc_id", "rating")
    }),

    /** Per-class classifier evaluation (extension; [[graft.operators
      * .Evaluation.multiclassPrf]]): precision / recall / F1 per language
      * for the q255 trigram classifier against the fixture's own labels —
      * exact integer confusion counts, class-vocabulary-sized result,
      * NULL (never a divide-by-zero) for classes never predicted / never
      * occurring.
      */
    "q261_langid_prf" -> ((s, dir) => {
      val d = docs(s, dir)
      val profiles = LangId.trigramProfiles(
        d.filter(col("doc_id") % 2 === 0), "lang", "text")
      val pred = LangId.classify(d, "doc_id", "text", profiles)
        .select(col("doc_id"), col("predicted_lang"))
      Evaluation.multiclassPrf(
        d.select(col("doc_id"), col("lang")).join(pred, "doc_id"),
        "lang", "predicted_lang")
    }),

    /** Persisted language-ID profiles (extension; [[graft.sources
      * .LangIdStore]] — the train-once-classify-forever deployment CCNet
      * ships as a frozen fastText file, here as a versioned TxLog census):
      * the store is CREATED from the `doc_id % 4 = 0` labeled slice, a
      * newly labeled batch (`doc_id % 4 = 2`) lands via the exactly-once
      * fenced ingest, and the whole corpus classifies against the
      * accumulated profiles. Counts are the mergeable statistic, so the
      * store's derived profiles are BIT-IDENTICAL to retraining on the
      * even-id union — the oracle is the q258 replay (trained on even
      * ids) verbatim, and LangIdStoreSpec pins store ≡ in-memory route.
      */
    "q263_langid_store" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = fixture("langidstore", dir) { root =>
        graft.sources.LangIdStore.create(
          d.filter(col("doc_id") % 4 === 0), "lang", "text", root + "/store")
        graft.sources.LangIdStore.ingestBatch(s,
          d.filter(col("doc_id") % 4 === 2), "lang", "text",
          root + "/store", "q263-ingest", 1L)
      } + "/store"
      graft.sources.LangIdStore.classify(s, path, d, "doc_id", "text")
    }),

    /** Per-source ROC-AUC (extension; [[graft.operators.Evaluation
      * .rocAuc]]): does document length rank English docs above the rest,
      * per source? Mann–Whitney form over the distinct-score census,
      * exact half-unit integer average ranks (ties correct by
      * construction), the one float operation last; NULL for a group
      * missing a class, never a divide-by-zero.
      */
    "q266_roc_auc" -> ((s, dir) =>
      Evaluation.rocAuc(docs(s, dir).select(col("source"),
          (col("lang") === "en").as("is_en"), col("n_chars")),
        "source", "is_en", "n_chars")),

    /** Per-source Spearman ρ (extension; [[graft.operators.Evaluation
      * .spearmanRho]]): monotone association between document length and
      * vocabulary size — fractional ranks as exact half-unit integers
      * (the q266 device), Pearson over ranks with BIGINT sums, NULL under
      * zero rank variance.
      */
    "q267_spearman" -> ((s, dir) =>
      Evaluation.spearmanRho(docs(s, dir).select(col("source"),
          col("n_chars"),
          TextFunctions.distinctTokenCount(col("text")).as("n_distinct")),
        "source", "n_chars", "n_distinct")),

    /** Bradley–Terry preference aggregation (extension; [[graft.operators
      * .Preference.bradleyTerry]] — the RLHF / LLM-arena leaderboard
      * statistic): adjacent-document "annotator sessions" where the longer
      * document's SOURCE wins, folded into the sources² census, 10
      * Hunter-MM iterations over integer-millionth ratings (every
      * denominator an exact BIGINT sum, the iteration rescale by MAX not
      * by a float sum), replayed term-for-term by the unrolled oracle.
      */
    "q268_bradley_terry" -> ((s, dir) =>
      Preference.bradleyTerry(btComparisons(s, dir), "winner", "loser",
        iters = 10)),

    /** DISTRIBUTED Bradley–Terry (extension; [[graft.operators.Preference
      * .bradleyTerryDistributed]] — round-12 verdict item 2): a 1,500-item
      * preference graph over lineitem (part-side vs order-side items,
      * quantity decides) — PAST the driver fit's 1000-item guard, so only
      * the census-join MM can rate it. Every iteration is a pair-census
      * equi-join + keyed BIGINT sum on the cluster (localCheckpoint
      * truncating the doubling lineage); bit-identity with the driver loop
      * is spec'd, and the oracle replays the same unrolled iterations over
      * this fixture's census.
      */
    "q278_bt_distributed" -> ((s, dir) => {
      val liT = li(s, dir)
      val aWins = col("l_quantity") > 25
      val pItem = concat(lit("p"), (col("l_partkey") % 800).cast("string"))
      val oItem = concat(lit("o"), (col("l_orderkey") % 700).cast("string"))
      Preference.bradleyTerryDistributed(
        liT.select(when(aWins, pItem).otherwise(oItem).as("winner"),
          when(aWins, oItem).otherwise(pItem).as("loser")),
        "winner", "loser", iters = 10)
    }),

    /** Persisted preference census (extension; [[graft.sources
      * .PreferenceStore]] — the store-family member for q268's
      * Bradley–Terry leaderboard): the comparison log lands as the
      * mergeable (winner, loser, n) census under exactly-once fenced
      * ingest (create from the `doc_id % 3 ≠ 0` sessions, one ingested
      * batch for the rest), and the ratings probe is BIT-IDENTICAL to
      * re-fitting on the raw union — so q268's oracle gates the store
      * route verbatim, the q263 pattern at leaderboard granularity.
      */
    "q276_preference_store" -> ((s, dir) => {
      val comp = btComparisons(s, dir)
      val path = fixture("prefstore", dir) { root =>
        graft.sources.PreferenceStore.create(
          comp.filter(col("__aid") % 3 =!= 0), "winner", "loser",
          root + "/store")
        graft.sources.PreferenceStore.ingestBatch(s,
          comp.filter(col("__aid") % 3 === 0), "winner", "loser",
          root + "/store", "q276-ingest", 1L)
      } + "/store"
      graft.sources.PreferenceStore.ratings(s, path, iters = 10)
    }),

    /** Corpus BLEU (extension; [[graft.operators.Evaluation.corpusBleu]]
      * — Papineni et al. 2002): every document scored as a candidate
      * against its own full text after dropping every 7th token (the
      * lossy-summarizer stand-in), clipped p₁..p₄ from exact BIGINT
      * counts, brevity penalty exercised (the candidate corpus is the
      * SHORT side by construction), every pair clipped inside its row by
      * one kernel pass (one row per document).
      */
    "q270_corpus_bleu" -> ((s, dir) => {
      val pairs = docs(s, dir)
        .select(col("text"), split(col("text"), " ").as("__t"))
        .select(
          expr("array_join(transform(filter(sequence(0, size(__t) - 1), " +
            "i -> (i + 1) % 7 != 0), i -> element_at(__t, i + 1)), ' ')")
            .as("cand"),
          col("text").as("ref"))
      Evaluation.corpusBleu(pairs, "cand", "ref")
    }),

    /** UniMax sampling allocation (extension; [[graft.operators.Curation
      * .uniMaxAllocation]] — Chung et al. 2023): a 2×-corpus token budget
      * split across the five languages under a 2.5-epoch repetition cap —
      * the skewed fixture pins both branches (tail languages cap at 2.5
      * epochs, the English head absorbs the leftover equal share).
      * Closed-form water-filling with exact micro-integer cap decisions;
      * windows run over the language census, never the corpus.
      */
    "q271_unimax" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.uniMaxAllocation(d, "lang", budget = 2L * d.count(),
        epochCap = 2.5)
    }),

    /** Vocabulary-coverage corpus card (extension; [[graft.operators
      * .Curation.vocabularyCoverage]] — Good 1953 / Chao 1984): per-source
      * Good–Turing unseen-token mass and the Chao1 richness floor from the
      * token census' count-of-counts — the "is this slice exhausted?"
      * statistic a corpus card reports next to q51's KMV distinct count.
      */
    "q273_vocab_coverage" -> ((s, dir) =>
      Curation.vocabularyCoverage(docs(s, dir), "source", "text")),

    /** Split-conformal calibration threshold (extension; [[graft.operators
      * .Evaluation.conformalThreshold]] — Vovk et al. 2005): per-source
      * rank-⌈(n+1)(1−α)⌉ document length at α = 0.1, the distribution-free
      * "accept iff ≤ q̂" cutoff with guaranteed coverage; the rank is
      * exact integer arithmetic from a micro-integer α (the float form is
      * off by one on exact multiples).
      */
    "q274_conformal" -> ((s, dir) =>
      Evaluation.conformalThreshold(
        docs(s, dir).select(col("source"), col("n_chars")),
        "source", "n_chars", alphaMicro = 100000L)),

    /** Persisted conformal-score census (extension; [[graft.sources
      * .ConformalStore]] + [[graft.streaming.ConformalIngest]] — round-12
      * verdict item 4, the store-family member for q274's threshold): the
      * calibration log lands as the mergeable per-(source, score) count
      * census under exactly-once fenced ingest (create from the
      * `doc_id % 3 ≠ 0` scores, one ingested batch for the rest), and the
      * threshold probe is BIT-IDENTICAL to recalibrating on the raw union
      * — so q274's oracle gates the store route verbatim, the q276
      * pattern at calibration granularity.
      */
    "q280_conformal_store" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"))
      val path = fixture("confstore", dir) { root =>
        graft.sources.ConformalStore.create(
          d.filter(col("doc_id") % 3 =!= 0), "source", "n_chars",
          root + "/store")
        graft.sources.ConformalStore.ingestBatch(s,
          d.filter(col("doc_id") % 3 === 0), "source", "n_chars",
          root + "/store", "q280-ingest", 1L)
      } + "/store"
      graft.sources.ConformalStore.threshold(s, path,
        alphaMicro = 100000L).withColumnRenamed("grp", "source")
    }),

    /** Blocklist filtering (extension; [[graft.operators.Curation
      * .blocklistFilter]] — the RefinedWeb / C4 "bad words" stage): per-doc
      * case-insensitive blocklist hits, distinct entries present, and an
      * integer-threshold keep decision; the bounded blocklist is an array
      * literal, so the filter is a narrow codegen'd map — no join, no
      * shuffle at any corpus size.
      */
    "q275_blocklist" -> ((s, dir) =>
      Curation.blocklistFilter(docs(s, dir), "doc_id", "text",
        words = Seq("the", "la", "der", "el", "data"), maxPct = 8)),

    /** SQL TVF route for q266 (extension; `graft_roc_auc` via
      * [[graft.GraftExtensions]] — splices [[Evaluation.rocAuc]]'s
      * analyzed plan over a catalog-resolved table, one physical plan both
      * routes, the q237/q258 pattern for the eval family).
      */
    "q277_sql_auc" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      docs(s, dir).select(col("source"),
          (col("lang") === "en").as("is_en"), col("n_chars"))
        .createOrReplaceTempView("graft_auc_docs")
      s.sql("SELECT source, n_pos, n_neg, n_scores, auc FROM " +
        "graft_roc_auc('graft_auc_docs', 'source', 'is_en', 'n_chars')")
    })
  )

  /** q118's NB-scoring replay, shared with q230 (calibration) and q231
    * (rater agreement): ends in `sc(doc_id, n_tokens, llr_micro)`, `pri`
    * (the 1-row prior) and `d` (docs with the true label).
    */
  /** The q255 trigram-classifier scoring replay, shared with q258 (TVF
    * route) and q259 (Krippendorff rater): ends in `t(doc_id, lang, lt)`
    * and `best(doc_id, pl, s)` — the per-document argmax language.
    */
  /** q268/q276's shared comparison fixture: adjacent-document "annotator
    * sessions" — doc i vs doc i+1 across different sources, the longer
    * document's source wins (even-id tiebreak). `__aid` (the left doc id)
    * rides along so q276 can split create/ingest batches.
    */
  private def btComparisons(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      col("n_chars"))
    val b = d.select((col("doc_id") - 1).as("doc_id"),
      col("source").as("source_b"), col("n_chars").as("n_chars_b"))
    val aWins = col("n_chars") > col("n_chars_b") ||
      (col("n_chars") === col("n_chars_b") && col("doc_id") % 2 === 0)
    d.join(b, "doc_id")
      .filter(col("source") =!= col("source_b"))
      .select(col("doc_id").as("__aid"),
        when(aWins, col("source")).otherwise(col("source_b")).as("winner"),
        when(aWins, col("source_b")).otherwise(col("source")).as("loser"))
  }

  /** q266/q277's shared Mann–Whitney AUC replay (the TVF splices the
    * same analyzed plan, so one SQL gates both routes).
    */
  private val rocAucOracleSql: String =
      """WITH pts AS (SELECT source, CAST(n_chars AS BIGINT) AS s,
        |               (lang = 'en') AS y
        |             FROM documents
        |             WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |census AS (SELECT source, s,
        |             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |             CAST(count(*) AS BIGINT) AS tot
        |           FROM pts GROUP BY 1, 2),
        |rk AS (SELECT source, pos, tot,
        |         CAST(coalesce(sum(tot) OVER (PARTITION BY source ORDER BY s
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS bef
        |       FROM census),
        |agg AS (SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
        |          CAST(sum(tot) - sum(pos) AS BIGINT) AS n_neg,
        |          CAST(count(*) AS BIGINT) AS n_scores,
        |          CAST(sum(pos * (2 * bef + tot + 1)) AS BIGINT) AS r2
        |        FROM rk GROUP BY 1)
        |SELECT source, n_pos, n_neg, n_scores,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
        |  END AS auc
        |FROM agg""".stripMargin

  /** The unrolled Hunter-MM replay (10 iterations over the pair census)
    * parameterized by the comparisons CTE — q268/q276 instantiate it over
    * the adjacent-document sessions, q278 over the lineitem item graph;
    * the iteration arithmetic replays [[graft.operators.Preference]]'s
    * integer-millionth state term for term, so ONE template gates the
    * driver fit, the store route, and the distributed fit.
    */
  private def btOracleSqlOver(cmpBody: String): String = {
      def iter(k: Int): String = {
        val prev = s"r${k - 1}"
        // MATERIALIZED: each iteration references its predecessor twice;
        // without it DuckDB inlines the whole chain 2^k times
        s"""t$k AS MATERIALIZED (SELECT pc.a, pc.b,
           |    CASE WHEN ra.r + rb.r > 0
           |         THEN CAST(floor(CAST(pc.n AS DOUBLE) * 1e12
           |                / CAST(ra.r + rb.r AS DOUBLE) + 0.5) AS BIGINT)
           |         ELSE 0 END AS t
           |  FROM pc JOIN $prev ra ON ra.item = pc.a
           |          JOIN $prev rb ON rb.item = pc.b),
           |d$k AS MATERIALIZED (SELECT item, CAST(sum(t) AS BIGINT) AS d
           |  FROM (SELECT a AS item, t FROM t$k
           |        UNION ALL SELECT b, t FROM t$k) u GROUP BY 1),
           |raw$k AS MATERIALIZED (SELECT w.item,
           |    CASE WHEN coalesce(d.d, 0) > 0
           |         THEN CAST(w.w AS DOUBLE) / CAST(d.d AS DOUBLE)
           |         ELSE 0.0 END AS raw
           |  FROM wins w LEFT JOIN d$k d ON d.item = w.item),
           |r$k AS MATERIALIZED (SELECT item,
           |    CASE WHEN m.mx > 0
           |         THEN CAST(floor(raw / m.mx * 1e6 + 0.5) AS BIGINT)
           |         ELSE 1000000 END AS r
           |  FROM raw$k, (SELECT max(raw) AS mx FROM raw$k) m)"""
          .stripMargin
      }
      s"""WITH cmp AS MATERIALIZED (
        |  $cmpBody),
        |wl AS MATERIALIZED (SELECT winner, loser,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM cmp GROUP BY 1, 2),
        |wins AS MATERIALIZED (SELECT item, CAST(sum(w) AS BIGINT) AS w,
        |           CAST(sum(l) AS BIGINT) AS l
        |         FROM (SELECT winner AS item, n AS w, 0 AS l FROM wl
        |               UNION ALL SELECT loser, 0, n FROM wl) u
        |         GROUP BY 1),
        |pc AS MATERIALIZED (SELECT
        |         CASE WHEN winner < loser THEN winner ELSE loser END AS a,
        |         CASE WHEN winner < loser THEN loser ELSE winner END AS b,
        |         CAST(sum(n) AS BIGINT) AS n
        |       FROM wl GROUP BY 1, 2),
        |r0 AS MATERIALIZED (SELECT item, CAST(1000000 AS BIGINT) AS r
        |       FROM wins),
        |${(1 to 10).map(iter).mkString(",\n")},
        |fin AS (SELECT w.item, w.w AS wins, w.l AS losses,
        |          w.w + w.l AS n_comparisons, r10.r AS r
        |        FROM wins w JOIN r10 ON r10.item = w.item),
        |s AS (SELECT CAST(sum(r) AS BIGINT) AS s FROM fin)
        |SELECT item, wins, losses, n_comparisons,
        |  round(CAST(r AS DOUBLE) / CAST(s.s AS DOUBLE), 6) AS rating,
        |  CAST(row_number() OVER (ORDER BY r DESC, item) AS INTEGER)
        |    AS rank
        |FROM fin, s""".stripMargin
  }

  /** q274/q280's shared rank-⌈(n+1)(1−α)⌉ replay — the store route is
    * bit-identical to the batch operator by the mergeable-census contract.
    */
  private val conformalOracleSql: String =
    """WITH pts AS (SELECT source, n_chars AS s FROM documents
      |             WHERE n_chars IS NOT NULL),
      |rk AS (SELECT source, s,
      |         row_number() OVER (PARTITION BY source ORDER BY s) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |       FROM pts),
      |hit AS (SELECT source, s AS qhat FROM rk
      |        WHERE rn = ((n + 1) * 900000 + 999999) // 1000000),
      |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |           CAST(((count(*) + 1) * 900000 + 999999) // 1000000
      |             AS BIGINT) AS k
      |         FROM pts GROUP BY 1)
      |SELECT base.source, base.n, base.k, hit.qhat
      |FROM base LEFT JOIN hit ON hit.source = base.source""".stripMargin

  /** q268/q276's shared instantiation: adjacent-document sessions. */
  private lazy val btOracleSql: String = btOracleSqlOver(
    """SELECT CASE WHEN a.n_chars > b.n_chars
      |               OR (a.n_chars = b.n_chars AND a.doc_id % 2 = 0)
      |            THEN a.source ELSE b.source END AS winner,
      |       CASE WHEN a.n_chars > b.n_chars
      |               OR (a.n_chars = b.n_chars AND a.doc_id % 2 = 0)
      |            THEN b.source ELSE a.source END AS loser
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.source <> b.source""".stripMargin)

  /** q278's instantiation: the 1,500-item lineitem preference graph —
    * part-side vs order-side items in disjoint namespaces, the quantity
    * deciding the winner. The item count is chosen to sit PAST the driver
    * fit's 1000-item bounded-vocabulary guard: only the distributed
    * census-join MM can produce this leaderboard.
    */
  private lazy val btDistOracleSql: String = btOracleSqlOver(
    """SELECT CASE WHEN l_quantity > 25
      |            THEN 'p' || (l_partkey % 800)
      |            ELSE 'o' || (l_orderkey % 700) END AS winner,
      |       CASE WHEN l_quantity > 25
      |            THEN 'o' || (l_orderkey % 700)
      |            ELSE 'p' || (l_partkey % 800) END AS loser
      |FROM lineitem""".stripMargin)

  private val langIdScoreCtes: String =
    """t AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
      |tri AS (SELECT doc_id, lang,
      |          unnest(list_transform(generate_series(1, length(lt) - 2),
      |                 i -> substr(lt, i, 3))) AS g
      |        FROM t WHERE length(lt) >= 3),
      |b AS (SELECT doc_id, lang,
      |        ('0x' || substr(md5(g), 1, 7))::BIGINT % 4096 AS bk
      |      FROM tri),
      |d AS (SELECT doc_id, bk, CAST(count(*) AS BIGINT) AS dc
      |      FROM b GROUP BY 1, 2),
      |prof AS (SELECT lang, bk, CAST(count(*) AS BIGINT) AS pc
      |         FROM b WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(pc) AS BIGINT) AS tc FROM prof GROUP BY 1),
      |freq AS (SELECT p.lang, p.bk, (p.pc * 1000000) // t.tc AS f
      |         FROM prof p JOIN tot t USING (lang)),
      |score AS (SELECT d.doc_id, f.lang, CAST(sum(d.dc * f.f) AS BIGINT) AS s
      |          FROM d JOIN freq f ON f.bk = d.bk GROUP BY 1, 2),
      |best AS (SELECT doc_id, lang AS pl, s FROM (
      |           SELECT *, row_number() OVER (PARTITION BY doc_id
      |                   ORDER BY s DESC, lang ASC) AS rn FROM score)
      |         WHERE rn = 1)""".stripMargin

  private val nbScoreCtes: String =
    """d AS (SELECT doc_id, text, (lang = 'en') AS pos FROM documents),
      |toks AS (SELECT doc_id, pos, unnest(string_split(text, ' ')) AS token FROM d),
      |cc AS (SELECT token,
      |         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cg,
      |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |       FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(cg) AS BIGINT) AS ng, CAST(sum(cb) AS BIGINT) AS nb,
      |               CAST(count(*) AS BIGINT) AS vs FROM cc),
      |pri AS (SELECT CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
      |             - CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
      |             AS prior_micro
      |        FROM d),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |w AS (SELECT t.doc_id, t.tf,
      |        CAST(floor(ln(CAST(cc.cg + 1 AS DOUBLE) / CAST(tot.ng + tot.vs AS DOUBLE)) * 1e6) AS BIGINT) AS wg,
      |        CAST(floor(ln(CAST(cc.cb + 1 AS DOUBLE) / CAST(tot.nb + tot.vs AS DOUBLE)) * 1e6) AS BIGINT) AS wb
      |      FROM tf t JOIN cc ON cc.token = t.token, tot),
      |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |         CAST(sum(tf * (wg - wb)) AS BIGINT) AS llr_micro
      |       FROM w GROUP BY 1)""".stripMargin

  // shared by q243 (DataFrame) and q245 (SQL TVF)
  private val dsirSelectSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(p), 1, 7))::BIGINT % 1024 AS bucket
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, len(ws) - 1),
        |                                i -> ws[i] || '_' || ws[i + 1])) AS p
        |        FROM w WHERE len(ws) >= 2)),
        |cr AS (SELECT bucket, count(*) AS cr FROM pairs
        |       WHERE doc_id % 13 <> 0 GROUP BY 1),
        |ct AS (SELECT bucket, count(*) AS ct FROM pairs
        |       WHERE doc_id % 13 = 0 GROUP BY 1),
        |tot AS (SELECT (SELECT coalesce(sum(cr), 0) FROM cr) AS nr,
        |               (SELECT coalesce(sum(ct), 0) FROM ct) AS nt),
        |tf AS (SELECT doc_id, bucket, count(*) AS tf FROM pairs
        |       WHERE doc_id % 13 <> 0 GROUP BY 1, 2),
        |sc AS (
        |  SELECT tf.doc_id,
        |         CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |         CAST(sum(tf.tf * (
        |           CAST(floor(ln((coalesce(ct.ct, 0) + 1)::DOUBLE
        |                         / (tot.nt + 1024)::DOUBLE) * 1e6) AS BIGINT)
        |           - CAST(floor(ln((coalesce(cr.cr, 0) + 1)::DOUBLE
        |                           / (tot.nr + 1024)::DOUBLE) * 1e6) AS BIGINT)
        |         )) AS BIGINT) AS llr_micro
        |  FROM tf
        |  LEFT JOIN cr ON cr.bucket = tf.bucket
        |  LEFT JOIN ct ON ct.bucket = tf.bucket
        |  CROSS JOIN tot
        |  GROUP BY 1),
        |base AS (
        |  SELECT d.doc_id,
        |         coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |         coalesce(sc.llr_micro, 0) AS llr_micro
        |  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 13 <> 0) d
        |  LEFT JOIN sc ON sc.doc_id = d.doc_id),
        |keyed AS (
        |  SELECT doc_id, n_bigrams, llr_micro,
        |         llr_micro + CAST(floor(-ln(-ln(
        |           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT::DOUBLE
        |             + 0.5) / 268435456.0)) * 1e6) AS BIGINT) AS key_micro
        |  FROM base)
        |SELECT doc_id, n_bigrams, llr_micro, key_micro
        |FROM keyed
        |ORDER BY key_micro DESC, doc_id ASC
        |LIMIT 100""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // the five Gopher rules replayed over the same tokenization: in-row
    // list folds, replace-count arithmetic, integer threshold compares
    "q246_gopher_quality" -> {
      val stopSum = graft.operators.Curation.GopherStopwords.map(s =>
        s"(CASE WHEN list_contains(nws, '$s') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws
         |           FROM documents),
         |t2 AS (SELECT doc_id, text, ws,
         |         list_transform(ws, w -> lower(regexp_replace(w,
         |           '^[^a-zA-Z]+|[^a-zA-Z]+${"$"}', '', 'g'))) AS nws
         |       FROM t),
         |m AS (SELECT doc_id,
         |        CAST(len(ws) AS BIGINT) AS n,
         |        CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
         |             AS BIGINT) AS sl,
         |        CAST(length(text) - length(replace(text, '#', ''))
         |             AS BIGINT) AS hc,
         |        CAST((length(text) - length(replace(text, '...', ''))) // 3
         |             AS BIGINT) AS ec,
         |        CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
         |             AS BIGINT) AS ac,
         |        CAST($stopSum AS BIGINT) AS sc
         |      FROM t2)
         |SELECT doc_id, n AS n_words,
         |  round(sl::DOUBLE / n::DOUBLE, 6) AS mean_word_len,
         |  round((hc + ec)::DOUBLE / n::DOUBLE, 6) AS symbol_ratio,
         |  round(ac::DOUBLE / n::DOUBLE, 6) AS alpha_frac,
         |  sc AS n_stopwords,
         |  (n >= 20 AND n <= 100000) AS r_word_count,
         |  (sl >= n * 3 AND sl <= n * 10) AS r_word_len,
         |  ((hc + ec) * 10 <= n) AS r_symbol,
         |  (ac * 10 >= n * 8) AS r_alpha,
         |  (sc >= 2) AS r_stopwords,
         |  ((n >= 20 AND n <= 100000) AND (sl >= n * 3 AND sl <= n * 10)
         |   AND ((hc + ec) * 10 <= n) AND (ac * 10 >= n * 8) AND (sc >= 2))
         |    AS keep
         |FROM m""".stripMargin
    },

    // the SAME deterministic line restructuring (6-word lines, bullet at
    // len%7=0, ellipsis at len%5=0), tokens re-split across line breaks,
    // then the 5 document rules + 3 line rules in in-row list folds
    "q248_gopher_line_rules" -> {
      val stopSum = graft.operators.Curation.GopherStopwords.map(s =>
        s"(CASE WHEN list_contains(nws, '$s') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws0
         |           FROM documents),
         |lined AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(
         |      list_transform(range((len(ws0) - 1) // 6 + 1),
         |        i -> array_to_string(ws0[(i*6+1):(i*6+6)], ' ')),
         |      l -> (CASE WHEN length(l) % 7 = 0 THEN '- ' ELSE '' END)
         |           || l ||
         |           (CASE WHEN length(l) % 5 = 0 THEN ' ...' ELSE '' END)),
         |      chr(10)) AS text
         |  FROM w),
         |t AS (SELECT doc_id, text,
         |        regexp_split_to_array(text, '[ \\n]+') AS ws,
         |        string_split(text, chr(10)) AS lns
         |      FROM lined),
         |t2 AS (SELECT doc_id, text, ws, lns,
         |         list_transform(ws, w -> lower(regexp_replace(w,
         |           '^[^a-zA-Z]+|[^a-zA-Z]+${"$"}', '', 'g'))) AS nws
         |       FROM t),
         |m AS (SELECT doc_id,
         |        CAST(len(ws) AS BIGINT) AS n,
         |        CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
         |             AS BIGINT) AS sl,
         |        CAST(length(text) - length(replace(text, '#', ''))
         |             AS BIGINT) AS hc,
         |        CAST((length(text) - length(replace(text, '...', ''))) // 3
         |             AS BIGINT) AS ec,
         |        CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
         |             AS BIGINT) AS ac,
         |        CAST($stopSum AS BIGINT) AS sc,
         |        CAST(len(lns) AS BIGINT) AS nl,
         |        CAST(len(list_filter(lns, l ->
         |               regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS bc,
         |        CAST(len(list_filter(lns, l ->
         |               regexp_matches(trim(l), '(\\.\\.\\.|…)${"$"}')))
         |             AS BIGINT) AS elc,
         |        CAST(len(lns) - len(list_distinct(list_transform(lns,
         |               l -> lower(trim(l))))) AS BIGINT) AS dlc
         |      FROM t2)
         |SELECT doc_id, n AS n_words,
         |  round(sl::DOUBLE / n::DOUBLE, 6) AS mean_word_len,
         |  round((hc + ec)::DOUBLE / n::DOUBLE, 6) AS symbol_ratio,
         |  round(ac::DOUBLE / n::DOUBLE, 6) AS alpha_frac,
         |  sc AS n_stopwords,
         |  (n >= 20 AND n <= 100000) AS r_word_count,
         |  (sl >= n * 3 AND sl <= n * 10) AS r_word_len,
         |  ((hc + ec) * 10 <= n) AS r_symbol,
         |  (ac * 10 >= n * 8) AS r_alpha,
         |  (sc >= 2) AS r_stopwords,
         |  nl AS n_lines,
         |  round(bc::DOUBLE / nl::DOUBLE, 6) AS bullet_frac,
         |  round(elc::DOUBLE / nl::DOUBLE, 6) AS ellipsis_frac,
         |  round(dlc::DOUBLE / nl::DOUBLE, 6) AS dup_line_frac,
         |  (bc * 10 <= nl * 9) AS r_bullet_lines,
         |  (elc * 10 <= nl * 3) AS r_ellipsis_lines,
         |  (dlc * 10 <= nl * 3) AS r_dup_lines,
         |  ((n >= 20 AND n <= 100000) AND (sl >= n * 3 AND sl <= n * 10)
         |   AND ((hc + ec) * 10 <= n) AND (ac * 10 >= n * 8) AND (sc >= 2)
         |   AND (bc * 10 <= nl * 9) AND (elc * 10 <= nl * 3)
         |   AND (dlc * 10 <= nl * 3)) AS keep
         |FROM m""".stripMargin
    },

    // the CCNet replay: bigram LM trained on the clean slice, LEFT-join
    // smoothed floors for unseen bigrams/histories, integer micro-nat
    // logs, nearest-rank tercile cuts (value at rank ceil(n/3)/ceil(2n/3))
    "q250_ccnet_buckets" ->
      """WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
        |rt AS (SELECT generate_subscripts(string_split(text, ' '), 1) AS i,
        |              unnest(string_split(text, ' ')) AS w, doc_id
        |       FROM ref),
        |c1 AS (SELECT w, count(*) AS c1 FROM rt GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS vs FROM c1),
        |rp AS (SELECT w1, w2 FROM (
        |         SELECT lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
        |                w AS w2
        |         FROM rt) WHERE w1 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM rp GROUP BY 1, 2),
        |dt AS (SELECT doc_id,
        |              generate_subscripts(string_split(text, ' '), 1) AS i,
        |              unnest(string_split(text, ' ')) AS w
        |       FROM documents),
        |dp AS (SELECT doc_id, w1, w2 FROM (
        |         SELECT doc_id,
        |                lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
        |                w AS w2
        |         FROM dt) WHERE w1 IS NOT NULL),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM dp GROUP BY 1, 2, 3),
        |lp AS (SELECT tf.doc_id, tf.tf,
        |         CAST(floor(ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
        |           / CAST(coalesce(c1.c1, 0) + v.vs AS DOUBLE)) * 1e6) AS BIGINT)
        |           AS lpm
        |       FROM tf
        |       LEFT JOIN c2 ON c2.w1 = tf.w1 AND c2.w2 = tf.w2
        |       LEFT JOIN c1 ON c1.w = tf.w1
        |       CROSS JOIN v),
        |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |              CAST(sum(tf * lpm) AS BIGINT) AS logprob_micro
        |       FROM lp GROUP BY 1),
        |pp AS (SELECT doc_id, n_bigrams, logprob_micro,
        |              -CAST(logprob_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |                AS ppl_micro
        |       FROM sc),
        |rk AS (SELECT *, row_number() OVER (ORDER BY ppl_micro, doc_id) AS rn,
        |              count(*) OVER () AS n
        |       FROM pp),
        |cuts AS (SELECT max(CASE WHEN rn = (n + 2) // 3 THEN ppl_micro END) AS cut1,
        |                max(CASE WHEN rn = (2 * n + 2) // 3 THEN ppl_micro END) AS cut2
        |         FROM rk)
        |SELECT doc_id, n_bigrams, logprob_micro, ppl_micro,
        |       CASE WHEN ppl_micro <= cut1 THEN 'head'
        |            WHEN ppl_micro <= cut2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM pp, cuts""".stripMargin,

    // DSIR replay: hashed-bigram buckets, two smoothed multinomials over
    // the FIXED 1024-bucket space (each log floored to BIGINT separately),
    // per-doc llr, hash-derived Gumbel key, global top-k
    "q243_dsir_select" -> dsirSelectSql,

    // the TVF splices the SAME plan — one oracle proves both routes
    "q245_sql_dsir" -> dsirSelectSql,

    // DuckDB's strip_accents is utf8proc's mark strip — semantics verified
    // equal to the engine's NFD+drop-Mn over the full injected repertoire
    // (composed, decomposed, and non-decomposable forms)
    "q215_normalize_text" ->
      ("""WITH n AS (
        |  SELECT doc_id,
        |    lower(strip_accents(nfc_normalize(
        |      'Caf' || chr(233) || ' NA' || chr(207) || 'VE u' || chr(776) ||
        |      'ber STRA' || chr(223) || 'E ' || chr(216) || 'RE ' || chr(338) ||
        |      'uf e' || chr(769) || 'tude ' || text))) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |       CAST(length(norm_text) AS BIGINT) AS n_norm FROM n""").stripMargin,

    "q216_bpe_encode" -> {
      // identical merge replay to q129 (census → 3 weighted-pair argmax +
      // greedy left-first fold rounds), then the same fold applied to the
      // capped doc set's DISTINCT words and joined back positionally
      def round(prev: String, cur: Int): String =
        s"""p$cur AS (SELECT u.a AS a, u.b AS b, CAST(sum(cnt) AS BIGINT) AS n
           |  FROM (SELECT cnt,
           |          unnest(list_transform(generate_series(1, len(seq) - 1),
           |                 i -> {'a': seq[i], 'b': seq[i + 1]})) AS u
           |        FROM $prev) GROUP BY 1, 2),
           |b$cur AS (SELECT a, b FROM p$cur ORDER BY n DESC, a, b LIMIT 1),
           |s$cur AS (SELECT w, cnt,
           |    list_reduce(list_transform(seq, c -> [c]), (acc, x) ->
           |      CASE WHEN len(acc) > 0 AND acc[-1] = b$cur.a AND x[1] = b$cur.b
           |           THEN acc[:len(acc) - 1] || [b$cur.a || b$cur.b]
           |           ELSE acc || x END) AS seq
           |  FROM $prev, b$cur)""".stripMargin
      def enc(prev: String, cur: Int): String =
        s"""e$cur AS (SELECT w,
           |    list_reduce(list_transform(seq, c -> [c]), (acc, x) ->
           |      CASE WHEN len(acc) > 0 AND acc[-1] = b$cur.a AND x[1] = b$cur.b
           |           THEN acc[:len(acc) - 1] || [b$cur.a || b$cur.b]
           |           ELSE acc || x END) AS seq
           |  FROM $prev, b$cur)""".stripMargin
      s"""WITH census AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE len(w) > 0 GROUP BY 1 ORDER BY cnt DESC, w LIMIT 500),
         |s0 AS (SELECT w, cnt,
         |         list_transform(generate_series(1, len(w)), i -> w[i]) AS seq
         |       FROM census),
         |${round("s0", 1)},
         |${round("s1", 2)},
         |${round("s2", 3)},
         |words AS (
         |  SELECT doc_id, u.wp AS word_pos, u.w AS w FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(ws)),
         |             i -> {'wp': i, 'w': ws[i]})) AS u
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |          FROM documents WHERE doc_id < 200))
         |  WHERE len(u.w) > 0),
         |t0 AS (SELECT w,
         |         list_transform(generate_series(1, len(w)), i -> w[i]) AS seq
         |       FROM (SELECT DISTINCT w FROM words)),
         |${enc("t0", 1)},
         |${enc("e1", 2)},
         |${enc("e2", 3)}
         |SELECT w.doc_id, CAST(w.word_pos AS BIGINT) AS word_pos,
         |       CAST(u.tp AS BIGINT) AS tok_pos, u.token AS token
         |FROM words w JOIN e3 ON w.w = e3.w,
         |  LATERAL (SELECT unnest(list_transform(generate_series(1, len(e3.seq)),
         |                  i -> {'tp': i, 'token': e3.seq[i]})) AS u) AS x""".stripMargin
    },

    "q228_readability" ->
      """WITH t AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN '. Done! Sure?'
        |                 ELSE '' END AS tx
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(string_split(tx, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(tx, '[.!?]')), 1) AS BIGINT)
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(tx), '[aeiouy]+')) AS BIGINT)
        |      AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835::DOUBLE
        |        - 1.015::DOUBLE * (n_words::DOUBLE / n_sentences::DOUBLE)
        |        - 84.6::DOUBLE * (n_syllables::DOUBLE / n_words::DOUBLE), 6)
        |    AS flesch
        |FROM m""".stripMargin,

    "q222_negative_sampling" ->
      """WITH c AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 64 AS b
        |  FROM documents),
        |q AS (SELECT doc_id AS q_id FROM documents WHERE doc_id % 29 = 0),
        |p AS (SELECT q_id,
        |    ('0x' || substr(md5(CAST(q_id AS VARCHAR) || ':' ||
        |                        CAST(j AS VARCHAR)), 1, 7))::BIGINT % 64 AS b
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS j)),
        |pos AS (SELECT qq.doc_id AS q_id, d.doc_id
        |        FROM documents qq JOIN documents d ON d.source = qq.source
        |        WHERE qq.doc_id % 29 = 0),
        |cand AS (SELECT DISTINCT p.q_id, c.doc_id
        |         FROM p JOIN c USING (b) WHERE c.doc_id <> p.q_id),
        |neg AS (SELECT cand.q_id, cand.doc_id FROM cand
        |        LEFT JOIN pos ON pos.q_id = cand.q_id
        |                     AND pos.doc_id = cand.doc_id
        |        WHERE pos.q_id IS NULL),
        |r AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |        ORDER BY ('0x' || substr(md5(CAST(q_id AS VARCHAR) || '#' ||
        |                  CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
        |                 doc_id) AS rank
        |      FROM neg)
        |SELECT q_id, doc_id, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "q217_l_diversity" ->
      """WITH g AS (SELECT lang, source,
        |                  count(DISTINCT n_chars // 100) AS sdiv
        |           FROM documents GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CASE WHEN g.sdiv < 3 THEN '*' ELSE d.lang END AS lang,
        |  CASE WHEN g.sdiv < 3 THEN '*' ELSE d.source END AS source,
        |  d.n_chars // 100 AS bucket
        |FROM documents d
        |JOIN g ON d.lang = g.lang AND d.source = g.source""".stripMargin,

    "q191_k_anonymity" ->
      """WITH g AS (SELECT CAST(c_nationkey AS VARCHAR) AS nation,
        |                  c_mktsegment AS segment, count(*) AS n
        |           FROM customer GROUP BY 1, 2)
        |SELECT c.c_custkey,
        |  CASE WHEN g.n < 8 THEN '*'
        |       ELSE CAST(c.c_nationkey AS VARCHAR) END AS nation,
        |  CASE WHEN g.n < 8 THEN '*' ELSE c.c_mktsegment END AS segment
        |FROM customer c
        |JOIN g ON CAST(c.c_nationkey AS VARCHAR) = g.nation
        |      AND c.c_mktsegment = g.segment""".stripMargin,

    "q188_expectations" ->
      """SELECT 'not_null:o_orderkey' AS rule,
        |  CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
        |    AS n_violations FROM orders
        |UNION ALL
        |SELECT 'not_null:o_orderpriority',
        |  CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_orderkey',
        |  CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |        GROUP BY 1 HAVING count(*) > 1)) AS BIGINT)
        |UNION ALL
        |SELECT 'accepted_values:o_orderstatus',
        |  CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
        |        AND o_orderstatus NOT IN ('O', 'F')) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'relationships:o_custkey',
        |  CAST((SELECT count(*) FROM orders o
        |        WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |          SELECT 1 FROM customer c
        |          WHERE c.c_custkey % 3 <> 0
        |            AND c.c_custkey = o.o_custkey)) AS BIGINT)
        |UNION ALL
        |SELECT 'expect:price_under_400k',
        |  CAST(count(*) FILTER (
        |    WHERE NOT coalesce(o_totalprice < 400000.0, FALSE)) AS BIGINT)
        |FROM orders""".stripMargin,

    "q187_target_encode" ->
      """WITH h AS (
        |  SELECT o_orderkey, o_orderpriority AS cat,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t,
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 7))::BIGINT % 5
        |      AS fold
        |  FROM orders),
        |f AS (SELECT cat, fold, CAST(sum(t) AS BIGINT) AS fs,
        |        CAST(count(*) AS BIGINT) AS fc
        |      FROM h GROUP BY 1, 2),
        |c AS (SELECT cat, CAST(sum(fs) AS BIGINT) AS ts,
        |        CAST(sum(fc) AS BIGINT) AS tc
        |      FROM f GROUP BY 1)
        |SELECT h.o_orderkey, h.cat, h.fold, CAST(h.t AS BIGINT) AS target,
        |  CASE WHEN c.tc <> f.fc
        |       THEN CAST(c.ts - f.fs AS DOUBLE) / CAST(c.tc - f.fc AS DOUBLE)
        |  END AS oof_enc
        |FROM h JOIN f USING (cat, fold) JOIN c USING (cat)""".stripMargin,

    "q180_domain_cap" ->
      """WITH r AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |             CAST(row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
        |           FROM documents)
        |SELECT doc_id, source, n_chars, rank FROM r WHERE rank <= 50""".stripMargin,

    "q23_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4 AS BIGINT) AS n_the,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ' '))) / 2 AS BIGINT) AS n_a,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents)
        |SELECT doc_id, n_the, n_a,
        |  least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) * 0.4 +
        |  least(CAST(n_the + n_a AS DOUBLE) * 10.0 / CAST(n_tok AS DOUBLE), 1.0) * 0.2 AS quality
        |FROM t""".stripMargin,

    "q24_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) / 4 AS BIGINT)
        |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) / 2 AS BIGINT) AS s_en,
        |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' der ', ' '))) / 4 AS BIGINT)
        |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' und ', ' '))) / 4 AS BIGINT) AS s_de,
        |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' le ', ' '))) / 3 AS BIGINT)
        |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' et ', ' '))) / 3 AS BIGINT) AS s_fr,
        |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' el ', ' '))) / 3 AS BIGINT)
        |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' y ', ' '))) / 2 AS BIGINT) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang AS actual_lang,
        |  CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
        |       WHEN s_es > 0 THEN 'es'
        |       ELSE 'zh' END AS predicted_lang,
        |  s_en AS score_en
        |FROM t""".stripMargin,

    "q30_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_hash,
        |       CASE WHEN n_chars % 3 = 0 THEN 'image' WHEN n_chars % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS kind
        |FROM documents""".stripMargin,

    "q45_curation_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS sample_key
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, sample_key,
        |    row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS strat_rank
        |  FROM h)
        |SELECT doc_id, lang, strat_rank, sample_key,
        |  sample_key < 67108864 AS in_bernoulli_25pct,
        |  CASE WHEN sample_key < 214748364 THEN 'train'
        |       WHEN sample_key < 241591910 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r WHERE strat_rank <= 20""".stripMargin,

    "q46_repetition_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, max(tf) AS top_token_count,
        |         CAST(sum(tf) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct_tokens
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, top_token_count, n_tokens,
        |  CAST(top_token_count AS DOUBLE) / n_tokens AS top_token_share,
        |  1.0 - CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_fraction,
        |  CAST(top_token_count AS DOUBLE) / n_tokens > 0.2 AS is_repetitive
        |FROM agg""".stripMargin,

    "q47_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or +1 (555) 010-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' id 123-45-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, t,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<ID>', 'g') AS red
        |  FROM p)
        |SELECT doc_id, md5(red) AS redacted_hash,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(length(t) AS BIGINT) AS n_chars_with_pii,
        |  CAST(length(red) AS BIGINT) AS n_chars_redacted
        |FROM r""".stripMargin,

    "q50_bpe_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    '${graft.functions.TextFunctions.BpeTokenPattern}')) AS BIGINT) AS n_bpe_tokens
         |FROM documents""".stripMargin,

    "q53_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 8 AS shard,
         |    CAST(len(regexp_extract_all(text,
         |      '${graft.functions.TextFunctions.BpeTokenPattern}')) AS BIGINT) AS ntok
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, shard, ntok,
         |    CAST(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
         |  FROM t)
         |SELECT doc_id, shard, end_off - ntok AS start_off, end_off,
         |  (end_off - ntok) // 2048 AS first_chunk,
         |  (end_off - 1) // 2048 AS last_chunk,
         |  (end_off - 1) // 2048 - (end_off - ntok) // 2048 + 1 AS n_chunks
         |FROM o""".stripMargin,

    "q55_mix_rebalance" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN length(source) = 4 THEN 'bulk' ELSE source END AS stratum
        |  FROM documents),
        |c AS (SELECT stratum, count(*) AS cnt FROM s GROUP BY 1),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |t AS (SELECT stratum, (mn * 268435456) // cnt AS keep_below FROM c, m)
        |SELECT d.doc_id, d.stratum
        |FROM s d JOIN t USING (stratum)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT < t.keep_below""".stripMargin,

    "q56_curriculum_bins" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4 AS BIGINT) AS n_the,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ' '))) / 2 AS BIGINT) AS n_a,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang,
        |    least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |    CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) * 0.4 +
        |    least(CAST(n_the + n_a AS DOUBLE) * 10.0 / CAST(n_tok AS DOUBLE), 1.0) * 0.2 AS quality
        |  FROM t)
        |SELECT doc_id, lang,
        |  ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS bin
        |FROM q""".stripMargin,

    "q58_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |model AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS v_size FROM model),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |lp AS (SELECT t.doc_id, t.tf,
        |         CAST(floor(ln(CAST(m.cnt + 1 AS DOUBLE) / CAST(tot.n_total + tot.v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
        |       FROM tf t JOIN model m ON m.token = t.token, tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(tf * lp_micro) AS BIGINT) AS logprob_micro,
        |       CAST(sum(tf * lp_micro) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS avg_logprob_micro
        |FROM lp GROUP BY 1""".stripMargin,

    "q59_doc_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |st AS (SELECT doc_id, toks, n,
        |              unnest(generate_series(0, n - 1, 48)) AS chunk_start
        |       FROM w)
        |SELECT doc_id,
        |  CAST(chunk_start // 48 AS BIGINT) AS chunk_idx,
        |  CAST(chunk_start AS BIGINT) AS chunk_start,
        |  CAST(least(64, n - chunk_start) AS BIGINT) AS chunk_len,
        |  array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 64), ' ') AS chunk_text
        |FROM st""".stripMargin,

    "q60_ngram_topk" ->
      """WITH w AS (SELECT string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT unnest(list_transform(generate_series(1, n - 2),
        |               i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS ngram
        |      FROM w WHERE n >= 3),
        |c AS (SELECT ngram, count(*) AS cnt FROM g GROUP BY 1)
        |SELECT ngram, CAST(cnt AS BIGINT) AS cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, ngram) AS BIGINT) AS rank
        |FROM c ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin,

    "q62_corpus_card" ->
      """SELECT source, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |  1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS exact_dup_fraction
        |FROM documents
        |GROUP BY 1, 2""".stripMargin,

    "q67_source_drift" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |model AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS v_size FROM model),
        |tf AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_s FROM tf GROUP BY 1),
        |lp AS (SELECT t.source, t.tf,
        |         CAST(floor(ln(CAST(t.tf + 1 AS DOUBLE) / CAST(st.n_s + tot.v_size AS DOUBLE)) * 1e6) AS BIGINT)
        |           - CAST(floor(ln(CAST(m.cnt + 1 AS DOUBLE) / CAST(tot.n_total + tot.v_size AS DOUBLE)) * 1e6) AS BIGINT)
        |           AS d_micro
        |       FROM tf t JOIN st USING (source) JOIN model m ON m.token = t.token, tot)
        |SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(tf * d_micro) AS BIGINT) AS drift_micro,
        |       CAST(sum(tf * d_micro) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS avg_drift_micro
        |FROM lp GROUP BY 1""".stripMargin,

    "q68_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |t AS (SELECT lang,
        |        CAST(floor(268435456.0 * sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT) AS keep_below
        |      FROM c, m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN t USING (lang)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT < t.keep_below""".stripMargin,

    "q79_curation_funnel" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS ndis,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4 AS BIGINT) AS n_the,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ' '))) / 2 AS BIGINT) AS n_a,
        |    md5(lower(trim(text))) AS fp
        |  FROM documents),
        |q AS (SELECT doc_id, ntok, fp,
        |    least(CAST(ntok AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |    CAST(ndis AS DOUBLE) / CAST(ntok AS DOUBLE) * 0.4 +
        |    least(CAST(n_the + n_a AS DOUBLE) * 10.0 / CAST(ntok AS DOUBLE), 1.0) * 0.2 AS qual
        |  FROM t),
        |l1 AS (SELECT doc_id, '1_length' AS stage FROM q WHERE ntok < 20),
        |s1 AS (SELECT * FROM q WHERE ntok >= 20),
        |l2 AS (SELECT doc_id, '2_quality' AS stage FROM s1 WHERE qual < 0.513),
        |s2 AS (SELECT * FROM s1 WHERE qual >= 0.513),
        |k AS (SELECT fp, min(doc_id) AS keep FROM s2 GROUP BY 1),
        |l3 AS (SELECT s2.doc_id,
        |         CASE WHEN s2.doc_id = k.keep THEN '4_kept' ELSE '3_duplicate' END AS stage
        |       FROM s2 JOIN k USING (fp)),
        |u AS (SELECT stage FROM l1 UNION ALL SELECT stage FROM l2 UNION ALL SELECT stage FROM l3)
        |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs FROM u GROUP BY 1""".stripMargin,

    "q85_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS ndis,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4 AS BIGINT) AS n_the,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ' '))) / 2 AS BIGINT) AS n_a
        |  FROM documents),
        |q AS (SELECT doc_id, lang,
        |    least(CAST(ntok AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |    CAST(ndis AS DOUBLE) / CAST(ntok AS DOUBLE) * 0.4 +
        |    least(CAST(n_the + n_a AS DOUBLE) * 10.0 / CAST(ntok AS DOUBLE), 1.0) * 0.2 AS quality
        |  FROM t)
        |SELECT doc_id, lang, quality
        |FROM q
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT <
        |      CAST(floor(least(greatest(quality, 0.0), 1.0) * 268435456.0) AS BIGINT)""".stripMargin,

    "q87_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS i,
        |         unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS w1, w AS w2
        |    FROM toks) WHERE w1 IS NOT NULL),
        |c1 AS (SELECT w, count(*) AS c1 FROM toks GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS vs FROM c1),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM pairs GROUP BY 1, 2, 3),
        |lp AS (SELECT tf.doc_id, tf.tf,
        |         CAST(floor(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.vs AS DOUBLE)) * 1e6) AS BIGINT) AS lpm
        |       FROM tf JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = tf.w1, v)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |       CAST(sum(tf * lpm) AS BIGINT) AS logprob_micro,
        |       CAST(sum(tf * lpm) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS avg_logprob_micro
        |FROM lp GROUP BY 1""".stripMargin,

    "q105_pareto" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
        |  FROM documents),
        |px AS (SELECT x, max(y) AS y FROM d GROUP BY 1),
        |sk AS (
        |  SELECT x, y,
        |         max(y) OVER (ORDER BY x DESC
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS my
        |  FROM px)
        |SELECT x AS n_chars, y AS n_distinct_words
        |FROM sk WHERE my IS NULL OR y > my""".stripMargin,

    "q110_vocab" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM t GROUP BY 1 HAVING count(*) >= 2)
        |SELECT token,
        |       CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
        |         AS token_id,
        |       n
        |FROM c""".stripMargin,

    "q111_vocab_encode" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |c AS (SELECT token, count(*) AS n
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |      GROUP BY 1 HAVING count(*) >= 2),
        |v AS (SELECT token,
        |             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
        |               AS token_id
        |      FROM c),
        |e AS (SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid
        |      FROM t LEFT JOIN v USING (token))
        |SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,
        |       CAST(tid AS BIGINT) AS token_id
        |FROM e""".stripMargin,

    "q118_nb_classifier" ->
      s"""WITH $nbScoreCtes
         |SELECT sc.doc_id, sc.n_tokens,
         |       sc.llr_micro + pri.prior_micro AS score_micro,
         |       (sc.llr_micro + pri.prior_micro > 0) AS predicted_pos
         |FROM sc, pri""".stripMargin,

    // the same NB scoring CTEs, then pmod-floored integer binning (the
    // numerator is an exact multiple of the width, so `//` of BIGINTs is
    // floor for any sign; no float ever picks a bin) and the per-bin
    // sigmoid/gap arithmetic in the engine's exact operation order
    "q230_calibration" -> {
      val w = 500000L
      s"""WITH $nbScoreCtes,
         |scored AS (SELECT sc.doc_id, d.pos, sc.n_tokens,
         |             sc.llr_micro + pri.prior_micro AS score_micro
         |           FROM sc JOIN d USING (doc_id), pri),
         |binned AS (SELECT pos, score_micro, n_tokens,
         |             (score_micro - ((score_micro % $w + $w) % $w)) // $w AS bin
         |           FROM scored),
         |agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS positives,
         |          CAST(sum(score_micro) AS BIGINT) AS ss,
         |          CAST(sum(n_tokens) AS BIGINT) AS st
         |        FROM binned GROUP BY 1),
         |grand AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM agg)
         |SELECT bin, n, positives,
         |  CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
         |  round(1.0::DOUBLE / (1.0::DOUBLE + exp(-((CAST(ss AS DOUBLE) / 1e6)
         |    / CAST(st AS DOUBLE)))), 6) AS confidence,
         |  round((CAST(n AS DOUBLE) / CAST(grand.nn AS DOUBLE))
         |    * abs(CAST(positives AS DOUBLE) / CAST(n AS DOUBLE)
         |          - 1.0::DOUBLE / (1.0::DOUBLE + exp(-((CAST(ss AS DOUBLE) / 1e6)
         |            / CAST(st AS DOUBLE))))), 6) AS weighted_gap
         |FROM agg, grand""".stripMargin
    },

    // NB predictions vs q24's marker-word heuristic: four exact confusion
    // counts, then the fixed-shape kappa expression
    "q231_rater_agreement" ->
      s"""WITH $nbScoreCtes,
         |pred AS (SELECT sc.doc_id,
         |           (sc.llr_micro + pri.prior_micro > 0) AS a
         |         FROM sc, pri),
         |hs AS (
         |  SELECT doc_id,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) / 4 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) / 2 AS BIGINT) AS s_en,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' der ', ' '))) / 4 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' und ', ' '))) / 4 AS BIGINT) AS s_de,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' le ', ' '))) / 3 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' et ', ' '))) / 3 AS BIGINT) AS s_fr,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' el ', ' '))) / 3 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' y ', ' '))) / 2 AS BIGINT) AS s_es
         |  FROM documents),
         |heur AS (SELECT doc_id,
         |           (s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es) AS b
         |         FROM hs),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |          CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |          CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |          CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |        FROM pred JOIN heur USING (doc_id))
         |SELECT n, n11, n10, n01, n00,
         |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
         |  round(CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
         |          * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |        + (1.0::DOUBLE - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (1.0::DOUBLE - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS pe,
         |  round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
         |         - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
         |              * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |            + (1.0::DOUBLE - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
         |              * (1.0::DOUBLE - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))))
         |        / (1.0::DOUBLE
         |           - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
         |                * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |              + (1.0::DOUBLE - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
         |                * (1.0::DOUBLE - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
         |    AS kappa
         |FROM cnt""".stripMargin,

    "q129_bpe_train" -> {
      def round(prev: String, cur: Int): String =
        s"""p$cur AS (SELECT u.a AS a, u.b AS b, CAST(sum(cnt) AS BIGINT) AS n
           |  FROM (SELECT cnt,
           |          unnest(list_transform(generate_series(1, len(seq) - 1),
           |                 i -> {'a': seq[i], 'b': seq[i + 1]})) AS u
           |        FROM $prev) GROUP BY 1, 2),
           |b$cur AS (SELECT a, b, n FROM p$cur ORDER BY n DESC, a, b LIMIT 1),
           |s$cur AS (SELECT w, cnt,
           |    list_reduce(list_transform(seq, c -> [c]), (acc, x) ->
           |      CASE WHEN len(acc) > 0 AND acc[-1] = b$cur.a AND x[1] = b$cur.b
           |           THEN acc[:len(acc) - 1] || [b$cur.a || b$cur.b]
           |           ELSE acc || x END) AS seq
           |  FROM $prev, b$cur)""".stripMargin
      s"""WITH census AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE len(w) > 0 GROUP BY 1 ORDER BY cnt DESC, w LIMIT 500),
         |s0 AS (SELECT w, cnt,
         |         list_transform(generate_series(1, len(w)), i -> w[i]) AS seq
         |       FROM census),
         |${round("s0", 1)},
         |${round("s1", 2)},
         |${round("s2", 3)}
         |SELECT 1 AS merge_idx, a AS mleft, b AS mright, n AS pair_n FROM b1
         |UNION ALL SELECT 2, a, b, n FROM b2
         |UNION ALL SELECT 3, a, b, n FROM b3""".stripMargin
    },

    "q136_weighted_sample_k" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars,
        |       ln((CAST(h AS DOUBLE) + 0.5) / 268435456.0)
        |         / CAST(n_chars AS DOUBLE) AS es_key
        |FROM d
        |ORDER BY es_key DESC, doc_id
        |LIMIT 100""".stripMargin,

    "q159_vocab_decode" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |c AS (SELECT token, count(*) AS n
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |      GROUP BY 1 HAVING count(*) >= 2),
        |v AS (SELECT token,
        |             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
        |               AS token_id
        |      FROM c),
        |e AS (SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid
        |      FROM t LEFT JOIN v USING (token)),
        |d AS (SELECT e.doc_id, e.pos,
        |             coalesce(v2.token, '<unk>') AS tok
        |      FROM e LEFT JOIN v v2 ON v2.token_id = e.tid)
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS decoded
        |FROM d GROUP BY 1""".stripMargin,

    "q165_group_sample" ->
      """WITH d AS (
        |  SELECT source, doc_id, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
        |  FROM documents WHERE n_chars > 0),
        |s AS (SELECT source, doc_id, n_chars,
        |             ln((CAST(h AS DOUBLE) + 0.5) / 268435456.0)
        |               / CAST(n_chars AS DOUBLE) AS es_key
        |      FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |               ORDER BY es_key DESC, doc_id) AS rn
        |      FROM s)
        |SELECT source, doc_id, n_chars, es_key FROM r WHERE rn <= 20""".stripMargin,

    "q171_audio_meta" ->
      """SELECT doc_id AS media_id,
        |       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS INT) AS channels,
        |       CAST(16 AS INT) AS bits,
        |       CAST(100 + doc_id % 50 AS BIGINT) AS n_samples,
        |       CAST(100 + doc_id % 50 AS DOUBLE) * 1000.0
        |         / (8000 + (doc_id % 4) * 4000) AS duration_ms
        |FROM documents""".stripMargin,

    // percent_rank is (rank-1)/(n-1) in both engines; the (n_chars, doc_id)
    // ordering is total, so ranks — and the one shared division — agree
    // bitwise; the threshold compares the RAW rank on both sides
    "q211_quantile_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         percent_rank() OVER (PARTITION BY source
        |                              ORDER BY n_chars, doc_id) AS qscore
        |  FROM documents)
        |SELECT doc_id, source, n_chars, round(qscore, 9) AS qscore
        |FROM r WHERE qscore >= 0.6""".stripMargin,

    // Gopher A.1.2 replay: same whitespace n-grams, same struct-argmax tie
    // order (count DESC, gram char length DESC, gram DESC), same once-only
    // position coverage for duplicates, integer threshold comparisons
    "q254_gopher_repetition" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |                     CAST(length(text) AS BIGINT) AS chars
        |              FROM documents),
        |tg AS (SELECT doc_id, n,
        |         unnest(list_transform(generate_series(1, len(ws) - n + 1),
        |                i -> array_to_string(ws[i : i + n - 1], ' '))) AS g
        |       FROM base, (SELECT unnest([2, 3, 4]) AS n) nn
        |       WHERE len(ws) >= n),
        |tc AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
        |       FROM tg GROUP BY 1, 2, 3),
        |topg AS (SELECT doc_id, n, c * CAST(length(g) AS BIGINT) AS mass
        |         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |                 ORDER BY c DESC, length(g) DESC, g DESC) AS rn
        |               FROM tc) WHERE rn = 1),
        |pgi AS (SELECT doc_id, n, ws,
        |          unnest(generate_series(1, len(ws) - n + 1)) AS p
        |        FROM base, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n) nn
        |        WHERE len(ws) >= n),
        |pg AS (SELECT doc_id, n, p,
        |              array_to_string(ws[p : p + n - 1], ' ') AS g
        |       FROM pgi),
        |dup AS (SELECT doc_id, n, p FROM (
        |          SELECT *, count(*) OVER (PARTITION BY doc_id, n, g) AS c
        |          FROM pg) WHERE c > 1),
        |cov AS (SELECT DISTINCT doc_id, n, wp FROM (
        |          SELECT doc_id, n,
        |                 unnest(generate_series(p, p + n - 1)) AS wp
        |          FROM dup)),
        |wl AS (SELECT doc_id, wp, CAST(length(ws[wp]) AS BIGINT) AS l
        |       FROM (SELECT doc_id, ws,
        |               unnest(generate_series(1, len(ws))) AS wp
        |             FROM base)),
        |dmass AS (SELECT c.doc_id, c.n, CAST(sum(w.l) AS BIGINT) AS mass
        |          FROM cov c JOIN wl w USING (doc_id, wp) GROUP BY 1, 2),
        |piv AS (SELECT b.doc_id, b.chars,
        |          coalesce(max(CASE WHEN t.n = 2 THEN t.mass END), 0) AS m2,
        |          coalesce(max(CASE WHEN t.n = 3 THEN t.mass END), 0) AS m3,
        |          coalesce(max(CASE WHEN t.n = 4 THEN t.mass END), 0) AS m4,
        |          coalesce(max(CASE WHEN d.n = 5 THEN d.mass END), 0) AS m5,
        |          coalesce(max(CASE WHEN d.n = 6 THEN d.mass END), 0) AS m6,
        |          coalesce(max(CASE WHEN d.n = 7 THEN d.mass END), 0) AS m7,
        |          coalesce(max(CASE WHEN d.n = 8 THEN d.mass END), 0) AS m8,
        |          coalesce(max(CASE WHEN d.n = 9 THEN d.mass END), 0) AS m9,
        |          coalesce(max(CASE WHEN d.n = 10 THEN d.mass END), 0) AS m10
        |        FROM base b
        |        LEFT JOIN topg t ON t.doc_id = b.doc_id
        |        LEFT JOIN dmass d ON d.doc_id = b.doc_id
        |        GROUP BY 1, 2)
        |SELECT doc_id,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m2 * 1.0 / chars, 6) END AS top_2gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m3 * 1.0 / chars, 6) END AS top_3gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m4 * 1.0 / chars, 6) END AS top_4gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m5 * 1.0 / chars, 6) END AS dup_5gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m6 * 1.0 / chars, 6) END AS dup_6gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m7 * 1.0 / chars, 6) END AS dup_7gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m8 * 1.0 / chars, 6) END AS dup_8gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m9 * 1.0 / chars, 6) END AS dup_9gram_char_frac,
        |  CASE WHEN chars = 0 THEN 0.0 ELSE round(m10 * 1.0 / chars, 6) END AS dup_10gram_char_frac,
        |  (m2 * 100 <= 20 * chars) AS r_top_2gram,
        |  (m3 * 100 <= 18 * chars) AS r_top_3gram,
        |  (m4 * 100 <= 16 * chars) AS r_top_4gram,
        |  (m5 * 100 <= 15 * chars) AS r_dup_5gram,
        |  (m6 * 100 <= 14 * chars) AS r_dup_6gram,
        |  (m7 * 100 <= 13 * chars) AS r_dup_7gram,
        |  (m8 * 100 <= 12 * chars) AS r_dup_8gram,
        |  (m9 * 100 <= 11 * chars) AS r_dup_9gram,
        |  (m10 * 100 <= 10 * chars) AS r_dup_10gram,
        |  (m2 * 100 <= 20 * chars AND m3 * 100 <= 18 * chars
        |   AND m4 * 100 <= 16 * chars AND m5 * 100 <= 15 * chars
        |   AND m6 * 100 <= 14 * chars AND m7 * 100 <= 13 * chars
        |   AND m8 * 100 <= 12 * chars AND m9 * 100 <= 11 * chars
        |   AND m10 * 100 <= 10 * chars) AS keep
        |FROM piv""".stripMargin,

    // CCNet stage-1 replay: same lower-cased char trigrams, same md5-prefix
    // bucket hash, integer per-million profile frequencies (// = floor div),
    // exact BIGINT dot-product scores, same argmax tie order
    "q255_ccnet_langid" ->
      s"""WITH $langIdScoreCtes
        |SELECT t.doc_id, t.lang AS actual_lang,
        |       coalesce(best.pl, 'und') AS predicted_lang,
        |       coalesce(best.s, 0) AS score,
        |       coalesce(best.pl, 'und') = t.lang AS is_correct
        |FROM t LEFT JOIN best ON best.doc_id = t.doc_id""".stripMargin,

    // the q255 replay without the truth join — the TVF route returns the
    // bare classify surface (doc_id, predicted_lang, score)
    "q258_sql_langid" ->
      s"""WITH $langIdScoreCtes
         |SELECT d0.doc_id,
         |       coalesce(best.pl, 'und') AS predicted_lang,
         |       coalesce(best.s, 0) AS score
         |FROM (SELECT doc_id FROM documents) d0
         |LEFT JOIN best ON best.doc_id = d0.doc_id""".stripMargin,

    // the store route accumulates the %4=0 create slice + the %4=2
    // ingested batch = the even-id training set — counts merge exactly,
    // so the q258 replay (trained on even ids) is the oracle verbatim
    "q263_langid_store" ->
      s"""WITH $langIdScoreCtes
         |SELECT d0.doc_id,
         |       coalesce(best.pl, 'und') AS predicted_lang,
         |       coalesce(best.s, 0) AS score
         |FROM (SELECT doc_id FROM documents) d0
         |LEFT JOIN best ON best.doc_id = d0.doc_id""".stripMargin,

    // three raters in long format (the label, the q24 marker heuristic,
    // the q255 trigram classifier), then the nominal-alpha arithmetic:
    // per-unit disagreement as exact integer micro-counts, three final
    // float divisions
    "q259_krippendorff" ->
      s"""WITH $langIdScoreCtes,
         |hs AS (
         |  SELECT doc_id,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) / 4 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) / 2 AS BIGINT) AS s_en,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' der ', ' '))) / 4 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' und ', ' '))) / 4 AS BIGINT) AS s_de,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' le ', ' '))) / 3 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' et ', ' '))) / 3 AS BIGINT) AS s_fr,
         |    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' el ', ' '))) / 3 AS BIGINT)
         |      + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' y ', ' '))) / 2 AS BIGINT) AS s_es
         |  FROM documents),
         |marker AS (SELECT doc_id,
         |  CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
         |       WHEN s_es > 0 THEN 'es'
         |       ELSE 'zh' END AS v
         |  FROM hs),
         |ratings AS (
         |  SELECT doc_id AS u, lang AS v FROM documents
         |  UNION ALL SELECT doc_id, v FROM marker
         |  UNION ALL SELECT d0.doc_id, coalesce(best.pl, 'und')
         |    FROM (SELECT doc_id FROM documents) d0
         |    LEFT JOIN best ON best.doc_id = d0.doc_id),
         |uv AS (SELECT u, v, CAST(count(*) AS BIGINT) AS nuc
         |       FROM ratings GROUP BY 1, 2),
         |units AS (SELECT u, CAST(sum(nuc) AS BIGINT) AS mu,
         |            CAST(sum(nuc * nuc) AS BIGINT) AS sq
         |          FROM uv GROUP BY 1 HAVING sum(nuc) >= 2),
         |gl AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
         |         CAST(sum(mu) AS BIGINT) AS n,
         |         CAST(sum(((mu * mu - sq) * 1000000) // (mu - 1)) AS BIGINT)
         |           AS dis_micro
         |       FROM units),
         |marg AS (SELECT uv.v, CAST(sum(uv.nuc) AS BIGINT) AS nc
         |         FROM uv JOIN units USING (u) GROUP BY 1),
         |mg AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
         |         CAST(sum(nc * nc) AS BIGINT) AS msq
         |       FROM marg)
         |SELECT n_units, n AS n_ratings, n_values, dis_micro,
         |  round(CAST(dis_micro AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 6) AS d_o,
         |  round(CAST(n * n - msq AS DOUBLE)
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS d_e,
         |  round(1.0 - CAST(dis_micro AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
         |        / (1000000.0 * CAST(n * n - msq AS DOUBLE)), 6) AS alpha
         |FROM gl, mg""".stripMargin,

    // per-class confusion counts over the q255 predictions, divisions last
    "q261_langid_prf" ->
      s"""WITH $langIdScoreCtes,
         |pp AS (SELECT t.doc_id, t.lang AS a, coalesce(best.pl, 'und') AS p
         |       FROM t LEFT JOIN best ON best.doc_id = t.doc_id),
         |cls AS (SELECT a AS clazz FROM pp UNION SELECT p FROM pp),
         |tpc AS (SELECT a AS clazz, CAST(count(*) AS BIGINT) AS tp
         |        FROM pp WHERE a = p GROUP BY 1),
         |nac AS (SELECT a AS clazz, CAST(count(*) AS BIGINT) AS na
         |        FROM pp GROUP BY 1),
         |npc AS (SELECT p AS clazz, CAST(count(*) AS BIGINT) AS np
         |        FROM pp GROUP BY 1),
         |j AS (SELECT cls.clazz, coalesce(tpc.tp, 0) AS tp,
         |        coalesce(nac.na, 0) AS n_actual,
         |        coalesce(npc.np, 0) AS n_predicted
         |      FROM cls LEFT JOIN tpc USING (clazz)
         |      LEFT JOIN nac USING (clazz) LEFT JOIN npc USING (clazz)),
         |r AS (SELECT *,
         |        CASE WHEN n_predicted > 0
         |             THEN CAST(tp AS DOUBLE) / n_predicted END AS pr,
         |        CASE WHEN n_actual > 0
         |             THEN CAST(tp AS DOUBLE) / n_actual END AS rc
         |      FROM j)
         |SELECT clazz, tp, n_actual, n_predicted,
         |  round(pr, 6) AS "precision", round(rc, 6) AS recall,
         |  round(CASE WHEN pr + rc > 0 THEN 2.0 * pr * rc / (pr + rc) END, 6)
         |    AS f1
         |FROM r""".stripMargin,

    // Mann-Whitney AUC over the distinct-score census: average ranks as
    // exact half-unit integers (2*before + tot + 1), BIGINT rank-sum, one
    // float division last
    "q266_roc_auc" -> rocAucOracleSql,

    // the TVF splices the same analyzed plan — same replay verbatim
    "q277_sql_auc" -> rocAucOracleSql,

    // fractional ranks per variable from the distinct-value census (same
    // half-unit integers as q266), Pearson over ranks with BIGINT sums
    "q267_spearman" ->
      """WITH pts AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |cx AS (SELECT source, x, CAST(count(*) AS BIGINT) AS tot
        |       FROM pts GROUP BY 1, 2),
        |rx AS (SELECT source, x,
        |         2 * CAST(coalesce(sum(tot) OVER (PARTITION BY source
        |           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
        |           1 PRECEDING), 0) AS BIGINT) + tot + 1 AS r2x
        |       FROM cx),
        |cy AS (SELECT source, y, CAST(count(*) AS BIGINT) AS tot
        |       FROM pts GROUP BY 1, 2),
        |ry AS (SELECT source, y,
        |         2 * CAST(coalesce(sum(tot) OVER (PARTITION BY source
        |           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND
        |           1 PRECEDING), 0) AS BIGINT) + tot + 1 AS r2y
        |       FROM cy),
        |j AS (SELECT p.source, rx.r2x, ry.r2y
        |      FROM pts p
        |      JOIN rx ON rx.source = p.source AND rx.x = p.x
        |      JOIN ry ON ry.source = p.source AND ry.y = p.y),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(r2x) AS BIGINT) AS sx,
        |          CAST(sum(r2y) AS BIGINT) AS sy,
        |          CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
        |          CAST(sum(r2y * r2y) AS BIGINT) AS syy,
        |          CAST(sum(r2x * r2y) AS BIGINT) AS sxy
        |        FROM j GROUP BY 1),
        |fin AS (SELECT source, n,
        |          CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |          CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |          CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |        FROM agg)
        |SELECT source, n,
        |  CASE WHEN vx > 0 AND vy > 0
        |       THEN round(cov / sqrt(vx * vy), 6) END AS rho
        |FROM fin""".stripMargin,

    // unrolled 10-iteration Hunter-MM replay over the sources^2 census:
    // integer-millionth ratings, each denominator term
    // floor(n*1e12/(ri+rj)+0.5) an exact BIGINT, rescale by MAX (order-
    // independent), arithmetic term for term the engine's
    "q268_bradley_terry" -> btOracleSql,
    "q278_bt_distributed" -> btDistOracleSql,

    // the store census merges exactly, so the store ratings replay the
    // same unrolled MM arithmetic verbatim (the q263 oracle pattern)
    "q276_preference_store" -> btOracleSql,

    // clipped modified n-gram precisions from exact BIGINT counts, n as a
    // census dimension, brevity penalty and the pinned-order log fold last
    "q270_corpus_bleu" ->
      """WITH base AS (SELECT doc_id, text AS ref,
        |    string_split(text, ' ') AS ws FROM documents),
        |pairs AS (SELECT doc_id, ref,
        |    array_to_string(list_transform(
        |      list_filter(range(len(ws)), i -> (i + 1) % 7 <> 0),
        |      i -> ws[i + 1]), ' ') AS cand
        |  FROM base),
        |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
        |cg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT p.doc_id, ns.n,
        |               unnest(list_transform(
        |                 range(len(string_split(p.cand, ' ')) - ns.n + 1),
        |                 i -> array_to_string(
        |                   string_split(p.cand, ' ')[(i+1):(i+ns.n)], ' ')))
        |                 AS g
        |             FROM pairs p, ns
        |             WHERE len(string_split(p.cand, ' ')) >= ns.n) u
        |       GROUP BY 1, 2, 3),
        |rg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT p.doc_id, ns.n,
        |               unnest(list_transform(
        |                 range(len(string_split(p.ref, ' ')) - ns.n + 1),
        |                 i -> array_to_string(
        |                   string_split(p.ref, ' ')[(i+1):(i+ns.n)], ' ')))
        |                 AS g
        |             FROM pairs p, ns
        |             WHERE len(string_split(p.ref, ' ')) >= ns.n) u
        |       GROUP BY 1, 2, 3),
        |cl AS (SELECT cg.n,
        |         CAST(sum(least(cg.c, coalesce(rg.c, 0))) AS BIGINT) AS m,
        |         CAST(sum(cg.c) AS BIGINT) AS tot
        |       FROM cg LEFT JOIN rg ON rg.doc_id = cg.doc_id
        |         AND rg.n = cg.n AND rg.g = cg.g
        |       GROUP BY 1),
        |lens AS (SELECT
        |    CAST(sum(len(string_split(cand, ' '))) AS BIGINT)
        |      AS cand_tokens,
        |    CAST(sum(len(string_split(ref, ' '))) AS BIGINT) AS ref_tokens
        |  FROM pairs),
        |piv AS (SELECT
        |    max(CASE WHEN n = 1 THEN m END) AS m1,
        |    max(CASE WHEN n = 1 THEN tot END) AS t1,
        |    max(CASE WHEN n = 2 THEN m END) AS m2,
        |    max(CASE WHEN n = 2 THEN tot END) AS t2,
        |    max(CASE WHEN n = 3 THEN m END) AS m3,
        |    max(CASE WHEN n = 3 THEN tot END) AS t3,
        |    max(CASE WHEN n = 4 THEN m END) AS m4,
        |    max(CASE WHEN n = 4 THEN tot END) AS t4
        |  FROM cl),
        |ps AS (SELECT cand_tokens, ref_tokens,
        |    CASE WHEN t1 > 0 THEN CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE) END AS p1,
        |    CASE WHEN t2 > 0 THEN CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE) END AS p2,
        |    CASE WHEN t3 > 0 THEN CAST(m3 AS DOUBLE) / CAST(t3 AS DOUBLE) END AS p3,
        |    CASE WHEN t4 > 0 THEN CAST(m4 AS DOUBLE) / CAST(t4 AS DOUBLE) END AS p4,
        |    CASE WHEN CAST(cand_tokens AS DOUBLE) >= CAST(ref_tokens AS DOUBLE)
        |         THEN 1.0
        |         ELSE exp(1.0 - CAST(ref_tokens AS DOUBLE)
        |                / CAST(cand_tokens AS DOUBLE)) END AS bp
        |  FROM lens, piv)
        |SELECT cand_tokens, ref_tokens,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(bp, 6) AS brevity_penalty,
        |  CASE WHEN p1 > 0 AND p2 > 0 AND p3 > 0 AND p4 > 0 THEN
        |    round(bp * exp((ln(p1) + ln(p2) + ln(p3) + ln(p4)) / 4.0), 6)
        |  END AS bleu
        |FROM ps""".stripMargin,

    // water-filling replay: exact micro-integer cap decisions over the
    // language census, the equal-share division the one float operation
    "q271_unimax" ->
      """WITH b AS (SELECT 2 * CAST(count(*) AS BIGINT) AS budget
        |           FROM documents),
        |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |        FROM documents GROUP BY 1),
        |cap AS (SELECT lang, n,
        |    CAST(floor(CAST(n AS DOUBLE) * 2.5 * 1e6 + 0.5) AS BIGINT)
        |      AS capu
        |  FROM cnt),
        |st AS (SELECT lang, n, capu,
        |    CAST(row_number() OVER (ORDER BY capu, lang) AS BIGINT) AS i,
        |    CAST(coalesce(sum(capu) OVER (ORDER BY capu, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum,
        |    CAST(count(*) OVER () AS BIGINT) AS l
        |  FROM cap),
        |fl AS (SELECT st.*,
        |    capu * (l - i + 1) <= b.budget * 1000000 - cum AS capped,
        |    b.budget AS budget
        |  FROM st, b),
        |kk AS (SELECT fl.*,
        |    CAST(coalesce(max(CASE WHEN capped THEN i END) OVER (), 0)
        |      AS BIGINT) AS k,
        |    CAST(coalesce(max(CASE WHEN capped THEN cum + capu END)
        |      OVER (), 0) AS BIGINT) AS cumk
        |  FROM fl),
        |z AS (SELECT kk.*,
        |    CAST(budget * 1000000 - cumk AS DOUBLE) / 1e6
        |      / CAST(l - k AS DOUBLE) AS share
        |  FROM kk)
        |SELECT lang, n,
        |  round(CAST(capu AS DOUBLE) / 1e6, 6) AS capacity,
        |  round(CASE WHEN capped THEN CAST(capu AS DOUBLE) / 1e6
        |        ELSE share END, 6) AS allocated,
        |  round((CASE WHEN capped THEN CAST(capu AS DOUBLE) / 1e6
        |         ELSE share END) / CAST(n AS DOUBLE), 6) AS epochs,
        |  capped
        |FROM z""".stripMargin,

    // token census -> count-of-counts; the two estimator divisions last
    "q273_vocab_coverage" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |census AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n
        |           FROM tok GROUP BY 1, 2),
        |agg AS (SELECT source,
        |          CAST(sum(n) AS BIGINT) AS n_tokens,
        |          CAST(count(*) AS BIGINT) AS vocab,
        |          CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS hapax,
        |          CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS doubletons
        |        FROM census GROUP BY 1)
        |SELECT source, n_tokens, vocab, hapax, doubletons,
        |  round(CAST(hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS p_unseen,
        |  CASE WHEN doubletons > 0 THEN
        |    round(CAST(vocab AS DOUBLE) + CAST(hapax * hapax AS DOUBLE)
        |      / (2.0 * CAST(doubletons AS DOUBLE)), 6) END AS chao1
        |FROM agg""".stripMargin,

    // exact integer rank k = ((n+1)*(1e6-alpha_micro)+999999) div 1e6,
    // rank-k score per group; NULL when k > n
    "q274_conformal" -> conformalOracleSql,
    // the persisted-census route is bit-identical to the raw recalibration
    "q280_conformal_store" -> conformalOracleSql,

    // narrow per-doc map: lowercased-token blocklist hits + integer
    // percentage threshold
    "q275_blocklist" ->
      """WITH b AS (SELECT doc_id,
        |    string_split(text, ' ') AS toks,
        |    list_filter(list_transform(string_split(text, ' '),
        |      t -> lower(t)),
        |      t -> list_contains(['data', 'der', 'el', 'la', 'the'], t))
        |      AS blocked
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(blocked) AS BIGINT) AS n_blocked,
        |  CAST(len(list_distinct(blocked)) AS BIGINT) AS n_distinct_blocked,
        |  len(blocked) * 100 <= 8 * len(toks) AS keep
        |FROM b""".stripMargin
  )
}
