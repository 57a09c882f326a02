package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Language identification — CCNet stage 1 (Wenzek et al. 2020, "CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data",
  * §3: the pipeline identifies each document's language BEFORE line-level
  * dedup and perplexity bucketing; their classifier is fastText over
  * character n-grams). This is the same statistical shape — a hashed
  * CHARACTER-TRIGRAM profile classifier (Cavnar & Trenkle 1994 n-gram
  * profiles, linear frequency scoring) — built deterministically from the
  * corpus's own labeled documents, no external model files:
  *
  *   1. PROFILE (train): trigrams of the lower-cased text, hashed into a
  *      fixed bucket space (first-7-hex-of-md5 — the engine-portable
  *      integer hash the MinHash oracle proved), counted per language and
  *      scaled to integer per-million frequencies (`cnt·10⁶ DIV total` —
  *      exact integer arithmetic, no float normalization).
  *   2. SCORE (classify): each document's trigram-bucket counts dot the
  *      per-language frequency profiles — Σ count(doc,b) · freq(lang,b),
  *      a pure BIGINT sum, so scores compare exactly on every engine.
  *   3. ARGMAX: highest score wins, ties to the lexicographically smaller
  *      language code; documents without trigrams predict `und`.
  *
  * Scale shape: the profile table is BOUNDED BY CONSTRUCTION (languages ×
  * `buckets` rows, independent of corpus size) and broadcasts; the corpus
  * side is one trigram explode → per-(doc, bucket) count (map-side
  * combined) → broadcast equi-join → per-(doc, lang) sum; the argmax is a
  * window over ≤ n_languages rows per document, co-partitioned with the
  * scoring shuffle. Nothing is ever all-pairs and the only corpus-sized
  * shuffles are keyed by doc id.
  */
object LangId {

  /** Per-language hashed-trigram integer frequency profiles from labeled
    * documents: (lang, bucket, freq_ppm) with freq_ppm = cnt·10⁶ DIV
    * total(lang). Bounded: ≤ languages × buckets rows.
    */
  def trigramProfiles(labeled: DataFrame, langCol: String, textCol: String,
                      buckets: Int = 4096): DataFrame =
    profilesFromCounts(trigramCounts(labeled, langCol, textCol, buckets))

  /** Raw per-(lang, bucket) trigram COUNTS — the mergeable sufficient
    * statistic [[trigramProfiles]] normalizes: counts from disjoint labeled
    * corpora SUM to the counts of their union (exact BIGINT arithmetic),
    * which is what lets [[graft.sources.LangIdStore]] persist the census
    * append-only and refresh it incrementally without retouching old rows.
    * Bounded: ≤ languages × buckets rows regardless of corpus size.
    */
  def trigramCounts(labeled: DataFrame, langCol: String, textCol: String,
                    buckets: Int = 4096): DataFrame =
    trigramBuckets(labeled.select(col(langCol).as("lang"),
        col(textCol).as("__t")), buckets)
      .groupBy("lang", "__bk").agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("__bk").as("bucket"), col("cnt"))

  /** Normalize (lang, bucket, cnt) counts into the integer per-million
    * profiles [[classify]] consumes. Split from [[trigramCounts]] so a
    * persisted census re-derives BIT-IDENTICAL profiles: integer sums are
    * order-independent and `cnt·10⁶ DIV total` is exact.
    */
  def profilesFromCounts(counts: DataFrame): DataFrame =
    counts
      .withColumn("__tot", sum("cnt").over(Window.partitionBy("lang")))
      .select(col("lang"), col("bucket"),
        expr("cnt * 1000000L DIV __tot").as("freq_ppm"))

  /** Classify every document against [[trigramProfiles]]: returns
    * (idCol, predicted_lang, score) with score the exact integer dot
    * product of the winning language. `profiles` broadcasts.
    */
  def classify(docs: DataFrame, idCol: String, textCol: String,
               profiles: DataFrame, buckets: Int = 4096): DataFrame = {
    val docCounts = trigramBuckets(docs.select(col(idCol).as("__id"),
        col(textCol).as("__t")), buckets)
      .groupBy("__id", "__bk").agg(count(lit(1)).as("__dc"))
    val scores = docCounts
      .join(broadcast(profiles), docCounts("__bk") === profiles("bucket"))
      .groupBy(col("__id"), col("lang"))
      .agg(sum(col("__dc") * col("freq_ppm")).as("__s"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__s").desc, col("lang").asc)))
      .filter(col("__rn") === 1)
    docs.select(col(idCol))
      .join(scores, docs(idCol) === scores("__id"), "left")
      .select(docs(idCol),
        coalesce(col("lang"), lit("und")).as("predicted_lang"),
        coalesce(col("__s"), lit(0L)).as("score"))
  }

  /** Lower-cased character trigrams, hashed into `buckets` slots. Carries
    * every non-`__t` column of `in` through the explode. The per-character
    * explode is CPU-bound and NARROW — a low-parallelism input (the
    * single-file harness parquet) is spread first ([[Parallelism.spread]]).
    */
  private def trigramBuckets(in0: DataFrame, buckets: Int): DataFrame = {
    val in = Parallelism.spread(in0)
    // lower-case ONCE into an attribute before the per-gram lambda: a
    // higher-order function re-evaluates its lambda body per element with
    // no loop-invariant hoisting, so `substring(lower(__t), i, 3)` inside
    // the transform re-lowercased the WHOLE document for every trigram —
    // O(len²) per doc. Binding `lower(__t)` to `__lt` makes each element a
    // plain substring over a row attribute (CollapseProject keeps the
    // multi-referenced non-cheap alias un-inlined).
    in.withColumn("__lt", lower(col("__t")))
      .select(in.columns.filter(_ != "__t").map(col) :+
        explode(expr(
          """CASE WHEN length(__lt) >= 3
            |THEN transform(sequence(1, length(__lt) - 2),
            |               i -> substring(__lt, i, 3))
            |ELSE array() END""".stripMargin)).as("__g"): _*)
      .withColumn("__bk",
        conv(substring(md5(col("__g")), 1, 7), 16, 10).cast("long")
          % buckets)
  }
}
