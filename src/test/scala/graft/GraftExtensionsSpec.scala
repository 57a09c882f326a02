package graft

import graft.sources.TxLog
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the session extensions: the `graft_table` /
  * `graft_table_at` / `graft_table_changes` table-valued functions over the
  * transaction-log format. The TVFs splice analyzed TxLog plans in during
  * resolution, so everything the programmatic readers guarantee (snapshot
  * isolation, DV application, manifest pruning) must hold verbatim through
  * SQL — and, critically for the 100 TB posture, Catalyst must still push
  * filters and prune columns into the underlying parquet scan.
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-tvf").toString
    val p = root + "/t"
    val base = spark.range(0, 200).select(
      col("id").as("k"), (col("id") * 10).cast("double").as("price"),
      (col("id") % 4).as("b"))
    TxLog.append(base.filter(col("k") % 2 === 0), p, "b") // v0
    TxLog.append(base.filter(col("k") % 2 === 1), p, "b") // v1
    // k ≡ 4 (mod 10) is always even — the DV masks v0-era files only
    TxLog.deleteWhere(spark, p, "k % 10 = 4")             // v2 (DV commit)
    p
  }

  test("graft_table reads the current snapshot with deletion vectors applied") {
    GraftExtensions.register(spark)
    val p = freshTable()
    val viaSql = spark.sql(s"SELECT k FROM graft_table('$p')")
      .as[Long].collect().sorted
    val viaApi = TxLog.read(spark, p).select("k").as[Long].collect().sorted
    assert(viaSql.sameElements(viaApi))
    assert(viaSql.length == 180) // 200 minus the 20 k%10=4 rows
    assert(!viaSql.contains(14L))
  }

  test("graft_table version pin and graft_table_at timestamp pin agree") {
    GraftExtensions.register(spark)
    val p = freshTable()
    val v1 = spark.sql(s"SELECT count(*) AS n FROM graft_table('$p', 1)")
      .as[Long].head()
    assert(v1 == 200) // pre-delete
    val t1 = TxLog.history(spark, p).find(_._1 == 1L).get._2
    val byTs = spark.sql(s"SELECT count(*) AS n FROM graft_table_at('$p', $t1)")
      .as[Long].head()
    assert(byTs == v1)
  }

  test("graft_table_changes matches the programmatic row CDF") {
    GraftExtensions.register(spark)
    val p = freshTable()
    val viaSql = spark.sql(
      s"SELECT change, k FROM graft_table_changes('$p', 0)")
    val viaApi = TxLog.rowChanges(spark, p, fromVersion = 0L)
      .select(col("change"), col("k"))
    assertSameRows(viaSql, viaApi)
    // the v0→v2 span: the v1 append inserts all 100 odd rows (none are
    // ≡4 mod 10, so none cancel), the DV masks the 20 even k%10=4 rows
    val tags = viaSql.groupBy("change").count().as[(String, Long)]
      .collect().toMap
    assert(tags("insert") == 100)
    assert(tags("delete") == 20)
    val deleted = viaSql.filter(col("change") === "delete")
      .select("k").as[Long].collect().sorted
    assert(deleted.forall(k => k % 10 == 4 && k % 2 == 0))
  }

  test("filters and column pruning reach the parquet scan through the TVF") {
    GraftExtensions.register(spark)
    val p = freshTable()
    val df = spark.sql(s"SELECT k FROM graft_table('$p') WHERE k < 50")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(k,50)"),
      s"filter not pushed through the TVF:\n$plan")
    // price is neither selected nor filtered on — it must not be read
    assert(!plan.contains("price"), s"column pruning lost through the TVF:\n$plan")
  }

  test("graft_table_key: manifest-pruned point read — fewer files, same rows") {
    GraftExtensions.register(spark)
    val p = freshTable()
    val full = spark.sql(s"SELECT k FROM graft_table('$p')")
    val keyed = spark.sql(s"SELECT k FROM graft_table_key('$p', 'b', 2)")
    // count DATA files only (inputFiles also lists the DV sidecar scan):
    // b = k%4 = 2 ⇒ only the even append's b=2 partition dir is read
    def dataFiles(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.filterNot(_.contains("/dv-"))
    assert(dataFiles(keyed).length < dataFiles(full).length,
      s"${dataFiles(keyed).length} vs ${dataFiles(full).length} files")
    assert(dataFiles(keyed).forall(_.contains("__b=2/")),
      dataFiles(keyed).mkString("\n"))
    val got = keyed.as[Long].collect().sorted
    val want = full.filter("k % 4 = 2").as[Long].collect().sorted
    assert(got.sameElements(want))
    assert(got.forall(k => k % 10 != 4)) // the DV still applies
  }

  test("graft_table_key: an absent value returns no rows, not an error") {
    GraftExtensions.register(spark)
    val p = freshTable()
    assert(spark.sql(s"SELECT k FROM graft_table_key('$p', 'b', 7)").collect().isEmpty)
  }

  test("graft_table_range: stats-skipped range read — fewer files, exact rows") {
    GraftExtensions.register(spark)
    // range-correlated layout: two era-partitioned appends with k stats
    val root = java.nio.file.Files.createTempDirectory("graft-tvf-range").toString
    val p = root + "/t"
    val base = spark.range(0, 200).select(
      col("id").as("k"), (col("id") / 50).cast("long").as("era"))
    graft.sources.TxLog.append(base.filter(col("k") < 100), p, "era",
      statsCols = Seq("k"))
    graft.sources.TxLog.append(base.filter(col("k") >= 100), p, "era",
      statsCols = Seq("k"))
    val full = spark.sql(s"SELECT k FROM graft_table('$p')")
    val ranged = spark.sql(s"SELECT k FROM graft_table_range('$p', 'k', 60, 110)")
    assert(ranged.inputFiles.length < full.inputFiles.length,
      s"${ranged.inputFiles.length} vs ${full.inputFiles.length} files")
    val got = ranged.as[Long].collect().sorted.toSeq
    assert(got == (60L to 110L)) // inclusive bounds
  }

  test("wrong arity raises the SQL error class, not a bare exception") {
    GraftExtensions.register(spark)
    val e = intercept[AnalysisException] {
      spark.sql("SELECT * FROM graft_table()").collect()
    }
    assert(e.getMessage.contains("graft_table"))
  }

  test("operator TVFs: the SQL route equals the DataFrame route row for row") {
    GraftExtensions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    docs.createOrReplaceTempView("tvf_docs")
    emb.createOrReplaceTempView("tvf_emb")

    val sqlPairs = spark.sql(
      "SELECT a_id, b_id, jaccard FROM graft_minhash_pairs(" +
        "'tvf_docs', 'doc_id', 'text', 3, 16, 8, 0.8)")
    val dfPairs = graft.operators.TextDedup.minhashNearDupes(
      docs, "doc_id", "text", 3, 16, 8, 0.8)
    assertSameRows(sqlPairs, dfPairs)

    val sqlKnn = spark.sql(
      "SELECT vec_id, cos_sim FROM graft_knn('tvf_emb', 'vec_id', 'embedding', 0, 10)")
    val dfKnn = graft.operators.Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", 0L, 10)
    assertSameRows(sqlKnn, dfKnn)

    val sqlBm25 = spark.sql(
      "SELECT doc_id, bm25 FROM graft_bm25_topk(" +
        "'tvf_docs', 'doc_id', 'text', 'join hash scan', 10)")
    val p = graft.operators.InvertedIndex.postings(docs, "doc_id", "text")
    val dfBm25 = graft.operators.InvertedIndex
      .bm25Search(p, Seq("join", "hash", "scan"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
    assertSameRows(sqlBm25, dfBm25)

    // an empty query string is an analysis error, not an empty scan
    val e = intercept[AnalysisException] {
      spark.sql("SELECT * FROM graft_bm25_topk(" +
        "'tvf_docs', 'doc_id', 'text', '  ', 10)").collect()
    }
    assert(e.getMessage.contains("graft_bm25_topk"))

    val sqlSpans = spark.sql(
      "SELECT id, span_start, span_end, span_tokens, n_windows " +
        "FROM graft_dup_spans('tvf_docs', 'doc_id', 'text', 30)")
    val dfSpans = graft.operators.TextDedup.exactSubstringSpans(
      docs, "doc_id", "text", minTokens = 30)
    assertSameRows(sqlSpans, dfSpans)

    docs.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("tvf_raw")
    docs.filter(col("doc_id") % 2 === 1).createOrReplaceTempView("tvf_tgt")
    val sqlDsir = spark.sql(
      "SELECT doc_id, n_bigrams, llr_micro, key_micro FROM " +
        "graft_dsir_select('tvf_raw', 'tvf_tgt', 'doc_id', 'text', 256, 20)")
    val dfDsir = graft.operators.LanguageModel.dsirSelect(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 256, 20)
    assertSameRows(sqlDsir, dfDsir)

    // line-level dedup: restructure into newline-delimited lines first
    // (the corpus carries none), then both routes over the lined view
    val lined = docs.select(col("doc_id"),
      regexp_replace(col("text"), " ", "\n").as("text"))
    lined.createOrReplaceTempView("tvf_lined")
    val sqlLines = spark.sql(
      "SELECT id, n_lines, n_kept, clean_text " +
        "FROM graft_drop_dup_lines('tvf_lined', 'doc_id', 'text', 2)")
    val dfLines = graft.operators.TextDedup.dropDuplicatedLines(
      lined, "doc_id", "text", 2)
    assertSameRows(sqlLines, dfLines)

    // language id: profiles trained on the even-id half via the catalog,
    // every doc classified — both routes, same trained parameters
    docs.filter(col("doc_id") % 2 === 0)
      .createOrReplaceTempView("tvf_labeled")
    val sqlLang = spark.sql(
      "SELECT doc_id, predicted_lang, score FROM graft_langid(" +
        "'tvf_labeled', 'tvf_docs', 'lang', 'text', 'doc_id', 4096)")
    val profiles = graft.operators.LangId.trigramProfiles(
      docs.filter(col("doc_id") % 2 === 0), "lang", "text")
    val dfLang = graft.operators.LangId.classify(
      docs, "doc_id", "text", profiles)
    assertSameRows(sqlLang, dfLang)

    // per-group ROC-AUC: the eval-family TVF, same analyzed plan spliced
    val scored = docs.select(col("source"),
      (col("lang") === "en").as("is_en"), col("n_chars"))
    scored.createOrReplaceTempView("tvf_scored")
    val sqlAuc = spark.sql(
      "SELECT source, n_pos, n_neg, n_scores, auc FROM " +
        "graft_roc_auc('tvf_scored', 'source', 'is_en', 'n_chars')")
    val dfAuc = graft.operators.Evaluation.rocAuc(
      scored, "source", "is_en", "n_chars")
    assertSameRows(sqlAuc, dfAuc)
  }
}
