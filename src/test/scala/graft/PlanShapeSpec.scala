package graft

import graft.operators.{Curation, Similarity, TextDedup}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the scale properties PLANS.md claims
  * (scan-side pushdown, pruned read schemas, map-side top-k, broadcast
  * joins, partial aggregation) asserted against the ACTUAL plan text, so a
  * refactor that silently turns a pruned scan into a full scan — invisible
  * to every row-equality test — fails here instead of at 100 TB.
  *
  * Executed-plan strings are taken AFTER an action for AQE queries (the
  * final adaptive plan is only materialized then).
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Formatted explain text without executing. */
  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Final adaptive plan text, after running the query to let AQE settle. */
  private def executedPlanOf(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  test("q02: every filter reaches the parquet scan; read schema is pruned") {
    val plan = planOf(SparkEntry.queries("q02_key_filter")(spark, dir))
    assert(plan.contains("PushedFilters:"), plan)
    Seq("IsNotNull(o_orderkey)", "In(o_orderstatus", "GreaterThanOrEqual(o_orderdate",
        "Not(EqualTo(o_orderkey,42))").foreach { f =>
      assert(plan.contains(f), s"missing pushed filter $f\n$plan")
    }
    // projection pruning: the scan must NOT read o_comment/o_clerk
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_clerk"), readSchema)
  }

  test("q27 brute-force top-k: TakeOrderedAndProject, never a global Sort") {
    val plan = planOf(SparkEntry.queries("q27_cosine_topk")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q60 corpus top-k n-grams: TakeOrderedAndProject + partial aggregation") {
    val plan = planOf(SparkEntry.queries("q60_ngram_topk")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // two-stage aggregate: a partial HashAggregate must appear below the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("stratified sample: rank filter compiles to map-side WindowGroupLimit") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(Curation.stratifiedSample(docs, "lang", "doc_id", 5))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q11 backjoin: AQE settles on a broadcast join, not a shuffle join") {
    val plan = executedPlanOf(SparkEntry.queries("q11_backjoin")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q09 as-of join: rank pushed below the exchange as WindowGroupLimit") {
    val plan = planOf(SparkEntry.queries("q09_asof_join")(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q58 unigram LM: vocab totals are broadcast, no shuffle of the corpus side") {
    val plan = executedPlanOf(SparkEntry.queries("q58_unigram_logprob")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("wordShingles: an already-parallel input is NOT repartitioned (corpus never shuffles)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType)))
    val rows = (1 to 64).map(i => Row(s"d$i", "a b c d e f g h"))
    val parallelism = spark.sparkContext.defaultParallelism
    // input with >= defaultParallelism partitions: must pass through untouched
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(rows, parallelism * 2), schema)
    val widePlan = planOf(TextDedup.wordShingles(wide, "doc_id", "text", 3))
    assert(!widePlan.contains("REPARTITION"), widePlan)
    // single-partition input (the harness single-file shape): spread it out
    val narrow = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val narrowPlan = planOf(TextDedup.wordShingles(narrow, "doc_id", "text", 3))
    assert(narrowPlan.contains("REPARTITION"), narrowPlan)
  }

  test("semantic dedup: the within-cluster self-join keys on the cluster id") {
    val emb = Tables.load(spark, dir, "embeddings")
    val plan = planOf(Similarity.semanticDedupPairs(emb, "vec_id", "embedding",
      nClusters = 4, minSim = 0.45, iters = 1))
    // equi-join on cluster (hash or sort-merge both acceptable; what must
    // NOT appear is a cartesian of the corpus)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF+SQ8: shortlist and final top-k are TakeOrderedAndProject, no cartesian") {
    val emb = Tables.load(spark, dir, "embeddings")
    val plan = planOf(graft.operators.Similarity.ivfSq8TopK(
      emb, "vec_id", "embedding", queryId = 0L, k = 10,
      nClusters = 4, nProbe = 2, rerank = 20, iters = 1))
    // both orderBy+limit stages must compile to per-partition top-k + driver
    // merge, never a global Sort; the query-vector crossJoin must broadcast
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    spark.catalog.clearCache()
  }

  test("IVF+PQ: ADC is a narrow map — no join feeds the shortlist top-k") {
    val df = graft.operators.Similarity.ivfPqTopK(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nClusters = 4, nProbe = 2, m = 4, subDim = 16,
      ksub = 4, rerank = 20, coarseIters = 1, pqIters = 1)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the SQ8 shortlist joins an exploded code table; PQ's selling point is
    // that encode + table lookup stay in the scan's own project — the
    // subtree under the adc_dist top-k must contain NO join of any kind
    val sp = df.queryExecution.sparkPlan
    val shortlist = sp.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
        if t.sortOrder.mkString(",").contains("adc_dist") => t
    }
    assert(shortlist.isDefined, sp.toString)
    val joinsBelow = shortlist.get.collect {
      case j if j.nodeName.toLowerCase.contains("join") => j
    }
    assert(joinsBelow.isEmpty, shortlist.get.toString)
    spark.catalog.clearCache()
  }

  test("q115 filtered ANN: metadata predicate pushed into the scan; top-k never sorts") {
    val plan = planOf(SparkEntry.queries("q115_filtered_ann")(spark, dir))
    // the label filter must reach parquet (row-group skipping at scale),
    // not run post-scan over the whole corpus
    assert(plan.contains("EqualTo(label,3)"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q116 kNN join: candidates from a cluster-id equi-join; rank is map-side WindowGroupLimit") {
    val plan = planOf(SparkEntry.queries("q116_knn_join")(spark, dir))
    // per-query top-k pushes below the exchange — only each partition's
    // top-k candidate rows cross the wire
    assert(plan.contains("WindowGroupLimit"), plan)
    // candidate generation is the __c equi-join, never a nested loop over
    // queries × corpus
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    spark.catalog.clearCache()
  }

  test("binned range join: equi-join on the bin id, never a nested-loop plan") {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), (col("l_orderkey") * 3).cast("long").as("pt"))
    val iv = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("iv_id"),
        (col("o_orderkey") * 3).cast("long").as("lo"),
        (col("o_orderkey") * 3 + 400).cast("long").as("hi"))
    val plan = planOf(graft.operators.RangeJoin.binnedRangeJoin(
      li, iv, "pt", "lo", "hi", binWidth = 256))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the naive BETWEEN formulation IS the nested loop — guard the contrast
    val naive = planOf(li.join(iv,
      col("pt") >= col("lo") && col("pt") <= col("hi")))
    assert(naive.contains("BroadcastNestedLoopJoin") ||
      naive.contains("CartesianProduct"), naive)
  }

  test("dynamic partition pruning: a dim filter prunes the fact's partition scan") {
    // hive-style partitioned fact: the layout a 100 TB table actually has
    val base = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val factDir = s"$base/fact"; val dimDir = s"$base/dim"
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.partitionBy("l_returnflag").parquet(factDir)
    Seq(("N", "keep"), ("A", "drop"), ("R", "drop")).toDF("flag", "tag")
      .write.parquet(dimDir)
    val q = spark.read.parquet(factDir)
      .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"),
        col("l_returnflag") === col("flag"))
      .groupBy("tag").agg(sum("l_quantity").as("qty"))
    // the runtime filter on the partition column must reach the scan: at
    // scale this is the difference between reading 1/3 and 3/3 of the fact
    val plan = planOf(q)
    assert(plan.contains("dynamicpruning"), plan)
    q.write.format("noop").mode("overwrite").save() // and it executes
    // the declared q132 carries the same runtime filter
    val declared = planOf(SparkEntry.queries("q132_dpp")(spark, dir))
    assert(declared.contains("dynamicpruning"), declared)
  }

  test("AQE skew join: a skewed key is split at runtime (skew=true in the final plan)") {
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k rows on ONE key vs a spread right side: the canonical hot key
      val left = spark.range(200000).select(lit(1L).as("k"), col("id").as("v"))
        .unionAll(spark.range(1000).select((col("id") + 2).as("k"), col("id").as("v")))
      val right = spark.range(2000).select(col("id").as("k"), col("id").as("w"))
      // global count: its partial aggregate accepts any partitioning, so
      // the skew split isn't vetoed for breaking a downstream distribution
      val j = left.join(right, "k").agg(count(lit(1)).as("n"))
      // drive THIS QueryExecution so its adaptive plan finalizes (a write
      // action clones the plan into a fresh execution and would not)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q122 bucketed join: SMJ with zero exchanges; key filter prunes to one bucket") {
    // building the query writes both bucketed tables as a side effect
    // (once per JVM through the fixture memo; names carry the dir suffix)
    SparkEntry.queries("q122_bucketed_join")(spark, dir)
    val sfx = graft.sources.Bucketed.dirSuffix(dir)
    val join = planOf(graft.sources.Bucketed.colocatedJoin(spark,
      s"graft_b_orders_$sfx", s"graft_b_lineitem_$sfx",
      "o_orderkey", "l_orderkey"))
    assert(join.contains("SortMergeJoin"), join)
    // the whole point: both scans already satisfy the join's distribution
    assert(!join.contains("Exchange"), join)
    // the full query adds exactly ONE exchange — the 5-group aggregate's
    // (executed adaptive plan: each node printed once)
    val full = executedPlanOf(SparkEntry.queries("q122_bucketed_join")(spark, dir))
    assert("Exchange".r.findAllIn(full).size == 1, full)
    // an equality filter on the bucket key reads one bucket's files
    // (auto-bucketed-scan would turn the bucketed read off for a plain
    // filter query — pin it on to show the pruning it would otherwise skip)
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(auto, "false")
    try {
      val pruned = planOf(spark.table(s"graft_b_orders_$sfx")
        .filter(col("o_orderkey") === 42L))
      assert(pruned.contains("SelectedBucketsCount: 1 out of 8"), pruned)
    } finally spark.conf.set(auto, "true")
  }

  test("q142 NOT IN: planned as a NULL-AWARE anti join, not a plain left-anti") {
    val plan = executedPlanOf(SparkEntry.queries("q142_not_in")(spark, dir))
    // ANSI NOT IN must keep the null-aware flag — a plain LeftAnti would
    // silently change semantics the moment the subquery admits a NULL.
    // BroadcastHashJoinExec prints the flag positionally: "LeftAnti,
    // BuildRight, true" (a plain anti join prints no trailing flag).
    assert(plan.contains("LeftAnti, BuildRight, true"), plan)
  }

  test("q156 EXISTS: planned as a LEFT SEMI join, never per-row subqueries") {
    val plan = executedPlanOf(SparkEntry.queries("q156_exists")(spark, dir))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q157 scalar subquery: the aggregate runs once as a subquery, not per row") {
    val df = SparkEntry.queries("q157_scalar_subquery")(spark, dir)
    val plan = planOf(df)
    // the predicate references a Subquery result (scalar-subquery literal
    // broadcast); the outer join surface stays a plain aggregate over a scan
    assert(plan.contains("Subquery"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("runtime bloom-filter join pushdown: a selective dim filters the fact scan") {
    // thresholds sized for the fixture (defaults target 10 GB scans); the
    // capability under guard is InjectRuntimeFilter rewriting the fact side
    // to bloom_filter_might_contain(dim keys) — Spark's runtime semi-join
    // reduction, the shuffle-side row cut the 100 TB posture leans on when
    // partition pruning can't apply
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables.load(spark, dir, "lineitem")
      val dim = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
      val plan = planOf(joined)
      // creation side: bloom_filter_agg over the dim keys; application
      // side: a might_contain filter ahead of the fact's join input
      assert(plan.contains("bloom_filter_agg"), plan)
      assert(plan.contains("might_contain"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q180 domain cap: rank filter compiles to map-side WindowGroupLimit") {
    val plan = planOf(SparkEntry.queries("q180_domain_cap")(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q201 batched MIPS: bucket equi-join (no cartesian), rank is WindowGroupLimit") {
    val plan = planOf(SparkEntry.queries("q201_mips_batch")(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan)
    // the candidate join must be a HASH join on the bucket signature; the
    // plan's only nested loops are the 1-row gmin/gmax stat broadcasts of
    // the norm-ranged construction (bounded by construction)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q174 full outer: SortMergeJoin FullOuter, no broadcast nested loop") {
    val plan = planOf(SparkEntry.queries("q174_full_outer")(spark, dir))
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q183 aggregate pushdown: MIN/MAX/COUNT answered from parquet footers") {
    val plan = planOf(SparkEntry.queries("q183_agg_pushdown")(spark, dir))
    assert(plan.contains("PushedAggregation"), plan)
    assert(plan.contains("COUNT(*)") || plan.contains("MIN(l_orderkey)"), plan)
  }

  test("q127 pooling: no higher-order lambda tree inlined into a Filter") {
    // Regression guard for the round-5 find: a non-outer explode above the
    // meanPool/normalize HOF chain triggers InferFiltersFromGenerate, whose
    // size(x)>0 predicate pushes below the projections and inlines the whole
    // interpreted lambda tree into a per-row Filter (measured 9-14 s on 2k
    // rows). The declared query explodes OUTER, so no Filter node in the
    // plan may carry an `aggregate(zip_with` fold.
    val plan = planOf(SparkEntry.queries("q127_embedding_pool")(spark, dir))
    // formatted explain prints every Filter as a "Condition : <expr>" line
    val badFilter = plan.linesIterator.exists(l =>
      l.contains("Condition") && l.contains("aggregate(zip_with"))
    assert(!badFilter,
      s"a Filter condition carries the pooling lambda tree:\n$plan")
    assert(plan.toLowerCase.contains("posexplode"), plan)
  }

  test("q187 target encoding: stats broadcast back, the fact never exchange-shuffles for the joins") {
    val plan = executedPlanOf(SparkEntry.queries("q187_target_encode")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"stats join fell to SMJ:\n$plan")
  }

  test("q194 retrieval join: per-query rank bounded map-side by WindowGroupLimit") {
    val plan = executedPlanOf(SparkEntry.queries("q194_retrieval_features")(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q191 k-anonymity: the risky-class suppression join broadcasts") {
    val plan = executedPlanOf(SparkEntry.queries("q191_k_anonymity")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q195 funnel DP: one aggregate lambda, no self-join in the plan") {
    val plan = planOf(SparkEntry.queries("q195_funnel_match")(spark, dir))
    assert(!plan.contains("Join"), s"the funnel must not plan a join:\n$plan")
    assert(plan.contains("aggregate("), plan)
  }

  test("q215 normalization: one shuffle-free map over the scan") {
    val plan = executedPlanOf(SparkEntry.queries("q215_normalize_text")(spark, dir))
    assert(!plan.contains("Exchange"),
      s"a pure row-local normalization must not shuffle:\n$plan")
    assert(plan.contains("normalizetext") || plan.contains("NormalizeText"),
      plan)
  }

  test("q216 BPE encode: the word dictionary joins back as a broadcast, never SMJ") {
    val plan = executedPlanOf(SparkEntry.queries("q216_bpe_encode")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"the vocabulary-sized dictionary fell to a corpus shuffle:\n$plan")
  }

  test("q217 l-diversity: the risky-class suppression join broadcasts") {
    val plan = executedPlanOf(SparkEntry.queries("q217_l_diversity")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q221 RBO: two top-k-bounded legs, rank windows map-side (WindowGroupLimit)") {
    val plan = executedPlanOf(SparkEntry.queries("q221_rbo_ann_vs_exact")(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q235 exact-substring spans: AQE promotes the small census to a broadcast semi, one per-doc sort feeds both windows") {
    val plan = executedPlanOf(
      SparkEntry.queries("q235_exact_substring_spans")(spark, dir))
    // the census join carries NO hint: at this scale the runtime census is
    // tiny, so AQE must promote it to a broadcast semi. The complementary
    // guard (census ABOVE the threshold stays a shuffle semi-join) is the
    // high-duplication test below.
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // both gaps-and-islands windows share ONE per-doc sort: exactly one
    // Sort node between the semi join and the final aggregate
    val sorts = plan.linesIterator.count(l =>
      l.contains("Sort ") && !l.contains("SortAggregate"))
    assert(sorts == 1, s"expected exactly 1 per-doc sort, got $sorts\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("exact-substring census above the broadcast threshold: shuffle semi-join, no forced broadcast") {
    // A corpus-duplication-proportional census must NOT be force-broadcast:
    // on a high-duplication crawl the count>1 gram set is corpus-scale.
    // Simulate "census above the threshold" by disabling auto-broadcast on
    // a fixture where EVERY document is one of two heavily-repeated
    // templates (worst-case duplication: the census ≈ the gram set). With
    // a forced broadcast(dup) hint this plan would show BroadcastHashJoin
    // regardless of the threshold — asserting a shuffle semi-join here
    // proves the join decision belongs to AQE's runtime size estimate.
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val tpl = (0 until 60).map(i => s"tok$i").mkString(" ")
      val docs = spark.range(400).select(
        col("id").cast("string").as("doc_id"),
        when(col("id") % 2 === 0, lit(tpl))
          .otherwise(lit(tpl.toUpperCase)).as("text"))
      val spans = TextDedup.exactSubstringSpans(docs, "doc_id", "text", 50)
      spans.write.format("noop").mode("overwrite").save()
      val plan = spans.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), plan)
      assert(!plan.contains("BroadcastHashJoin"),
        s"census was broadcast despite the threshold — a forced hint is back:\n$plan")
      // every templated doc is fully duplicated: one corpus-wide span each
      assert(spans.count() == 400L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q249 dashboard: date range prunes fact partitions via DPP; driver cut pushed to parquet") {
    val plan = planOf(SparkEntry.queries("q249_dashboard_kpis")(spark, dir))
    // the dashboard's date filter must arrive at the partitioned laps mart
    // as a runtime partition-pruning expression, not a post-scan filter
    assert(plan.contains("dynamicpruning"), plan)
    // and the driver cut reaches the parquet reader
    assert(plan.contains("LessThanOrEqual(driver_number,50)"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q243 DSIR: bucket count tables broadcast; selection is TakeOrdered, never a global sort") {
    val plan = executedPlanOf(SparkEntry.queries("q243_dsir_select")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q275 blocklist: a pure narrow map — zero exchanges, zero joins") {
    val plan = planOf(SparkEntry.queries("q275_blocklist")(spark, dir))
    assert(!plan.contains("Exchange"),
      s"blocklist filter shuffled — the array-literal contract broke:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("q270 corpus BLEU: the gram stream never shuffles; only the global sum's single-partition exchange") {
    val plan = executedPlanOf(SparkEntry.queries("q270_corpus_bleu")(spark, dir))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("SinglePartition")),
      s"a keyed exchange came back — grams left their row:\n$plan")
    assert(!plan.contains("hashpartitioning") && !plan.contains("Join"), plan)
  }

  test("q269 URL dedup: all normalization at the scan side, keyed exchanges only, no join") {
    val plan = planOf(SparkEntry.queries("q269_url_dedup")(spark, dir))
    // two keyed exchanges: the canonical-key dedup + the second phase the
    // count(DISTINCT url) rewrite adds — both on the canonical key, with
    // map-side partial aggregation below each; never a corpus-wide join
    val exchanges = plan.linesIterator.count(_.contains("- Exchange"))
    assert(exchanges == 2,
      s"expected the dedup + distinct-rewrite exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate"), plan)
    // normalization is projected at the scan, not recomputed post-shuffle
    assert(plan.contains("PushedFilters") || plan.contains("ReadSchema"), plan)
  }

  test("q266 ROC-AUC: the window runs over the distinct-score census, not the corpus") {
    val df = SparkEntry.queries("q266_roc_auc")(spark, dir)
    val plan = planOf(df)
    // census first (partial_count before the window), window after
    val lines = plan.linesIterator.toSeq
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(aggIdx >= 0 && winIdx >= 0, plan)
    // formatted explain lists operators leaves-first: the census aggregate
    // must appear BEFORE the window consumes it
    assert(aggIdx < winIdx,
      s"window not fed by the census aggregate (agg@$aggIdx, window@$winIdx):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q276 preference store: the returned leaderboard is a LOCAL relation; the census probe is one keyed aggregate over the store") {
    // the MM fit is eager by contract (census collected under the bounded-
    // items guard), so the returned frame must be a pure local relation —
    // any Exchange/Scan here would mean the fit deferred corpus work
    val df = SparkEntry.queries("q276_preference_store")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Scan parquet"),
      s"leaderboard plan re-reads or re-shuffles at read time:\n$plan")
    // and the census the fit consumed is ONE keyed aggregate over the
    // persisted store — parquet scan + groupBy(winner, loser), no join
    val root = graft.queries.QueryShared.fixtureCache.get(s"prefstore|$dir")
    assert(root != null, "prefstore fixture not built by the query above")
    val census = graft.sources.PreferenceStore.census(spark,
      root + "/store")
    val cplan = planOf(census)
    assert(cplan.contains("Scan parquet"), cplan)
    assert(!cplan.contains("Join"), cplan)
  }
}
