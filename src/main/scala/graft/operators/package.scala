package graft

/** Operator library: corpus-scale text/dedup/linkage/graph/evaluation
  * primitives over DataFrames.
  *
  * ==Caching and block lifecycle contract==
  *
  * Operators in this package fall into two classes:
  *
  *   - '''Self-cleaning''' — the operator ends in an eager boundary (a
  *     terminal `localCheckpoint` or a bounded `collect`) and releases
  *     every internal persist/checkpoint before returning, or before
  *     throwing ([[operators.Triangles.triangleCount]] and the six
  *     iterative loops: [[operators.Preference.bradleyTerryDistributed]],
  *     [[operators.Dedup.connectedComponents]], [[operators.KCore.peel]],
  *     [[operators.PageRank.pageRank]], [[operators.LabelProp.propagate]],
  *     [[operators.Bfs.levels]]). The returned frame is an independent
  *     `LogicalRDD`; callers own nothing but it, and may release it with
  *     [[operators.Checkpoints.release]] once consumed. The loops take
  *     every checkpoint through [[operators.Checkpoints.state]] (one eager
  *     checkpoint per round that observes its own row count and
  *     convergence aggregates and carries true statistics) and release
  *     each as soon as the next round's holds. Two documented exceptions:
  *     `pageRank` with `rounds = 0` and `propagate` with `rounds = 0`
  *     return a lazy projection over an internal checkpoint, which the
  *     session owner drops.
  *
  *   - '''Caller-released''' — the operator returns a LAZY frame that
  *     still READS one or more internal `persist`s (a shared candidate
  *     census, a shingle table, a qrels frame:
  *     [[operators.FuzzyJoin.fellegiSunter]] / `fellegiSunterEm`,
  *     [[operators.Evaluation.multiclassPrf]] / `krippendorffAlpha` /
  *     `pairedBootstrapCi` / `corpusBleu`,
  *     [[operators.TextDedup.prefixJaccardJoin]] /
  *     `exactSubstringSpans` / `duplicateSpanCoverage`, and the
  *     language-model censuses). An eager release inside the operator
  *     would either recompute the expensive shared stage per consumer or
  *     truncate lineage the result still needs, so THE SESSION OWNER
  *     releases: after fully consuming the returned frame, call
  *     `spark.catalog.clearCache()` (drops SQL-cached relations) and
  *     sweep `spark.sparkContext.getPersistentRDDs.values.foreach(
  *     _.unpersist(blocking = false))` (drops checkpoint blocks), exactly
  *     as `graft.Bench` does between reps and `graft.Verify` between
  *     queries. A long-lived composing session that never releases will
  *     accumulate cached relations without bound; note `clearCache()` also
  *     evicts caller-owned caches, so a surgical caller can instead
  *     `unpersist` the returned frame's inputs selectively.
  *
  * Every caller-released operator notes the contract in its own scaladoc
  * with the phrase "Cleanup: session owner drops persisted blocks".
  */
package object operators
