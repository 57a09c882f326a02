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
  *     every internal persist/checkpoint it registered, on return and on
  *     throw ([[operators.Triangles.triangleCount]]). The six iterative
  *     loops ([[operators.Preference.bradleyTerryDistributed]],
  *     [[operators.Dedup.connectedComponents]], [[operators.KCore.peel]],
  *     [[operators.PageRank.pageRank]], [[operators.LabelProp.propagate]],
  *     [[operators.Bfs.levels]]) follow ONE rule, kept in one place, the
  *     round driver [[operators.Checkpoints.iterate]]: every loop returns
  *     an independent checkpoint, and releases everything else on return,
  *     on throw and at round 0. Callers own nothing but the returned
  *     `LogicalRDD`, and may release it with
  *     [[operators.Checkpoints.release]] once consumed.
  *
  *   - '''Caller-released''' — the operator returns a LAZY frame that
  *     still READS one or more internal `persist`s (a shared candidate
  *     census, a shingle table, a qrels frame:
  *     [[operators.FuzzyJoin.fellegiSunter]] / `fellegiSunterEm`,
  *     [[operators.Evaluation.multiclassPrf]] / `krippendorffAlpha` /
  *     `pairedBootstrapCi`,
  *     [[operators.TextDedup.prefixJaccardJoin]] /
  *     `exactSubstringSpans` / `duplicateSpanCoverage`, and the
  *     language-model censuses). An eager release inside the operator
  *     would either recompute the expensive shared stage per consumer or
  *     truncate lineage the result still needs, so THE SESSION OWNER
  *     releases: after fully consuming the returned frame, call
  *     [[graft.BenchSession.release]] (the SQL cache and every persistent
  *     RDD, checkpoint blocks included; `clearCache()` alone leaves the
  *     checkpoints), as `graft.Bench`, `graft.Verify` and the tools do
  *     between queries. A long-lived composing session that never releases
  *     will accumulate cached relations without bound; note the release
  *     also evicts caller-owned caches, so a surgical caller can instead
  *     `unpersist` the returned frame's inputs selectively.
  *
  * Every caller-released operator notes the contract in its own scaladoc
  * with the phrase "Cleanup: session owner drops persisted blocks".
  */
package object operators
