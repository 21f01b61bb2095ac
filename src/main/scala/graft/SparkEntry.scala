package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EtlQueries.defs ++ AnalysisQueries.defs ++ SqlQueries.defs ++
      RelationalQueries.defs ++ TextQueries.defs ++ SimQueries.defs ++
      StreamQueries.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    EtlQueries.oracle ++ AnalysisQueries.oracle ++ SqlQueries.oracle ++
      RelationalQueries.oracle ++ TextQueries.oracle ++ SimQueries.oracle ++
      StreamQueries.oracle

  /** Queries that read a [[graft.queries.Scratch]] MEMO (the shared
    * pair-graph labeling, the LSH pair frame, the ANN and PQ stores, the
    * bucketed tables). Bench calls [[clearMemos]] before each timed pass
    * of these keys, so their artifact medians are COLD (full shared-stage
    * build included); the amortized warm re-read — the production
    * one-stage-many-consumers shape — is recorded separately in the
    * artifact's `warm` map. */
  def memoizedQueries: Set[String] =
    TextQueries.memoized ++ SimQueries.memoized ++ RelationalQueries.memoized

  /** Queries that consume a Scratch KEPT dir built by [[prepareShared]]
    * (the co-purchase edge stores) — distinct from [[memoizedQueries]]:
    * clearMemos does NOT drop kept dirs (for these keys it releases
    * result checkpoints only), so their bench medians measure re-read +
    * algorithm — the production amortized shape — with the build cost
    * billed once in the artifact's `prepare_s`. Bench surfaces them
    * under a separate `prepared` field so `memoized`/`memo_cleared` stay
    * accurate and cross-round trend comparisons know the cold-build
    * rounds (≤16) and prepared rounds (≥17) measure different things. */
  def preparedQueries: Set[String] = RelationalQueries.prepared

  /** Composed whole-pipeline keys: one cold pass is genuinely the entire
    * multi-stage composition (corpus prep chain; the band-index
    * write→append→compact→probe lifecycle), so Bench grants them the
    * larger `SPARK_GRAFT_HEAVY_COMPOSED_S` cap — a real multi-pass
    * median instead of a permanently `capped` single cold pass. */
  def composedQueries: Set[String] =
    Set("pipeline_corpus_prep", "pipeline_embedding_prep", "dedup_band_store",
      "dedup_band_delete", "dedup_band_rebucket", "dedup_band_merge",
      "pipeline_reference_etl", "etl_zorder_optimize",
      // three sequential swapWrite loads incl. a replayed batch — the
      // whole exactly-once lifecycle per pass
      "stream_replay_merge",
      // builds BOTH bucketed managed tables cold before the join
      "q_bucketed_join")

  /** Release every Scratch MEMO (checkpoint blocks freed, ANN/PQ store
    * dirs deleted, bucketed tables dropped), empty every Scratch
    * LIFECYCLE dir, and release the graph family's result checkpoints;
    * the next consumer rebuilds from the parquet inputs. Scratch KEPT
    * dirs (the fixtures and the stores [[prepareShared]] builds)
    * deliberately survive. Single-threaded callers only. */
  def clearMemos(): Unit = {
    Scratch.clear()
    graft.operators.Graph.releaseResults()
  }

  /** Pre-build the shared ingest-time artifacts (the co-purchase edge
    * stores the graph family reads, Scratch kept dirs) outside any timed
    * region — Bench calls this during warm-up; Verify and ad-hoc callers
    * get the same build lazily on first touch. */
  def prepareShared(spark: SparkSession, sfDir: String): Unit =
    RelationalQueries.prepareShared(spark, sfDir)
}
