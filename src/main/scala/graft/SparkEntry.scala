package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §2 for the inventory. Inventory fails
  * on any public member beyond the five below. */
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

  /** Release every Scratch MEMO (checkpoint blocks freed, ANN/PQ store
    * dirs deleted, bucketed tables dropped), empty every Scratch
    * LIFECYCLE dir, and release the graph family's result checkpoints;
    * the next consumer rebuilds from the parquet inputs. Scratch KEPT
    * dirs (the fixtures and the stores [[prepareShared]] builds)
    * deliberately survive. Also empties `Scratch.used`, from which Bench
    * labels keys. Single-threaded callers only. */
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
