package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 made the Expression↔Column converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * libraries defining native expressions expose them through a one-file
  * shim in this package — the same pattern used by public Spark
  * extension libraries. Nothing else in graft lives outside `graft.*`.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the SparkContext listener bus — `listenerBus` is
    * `private[spark]`, so measurement tools that sum task metrics via a
    * `SparkListener` (e.g. `tools.ScaleCurve z`'s executed-bytes audit) reach it
    * through this shim to make "query finished" imply "its task-end
    * events were delivered" before reading their accumulators. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the block-store blocks behind a `localCheckpoint()`ed frame.
    * `Dataset.unpersist` only touches the CacheManager, which never sees
    * checkpoint RDDs — without this, an iterative fixpoint accumulates one
    * snapshot of blocks per round until the driver GC gets around to them.
    *
    * Unpersists EVERY `LogicalRDD` leaf under the frame's plan, so it
    * works on projected/filtered views of a checkpoint too (a top-node
    * match alone silently no-ops on `ck.drop(...)` — the trap the round-4
    * review caught in Components). Callers own the safety argument: no
    * other live frame may share those checkpoint leaves — and must state
    * it via `expectedLeaves`: if the plan holds MORE checkpoint leaves
    * than the caller claimed (e.g. a view joining the intended checkpoint
    * with a second one some other consumer still reads), this throws
    * instead of silently releasing a stranger's blocks. */
  def unpersistCheckpoint(df: Dataset[_], expectedLeaves: Int = 1): Unit = {
    val leaves = df.queryExecution.analyzed.collect {
      case lr: execution.LogicalRDD => lr.rdd
    }
    require(leaves.size <= expectedLeaves,
      s"unpersistCheckpoint: plan holds ${leaves.size} checkpoint leaves but the " +
        s"caller claimed $expectedLeaves — refusing to release blocks another " +
        "consumer may still hold; pass the real count if all are yours")
    leaves.foreach(_.unpersist(blocking = false))
  }

  /** A parquet file schema as `spark.read.parquet` infers it, under the
    * session's `private[sql]` SQL conf. */
  def parquetSchema(spark: SparkSession,
                    schema: org.apache.parquet.schema.MessageType): types.StructType =
    new execution.datasources.parquet.ParquetToSparkSchemaConverter(
      spark.asInstanceOf[classic.SparkSession].sessionState.conf).convert(schema)

  /** `df` without its join hints. A hint asks the planner how to join
    * the frame; a query that returns the frame as its result, with no
    * join, leaves the hint unused and Spark logs a `HintErrorLogger`
    * warning for it. */
  def withoutHints(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    classic.Dataset.ofRows(qe.sparkSession, qe.analyzed.transformDown {
      case h: catalyst.plans.logical.ResolvedHint => h.child
    })
  }
}
