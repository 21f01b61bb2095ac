package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level grouped RANK SELECTION — the exact-order primitive behind
  * scale-safe exact percentiles/medians (the reference's most
  * user-visible analysis, `Airbnb_Analysis.py:84–97`, is a per-city
  * median).
  *
  * The naive plan — `row_number() over (partition by group order by
  * value)` — shuffles EVERY group through one reducer that sorts the
  * whole group: with a handful of low-cardinality groups (event types,
  * return flags) that is a handful of reducers each sorting ~n/groups
  * rows, the textbook per-group-total-order scale-killer. Spark's exact
  * `percentile` aggregate has the same failure mode in memory instead of
  * sort (it buffers every group value in the executor).
  *
  * Here the global per-group order is computed TWO-LEVEL, the same
  * construction [[graft.etl.Selection.tokenBudgetSelect]] ships for its
  * straddle bucket (Selection.scala:95–118):
  *  1. range-repartition on (group…, value, tiebreak) — each group's
  *     sorted order spans a contiguous RUN of partitions (range
  *     partitioning totally orders tuples across partitions), so no
  *     partition ever holds more than ~n/partitions rows regardless of
  *     group cardinality;
  *  2. per-(partition, group) row counts make a TINY offset table
  *     (≤ partitions + groups rows — each group adds at most one
  *     partial partition beyond the partitions it fills): a per-group
  *     prefix sum over partition id yields each (partition, group)'s
  *     global rank offset, and a full-group sum yields n. Both windows
  *     run on the tiny table (per-group over ≤ partitions rows) and the
  *     result broadcasts back;
  *  3. each partition ranks its own rows locally
  *     (`partitionBy(pid, group…)` — the window clusters by physical
  *     partition, so every sort in the plan is per-partition) and
  *     global rank = broadcast offset + local rank.
  *
  * The physical partitioning is PINNED with an eager localCheckpoint
  * (Selection's round-9 rule): the offset aggregate and the local-rank
  * window would otherwise re-plan `repartitionByRange` as two
  * independently-sampled exchanges (exchangeReuse off, AQE replan) and
  * the offsets would describe partitions the ranked rows are not in.
  *
  * Ties in `valueCol` (with no or non-unique tiebreak) get an arbitrary
  * but valid permutation of consecutive ranks — the VALUE at each rank
  * is still deterministic (equal values are interchangeable), which is
  * all rank selection needs. Pass a unique `tiebreakCol` when the row
  * identity at a rank matters.
  */
object Rank {

  /** Adds `rankCol` (1-based global position within the group in
    * (valueCol, tiebreak…) ascending order) and `nCol` (group size) to
    * `df`, without any per-group single-reducer sort. Nulls in
    * `valueCol` sort FIRST (Spark ascending-null ordering) — filter
    * them out beforehand if the engine-portable contract matters.
    */
  def withGroupRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
                    tiebreakCols: Seq[String] = Nil,
                    rankCol: String = "rank", nCol: String = "n"): DataFrame = {
    require(groupCols.nonEmpty, "withGroupRank: at least one group column")
    val reserved = Seq("__pid", "__pcnt", "__poff", "__lrn", rankCol, nCol)
    require(!reserved.exists(df.columns.contains),
      s"withGroupRank: input must not carry ${reserved.mkString("/")} columns")
    val orderCols = (groupCols :+ valueCol) ++ tiebreakCols
    // range partitions align pid order with (group, value, tiebreak)
    // order; the eager checkpoint pins ONE physical partitioning for
    // both consumers (see scaladoc)
    val ranged = df
      .repartitionByRange(orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy("__pid", groupCols: _*)
      .agg(count(lit(1)).as("__pcnt"))
    // both windows run over the tiny (partitions × groups-boundary)
    // count table — per-group spans are ≤ number of partitions
    val wOff = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wN = Window.partitionBy(groupCols.map(col): _*)
    val offsets = broadcast(counts
      .withColumn("__poff", coalesce(sum(col("__pcnt")).over(wOff), lit(0L)))
      .withColumn(nCol, sum(col("__pcnt")).over(wN))
      .select((col("__pid") +: groupCols.map(col)) :+ col("__poff") :+ col(nCol): _*))
    // local rank: the window clusters by the PHYSICAL partition, so its
    // sort never sees more than one partition's rows per group slice
    val wLocal = Window.partitionBy((col("__pid") +: groupCols.map(col)): _*)
      .orderBy((col(valueCol) +: tiebreakCols.map(col)): _*)
    ranged
      .withColumn("__lrn", row_number().over(wLocal))
      .join(offsets, "__pid" +: groupCols)
      .withColumn(rankCol, col("__poff") + col("__lrn"))
      .select(df.columns.toIndexedSeq.map(col) :+ col(rankCol) :+ col(nCol): _*)
  }

  /** GLOBAL dense-id assignment — the surrogate-key generator: every row
    * gets its 1-based position in the total `orderCols` order, as a
    * BIGINT column named `idCol`.
    *
    * The naive form — `row_number() OVER (ORDER BY …)` with no partition
    * spec — plans an `Exchange SinglePartition`: the ENTIRE table funnels
    * through one task that sorts it, the starkest possible scale-killer
    * (at 100 TB that task simply never finishes). `monotonically_
    * increasing_id` avoids the funnel but emits sparse partition-stamped
    * values — useless where downstream expects dense 1..n keys (dimension
    * surrogate keys, sample indices, epoch positions).
    *
    * This is [[withGroupRank]]'s two-level construction with ONE implicit
    * group: range-exchange on the order columns (every partition bounded
    * at ~n/partitions rows), a tiny per-partition count table whose prefix
    * sums broadcast back as offsets, and a per-PHYSICAL-partition local
    * rank — dense global ids with no single-task sort anywhere in the
    * plan (spec-asserted: no SinglePartition exchange).
    *
    * Determinism contract: the combined `orderCols` must be UNIQUE per
    * row for the row→id mapping to be reproducible (same rule as any
    * `row_number` use in this repo); with ties the ids are a valid but
    * arbitrary permutation within each tie run. */
  def withGlobalIds(df: DataFrame, orderCols: Seq[String],
                    idCol: String = "sid"): DataFrame = {
    require(orderCols.nonEmpty, "withGlobalIds: at least one order column")
    require(!df.columns.contains("__gall") && !df.columns.contains("__nall"),
      "withGlobalIds: input must not carry __gall/__nall columns")
    withGroupRank(df.withColumn("__gall", lit(0)), Seq("__gall"),
        orderCols.head, orderCols.tail, rankCol = idCol, nCol = "__nall")
      .drop("__gall", "__nall")
  }
}
