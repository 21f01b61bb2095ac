package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.etl.ZOrder

/** A MAINTAINED z-ordered table — the `OPTIMIZE ZORDER BY` lifecycle the
  * one-shot `ZOrder.layout` (query key `etl_zorder_layout`) lacks. A
  * 100 TB table is not written once: batches keep arriving, and a z-order
  * that only exists at initial-write time silently decays — every
  * appended file spans the whole (x, y) grid, so a selective
  * two-dimensional predicate degrades back toward full scans as the
  * unclustered tail grows (`tools.ScaleCurve z` measures the decay AND the
  * restoration). This sink gives the layout the same lifecycle
  * discipline as [[AnnStore]]/[[BandStore]]: cheap raw appends, a
  * re-optimize that re-clusters ONLY the fragmented tail, writer fencing,
  * and crash-safe swaps that never delete the only copy of a row.
  *
  * Layout under one root:
  *  - `gen=<k>/` — immutable z-ordered GENERATIONS: `gen=0` from
  *    [[write]], one more per [[optimize]]. Each is internally
  *    range-partitioned on the z-value under the table's PINNED bounds
  *    (`ZOrder.layoutPinned` — all generations grid the same rectangle,
  *    values drifted outside it clamp to edge cells; pruning correctness
  *    rides the files' actual min/max stats, never the grid), so every
  *    generation prunes like the original write and a query touches
  *    ~touched-fraction × files PER GENERATION. Generations are the
  *    compaction ladder: re-optimizing tails into new generations keeps
  *    optimize cost TAIL-SIZED, amortized O(1) per appended row, while
  *    [[compact]] collapses the ladder when the generation count itself
  *    decays the layout.
  *  - `tail/` — the raw landing zone: [[append]] writes batches here
  *    as-delivered (no shuffle, no stats pass — the cheapest durable
  *    ingest), where they are readable immediately and cluster-less
  *    until the next [[optimize]].
  *  - `_zparams/` — (xCol, yCol, bits, bounds, rowsPerFile) pinned at
  *    [[write]]: optimize derives everything from the store so two
  *    maintenance runs can never grid differently.
  *
  * Crash safety: the lifecycle is [[PartitionSwap]]'s, the same core
  * the other two stores run on — every writer op holds the writer fence
  * and first heals any crashed swap, and no op here renames on its own.
  * [[optimize]] SEALS the tail ([[PartitionSwap.seal]]): the z-ordered
  * rows replace `tail/` in place through the per-partition swap (park
  * the tail in `<path>.swap_old`, promote `<path>.swap_tmp/tail`, drop
  * the park), then one atomic rename makes it `gen=<k>`. A crash before
  * the promote restores the parked tail unless the scratch root is
  * committed; a crash before the rename leaves a z-ordered live tail
  * that the next optimize seals again. [[compact]] rewrites the whole
  * table through [[PartitionSwap.swapRoot]] (`<path>.collapse_tmp` /
  * `<path>.collapse_old`), `_zparams` written last as its commit
  * marker. In every window exactly one committed copy of each row
  * survives, and [[read]] serves it through the core's read rule (the
  * parked generation root mid-compact, a parked tail with no live twin
  * mid-optimize), never a partial table — with the same
  * may-raise-on-overlap contract as the other stores' reads. Appends
  * queue (bounded) behind a maintenance-held fence; maintenance ops are
  * exclusive and fail-fast.
  *
  * Reference scope: the reference rewrites its whole store per DAG run
  * (Airbnb_Listings_ETL.py:143-151) — layout maintenance is the
  * beyond-reference 100 TB path.
  */
object ZOrderTable {

  final case class Params(xCol: String, yCol: String, bits: Int,
                          rowsPerFile: Long,
                          xmn: Long, xmx: Long, ymn: Long, ymx: Long)

  private def paramsDir(path: String) = path + "/_zparams"
  private def tailDir(path: String) = path + "/tail"
  private def genDir(path: String, k: Int) = s"$path/gen=$k"

  /** Compact's whole-table swap: `.collapse_tmp`/`.collapse_old`,
    * committed by its `_zparams` marker. */
  private val Collapse = PartitionSwap.RootSwap("collapse", Some("_zparams/_SUCCESS"))

  /** One table of plain-named dirs (`gen=<k>`, `tail`) under the root. */
  private val Store = PartitionSwap.Store("ZOrderTable", Seq(""), "", Collapse)

  /** Create the table: bounds measured once and PINNED, the base laid
    * out as generation 0. `numFiles` sets the target file grain —
    * recorded as rows/file so optimize sizes tail generations to the
    * same grain instead of a fixed count. */
  def write(df: DataFrame, path: String, xCol: String, yCol: String,
            bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val spark = df.sparkSession
    PartitionSwap.fenced(spark, path, Store) { fs =>
      val b = df.agg(
        min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
        min(col(yCol)).cast("long"), max(col(yCol)).cast("long"),
        count(lit(1))).head()
      require(!b.isNullAt(0), "ZOrderTable.write: empty or all-null base frame")
      val (xmn, xmx, ymn, ymx, n) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(4))
      val rowsPerFile = math.max(1L, (n + numFiles - 1) / numFiles)
      // old generations/tail of a previous table at this path die here —
      // write is a full overwrite, like the other stores'
      fs.delete(new Path(path), true)
      ZOrder.layoutPinned(df, xCol, yCol, bits, numFiles, xmn, xmx, ymn, ymx)
        .drop("z")
        .write.mode("overwrite").parquet(genDir(path, 0))
      writeParams(spark, Params(xCol, yCol, bits, rowsPerFile, xmn, xmx, ymn, ymx), path)
    }
  }

  private def writeParams(spark: SparkSession, p: Params, root: String): Unit = {
    import spark.implicits._
    Seq(p).toDF("x_col", "y_col", "bits", "rows_per_file", "xmn", "xmx", "ymn", "ymx")
      .write.mode("overwrite").parquet(paramsDir(root))
  }

  /** The table's pinned layout parameters, from its newest committed
    * generation root. */
  def params(spark: SparkSession, path: String): Params = {
    val r = PartitionSwap.sidecar(spark, paramsDir(PartitionSwap.root(spark, path, Store)),
      "x_col STRING, y_col STRING, bits INT, rows_per_file BIGINT, " +
        "xmn BIGINT, xmx BIGINT, ymn BIGINT, ymx BIGINT").head()
    Params(r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
  }

  /** Raw landing-zone append: the batch lands in `tail/` exactly as
    * delivered — no shuffle, no bounds pass, durable and readable
    * immediately; clustering debt is deferred to [[optimize]]. Queues
    * (bounded) behind a maintenance-held fence like every batch-class
    * writer. */
  def append(batch: DataFrame, path: String,
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit =
    PartitionSwap.fenced(batch.sparkSession, path, Store, fenceWaitMs) { _ =>
      batch.write.mode("append").parquet(tailDir(path))
    }

  /** Committed generation dirs (gen=<k>), by number. */
  private def gens(fs: FileSystem, path: String): Seq[Int] =
    PartitionSwap.partitionDirs(fs, new Path(path), "gen=")
      .map(_.getName.stripPrefix("gen=").toInt).sorted

  /** Read the whole table: every committed generation plus the tail of
    * the newest committed generation root, plus any dir parked by an
    * in-flight/crashed optimize with no live twin (that park is the only
    * committed copy of its rows) — [[PartitionSwap.committedDirs]]. One
    * scan, typed from a footer. A read overlapping a commit may raise on
    * vanished files, never silently lose or double rows. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val dirs = PartitionSwap.committedDirs(spark, path, Store)
    require(dirs.nonEmpty, s"ZOrderTable at $path holds no data")
    PartitionSwap.readDirs(spark, dirs)
  }

  /** The rows of `df` laid out z-ordered under the pinned bounds, in as
    * many files as `n` rows fill at the pinned rows/file grain. */
  private def layout(df: DataFrame, p: Params, n: Long): DataFrame = {
    val numFiles = math.max(1L, (n + p.rowsPerFile - 1) / p.rowsPerFile).toInt
    ZOrder.layoutPinned(df, p.xCol, p.yCol, p.bits, numFiles, p.xmn, p.xmx, p.ymn, p.ymx)
      .drop("z")
  }

  /** Re-optimize: lay out the unclustered tail as the next z-ordered
    * generation — tail-sized work, the `OPTIMIZE` half of
    * `OPTIMIZE ZORDER BY`. File count follows the pinned rows/file grain,
    * sized from the tail's parquet footers (no count pass over the data).
    * No-op on an empty tail. Exclusive (fail-fast fence), like compact on
    * the other stores. */
  def optimize(spark: SparkSession, path: String): Unit =
    PartitionSwap.fenced(spark, path, Store) { fs =>
      val tail = tailDir(path)
      if (PartitionSwap.hasData(fs, tail)) {
        val p = params(spark, path)
        val n = PartitionSwap.rowCount(spark, Seq(tail))
        val k = gens(fs, path).max + 1
        PartitionSwap.seal(fs, path, "tail", s"gen=$k") { tmp =>
          layout(PartitionSwap.readDirs(spark, Seq(tail)), p, n)
            .write.mode("overwrite").parquet(tmp.toString)
        }
      }
    }

  /** COLLAPSE the generation ladder: rewrite every committed generation
    * plus the tail as ONE fresh z-ordered generation. [[optimize]] keeps
    * per-call cost tail-sized, but each call adds a generation and a
    * query touches ~fraction × files PER GENERATION — after enough
    * optimizes the ladder itself is the decay. This is the store-compact
    * analog: table-sized work, run on the maintenance cadence (e.g.
    * every N optimizes), restoring files_total to the pinned grain. The
    * new table is written to the collapse scratch root from the live
    * dirs, `_zparams` last as its commit marker, then swapped in whole. */
  def compact(spark: SparkSession, path: String): Unit =
    PartitionSwap.fenced(spark, path, Store) { fs =>
      val genIds = gens(fs, path)
      val hasTail = PartitionSwap.hasData(fs, tailDir(path))
      if (genIds.size > 1 || hasTail) {
        val p = params(spark, path)
        val dirs = genIds.map(k => genDir(path, k)) ++
          (if (hasTail) Seq(tailDir(path)) else Nil)
        val n = PartitionSwap.rowCount(spark, dirs)
        val k = genIds.max + 1
        PartitionSwap.swapRoot(fs, path, Collapse) { tmp =>
          layout(PartitionSwap.readDirs(spark, dirs), p, n)
            .write.mode("overwrite").parquet(genDir(tmp.toString, k))
          writeParams(spark, p, tmp.toString)
        }
      }
    }

  /** Heal a crashed optimize or compact ([[PartitionSwap.recover]]) —
    * the recovery every writer op runs on entry; callers may also invoke
    * it directly after `breakLock`. */
  def recover(spark: SparkSession, path: String): Unit =
    PartitionSwap.recover(spark, path, Store)

  /** Clear a stale writer fence left by a crashed holder (human
    * decision — see [[PartitionSwap.breakLock]]). */
  def breakLock(spark: SparkSession, path: String): Boolean =
    PartitionSwap.breakLock(spark, path)
}
