package graft.sinks

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileStatus, Path}

/** Small-file COMPACTION — the bin-packing half of `OPTIMIZE` (the
  * z-order half lives in [[ZOrderTable]]): a streaming/incremental
  * writer fragments a lake table into thousands of KB-sized files, and
  * every subsequent scan pays one task + one footer read per file. At
  * 100 TB the file count, not the byte count, becomes the scheduler's
  * bottleneck (a 100k-file table plans 100k splits regardless of
  * `maxPartitionBytes`). Compaction rewrites the data as
  * `ceil(bytes / targetFileBytes)` files and nothing else — lossless
  * row for row (the `etl_compact_files` oracle hash-checks exactly
  * that), no ordering contract (layout-preserving compaction is
  * [[ZOrderTable.compact]]'s job).
  *
  * Scale notes: the file-size listing is a driver-side METADATA
  * operation (one FS list, no data read); the rewrite is one
  * round-robin exchange sized by measured bytes, not row counts —
  * wide-row and narrow-row tables both land near the target. The
  * rewrite goes through [[ParquetSink.swapWrite]]'s park-promote swap,
  * so a crash mid-compaction never leaves the table half-rewritten. */
object Compact {

  /** The parquet data files under `path`, recursively — one driver-side
    * metadata walk, no data read. Side files ([[PartitionSwap.isSideFile]])
    * are excluded: counting `.crc` shadows or `_SUCCESS` would inflate the
    * measured bytes and skew the computed target file count. */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Seq[FileStatus] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (PartitionSwap.isSideFile(st.getPath.getName)) Nil
        else Seq(st)
      }
    walk(p)
  }

  /** Number of parquet data files under `path`. */
  def dataFileCount(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).size.toLong

  /** Rewrite the table at `path` IN PLACE as ~`targetFileBytes` files.
    * Returns (files before, files after). The target count comes from
    * measured input bytes — compressed parquet re-compresses at roughly
    * the same ratio, so output files land near the target without a
    * calibration pass. `repartition` (round-robin) spreads rows evenly;
    * there is no keyed shuffle because compaction has no key. */
  def filesInPlace(spark: SparkSession, path: String,
                   targetFileBytes: Long): (Long, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes $targetFileBytes must be > 0")
    val files = dataFiles(spark, path)
    val before = files.size.toLong
    val bytes = files.map(_.getLen).sum
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    ParquetSink.swapWrite(spark, path, Nil) {
      case Some(cur) => cur.repartition(n)
      case None => throw new IllegalStateException(s"compact: no table at $path")
    }
    (before, dataFileCount(spark, path))
  }
}
