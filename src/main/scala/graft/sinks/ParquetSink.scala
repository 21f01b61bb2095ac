package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Parquet sinks — the reference "load" phase (Postgres upsert tables +
  * Mongo collections, `Airbnb_Listings_ETL.py:141-151,172-207`)
  * re-expressed as columnar lake writes.
  *
  * Scale notes: `partitionBy` on a low-cardinality column turns future
  * reads with a partition predicate into pruned scans (`PartitionFilters`
  * in the plan — verified in ParquetSinkSpec); never partition on a
  * high-cardinality key (one dir per value). `maxRecordsPerFile` bounds
  * file size; no `coalesce(1)` anywhere — writers scale with upstream
  * partitions.
  */
object ParquetSink {

  /** Write partitioned by low-cardinality columns (e.g. lang, date). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       maxRecordsPerFile: Long = 5000000): Unit =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Keyed upsert into a partitioned parquet table: read-modify-write of
    * base ∪ updates with updates winning per key — the lake-native form of
    * the reference's `insert_rows(replace=True, replace_index='id')`.
    *
    * `allowEvolution = true` widens schema drift with nulls instead of
    * failing the load: a batch carrying a NEW column rewrites the table
    * with that column appended (existing rows read it back as null), and a
    * batch missing an old column carries null there for its own rows.
    * Strict by default — the same opt-in contract as
    * [[DocStoreSink.mergeDocs]]. */
  def upsertInto(spark: SparkSession, path: String, updates: DataFrame,
                 key: String, partitionCols: Seq[String],
                 allowEvolution: Boolean = false): Unit =
    swapWrite(spark, path, partitionCols) {
      case Some(base) => graft.etl.Normalize.upsert(base, updates, key, allowEvolution)
      case None       => updates
    }

  /** Atomic read-modify-write swap shared by every keyed sink: hand the
    * current base table (if any) to `merge`, write the result to `.tmp`,
    * then promote it through [[PartitionSwap.swapRoot]] — which recovers a
    * crashed prior swap first and clears stale `.tmp`/`.old` dirs (a stale
    * `.old` would otherwise make the park rename fail and lose the
    * upsert). All directory manipulation goes through the Hadoop
    * `FileSystem` API and every rename is checked. ATOMICITY SCOPE: the
    * swap is crash-safe where directory rename is atomic — local
    * filesystems and HDFS. On an S3A-style object store, rename is
    * copy-then-delete, so a crash mid-promotion can leave a
    * partially-copied dst that recovery cannot distinguish from a complete
    * one; object-store deployments need a commit-marker protocol (or a
    * table format like Iceberg/Delta) on top. */
  private[sinks] def swapWrite(spark: SparkSession, path: String,
                               partitionCols: Seq[String])
                              (merge: Option[DataFrame] => DataFrame): Unit =
    swapWriteWith(spark, path, partitionCols, (_, _) => ())(merge)

  /** The keyed sinks' whole-root swap: `.tmp`/`.old` scratch, and no
    * commit marker — a `.tmp` is trusted only beside a parked `.old`
    * (renames start after the write commits); a `.tmp` with neither dst
    * nor `.old` is a half-written first create and is discarded. */
  private[sinks] val Swap = PartitionSwap.RootSwap("", marker = None)

  /** [[swapWrite]] plus an `afterWrite(fs, tmpDir)` hook that runs after
    * the merged result is fully written but BEFORE the promotion renames —
    * anything the hook drops into the tmp dir (e.g. a commit marker)
    * becomes visible ATOMICALLY with the data it describes. That is what
    * makes a foreachBatch sink exactly-once: the marker can never name a
    * batch whose data didn't land, nor vice versa. */
  private[sinks] def swapWriteWith(spark: SparkSession, path: String,
                                   partitionCols: Seq[String],
                                   afterWrite: (FileSystem, Path) => Unit)
                                  (merge: Option[DataFrame] => DataFrame): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.swapRoot(fs, path, Swap) { tmp =>
      val merged = merge(if (fs.exists(dst)) Some(spark.read.parquet(path)) else None)
      // write to a temp dir then swap: the source partition being
      // overwritten is also an input — direct overwrite would corrupt it
      // mid-scan
      writePartitioned(merged, tmp.toString, partitionCols)
      afterWrite(fs, tmp)
    }
  }
}
