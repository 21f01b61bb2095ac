package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Streaming SCD2 sink: the reference's recurring listing load
  * (Airbnb_Listings_ETL.py:143–151 upserts latest state once per DAG run)
  * as a continuous `foreachBatch` pipeline that keeps every state
  * TRANSITION — each micro-batch of observations merges into the history
  * table via [[graft.etl.Scd2.mergeHistory]] (touch-only-affected, no
  * full-feed rebuild per batch).
  *
  * EXACTLY-ONCE without a transaction log: `foreachBatch` redelivers a
  * batch after a crash, and replaying observations at or before the
  * per-key high-water mark would trip `mergeHistory`'s late-data guard.
  * So the applied batch id is committed in a `_graft_last_batch` marker
  * written into the swap's tmp dir BEFORE promotion — the atomic rename
  * that publishes the merged history publishes the marker with it
  * (underscore-prefixed, so parquet readers ignore it). On entry a batch
  * id ≤ the marker is a replay and skips; there is no crash window in
  * which data and marker disagree, which is precisely what the guard
  * needs: any batch the marker admits is genuinely new.
  */
object Scd2Sink {

  private val markerName = "_graft_last_batch"

  private[sinks] def lastBatch(fs: FileSystem, dir: Path): Option[Long] = {
    val m = new Path(dir, markerName)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  private def writeMarker(fs: FileSystem, dir: Path, batchId: Long): Unit = {
    val out = fs.create(new Path(dir, markerName), true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Merge one batch of observations into the history table at `path`
    * (created on first batch). Skips batch ids already committed by the
    * marker — safe under at-least-once redelivery.
    *
    * The swap's crash recovery runs BEFORE the marker read: a prior run
    * that died between mv(dst, old) and mv(tmp, dst) leaves dst absent, so
    * reading the marker first would miss the already-committed batch id,
    * recovery would then promote tmp (data+marker already carrying this
    * batchId), and the same batch would re-merge on top of itself — every
    * replayed row at its key's open-version mark trips mergeHistory's
    * late-data guard and the stream fails permanently instead of no-op
    * skipping. */
  def upsertHistoryInto(spark: SparkSession, path: String, batch: DataFrame,
                        batchId: Long, key: String, ts: String,
                        tiebreak: String, attrs: Seq[String],
                        partitionCols: Seq[String] = Nil): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.recoverRoot(fs, path, ParquetSink.Swap)
    if (fs.exists(dst) && lastBatch(fs, dst).exists(_ >= batchId)) return
    ParquetSink.swapWriteWith(spark, path, partitionCols,
      (tmpFs, tmp) => writeMarker(tmpFs, tmp, batchId)) {
      case Some(base) => graft.etl.Scd2.mergeHistory(base, batch, key, ts, tiebreak, attrs)
      case None       => graft.etl.Scd2.history(batch, key, ts, tiebreak, attrs)
    }
  }

  /** `foreachBatch`-shaped curried form:
    * `stream.writeStream.foreachBatch(Scd2Sink.appendHistoryInto(path, ...) _)`. */
  def appendHistoryInto(path: String, key: String, ts: String, tiebreak: String,
                        attrs: Seq[String], partitionCols: Seq[String] = Nil)
                       (batch: DataFrame, batchId: Long): Unit =
    upsertHistoryInto(batch.sparkSession, path, batch, batchId,
      key, ts, tiebreak, attrs, partitionCols)
}
