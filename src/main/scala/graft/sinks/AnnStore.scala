package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path

/** Centroid-partitioned ANN corpus store — the storage layout that turns
  * IVF's "search only the probed clusters" filter into PARTITION PRUNING:
  * a probe of `nProbe` of `K` clusters plans a scan that reads only
  * `nProbe` directories of the store, so at 100 TB the dominant cost
  * (reading corpus vectors) shrinks by ~K/nProbe before a single byte is
  * read. `Similarity.ivfSearch` computes the same answer from a raw
  * corpus; this store is the amortized form — assign once at ingest, and
  * every later query is a pruned scan (the claim is spec-proven: the
  * executed probe plan carries a STATIC `centroid_id IN (...)` partition
  * filter — `ivfSearchAssigned` routes probe ids driver-side — and reads
  * only the probed partitions' files).
  *
  * Lifecycle: write → append → compact → delete → purge → merge, plus
  * [[recluster]] for centroid drift. Everything but the layout is
  * [[PartitionSwap]]'s lifecycle core, driven by this store's one
  * [[PartitionSwap.Store]] value.
  */
object AnnStore {

  /** Recluster's whole-store swap: `.recluster_tmp`/`.recluster_old`,
    * committed by its `_centroids` marker. */
  private val Recluster = PartitionSwap.RootSwap("recluster", Some("_centroids/_SUCCESS"))

  private val Store = PartitionSwap.Store("AnnStore", Seq(""), "centroid_id", Recluster,
    mergeCheck = mergeable)

  /** Align the assignment with the store's cluster layout before a
    * `partitionBy("centroid_id")` write: without it every upstream task
    * holding rows of cluster c commits its own file into c — files =
    * task-count × cluster-count (round-15 `tools.ScaleCurve store`: ~500 files
    * for a 16-cluster store from a 32-task assign, corpus-size-
    * independent; a 100 TB ingest's tens of thousands of tasks would be
    * a namenode incident). One hash exchange of the (id, vector) rows
    * buys one file per cluster per writing task-slot — the assign itself
    * stays the zero-shuffle broadcast fold; the WRITE pays one bounded
    * exchange, once, at ingest. Parallelism is min(clusters, cores)
    * per write: at production scale K ~ √N clusters dwarfs any
    * executor count, and a skewed giant cluster is recluster's problem,
    * not the writer's. */
  private def clusterAligned(assigned: DataFrame): DataFrame = {
    val par = assigned.sparkSession.sparkContext.defaultParallelism
    assigned.repartition(par, org.apache.spark.sql.functions.col("centroid_id"))
  }

  /** Persist an `ivfAssign(..., keepVec = true)` result partitioned by
    * cluster. One directory per centroid; vectors round-trip parquet
    * exactly (binary doubles), so search over the store is value-identical
    * to search over the in-memory assignment. */
  def write(assigned: DataFrame, path: String): Unit =
    // fenced like append: a full overwrite racing a swap-performing op
    // interleaves renames unpredictably; loud beats lost
    PartitionSwap.fenced(assigned.sparkSession, path, Store) { _ =>
      clusterAligned(assigned).write.mode("overwrite")
        .partitionBy("centroid_id").parquet(path)
    }

  /** APPEND a new assigned batch into an existing store — the ingest
    * path's steady state: arriving vectors are coarse-assigned against
    * the SAME centroids (a zero-shuffle broadcast fold) and their files
    * land only in the clusters they belong to; untouched partitions'
    * files are never rewritten, and a reader planned after the append
    * sees old + new with the identical pruning contract (spec-proven:
    * the post-append probe still carries the static partition filter
    * and equals the full-corpus search). Re-clustering is a separate,
    * deliberate operation — appending against drifted centroids only
    * degrades recall, never correctness, since search scans whatever
    * partitions the probe names. */
  def append(assigned: DataFrame, path: String,
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit =
    // fenced (round-13 advice; the shared PartitionSwap fence): an append racing
    // compact/purge could land files in a cluster dir the swap parks and
    // deletes, and one racing recluster writes into a tree about to be
    // replaced wholesale — either way the appended rows vanish silently.
    // Round 15: the batch QUEUES (bounded) behind a maintenance-held
    // fence instead of failing — append-vs-compact serializes; only a
    // fence still held past fenceWaitMs raises.
    PartitionSwap.fenced(assigned.sparkSession, path, Store, fenceWaitMs) { _ =>
      clusterAligned(assigned).write.mode("append")
        .partitionBy("centroid_id").parquet(path)
    }

  /** Read the store back. `centroid_id` returns as a partition column —
    * a foldable filter on it prunes directories at planning time instead
    * of scanning the corpus.
    *
    * GENERATION-CONSISTENT (round-14 verdict item; replaces the old
    * raise-on-crashed-swap guard): readers resolve the newest COMMITTED
    * generation, so a read concurrent with compact/purge/recluster — or
    * after a writer crash — never raises and never serves a partial
    * store: [[PartitionSwap.read]]'s one read rule — clusters parked
    * without a live twin are their own last committed copy and union in
    * (the live side keeps the pruned scan), and mid-recluster the parked
    * previous generation is served as-is. On a healthy store it is a
    * plain `spark.read.parquet(path)`. Readers stay readers — recovery is
    * still owned by [[recover]] / the next writer op. */
  def read(spark: SparkSession, path: String): DataFrame =
    PartitionSwap.read(spark, path, Store)

  /** Heal a store whose writer crashed mid-swap (per-cluster compact/
    * purge swaps AND whole-store recluster swaps) — see
    * [[PartitionSwap.recover]]. Idempotent; a no-op on a healthy store. */
  def recover(spark: SparkSession, path: String): Unit =
    PartitionSwap.recover(spark, path, Store)

  /** Clear a stale writer fence left by a crashed compact/purge/
    * recluster — see [[PartitionSwap.breakLock]]'s caveat: the caller
    * asserts the crashed owner is dead. */
  def breakLock(spark: SparkSession, path: String): Boolean =
    PartitionSwap.breakLock(spark, path)

  /** Persist PQ CODES partitioned by their IVF cluster — the IVF+PQ
    * serving layout: `codes` ([[graft.operators.ProductQuant.encode]]'s
    * (idCol, codes)) joined to the (idCol, centroid_id) coarse
    * assignment, one directory per centroid. A probed query
    * ([[graft.operators.ProductQuant.searchPruned]]) then reads ONLY the
    * probed clusters' code files — the float store's ~K/nProbe I/O
    * reduction, applied to a column that is already ~64× smaller than
    * the vectors, so the per-query read cost is (nProbe/K) · m bytes per
    * corpus row. The float vectors can stay in cold storage entirely. */
  def writePq(assigned: DataFrame, codes: DataFrame, idCol: String,
              path: String): Unit =
    // cluster-aligned like write/append: the join leaves the frame
    // partitioned on idCol, which would commit shuffle-partitions ×
    // clusters files
    clusterAligned(assigned.select(col(idCol), col("centroid_id"))
        .join(codes, Seq(idCol)))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** COMPACTION — the missing third of the store lifecycle (write →
    * append → compact): every [[append]] adds files to its target
    * clusters and never rewrites existing ones (that is its contract),
    * so a steady ingest stream grows per-partition file counts without
    * bound — at 100 TB that means ever more scan tasks, open-file
    * overhead, and footer reads per probe. `compact` rewrites each
    * cluster whose parquet file count exceeds `maxFiles` into ONE file,
    * and touches NOTHING else: untouched partitions' files stay
    * byte-identical (spec-asserted), and search over the compacted store
    * equals search over the fragmented one (files are layout, never
    * semantics — spec-asserted for both the float and the PQ layout).
    * See [[PartitionSwap.compact]]. Returns the compacted cluster ids
    * (empty = store already compact — the call is idempotent). */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 1): Seq[Long] =
    PartitionSwap.compact(spark, path, Store, maxFiles).map(_._2)

  // ---- tombstone deletes (the lifecycle's fourth stage) ----

  /** DELETE by id — the store lifecycle's fourth stage (write → append →
    * compact → delete): appends the batch's ids as 8-byte TOMBSTONE rows
    * to the hidden sidecar ([[PartitionSwap.delete]]: cast to
    * the store's id type, a null id raises, fenced) and touches NO data
    * file — at 100 TB a delete costs O(deleted ids), never a cluster
    * rewrite (the Delta/Iceberg delete-vector shape). Readers mask
    * tombstoned rows via [[readLive]]; [[purge]] reclaims the bytes on the
    * compaction cadence. The id column name must be the store's id
    * column — [[readLive]]/[[purge]] join on it. Deleting an id not in the
    * store is a recorded no-op (the anti-join never finds it), so delete
    * is idempotent and order-free across batches. */
  def delete(ids: DataFrame, idCol: String, path: String,
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit =
    PartitionSwap.delete(ids, idCol, path, Store, fenceWaitMs)

  /** Pending tombstone ids of the generation [[read]] serves, or None
    * when no delete has been recorded since the last [[purge]] (callers
    * skip the mask join entirely — zero plan cost on a tombstone-free
    * store). */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    PartitionSwap.tombstones(spark, path, Store)

  /** Read the store MINUS tombstoned rows — the serving view after
    * deletes: the base scan keeps its partition-pruning contract (a
    * probe filter on `centroid_id` pushes below the mask join), and the
    * tombstone set rides a BROADCAST anti-join (deletes are bounded by
    * the purge cadence, never corpus-scale — at 100 TB the mask is a
    * map-side hash probe per row, no shuffle). */
  def readLive(spark: SparkSession, path: String, idCol: String): DataFrame = {
    val base = read(spark, path)
    tombstones(spark, path) match {
      case Some(ts) =>
        base.join(org.apache.spark.sql.functions.broadcast(ts.select(col(idCol))),
          Seq(idCol), "left_anti")
      case None => base
    }
  }

  /** PURGE — physically reclaim tombstoned rows, on the compaction
    * cadence: one id-column-pruned scan (a few bytes/row — the
    * column-store win) finds the clusters actually holding tombstoned
    * rows, exactly those clusters rewrite minus the tombstone set through
    * the per-cluster swap (untouched partitions' files stay
    * byte-identical), and the sidecar drops LAST — see
    * [[PartitionSwap.purge]]: idempotent, and [[readLive]] never serves a
    * deleted row through any crash window. A cluster whose every row is
    * tombstoned disappears (no empty dir). The id column is the one the
    * tombstone sidecar carries. Returns the rewritten cluster ids (empty =
    * nothing pending). */
  def purge(spark: SparkSession, path: String): Seq[Long] =
    PartitionSwap.purge(spark, path, Store).map(_._2)

  // ---- merge (shard consolidation) ----

  /** MERGE the store at `srcPath` INTO the one at `dstPath` — shard
    * consolidation, the lifecycle stage parallel ingest implies: N
    * writers each built their own store against the SAME centroids
    * (ivfAssign is deterministic, so any corpus split assigns
    * identically), and serving wants ONE index. Because both layouts
    * partition by `centroid_id` and parquet files are immutable, the
    * merge is pure FILE-SYSTEM METADATA: each src cluster's files rename
    * into dst's matching directory (created if dst lacked the cluster),
    * tombstone sidecars union the same way, and the src root drops last.
    * O(files) namenode ops, zero data bytes read or written; crash
    * windows and fencing are [[PartitionSwap.merge]]'s.
    *
    * Contract ([[mergeable]]): same centroids (enforced when BOTH stores
    * carry a `_centroids` sidecar — a store without one keeps its
    * centroids externally and the caller owns the assertion) and same
    * data schema. Duplicate ids across the two stores behave exactly as
    * duplicate rows do under [[append]]. Src's own `_centroids` sidecar,
    * when present, drops with the src root — dst's index metadata governs
    * the merged store.
    *
    * @return the cluster ids that received files, sorted */
  def merge(spark: SparkSession, srcPath: String, dstPath: String): Seq[Long] =
    PartitionSwap.merge(spark, srcPath, dstPath, Store).map(_._2).sorted

  /** [[merge]]'s contract check: the same data schema (the partition
    * column is excluded — its type is discovery-time inference over
    * values, not storage) and, when both stores carry a `_centroids`
    * sidecar, the same centroids. */
  private def mergeable(spark: SparkSession, src: String, dst: String): Unit = {
    def sig(p: String) = spark.read.parquet(p).schema
      .filterNot(_.name == "centroid_id").map(f => (f.name, f.dataType))
    val (ss, ds) = (sig(src), sig(dst))
    if (ss != ds)
      throw new IllegalArgumentException(
        s"AnnStore.merge: schema mismatch — src $ss vs dst $ds; a merged " +
          "store would fail (or silently widen) at read time")
    val (sCents, dCents) = (src + "/_centroids", dst + "/_centroids")
    def exists(p: String) = PartitionSwap.fsOf(spark, p).exists(new Path(p))
    if (exists(sCents) && exists(dCents)) {
      def rows(p: String) = spark.read.parquet(p)
        .collect().map(r => (r.getAs[Any](0), r.getSeq[Double](1))).sortBy(_._1.toString)
      if (!rows(sCents).sameElements(rows(dCents)))
        throw new IllegalArgumentException(
          "AnnStore.merge: the two stores' _centroids sidecars differ — " +
            "stores assigned against different centroids cannot file-merge; " +
            "recluster one side (or re-ingest) first")
    }
  }

  // ---- recluster (the lifecycle's drift remedy) ----

  /** The trained-centroid sidecar a [[recluster]] leaves behind: the
    * centroids are INDEX METADATA (a store can't route probes without
    * them), so after a recluster they travel inside the store root under
    * an underscore name parquet discovery ignores. (Stores built by
    * [[write]] from an external centroid frame don't carry one — their
    * centroids live wherever the caller keeps them.) */
  def centroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(PartitionSwap.root(spark, path, Store) + "/_centroids")

  /** RE-CLUSTER the store — the committed remedy for centroid drift that
    * [[append]]'s contract points at ("appending against drifted
    * centroids only degrades recall, never correctness"): retrain
    * centroids from the LIVE store (`Similarity.kmeansFit` — the same
    * deterministic Lloyd's the `sim_kmeans_fit` oracle replays), reassign
    * every live row (zero-shuffle broadcast fold), write the full new
    * layout + its `_centroids` sidecar to a scratch dir, then swap the
    * WHOLE store atomically. Whole-store, not per-cluster: reassignment
    * moves rows BETWEEN clusters, so no per-cluster intermediate state is
    * consistent. Tombstoned rows drop during the rewrite, and the sidecar
    * swaps away with the old tree — recluster subsumes [[purge]].
    *
    * Crash windows: the swap is [[PartitionSwap.swapRoot]] with the
    * `_centroids` sidecar as its commit marker, written LAST — recovery
    * ([[recover]] / the next writer op) promotes the new store iff that
    * marker exists, else restores the original, and between the two
    * renames readers serve the parked previous generation. Serialized
    * against other writers by the writer fence.
    *
    * Scale shape: one distributed retrain + reassign + rewrite of the
    * live store — O(corpus), the deliberate heavyweight op on the
    * compaction cadence (run it when [[graft.operators.Similarity
    * .assignmentQuality]] decays past the operator's floor). The rewrite
    * lands `k` output partitions (one task per cluster, like compact);
    * at extreme per-cluster sizes raise the file count by repartitioning
    * downstream.
    *
    * @return the new centroids (centroid_id, c_v), also persisted as the
    *         store's `_centroids` sidecar */
  def recluster(spark: SparkSession, path: String, idCol: String,
                k: Int, iters: Int = 2): DataFrame =
    PartitionSwap.fenced(spark, path, Store) { fs =>
      PartitionSwap.swapRoot(fs, path, Recluster) { tmpRoot =>
        // carry EVERY non-derived column through the rewrite (round-13
        // advice): metadata ingested via `ivfAssign(metaCols = …)` —
        // language, license, the label column a filtered probe pushes
        // into the pruned scan — lives in the store's files, and a
        // recluster that rebuilds from only (id, v) deletes it with the
        // old tree, permanently. Derived columns (centroid_id, sim) are
        // recomputed by the reassignment; everything else rides the same
        // zero-shuffle fold it rode at ingest.
        val live0 = readLive(spark, path, idCol)
        val metaCols = live0.columns.toSeq
          .filterNot(Set(idCol, "v", "centroid_id", "sim"))
        val live = live0.select((idCol +: "v" +: metaCols).map(col): _*)
        val cents = graft.operators.Similarity.kmeansFit(
          live.select(col(idCol), col("v")), "v", idCol, k, iters)
        val assigned = graft.operators.Similarity.ivfAssign(
          live, "v", idCol, cents.withColumnRenamed("c_v", "v"), "centroid_id",
          keepVec = true, metaCols = metaCols)
        assigned.repartition(k, col("centroid_id"))
          .write.mode("overwrite").partitionBy("centroid_id").parquet(tmpRoot.toString)
        // the COMMIT MARKER lands last: everything before it is
        // abandoned by recovery if the run dies here
        cents.write.mode("overwrite").parquet(tmpRoot.toString + "/_centroids")
        cents
      }
    }
}
