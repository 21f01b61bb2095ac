package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.{FileSystem, Path}

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
  */
object AnnStore {

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
  def write(assigned: DataFrame, path: String): Unit = {
    // fenced like append: a full overwrite racing a swap-performing op
    // interleaves renames unpredictably; loud beats lost
    val fs = new Path(path).getFileSystem(
      assigned.sparkSession.sparkContext.hadoopConfiguration)
    PartitionSwap.withWriterLock(fs, path, "AnnStore") {
      clusterAligned(assigned).write.mode("overwrite")
        .partitionBy("centroid_id").parquet(path)
    }
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
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit = {
    // fenced (round-13 advice; the shared PartitionSwap fence): an append racing
    // compact/purge could land files in a cluster dir the swap parks and
    // deletes, and one racing recluster writes into a tree about to be
    // replaced wholesale — either way the appended rows vanish silently.
    // Round 15: the batch QUEUES (bounded) behind a maintenance-held
    // fence instead of failing — append-vs-compact serializes; only a
    // fence still held past fenceWaitMs raises.
    val fs = new Path(path).getFileSystem(
      assigned.sparkSession.sparkContext.hadoopConfiguration)
    PartitionSwap.withWriterLock(fs, path, "AnnStore", fenceWaitMs) {
      clusterAligned(assigned).write.mode("append")
        .partitionBy("centroid_id").parquet(path)
    }
  }

  /** Read the store back. `centroid_id` returns as a partition column —
    * a foldable filter on it prunes directories at planning time instead
    * of scanning the corpus.
    *
    * GENERATION-CONSISTENT (round-14 verdict item; replaces the old
    * raise-on-crashed-swap guard): readers resolve the newest COMMITTED
    * generation, so a read concurrent with compact/purge/recluster — or
    * after a writer crash — never raises and never serves a partial
    * store. Per-cluster swaps: clusters parked without a live twin are
    * their own last committed copy and union in via
    * [[PartitionSwap.resolvedRead]] (the live side keeps the pruned
    * scan). Whole-store recluster: the generation root resolves through
    * [[PartitionSwap.resolveRoot]] (between the two renames the parked
    * previous generation is served as-is; the new tree only becomes
    * readable when the promote rename lands). Readers stay readers —
    * recovery is still owned by [[recover]] / the next writer op. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = PartitionSwap.resolveRoot(fs, path, Recluster)
    // Serving the parked `.recluster_old` generation: a per-cluster swap
    // that crashed BEFORE the recluster started left its scratch beside
    // the then-live root (`path.swap_old` etc.) — the whole-store rename
    // doesn't carry sibling scratch along, so probe the original base too
    // (round-15 ADVICE: the doubly-crashed store keeps its parked
    // clusters). The `.recluster_tmp` defense path stays single-layer: an
    // orphaned sibling scratch there has no owning generation to pair
    // with — run [[recover]] first.
    val extraBases = if (root == Recluster.old(path)) Seq(path) else Nil
    PartitionSwap.resolvedRead(spark, root, Prefix, "centroid_id", Tags,
      extraBases)
  }

  /** Heal a store whose writer crashed mid-swap (per-cluster compact/
    * purge swaps AND whole-store recluster swaps): promote each committed
    * tmp if present, else restore the original — the same recovery the
    * swap-performing ops run on entry, callable by an operator who owns
    * the writer role (it takes the writer fence). Idempotent; a no-op on
    * a healthy store. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.withWriterLock(fs, path, "AnnStore") {
      recoverSwaps(fs, path)
    }
  }

  /** Clear a stale writer fence left by a crashed compact/purge/
    * recluster — see [[PartitionSwap.breakLock]]'s caveat: the caller
    * asserts the crashed owner is dead. */
  def breakLock(spark: SparkSession, path: String): Boolean =
    PartitionSwap.breakLock(
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration), path)

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
    *
    * Scale shape: one distributed job over ONLY the fragmented clusters
    * (the `centroid_id IN (...)` filter is partition pruning, so
    * already-compact clusters are never read), repartitioned by cluster
    * so each cluster's rows land in one task → one output file per
    * cluster dir. No driver-side row movement; the driver handles only
    * directory names (≤ K entries of metadata, same scale as the probe
    * route).
    *
    * Promotion is a per-cluster atomic swap through scratch dirs OUTSIDE
    * the store root (a `centroid_id=3.old` dir inside it would corrupt
    * partition discovery): mv(dst→old), mv(tmp→dst), delete old — the
    * [[ParquetSink.swapWrite]] rename discipline, recovered on entry
    * (a crash mid-swap leaves old + a fully-written tmp; renames start
    * only after the write commits, so tmp is trustworthy and promoted,
    * else old is restored). Same atomicity scope as swapWrite: rename
    * must be atomic (local FS / HDFS); object stores need a table
    * format on top.
    *
    * Returns the compacted cluster ids (empty = store already compact —
    * the call is idempotent). */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 1): Seq[Long] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.withWriterLock(fs, path, "AnnStore") {
      recoverSwaps(fs, path)
      val targets = PartitionSwap.fragmented(fs, path, Prefix, maxFiles)
        .map(clusterId).sorted
      if (targets.isEmpty) Seq.empty
      else {
        swapRewrite(spark, fs, path, targets,
          read(spark, path).filter(col("centroid_id").isin(targets: _*)))
        targets
      }
    }
  }

  // ---- tombstone deletes (the lifecycle's fourth stage) ----

  /** DELETE by id — the store lifecycle's fourth stage (write → append →
    * compact → delete): appends the batch's ids as 8-byte TOMBSTONE rows
    * to the hidden sidecar ([[PartitionSwap.appendTombstones]]: cast to
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
    PartitionSwap.appendTombstones(ids, idCol, path, path, "AnnStore", fenceWaitMs)

  /** Pending tombstone ids of the generation [[read]] serves, or None
    * when no delete has been recorded since the last [[purge]] (callers
    * skip the mask join entirely — zero plan cost on a tombstone-free
    * store). */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    PartitionSwap.tombstones(spark, path, Recluster)

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
    * cadence: (1) one id-column-pruned scan (a few bytes/row — the
    * column-store win) finds the clusters actually holding tombstoned
    * rows, (2) exactly those clusters rewrite minus the tombstone set
    * through [[compact]]'s atomic per-cluster swap (untouched partitions'
    * files stay byte-identical), (3) the sidecar drops LAST — a crash at
    * any point leaves tombstones that still mask correctly (rows already
    * purged just anti-join to nothing), so the call is idempotent and
    * [[readLive]] never serves a deleted row through any crash window. A
    * cluster whose every row is tombstoned disappears (no empty dir).
    * Returns the rewritten cluster ids (empty = nothing pending, and any
    * stale fully-purged sidecar is cleared). Like compact, serialized
    * against other swap-performing writers by the writer fence. */
  def purge(spark: SparkSession, path: String, idCol: String): Seq[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.withWriterLock(fs, path, "AnnStore") {
      recoverSwaps(fs, path)
      tombstones(spark, path) match {
        case None => Seq.empty
        case Some(ts) =>
          val tsb = org.apache.spark.sql.functions.broadcast(ts.select(col(idCol)))
          // pruned scan: only (idCol, centroid_id) are read to route the purge
          // partition discovery may type centroid_id INT or BIGINT depending
          // on the ingested values — canonicalize before collecting the route
          val targets = read(spark, path).select(col(idCol), col("centroid_id"))
            .join(tsb, Seq(idCol), "left_semi")
            .select(col("centroid_id").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSeq.sorted
          if (targets.nonEmpty)
            swapRewrite(spark, fs, path, targets,
              read(spark, path).filter(col("centroid_id").isin(targets: _*))
                .join(tsb, Seq(idCol), "left_anti"))
          // drop the sidecar last: every earlier crash leaves a consistent
          // (masked) store; reaching here means the rows are gone for real
          PartitionSwap.dropTombstones(fs, path)
          targets
      }
    }
  }

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
    * O(files) namenode ops, zero data bytes read or written — at 100 TB
    * a merge costs the same as at 100 MB.
    *
    * Contract: same centroids (enforced when BOTH stores carry a
    * `_centroids` sidecar — they must agree exactly; a store without one
    * keeps its centroids externally and the caller owns the assertion)
    * and same data schema (enforced — one footer read per store; the
    * partition column is excluded, its type is discovery-time inference
    * over values, not storage). Duplicate ids across the two stores
    * behave exactly as duplicate rows do under [[append]]. Src's own
    * `_centroids` sidecar, when present, drops with the src root — dst's
    * index metadata governs the merged store.
    *
    * Visibility and crash windows: [[append]]'s contract, not a swap —
    * dst only GAINS complete immutable files, so a concurrent reader
    * sees some prefix of the merge and every row it reads is valid; a
    * crash mid-merge leaves each file at exactly one of the two roots
    * (rename is atomic), no row lost or duplicated, and re-running the
    * merge completes it (idempotent — already-moved files are simply no
    * longer at src). Serialized against other writers by BOTH stores'
    * writer fences (dst's taken first — callers running merges
    * concurrently must order paths the same way or one raises).
    *
    * @return the cluster ids that received files, sorted */
  def merge(spark: SparkSession, srcPath: String, dstPath: String): Seq[Long] = {
    require(new Path(srcPath) != new Path(dstPath),
      s"AnnStore.merge: src and dst are the same store ($srcPath)")
    val conf = spark.sparkContext.hadoopConfiguration
    val dfs = new Path(dstPath).getFileSystem(conf)
    val sfs = new Path(srcPath).getFileSystem(conf)
    PartitionSwap.withWriterLock(dfs, dstPath, "AnnStore") {
      PartitionSwap.withWriterLock(sfs, srcPath, "AnnStore") {
        recoverSwaps(dfs, dstPath); recoverSwaps(sfs, srcPath)
        require(sfs.exists(new Path(srcPath)), s"AnnStore.merge: no store at $srcPath")
        require(dfs.exists(new Path(dstPath)), s"AnnStore.merge: no store at $dstPath")
        def sig(p: String) = spark.read.parquet(p).schema
          .filterNot(_.name == "centroid_id").map(f => (f.name, f.dataType))
        val (ss, ds) = (sig(srcPath), sig(dstPath))
        if (ss != ds)
          throw new IllegalArgumentException(
            s"AnnStore.merge: schema mismatch — src $ss vs dst $ds; a merged " +
              "store would fail (or silently widen) at read time")
        val sCents = new Path(srcPath + "/_centroids")
        val dCents = new Path(dstPath + "/_centroids")
        if (sfs.exists(sCents) && dfs.exists(dCents)) {
          def rows(p: String) = spark.read.parquet(p)
            .collect().map(r => (r.getAs[Any](0), r.getSeq[Double](1))).sortBy(_._1.toString)
          if (!rows(sCents.toString).sameElements(rows(dCents.toString)))
            throw new IllegalArgumentException(
              "AnnStore.merge: the two stores' _centroids sidecars differ — " +
                "stores assigned against different centroids cannot file-merge; " +
                "recluster one side (or re-ingest) first")
        }
        val moved = PartitionSwap.mergePartitionDirs(sfs, new Path(srcPath),
          dfs, new Path(dstPath), Prefix, "AnnStore")
        PartitionSwap.mergeSidecar(sfs, new Path(PartitionSwap.tombstoneDir(srcPath)),
          dfs, new Path(PartitionSwap.tombstoneDir(dstPath)), "AnnStore")
        // src drops LAST: a crash anywhere above leaves every file at
        // exactly one root and a re-run completes the move
        sfs.delete(new Path(srcPath), true)
        moved.map(n => n.stripPrefix(Prefix).toLong).sorted
      }
    }
  }

  // ---- recluster (the lifecycle's drift remedy) ----

  /** The trained-centroid sidecar a [[recluster]] leaves behind: the
    * centroids are INDEX METADATA (a store can't route probes without
    * them), so after a recluster they travel inside the store root under
    * an underscore name parquet discovery ignores. (Stores built by
    * [[write]] from an external centroid frame don't carry one — their
    * centroids live wherever the caller keeps them.) */
  def centroids(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(PartitionSwap.resolveRoot(fs, path, Recluster) + "/_centroids")
  }

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
                k: Int, iters: Int = 2): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.withWriterLock(fs, path, "AnnStore") {
      recoverSwaps(fs, path)
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

  // ---- swap machinery: the per-cluster swap (compact + purge) and the
  // whole-store swap (recluster), both defined once in [[PartitionSwap]]

  private val Prefix = "centroid_id="
  // "compact" is the pre-delete-era scratch naming: a store that crashed
  // mid-compact under it must still recover, or its parked cluster stays
  // orphaned forever
  private val Tags = Seq("swap", "compact")

  private def clusterId(p: Path): Long = p.getName.stripPrefix(Prefix).toLong

  /** Recluster's whole-store swap: `.recluster_tmp`/`.recluster_old`,
    * committed by its `_centroids` marker. */
  private val Recluster = PartitionSwap.RootSwap("recluster", Some("_centroids/_SUCCESS"))

  /** Heal both swap kinds, whole-store first: a per-cluster swap's
    * scratch sits beside the root the whole-store recovery restores. */
  private def recoverSwaps(fs: FileSystem, path: String): Unit = {
    PartitionSwap.recoverRoot(fs, path, Recluster)
    PartitionSwap.recoverSwap(fs, path, Prefix, Tags)
  }

  private def swapRewrite(spark: SparkSession, fs: FileSystem, path: String,
                          targets: Seq[Long], replacement: DataFrame): Unit =
    PartitionSwap.swapRewrite(spark, fs, path, "centroid_id",
      targets.map(c => s"$Prefix$c"), replacement)
}
