package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted LSH BAND INDEX — the store that makes incremental near-dup
  * dedup ([[graft.operators.Dedup.minhashNearDupsAgainst]]) incremental
  * for real: the self-contained form re-sketches the FULL history every
  * run, but a daily-crawl pipeline sketches each batch once, appends its
  * banded signatures here, and every later batch probes the index —
  * reading only the band partitions its own band keys collide with.
  *
  * Layout under one root (all state travels as one directory tree):
  *  - `bands/` — one row per (band key, doc): (band, id, n_sh, sig),
  *    partitioned by `bucket` = xxhash64(band) mod B. A probe computes
  *    the batch's band keys, derives their ≤B distinct buckets
  *    driver-side (bounded routing metadata, the
  *    [[graft.operators.Similarity.probeRoute]] discipline), and plans a
  *    scan with a foldable `bucket IN (...)` — STATIC partition pruning:
  *    at 100 TB a probe reads ~|batch bands|/B of the index, never the
  *    history. Carrying the k-slot signature beside each band row is the
  *    classic LSH-index denormalization: the sig-agreement prefilter
  *    (the stage that kills ~99.9% of band collisions) then runs
  *    MAP-SIDE over the pruned scan against the broadcast batch — no
  *    history row ever enters an exchange.
  *  - `docs/` — one row per doc: (id, hs = sorted shingle hashes),
  *    partitioned by `bucket` = xxhash64(id) mod B. Only the exact
  *    verify reads it, pruned to the buckets holding the surviving
  *    candidates' ids (again ≤B bounded driver-side values) — the
  *    unbounded shingle arrays are fetched for candidate-scale rows,
  *    never corpus-scale.
  *  - `_params/` — the sketch parameters (k, rowsPerBand, shingleN,
  *    buckets) pinned at [[write]] time: an append or probe sketched
  *    under different parameters would be silently wrong (signatures
  *    from different hash families never agree), so both derive their
  *    parameters from the store, not the caller.
  *
  * Lifecycle: write → append (new files land only in their buckets;
  * untouched partitions never rewritten) → compact → delete (O(ids)
  * tombstone sidecar; probes and the streaming sketch table mask deleted
  * docs immediately) → purge → merge, plus [[rebucket]]. Everything but
  * the layout is [[PartitionSwap]]'s lifecycle core, the same one
  * [[AnnStore]] runs on, driven by this store's one
  * [[PartitionSwap.Store]] value: purge routes `docs` from the tombstone
  * ids alone (the write-time `xxhash64(id) mod B` — zero reads) and
  * `bands` by a pruned scan (a doc's band buckets depend on its
  * long-gone text). Reads are
  * GENERATION-CONSISTENT: a probe concurrent with any swap-performing op
  * — or after a writer crash — resolves the last committed generation
  * and never raises, never sees a partial table ([[PartitionSwap.read]];
  * [[recover]] still heals crashed state). Writers — including
  * append/ingest/delete — are serialized by the store-root writer fence
  * ([[PartitionSwap.fenced]]).
  *
  * Reference scope: the reference engine has no incremental index at all
  * (its dedup is a whole-corpus pandas `drop_duplicates`,
  * Airbnb_Listings_ETL.py:47-49); this store is the beyond-reference
  * scale path SURVEY §2.D's `dedup_band_store` row claims.
  */
object BandStore {

  /** Rebucket's whole-store swap: `.rebucket_tmp`/`.rebucket_old`,
    * committed by its `_params` marker. */
  private val Rebucket = PartitionSwap.RootSwap("rebucket", Some("_params/_SUCCESS"))

  private val Store = PartitionSwap.Store("BandStore", Seq("bands", "docs"), "bucket",
    Rebucket, distinctRows = true,
    idRoute = Map("docs" -> ((spark: SparkSession, path: String, id: Column) =>
      docBucket(id, params(spark, path).buckets))),
    mergeCheck = (spark, src, dst) => {
      val (sp, dp) = (params(spark, src), params(spark, dst))
      if (sp != dp)
        throw new IllegalArgumentException(
          s"BandStore.merge: pinned params differ — src $sp vs dst $dp; " +
            "signatures from different hash families never agree, and a " +
            "bucket-count mismatch mis-routes probes — rebucket or " +
            "re-sketch one side first")
    })

  /** A doc row's bucket — the docs table's partition, derived from the id. */
  private def docBucket(id: Column, buckets: Int): Column = pmod(xxhash64(id), lit(buckets))

  final case class Params(k: Int, rowsPerBand: Int, shingleN: Int, buckets: Int)

  private def bandsDir(path: String) = path + "/bands"
  private def docsDir(path: String) = path + "/docs"
  private def paramsDir(path: String) = path + "/_params"

  /** Build the index from a history corpus. `buckets` bounds both the
    * probe route (≤ buckets foldable IN values) and the partition-dir
    * count — 64 keeps directory listings trivial while a probe that
    * touches every bucket still prunes nothing worse than a full scan. */
  def write(history: DataFrame, textCol: String, idCol: String, path: String,
            k: Int = 128, rowsPerBand: Int = 8, shingleN: Int = 3,
            buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = history.sparkSession
    val p = Params(k, rowsPerBand, shingleN, buckets)
    PartitionSwap.fenced(spark, path, Store) { _ =>
      writeParams(spark, p, paramsDir(path))
      writeSketched(history, textCol, idCol, path, p, mode = "overwrite")
    }
  }

  private def writeParams(spark: SparkSession, p: Params, dir: String): Unit = {
    import spark.implicits._
    Seq(p).toDF("k", "rows_per_band", "shingle_n", "buckets")
      .write.mode("overwrite").parquet(dir)
  }

  /** Append a new accepted batch — the steady state: the batch is
    * sketched ONCE under the store's pinned parameters and its band rows
    * land only in the buckets they hash to; untouched partitions' files
    * are never rewritten. (Acceptance policy — e.g. "append only docs
    * that did not near-dup the history" — is the caller's composition of
    * [[probe]] + append.)
    *
    * Append holds the store-root WRITER FENCE (round-13 advice): an
    * append racing compact/purge/rebucket could commit part files into a
    * bucket dir the swap then parks under `.swap_old` and deletes — the
    * appended rows would vanish silently. Round 15: the batch QUEUES
    * (bounded by `fenceWaitMs`) behind a maintenance-held fence instead
    * of failing — append-vs-compact serializes, spec-proven to lose
    * nothing and double nothing; only a fence still held past the
    * deadline (a crashed holder, or maintenance overrunning the bound)
    * raises. Maintenance ops stay exclusive and fail-fast. */
  def append(batch: DataFrame, textCol: String, idCol: String, path: String,
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit =
    PartitionSwap.fenced(batch.sparkSession, path, Store, fenceWaitMs) { _ =>
      // params read INSIDE the fence: a rebucket committing while we
      // queued must not leave us sketching under the superseded layout
      writeSketched(batch, textCol, idCol, path, params(batch.sparkSession, path),
        mode = "append")
    }

  /** STREAMING ingest — pass to
    * `stream.writeStream.foreachBatch(BandStore.ingest(path, textCol, idCol))`:
    * each micro-batch sketches under the store's pinned params and
    * appends, so the daily-crawl shape runs as the stream it really is.
    * foreachBatch delivery is AT-LEAST-ONCE: a replayed micro-batch
    * re-appends the SAME band/doc rows — and the store's tables are SETS
    * by contract: [[probe]] is duplicate-blind (spec-proven) and
    * [[compact]] canonicalizes duplicate rows away on the maintenance
    * cadence, so a replay costs bytes until the next compact, never
    * correctness. The store must exist — [[write]] the initial slice
    * first; parameters are pinned there, not here. Acceptance policy
    * (e.g. probe-then-drop-dups) remains the caller's composition
    * inside their own foreachBatch body.
    *
    * Each micro-batch append holds the store-root writer fence (see
    * [[append]]), so a swap-performing maintenance op (compact/purge/
    * rebucket) racing a LIVE stream can never silently delete a
    * just-committed batch. Round 15: the micro-batch QUEUES (bounded)
    * behind a maintenance-held fence — maintenance runs against a live
    * stream and the stream simply stalls one batch interval instead of
    * failing; only a fence held past the bound fails the streaming
    * query, which then replays the batch on restart (at-least-once, as
    * above). */
  def ingest(path: String, textCol: String, idCol: String,
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs)
            (batch: DataFrame, batchId: Long): Unit =
    append(batch, textCol, idCol, path, fenceWaitMs)

  /** Align the frame's partitioning with the store's bucket layout before
    * a `partitionBy("bucket")` write, so files-per-write is bounded by
    * WRITE PARALLELISM, not upstream-task-count × buckets: without this,
    * every upstream task holding rows of bucket b commits its own file
    * into b — a 32-task local write left ~4k files per lifecycle
    * (round-15 `tools.ScaleCurve store` measurement: task-count × bucket-count,
    * corpus-size-independent), and a 100 TB ingest's tens of thousands of
    * tasks would turn the store into a namenode incident. One hash
    * exchange of the (digest-sized) sketch rows buys files =
    * buckets × tasksPerBucket per write, where tasksPerBucket =
    * ⌈parallelism / buckets⌉ keeps every core writing (a salt splits a
    * bucket across that many writers; 1 on any host with cores ≤ buckets,
    * so locally each bucket gets exactly one file and compact is a
    * near-no-op). Compaction cadence stays the steady-state knob —
    * appends still add tasksPerBucket files per batch — but the write no
    * longer manufactures the fragmentation compact exists to absorb. */
  private def bucketAligned(df: DataFrame, saltCol: Column, buckets: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val tasksPerBucket = math.max(1, (par + buckets - 1) / buckets)
    if (tasksPerBucket == 1) df.repartition(buckets, col("bucket"))
    else df
      // seed literal decorrelates the salt from the bucket hash: the docs
      // table's bucket is pmod(xxhash64(id), buckets), so an unseeded
      // pmod(xxhash64(id), t) is fully determined by the bucket whenever
      // t divides buckets (both powers of two in practice) — no bucket
      // would ever split across writers and the write collapses to
      // `buckets` active tasks (round-16 ADVICE item)
      .withColumn("__wsalt", pmod(xxhash64(saltCol, lit(1)), lit(tasksPerBucket)))
      .repartition(buckets * tasksPerBucket, col("bucket"), col("__wsalt"))
      .drop("__wsalt")
  }

  private def writeSketched(df: DataFrame, textCol: String, idCol: String,
                            path: String, p: Params, mode: String): Unit = {
    // one fanned-out sketch pass feeds both tables: cache, write, release
    val m = Dedup.minhashed(Dedup.fanOut(df), textCol, idCol, p.k, p.rowsPerBand, p.shingleN)
      .filter(size(col("hs")) > 0).cache()
    try {
      // materialize the sketch ONCE before fanning out — the two
      // concurrent table writes below would otherwise race to compute
      // the same cached partitions and sketch every doc twice
      m.count()
      // the two tables are independent dirs fed by the one cached sketch
      // — overlap their writes (guide §2.6; graft.etl.Concurrent)
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => bucketAligned(
          m.select(explode(col("bands")).as("band"), col(idCol),
              size(col("hs")).as("n_sh"), col("sig"))
            .withColumn("bucket", pmod(xxhash64(col("band")), lit(p.buckets))),
          col(idCol), p.buckets)
          .write.mode(mode).partitionBy("bucket").parquet(bandsDir(path)),
        () => bucketAligned(
          m.select(col(idCol), col("hs"))
            .withColumn("bucket", docBucket(col(idCol), p.buckets)),
          col(idCol), p.buckets)
          .write.mode(mode).partitionBy("bucket").parquet(docsDir(path))))
    } finally { m.unpersist(); () }
  }

  /** The store's pinned sketch parameters. */
  def params(spark: SparkSession, path: String): Params = {
    val r = PartitionSwap.sidecar(spark, paramsDir(PartitionSwap.root(spark, path, Store)),
      "k INT, rows_per_band INT, shingle_n INT, buckets INT").head()
    Params(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /** The persisted corpus sketch table — (idCol, hs), the STATIC side of
    * [[graft.streaming.StreamDedup.verify]]'s stream-static exact-verify
    * join ("at scale, a persisted sketch table keyed by id" — this is
    * that table). Reads `docs/` behind the crashed-swap guard, MINUS
    * tombstoned docs (a deleted doc must stop verifying as a dup
    * source on the online path exactly as on the batch path). The
    * streaming sketch stage must run under the store's pinned
    * [[params]] — signatures from different hash families never agree —
    * which is why this returns the table rather than hiding the params:
    * the caller feeds `params(spark, path)` into `StreamDedup.banded`
    * and the store into the verify, one source of truth for both. Rows
    * replayed by an at-least-once [[ingest]] may appear until the next
    * compact; they can only duplicate verified-pair emissions, which is
    * already the streaming path's documented at-least-once delivery
    * contract. */
  def sketchTable(spark: SparkSession, path: String, idCol: String): DataFrame = {
    // one generation resolution for the whole call: data and tombstones
    // must come from the SAME committed generation
    val rpath = PartitionSwap.root(spark, path, Store)
    val base = PartitionSwap.read(spark, rpath, Store, "docs").select(col(idCol), col("hs"))
    tombstones(spark, rpath) match {
      case Some(ts) => base.join(broadcast(ts), Seq(idCol), "left_anti")
      case None => base
    }
  }

  // ---- tombstone deletes (the lifecycle's delete stage) ----

  /** DELETE docs by id — the takedown path: appends the ids as tombstone
    * rows to the hidden sidecar ([[PartitionSwap.delete]]: cast to the
    * store's id type, a null id raises, fenced) and touches NO
    * data file, so a delete costs O(deleted ids) regardless of store size.
    * A tombstoned doc stops being a dup source everywhere the store
    * serves: [[probe]] masks its candidates before the sig/shingle
    * fetches, and [[sketchTable]] masks the streaming verify side.
    * [[purge]] reclaims the bytes on the compaction cadence. */
  def delete(ids: DataFrame, idCol: String, path: String,
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit =
    PartitionSwap.delete(ids, idCol, path, Store, fenceWaitMs)

  /** Pending tombstone ids of the generation probes serve, or None when
    * nothing has been deleted since the last [[purge]] — callers skip the
    * mask join entirely (zero plan cost on a tombstone-free store). */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    PartitionSwap.tombstones(spark, path, Store)

  /** PURGE — physically remove tombstoned docs from BOTH tables, on the
    * compaction cadence ([[PartitionSwap.purge]]): docs/ routes straight
    * from the tombstone ids, bands/ by a column-pruned (id, bucket) scan
    * semi-joined against the broadcast tombstones; exactly the affected
    * buckets rewrite minus the tombstone set, and the sidecar drops LAST,
    * so no deleted doc is ever served through any crash window. Returns
    * the rewritten (table, bucket) pairs; serialized by the store-root
    * writer fence. */
  def purge(spark: SparkSession, path: String): Seq[(String, Long)] =
    PartitionSwap.purge(spark, path, Store)

  /** PROBE: near-dup pairs (id_a = history doc, id_b = batch doc,
    * jaccard ≥ threshold) of a new batch against the indexed history —
    * value-identical to `minhashNearDupsAgainst(history, batch, ...)`
    * under the store's parameters (spec-proven), but the history side is
    * the PRE-STORED index:
    *  1. the batch sketches once, fanned out like every sketch stage
    *     ([[Dedup.fanOut]]) and cached (it is batch-sized);
    *  2. its band keys' distinct buckets collect driver-side (≤ B ints,
    *     routing metadata) → the bands/ scan prunes statically;
    *  3. band-collision + size-ratio prune + sig-agreement all run
    *     map-side over that pruned scan against the BROADCAST batch
    *     bands — the index never shuffles;
    *  4. survivors' id-buckets collect (≤ B again) → the docs/ scan
    *     prunes statically, and the exact shingle-set verify
    *     ([[Dedup.verifyPairsAcross]]'s defining expression) runs over
    *     candidate-scale rows only.
    * Probes serve the LIVE history: candidates whose history doc is
    * tombstoned ([[delete]]) are masked by a broadcast anti-join BEFORE
    * the shingle fetch — a deleted doc costs no verify bytes and never
    * reaches the output; on a tombstone-free store the mask join does
    * not exist in the plan at all.
    * Returns an EAGER frame (localCheckpoint) — same contract as the
    * self-contained operator. */
  def probe(spark: SparkSession, path: String, batch: DataFrame,
            textCol: String, idCol: String, threshold: Double): DataFrame = {
    // one generation resolution for the whole probe: params, bands, docs,
    // and tombstones must all come from the SAME committed generation
    val rpath = PartitionSwap.root(spark, path, Store)
    val p = params(spark, rpath)
    val mb = Dedup.minhashed(Dedup.fanOut(batch), textCol, idCol, p.k, p.rowsPerBand, p.shingleN)
      .filter(size(col("hs")) > 0).cache()
    try {
      val plausibleAll = plausibleCandidates(spark, rpath, mb, idCol, threshold, p)
      val plausible = (tombstones(spark, rpath) match {
        case Some(ts) => plausibleAll.join(
          broadcast(ts.select(col(ts.columns.head).as("id_a"))), Seq("id_a"), "left_anti")
        case None => plausibleAll
      }).localCheckpoint()
      // candidate ids' buckets: ≤ buckets longs again — candidate-driven
      // static pruning of the shingle-array fetch
      val candBuckets: Seq[Any] = plausible
        .select(docBucket(col("id_a"), p.buckets).as("bucket"))
        .distinct().collect().map(_.get(0)).toIndexedSeq
      val out =
        if (candBuckets.isEmpty)
          mb.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
            lit(0.0).as("jaccard")).limit(0)
        else {
          // dropDuplicates: the tables are SETS (at-least-once streaming
          // ingest may replay rows); the dedup runs over candidate-scale
          // pruned rows, never the corpus
          val hsDocs = PartitionSwap.read(spark, rpath, Store, "docs")
            .filter(col("bucket").isin(candBuckets: _*))
            .select(col(idCol), col("hs"))
            .dropDuplicates(idCol)
          Dedup.verifyPairsAcross(plausible, hsDocs,
            mb.select(col(idCol), col("hs")), idCol, threshold)
        }
      out.localCheckpoint()
    } finally { mb.unpersist(); () }
  }

  /** Stages 2–3 of [[probe]] (package-private so the pruning spec can
    * inspect the executed scans): band-collision + size-ratio +
    * sig-agreement candidates of an already-sketched batch `mb` against
    * the stored index, all three map-side over the pruned bands/ scan as
    * ONE lazy plan (the bucket route is the only eager work, ≤
    * `p.buckets` longs) — the index never shuffles. */
  private[graft] def plausibleCandidates(spark: SparkSession, path: String,
                                         mb: DataFrame, idCol: String,
                                         threshold: Double, p: Params): DataFrame = {
    val bb = mb.select(col(idCol).as("id_b"), size(col("hs")).as("nb"),
        col("sig").as("sig_b"), explode(col("bands")).as("band"))
      .withColumn("bucket", pmod(xxhash64(col("band")), lit(p.buckets)))
    // probe route: ≤ buckets longs, bounded by construction
    val probeBuckets: Seq[Any] =
      bb.select("bucket").distinct().collect().map(_.get(0)).toIndexedSeq
    if (probeBuckets.isEmpty)
      mb.select(col(idCol).as("id_a"), col(idCol).as("id_b")).limit(0)
    else {
      val agree = graft.expressions.HashExpressions
        .positionalAgree(col("sig"), col("sig_b"))
      PartitionSwap.read(spark, path, Store, "bands")
        .filter(col("bucket").isin(probeBuckets: _*))
        .join(broadcast(bb), Seq("band", "bucket"))
        .filter(col("n_sh") >= col("nb") * threshold &&
          col("nb") >= col("n_sh") * threshold)
        .filter(agree >= Dedup.minAgree(p.k, threshold))
        .select(col(idCol).as("id_a"), col("id_b")).distinct()
    }
  }

  /** RE-BUCKET the store — the remedy for a route bound that corpus
    * growth has outgrown (the [[AnnStore.recluster]] analog for this
    * store's one scale dial): `buckets` is pinned at [[write]] time and
    * bounds BOTH the probe route and the partition-dir count, so a store
    * that grows 100× under appends ends up with huge per-bucket
    * partitions and a route that prunes almost nothing. Rebucketing
    * recomputes every row's bucket under `newBuckets` (band rows by
    * band hash, doc rows by id hash — the same write-time derivations),
    * rewrites the whole tree to a scratch root, re-pins `_params`, and
    * swaps the WHOLE store atomically. Whole-store, not per-partition:
    * the bucket function changes, so rows move BETWEEN buckets and no
    * per-bucket intermediate state is consistent. Pure layout: probe
    * results are identical before and after (spec-proven), tombstones
    * travel with the store, and the sketch parameters (k, bands,
    * shingles) never change — signatures are not
    * re-derived, so no text is needed.
    *
    * Crash windows: the swap is [[PartitionSwap.swapRoot]] with the
    * `_params` sidecar as its commit marker, written LAST — recovery
    * ([[recover]] / the next writer op) promotes the new tree iff that
    * marker exists, else restores the original, and between the two
    * renames readers serve the parked previous generation. Serialized by
    * the store-root writer fence.
    *
    * Scale shape: one distributed rewrite of the index tables —
    * O(index), not O(corpus text): a band row is ~1 KB (its signature),
    * so rebucketing a 100 TB corpus's index moves the index's bytes only. Run it on the compaction cadence when
    * per-bucket size (or probe-route selectivity) drifts past the
    * operator's floor. */
  def rebucket(spark: SparkSession, path: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    PartitionSwap.fenced(spark, path, Store) { fs =>
      PartitionSwap.swapRoot(fs, path, Rebucket) { tmpRoot =>
        val p = params(spark, path)
        val bands = spark.read.parquet(bandsDir(path)).drop("bucket")
          .withColumn("bucket", pmod(xxhash64(col("band")), lit(newBuckets)))
        // the doc table's id column is whatever the caller named it at
        // write time — everything except (hs, bucket) is the id
        val docsDf = spark.read.parquet(docsDir(path))
        val idCol = docsDf.columns.filterNot(Set("hs", "bucket")).head
        // the two scratch-table rewrites are independent dirs under the
        // one held fence — overlap them (guide §2.6); the commit marker
        // below still lands strictly after BOTH complete, so the crash
        // windows are unchanged
        graft.etl.Concurrent.awaitAll(2)(Seq(
          () => bands.repartition(newBuckets, col("bucket"))
            .write.partitionBy("bucket").parquet(bandsDir(tmpRoot.toString)),
          () => docsDf.drop("bucket")
            .withColumn("bucket", docBucket(col(idCol), newBuckets))
            .repartition(newBuckets, col("bucket"))
            .write.partitionBy("bucket").parquet(docsDir(tmpRoot.toString))))
        // pending tombstones are store state — they travel with the tree
        tombstones(spark, path).foreach(
          _.write.parquet(PartitionSwap.tombstoneDir(tmpRoot.toString)))
        // COMMIT MARKER: _params lands last — recovery promotes the
        // scratch tree iff this write's _SUCCESS exists
        writeParams(spark, p.copy(buckets = newBuckets), paramsDir(tmpRoot.toString))
      }
    }
  }

  /** COMPACT fragmented band/doc buckets back to one file each
    * ([[PartitionSwap.compact]] on both tables): only the >maxFiles
    * buckets rewrite, untouched partitions stay byte-identical. The
    * tables are SETS — an at-least-once streaming replay ([[ingest]])
    * re-appends identical rows, and compaction is where their bytes are
    * reclaimed (probe is duplicate-blind by construction). Returns the
    * compacted (table, bucket) pairs; idempotent. */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 1): Seq[(String, Long)] =
    PartitionSwap.compact(spark, path, Store, maxFiles)

  /** MERGE the store at `srcPath` INTO the one at `dstPath` — shard
    * consolidation for the band index: N crawl shards each sketched
    * their slice under the SAME pinned parameters, probing wants ONE
    * history. Because identical params mean identical hash families AND
    * identical bucket routing (`xxhash64 mod B` with the same B), both
    * tables merge by pure FILE-SYSTEM METADATA ([[PartitionSwap.merge]]).
    * Param equality is ENFORCED (one bounded `_params` read per side):
    * signatures from different hash families never agree and a
    * bucket-count mismatch mis-routes probes; `rebucket`/re-sketch
    * before merging such stores. Shards that ingested OVERLAPPING doc
    * sets are safe: the tables are sets (probe is duplicate-blind; the
    * next [[compact]] canonicalizes), so overlap costs bytes, never
    * pairs.
    *
    * @return the (table, bucket) pairs that received files */
  def merge(spark: SparkSession, srcPath: String,
            dstPath: String): Seq[(String, Long)] =
    PartitionSwap.merge(spark, srcPath, dstPath, Store)

  /** Heal a store whose writer crashed mid-swap — a per-bucket
    * compact/purge swap or a whole-store rebucket ([[PartitionSwap.recover]]).
    * Idempotent; a no-op on a healthy store. */
  def recover(spark: SparkSession, path: String): Unit =
    PartitionSwap.recover(spark, path, Store)

  /** Clear a stale writer fence left by a crashed compact — see
    * [[PartitionSwap.breakLock]]'s caveat. */
  def breakLock(spark: SparkSession, path: String): Boolean =
    PartitionSwap.breakLock(spark, path)
}
