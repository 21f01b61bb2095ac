package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, raise_error, when}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The store commit protocol and the maintained-store lifecycle, defined
  * once for every sink that swaps state on disk. Rename must be atomic
  * (local FS / HDFS); object stores need a table format on top. One
  * definition: two copies of the mv/park/promote dance could drift and
  * silently break the spec-proven crash windows. It holds:
  *  - the scratch naming: `<path>.<tag>_tmp` / `<path>.<tag>_old` beside
  *    the root being swapped (`<path>.tmp` / `<path>.old` untagged);
  *  - the WHOLE-ROOT swap ([[swapRoot]], [[recoverRoot]],
  *    [[resolveRoot]]): write a scratch tree, park the live root,
  *    promote, drop the park — [[ParquetSink]]'s keyed upserts,
  *    [[AnnStore.recluster]], [[BandStore.rebucket]] and
  *    [[ZOrderTable.compact]], each naming its scratch and its
  *    committed-tree test in a [[RootSwap]];
  *  - the PER-PARTITION swap ([[swapDirs]]): rewrite a subset of a
  *    table's partition dirs through scratch roots OUTSIDE the table (a
  *    `<col>=3.old` dir inside it would corrupt partition discovery);
  *  - the LIFECYCLE CORE of [[AnnStore]], [[BandStore]] and
  *    [[ZOrderTable]], each described by one [[Store]] value: the writer
  *    fence with recovery on entry ([[fenced]]), the read rule
  *    ([[snapshot]]), compact, delete, purge, merge and [[seal]]. Each
  *    store keeps only its layout: write/append, probe, readLive and its
  *    whole-store rewrite;
  *  - the side-file rule ([[isSideFile]]), the one footer reader and the
  *    one-row parameter sidecar read ([[sidecar]]).
  * Recovery never deletes the only copy. */
private[sinks] object PartitionSwap {

  // ---- files and footers ----

  /** Spark's hidden-file convention: `_`-prefixed (`_SUCCESS`,
    * `_metadata`, sidecars) and `.`-prefixed (the `.part-*.crc` checksum
    * shadows RawLocalFileSystem writes) names are not data files. */
  def isSideFile(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private def isDataFile(s: FileStatus): Boolean =
    s.isFile && !isSideFile(s.getPath.getName)

  /** The filesystem holding `path`, under the session's Hadoop conf. */
  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files directly under `dir`; none when it does not exist. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq.filter(isDataFile) else Nil

  def hasData(fs: FileSystem, dir: String): Boolean =
    dataFiles(fs, new Path(dir)).nonEmpty

  /** A store's one-row parameter sidecar (`_params`, `_zparams`), read
    * with its declared DDL `schema`: no footer inference, so the caller's
    * `head()` is the one Spark job. It reads the sidecar's data files by
    * name, because Spark's path filter hides a `_`-prefixed dir read by
    * name (it warns "All paths were ignored"). A column the file predates
    * reads as null. */
  def sidecar(spark: SparkSession, dir: String, schema: String): DataFrame = {
    val files = fsOf(spark, dir).listStatus(new Path(dir)).filter(isDataFile).map(_.getPath.toString)
    spark.read.schema(schema).parquet(files.toIndexedSeq: _*)
  }

  /** The first data file under `dir`, descending into partition dirs and
    * skipping side files and dirs. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val (files, dirs) = fs.listStatus(dir)
      .filterNot(s => isSideFile(s.getPath.getName)).partition(_.isFile)
    files.headOption.orElse(dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
  }

  /** Open one parquet file's footer on the driver — the one footer reader:
    * a schema or a row count from metadata, where `spark.read.parquet`
    * would infer with a Spark job and a `count()` would scan the rows. */
  private def footer[T](spark: SparkSession, file: FileStatus)(f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    try f(r) finally r.close()
  }

  private def footerSchema(spark: SparkSession, file: FileStatus): StructType =
    footer(spark, file)(r =>
      org.apache.spark.sql.GraftShim.parquetSchema(spark, r.getFileMetaData.getSchema))

  /** Exact row count of the data files directly under `dirs`, from their
    * footers — O(files) metadata reads, read in parallel on the driver,
    * instead of the O(rows) scan a `df.count()` pays. Every file here is
    * parquet the store wrote itself, so the footer counts are exact. */
  def rowCount(spark: SparkSession, dirs: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val files = dirs.flatMap(d => dataFiles(fsOf(spark, d), new Path(d)))
    files.asJava.parallelStream().mapToLong(f => footer(spark, f)(_.getRecordCount)).sum()
  }

  /** One scan over the data files directly under `dirs` (each must hold
    * some), typed from the first one's footer — no inference job, where
    * a union of per-dir reads pays one per dir. */
  def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val first = dataFiles(fsOf(spark, dirs.head), new Path(dirs.head)).head
    spark.read.schema(footerSchema(spark, first)).parquet(dirs: _*)
  }

  /** `<path>.<tag>_<kind>`, or `<path>.<kind>` for the untagged swap. */
  private def scratch(path: String, tag: String, kind: String): String =
    if (tag.isEmpty) s"$path.$kind" else s"$path.${tag}_$kind"

  /** A checked rename — every directory rename of graft's sinks goes
    * through here (`tools.Inventory` fails on a rename anywhere else). */
  private def mv(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"PartitionSwap: rename $from -> $to failed")

  // ---- whole-root swap ----

  /** How one whole-root swap names its scratch roots and tells a
    * COMMITTED scratch tree (safe to promote) from a half-written one.
    * With a `marker` (a path under the scratch tree the writer creates
    * last, before any rename) the tree is committed iff the marker
    * exists, parked root or not. Without one, the tree is committed iff
    * the live root is parked beside it — the renames start only after the
    * write finished — and a scratch tree with neither live nor parked
    * root is a half-written first create, discarded by the next swap. */
  final case class RootSwap(tag: String, marker: Option[String]) {
    def tmp(path: String): String = scratch(path, tag, "tmp")
    def old(path: String): String = scratch(path, tag, "old")
    private[PartitionSwap] def committed(fs: FileSystem, path: String): Boolean =
      marker match {
        case Some(m) => fs.exists(new Path(tmp(path), m))
        case None => fs.exists(new Path(tmp(path))) && fs.exists(new Path(old(path)))
      }
  }

  /** Replace the whole tree at `path`: recover any crashed prior swap,
    * clear stale scratch, let `write` build the new tree at the tmp root
    * (its marker last, if the swap has one), then park the live root,
    * promote the tmp root and drop the park. `write` may read the live
    * root — it is untouched until `write` returns. */
  def swapRoot[T](fs: FileSystem, path: String, s: RootSwap)(write: Path => T): T = {
    recoverRoot(fs, path, s)
    val (dst, tmp, old) = (new Path(path), new Path(s.tmp(path)), new Path(s.old(path)))
    fs.delete(tmp, true)
    fs.delete(old, true)
    val out = write(tmp)
    if (fs.exists(dst)) {
      mv(fs, dst, old)
      mv(fs, tmp, dst)
      fs.delete(old, true)
    } else mv(fs, tmp, dst)
    out
  }

  /** Heal a whole-root swap that died mid-promotion. With a live root,
    * any scratch is leftover and drops. Without one, a committed scratch
    * tree is promoted (the park drops), else the parked root is restored
    * (the partial tree drops). Idempotent; it must run before any state
    * read that assumes the live root is current ([[Scd2Sink]]'s replay
    * marker lives under it). */
  def recoverRoot(fs: FileSystem, path: String, s: RootSwap): Unit = {
    val (dst, tmp, old) = (new Path(path), new Path(s.tmp(path)), new Path(s.old(path)))
    if (fs.exists(dst)) {
      fs.delete(tmp, true)
      fs.delete(old, true)
    } else if (s.committed(fs, path)) {
      mv(fs, tmp, dst)
      fs.delete(old, true)
    } else if (fs.exists(old)) {
      mv(fs, old, dst)
      fs.delete(tmp, true)
    }
    ()
  }

  /** The newest COMMITTED generation's root, for readers: the live path
    * when it exists; between a swap's two renames (or after a crash
    * there) the parked previous generation, complete with its sidecars;
    * a committed-but-unpromoted scratch tree only when no previous
    * generation survives (the rename order never leaves that state; kept
    * for defense). Readers stay readers — nothing here mutates. */
  def resolveRoot(fs: FileSystem, path: String, s: RootSwap): String =
    if (fs.exists(new Path(path))) path
    else if (fs.exists(new Path(s.old(path)))) s.old(path)
    else if (s.committed(fs, path)) s.tmp(path)
    else path

  // ---- the maintained stores, described as data ----

  /** One maintained store's lifecycle shape — every difference the
    * shared ops need, so each op below is written once:
    *  - `tables`: the table dirs under the root (`""` is the root itself);
    *  - `partCol`: the partition column naming each table's dirs
    *    `<partCol>=<long>`; `""` when the dirs are plain names
    *    (ZOrderTable's `gen=<k>` and `tail`, read without a column);
    *  - `whole`: the whole-root swap, recovered before the per-partition
    *    swaps (their scratch sits beside the tables of the root it restores);
    *  - `distinctRows`: the tables are SETS — [[compact]] drops duplicate
    *    rows (an at-least-once ingest replay re-appends identical rows);
    *  - `idRoute`: tables whose partition derives from the row id alone,
    *    as (session, root, id) => partition value — [[purge]] routes them
    *    straight from the tombstone ids, reading nothing; every other
    *    table routes by a pruned (id, partition) scan;
    *  - `mergeCheck`: raises when two stores of this kind cannot
    *    file-merge (session, src, dst). */
  final case class Store(
      name: String,
      tables: Seq[String],
      partCol: String,
      whole: RootSwap,
      distinctRows: Boolean = false,
      idRoute: Map[String, (SparkSession, String, Column) => Column] = Map.empty,
      mergeCheck: (SparkSession, String, String) => Unit = (_, _, _) => ()) {
    private[PartitionSwap] val prefix = if (partCol.isEmpty) "" else s"$partCol="
    private[PartitionSwap] def dir(root: String, table: String): String =
      if (table.isEmpty) root else s"$root/$table"
    private[PartitionSwap] def value(dir: String): Long = dir.stripPrefix(prefix).toLong
  }

  // ---- writer fence ----

  private def lockPath(path: String) = new Path(path + ".lock")

  /** How long a batch-class writer (append / streaming ingest / tombstone
    * delete) waits for a maintenance-held fence before giving up —
    * bounded queueing, round-15 verdict item: a production ingest with a
    * maintenance daemon wants append-vs-compact to SERIALIZE, not fail
    * the batch. Maintenance ops themselves stay fail-fast (waitMs = 0):
    * two maintenance runs racing is a scheduling bug worth surfacing. */
  val DefaultBatchFenceWaitMs: Long = 60000L

  /** Every writer op of a maintained store runs `body` here, holding the
    * store's WRITER FENCE: the fence file is created atomically
    * (create-if-absent — atomic on local FS / HDFS; object stores need a
    * conditional-put or table format), so a second writer RAISES instead
    * of interleaving its renames with ours and corrupting the store. The
    * token records pid@host so the raise names the holder. `waitMs` > 0
    * turns the raise into a BOUNDED QUEUE (appends, ingest and deletes
    * poll until the fence frees or the deadline passes, then raise the
    * same diagnostic plus how long they waited); maintenance ops keep 0 —
    * exclusive, fail-fast. A crashed holder leaves a stale fence by
    * design: breaking it is a human decision ([[breakLock]]), never
    * something a waiting writer may assume. Inside the fence, any swap a
    * crashed writer left heals first — the whole-root swap, then each
    * table's per-partition swap — so `body` starts from a store with no
    * scratch state. */
  def fenced[T](spark: SparkSession, path: String, store: Store,
                waitMs: Long = 0L)(body: FileSystem => T): T = {
    val fs = fsOf(spark, path)
    val lp = lockPath(path)
    val token =
      s"${ProcessHandle.current().pid()}@${java.net.InetAddress.getLocalHost.getHostName}"
    def tryAcquire(): Boolean =
      try {
        val o = fs.create(lp, false)
        o.write(token.getBytes("UTF-8")); o.close(); true
      } catch { case _: java.io.IOException => false }
    val deadline = System.nanoTime() + waitMs * 1000000L
    var acquired = tryAcquire()
    while (!acquired && System.nanoTime() < deadline) {
      Thread.sleep(100L)
      acquired = tryAcquire()
    }
    if (!acquired) {
      val holder =
        try {
          val in = fs.open(lp)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: java.io.IOException => "<unreadable>" }
      val waited = if (waitMs > 0) s" (waited ${waitMs} ms)" else ""
      throw new IllegalStateException(
        s"${store.name}: writer fence $lp is held by [$holder]$waited — another " +
          "compact/purge/recluster is running, or its owner crashed; after " +
          s"confirming the owner is dead, clear it with ${store.name}.breakLock")
    }
    try {
      recoverRoot(fs, path, store.whole)
      store.tables.foreach(t => recoverSwap(fs, store.dir(path, t), store.prefix))
      body(fs)
    } finally { fs.delete(lp, false); () }
  }

  /** Heal a store whose writer crashed mid-swap — the recovery every
    * writer op runs on entry, callable on its own by an operator who owns
    * the writer role. Idempotent; a no-op on a healthy store. */
  def recover(spark: SparkSession, path: String, store: Store): Unit =
    fenced(spark, path, store)(_ => ())

  /** Clear a stale writer fence left by a crashed holder. Returns whether
    * a fence existed. The caller asserts the owner is dead — breaking a
    * LIVE holder's fence reintroduces exactly the interleaved-rename
    * corruption the fence exists to prevent. */
  def breakLock(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).delete(lockPath(path), false)

  // ---- generation-consistent reads ----

  /** The store's newest committed generation root ([[resolveRoot]] under
    * its whole-root swap). */
  def root(spark: SparkSession, path: String, store: Store): String =
    resolveRoot(fsOf(spark, path), path, store.whole)

  /** THE READ RULE, one for every table of every store: the live dirs of
    * `table` in the newest committed generation, listed ONCE, and the
    * dirs a per-partition swap parked with no live twin in that snapshot
    * — during an in-flight (or crashed) swap those hold the last
    * committed copy of their partition, and a plain read would serve a
    * PARTIAL table without them. Twin-existence is derived from the one
    * listing, so a promote landing between listings cannot make a dir
    * look parked here and live elsewhere.
    *
    * Serving a parked whole-root generation, the scratch beside the
    * ORIGINAL path's table is probed too: a per-partition swap that
    * crashed before the whole-root swap started scratched beside the
    * then-live table, and the whole-root rename does not carry sibling
    * scratch along (the doubly-crashed store keeps its parked dirs).
    * Parked dirs dedup by name, first base wins. */
  private def snapshot(fs: FileSystem, path: String, store: Store,
                       table: String): (String, Seq[Path], Seq[Path]) = {
    val root = resolveRoot(fs, path, store.whole)
    val dir = store.dir(root, table)
    val live = partitionDirs(fs, new Path(dir), store.prefix)
    val liveNames = live.map(_.getName).toSet
    val bases = dir +: (if (root == store.whole.old(path)) Seq(store.dir(path, table)) else Nil)
    val parked = bases
      .flatMap(b => partitionDirs(fs, new Path(scratch(b, "swap", "old")), store.prefix))
      .filterNot(c => liveNames(c.getName))
      .groupBy(_.getName).map(_._2.head).toSeq.sortBy(_.getName)
    (dir, live, parked)
  }

  /** Read one partitioned table (`partCol` set) of the store's LAST
    * COMMITTED GENERATION under [[snapshot]]'s rule: on the happy path a
    * plain partition-discovered read of the table dir (full pruning
    * contract, no extra plan cost beyond the scratch-root existence
    * probes); with parked dirs, those union in with the partition column
    * injected from the dir name, and the live side reads the SAME
    * snapshot's dirs (explicit dirs + basePath, same pruning as
    * discovery), so no partition is served twice. A read overlapping a
    * commit may still raise FileNotFoundException on parked files the
    * swap's cleanup deleted after the listing — never silently
    * double-count or lose rows; callers retry. Readers stay readers —
    * nothing here mutates. */
  def read(spark: SparkSession, path: String, store: Store, table: String = ""): DataFrame = {
    val (dir, live, parked) = snapshot(fsOf(spark, path), path, store, table)
    if (parked.isEmpty) spark.read.parquet(dir)
    else {
      // partition values here are small integers (centroid ids, bucket
      // numbers), which discovery types as INT — the injected column
      // matches that so the union lines up
      val parkedDfs = parked.map(d => spark.read.parquet(d.toString)
        .withColumn(store.partCol, lit(store.value(d.getName)).cast("int")))
      val liveDf = if (live.isEmpty) Nil
        else Seq(spark.read.option("basePath", dir).parquet(live.map(_.toString): _*))
      (liveDf ++ parkedDfs).reduce(_ unionByName _)
    }
  }

  /** The dirs holding data of a store whose dirs are plain names
    * (`partCol` empty), under [[snapshot]]'s rule: live ones first, then
    * the parked ones with no live twin. */
  def committedDirs(spark: SparkSession, path: String, store: Store): Seq[String] = {
    val fs = fsOf(spark, path)
    val (_, live, parked) = snapshot(fs, path, store, "")
    (live.sortBy(_.getName) ++ parked).filter(d => dataFiles(fs, d).nonEmpty).map(_.toString)
  }

  // ---- tombstone deletes ----

  /** The tombstone sidecar lives INSIDE the store root under an
    * underscore name: parquet discovery ignores it, so data reads never
    * see it, and the store state (data + pending deletes) travels as one
    * directory tree through every whole-root swap and merge. */
  def tombstoneDir(root: String): String = root + "/_tombstones"

  /** DELETE by id: append the batch's ids to the sidecar under the writer
    * fence, touching no data file. Ids are cast to the store's own id
    * type, read from one footer of the store's data — two batches with
    * different caller types (INT then BIGINT) would otherwise leave
    * mixed-schema parquet in the sidecar. A null id raises: a takedown
    * that silently matches nothing is worse than a failure. Fenced
    * because purge and the whole-root swaps drop or carry the sidecar as
    * a late step, so a tombstone landing mid-maintenance would be
    * discarded unapplied. */
  def delete(ids: DataFrame, idCol: String, path: String, store: Store,
             waitMs: Long): Unit = {
    val spark = ids.sparkSession
    fenced(spark, path, store, waitMs) { fs =>
      val storeType = firstDataFile(fs, new Path(path)).toSeq
        .flatMap(footerSchema(spark, _).fields).find(_.name == idCol)
        .getOrElse(throw new IllegalArgumentException(
          s"${store.name}.delete: store at $path has no column `$idCol` " +
            "(the id column name must be the store's id column)"))
        .dataType
      val id = col(idCol).cast(storeType)
      ids.select(coalesce(
          when(id.isNull, raise_error(lit(s"${store.name}.delete: null $idCol in the delete batch"))),
          id).as(idCol))
        .write.mode("append").parquet(tombstoneDir(path))
    }
  }

  /** Pending tombstones of the store at `path`, read from the SAME
    * generation [[read]] serves data from (mid-swap, the parked
    * generation's sidecar masks ITS rows), or None when the sidecar holds
    * no data file (an empty delete batch leaves only `_SUCCESS`); callers
    * skip the mask join entirely. No Spark job: the schema comes from one
    * footer and the files are read by name, as [[sidecar]] does. */
  def tombstones(spark: SparkSession, path: String, store: Store): Option[DataFrame] = {
    val fs = fsOf(spark, path)
    val files = dataFiles(fs, new Path(tombstoneDir(resolveRoot(fs, path, store.whole))))
    files.headOption.map(f => spark.read.schema(footerSchema(spark, f))
      .parquet(files.map(_.getPath.toString): _*))
  }

  /** Drop the sidecar — purge's LAST step, once every tombstoned row is
    * physically gone; any earlier crash leaves tombstones that still mask. */
  private def dropTombstones(fs: FileSystem, path: String): Unit = {
    fs.delete(new Path(tombstoneDir(path)), true); ()
  }

  // ---- maintenance: compact and purge ----

  /** COMPACT: rewrite each table partition holding more than `maxFiles`
    * data files into ONE file through the per-partition swap, touching
    * nothing else — untouched partitions' files stay byte-identical and
    * files are layout, never semantics. One pruned distributed job per
    * table over ONLY the fragmented partitions. Returns the compacted
    * (table, partition) pairs, sorted per table; idempotent. */
  def compact(spark: SparkSession, path: String, store: Store,
              maxFiles: Int): Seq[(String, Long)] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    fenced(spark, path, store) { fs =>
      rewrite(fs, path, store, store.tables.map { t =>
        val dir = store.dir(path, t)
        val targets = partitionDirs(fs, new Path(dir), store.prefix)
          .filter(c => fs.listStatus(c).count(isDataFile) > maxFiles)
          .map(c => store.value(c.getName)).sorted
        (t, targets, () => spark.read.parquet(dir))
      })(rows => if (store.distinctRows) rows.distinct() else rows)
    }
  }

  /** PURGE: physically reclaim tombstoned rows on the compaction cadence.
    * Each table routes to the partitions holding tombstoned rows — by
    * `idRoute` (intersected with the partitions that exist) or an (id,
    * partition) column-pruned scan semi-joined to the broadcast
    * tombstones — and exactly those rewrite minus the tombstone set. The
    * sidecar drops LAST: any crash leaves tombstones that still mask, so
    * the call is idempotent and no deleted row is ever served. A
    * partition whose every row is tombstoned disappears. Returns the
    * rewritten (table, partition) pairs; empty = nothing pending. */
  def purge(spark: SparkSession, path: String, store: Store): Seq[(String, Long)] =
    fenced(spark, path, store) { fs =>
      tombstones(spark, path, store) match {
        case None => Seq.empty
        case Some(ts) =>
          val id = ts.columns.head
          val tsb = broadcast(ts)
          def longs(df: DataFrame): Seq[Long] =
            df.distinct().collect().map(_.getLong(0)).toIndexedSeq.sorted
          val out = rewrite(fs, path, store, store.tables.map { t =>
            val dir = store.dir(path, t)
            store.idRoute.get(t) match {
              case Some(route) =>
                val live = partitionDirs(fs, new Path(dir), store.prefix)
                  .map(c => store.value(c.getName)).toSet
                val targets = longs(ts.select(route(spark, path, col(id)).cast("long")))
                (t, targets.filter(live), () => spark.read.parquet(dir))
              case None =>
                val rows = spark.read.parquet(dir)
                val targets = longs(rows.select(col(id), col(store.partCol))
                  .join(tsb, Seq(id), "left_semi").select(col(store.partCol).cast("long")))
                (t, targets, () => rows)
            }
          })(_.join(tsb, Seq(id), "left_anti"))
          dropTombstones(fs, path)
          out
      }
    }

  /** Rewrite each planned (table, target partitions, table scan) through
    * the per-partition swap, the rows passing through `keep`. Scans are
    * planned on the calling thread; the table rewrites are independent
    * dirs under the one held fence, so their jobs overlap (guide §2.6;
    * [[graft.etl.Concurrent]]). Returns the (table, partition) pairs in
    * plan order. */
  private def rewrite(fs: FileSystem, path: String, store: Store,
                      plans: Seq[(String, Seq[Long], () => DataFrame)])
                     (keep: DataFrame => DataFrame): Seq[(String, Long)] = {
    val swaps = plans.filter(_._2.nonEmpty).map { case (t, targets, scan) =>
      val rows = keep(scan().filter(col(store.partCol).isin(targets: _*)))
      () => swapRewrite(fs, store.dir(path, t), store, targets, rows)
    }
    graft.etl.Concurrent.awaitAll(2)(swaps)
    plans.flatMap { case (t, targets, _) => targets.map(t -> _) }
  }

  // ---- merge (shard consolidation) ----

  /** MERGE the store at `src` INTO the one at `dst`: both partition every
    * table the same way and parquet files are immutable, so each src
    * partition's files RENAME into dst's matching dir (created as
    * needed), the tombstone sidecars union the same way, and the src root
    * drops last — O(files) namenode ops, zero data bytes read or written.
    * `store.mergeCheck` enforces the store's compatibility contract
    * first. Visibility and crash windows are an append's: dst only GAINS
    * complete immutable files, and a crash leaves each file at exactly
    * one root (rename is atomic), so a re-run completes the merge.
    * Serialized by BOTH stores' writer fences, dst's taken first —
    * callers running merges concurrently must order paths the same way
    * or one raises. Returns the (table, partition) pairs that received
    * files. */
  def merge(spark: SparkSession, src: String, dst: String, store: Store): Seq[(String, Long)] = {
    require(new Path(src) != new Path(dst),
      s"${store.name}.merge: src and dst are the same store ($src)")
    fenced(spark, dst, store) { dfs =>
      fenced(spark, src, store) { sfs =>
        require(sfs.exists(new Path(src)), s"${store.name}.merge: no store at $src")
        require(dfs.exists(new Path(dst)), s"${store.name}.merge: no store at $dst")
        store.mergeCheck(spark, src, dst)
        val moved = store.tables.flatMap { t =>
          partitionDirs(sfs, new Path(store.dir(src, t)), store.prefix).sortBy(_.getName).map { c =>
            moveFiles(sfs, sfs.listStatus(c).toSeq.filter(_.isFile), dfs,
              new Path(store.dir(dst, t), c.getName), store.name)
            t -> store.value(c.getName)
          }
        }
        moveFiles(sfs, dataFiles(sfs, new Path(tombstoneDir(src))), dfs,
          new Path(tombstoneDir(dst)), store.name)
        // src drops LAST: a crash anywhere above leaves every file at
        // exactly one root and a re-run completes the move
        sfs.delete(new Path(src), true)
        moved
      }
    }
  }

  /** Move `files` into `dstDir` (created as needed) by rename. A name
    * collision raises rather than overwrites (committer part files carry
    * UUIDs — a collision means the same store is being merged twice). */
  private def moveFiles(sfs: FileSystem, files: Seq[FileStatus], dfs: FileSystem,
                        dstDir: Path, store: String): Unit = {
    if (files.nonEmpty) dfs.mkdirs(dstDir)
    files.foreach { st =>
      val target = new Path(dstDir, st.getPath.getName)
      if (dfs.exists(target))
        throw new IllegalStateException(
          s"$store.merge: $target already exists — refusing to overwrite")
      mv(sfs, st.getPath, target)
    }
  }

  // ---- the generation ladder ----

  /** SEAL the live dir `dir` of the store root `path` as `as`: `write`
    * rewrites it in place through the per-partition swap (a replacement
    * of the same rows), then one atomic rename gives it its sealed name,
    * so every instant serves each row from exactly one dir. A crash
    * between the two steps leaves the rewritten dir live under its old
    * name, which the next seal rewrites again. Runs inside [[fenced]]. */
  def seal(fs: FileSystem, path: String, dir: String, as: String)(write: Path => Unit): Unit = {
    require(!fs.exists(new Path(path, as)), s"PartitionSwap.seal: $path/$as already exists")
    swapDirs(fs, path, Seq(dir))(tmp => write(new Path(tmp, dir)))
    mv(fs, new Path(path, dir), new Path(path, as))
  }

  // ---- per-partition swap ----

  /** `<prefix>…` dirs directly under `root`, side names excluded. */
  def partitionDirs(fs: FileSystem, root: Path, prefix: String): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && !isSideFile(p.getName))

  /** The per-partition swap of the dirs `names` under `dir`: `write`
    * fills the scratch root `<dir>.swap_tmp` with one replacement dir per
    * name; once it returns, the scratch root is marked committed
    * (`_SUCCESS`, which a Spark write leaves already), and only then each
    * live dir is parked in `<dir>.swap_old`, its replacement promoted, and
    * the parks dropped. A name with no replacement is parked without one
    * — it disappears. */
  private def swapDirs(fs: FileSystem, dir: String, names: Seq[String])(write: Path => Unit): Unit = {
    val (live, tmpRoot, oldRoot) =
      (new Path(dir), new Path(scratch(dir, "swap", "tmp")), new Path(scratch(dir, "swap", "old")))
    write(tmpRoot)
    fs.createNewFile(new Path(tmpRoot, "_SUCCESS"))
    fs.mkdirs(oldRoot)
    names.foreach { name =>
      val tmpC = new Path(tmpRoot, name)
      mv(fs, new Path(live, name), new Path(oldRoot, name))
      if (fs.exists(tmpC)) mv(fs, tmpC, new Path(live, name))
    }
    fs.delete(oldRoot, true)
    fs.delete(tmpRoot, true)
  }

  /** Heal a crashed per-partition swap under `dir`: every dir parked with
    * no live twin gets its replacement promoted when the scratch root is
    * committed, else its parked original restored — never delete the only
    * copy. Restoring is always safe for tombstone purges too: their
    * sidecar drops only after all swaps complete, so restored rows are
    * still masked. */
  private def recoverSwap(fs: FileSystem, dir: String, prefix: String): Unit = {
    val (live, tmpRoot, oldRoot) =
      (new Path(dir), new Path(scratch(dir, "swap", "tmp")), new Path(scratch(dir, "swap", "old")))
    val committed = fs.exists(new Path(tmpRoot, "_SUCCESS"))
    partitionDirs(fs, oldRoot, prefix).foreach { oldC =>
      val dstC = new Path(live, oldC.getName)
      val tmpC = new Path(tmpRoot, oldC.getName)
      if (!fs.exists(dstC)) mv(fs, if (committed && fs.exists(tmpC)) tmpC else oldC, dstC)
    }
    fs.delete(tmpRoot, true)
    fs.delete(oldRoot, true)
  }

  /** Rewrite the `targets` partitions of the table at `dir` with `rows`
    * (already filtered to them): one pruned distributed job,
    * repartitioned by the partition column so each partition's rows reach
    * one task → exactly one file per dir (never a coalesce(1) of the
    * table), then the per-partition swap. */
  private def swapRewrite(fs: FileSystem, dir: String, store: Store,
                          targets: Seq[Long], rows: DataFrame): Unit =
    swapDirs(fs, dir, targets.map(v => s"${store.prefix}$v")) { tmp =>
      rows.repartition(targets.size, col(store.partCol))
        .write.mode("overwrite").partitionBy(store.partCol).parquet(tmp.toString)
    }
}
