package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

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
  *    optimize cost TAIL-SIZED, amortized O(1) per appended row, while a
  *    full rewrite (re-[[write]] of [[read]]) stays available when the
  *    generation count itself needs collapsing.
  *  - `tail/` — the raw landing zone: [[append]] writes batches here
  *    as-delivered (no shuffle, no stats pass — the cheapest durable
  *    ingest), where they are readable immediately and cluster-less
  *    until the next [[optimize]].
  *  - `_zparams/` — (xCol, yCol, bits, bounds, rowsPerFile) pinned at
  *    [[write]]: optimize derives everything from the store so two
  *    maintenance runs can never grid differently.
  *
  * Crash safety (same park-promote discipline as [[PartitionSwap]]):
  * optimize writes the new generation to `<path>.zopt_tmp/gen=<k>`,
  * PARKS the consumed tail at `<path>.zopt_old/tail_g<k>`, promotes the
  * tmp generation, then deletes the park. Every writer op first runs
  * [[recover]]: a crash before the park loses nothing (tail still
  * live; tmp is garbage); a crash after the park promotes the
  * fully-written tmp if its `_SUCCESS` commit marker exists, else
  * restores the parked tail — in every window exactly one committed copy
  * of each row survives. [[read]] serves a parked tail that has no
  * promoted twin, so readers never see a partial table mid-swap
  * (the same may-raise-on-overlap contract as `PartitionSwap
  * .resolvedRead`). Appends queue (bounded) behind a maintenance-held
  * fence; maintenance ops are exclusive and fail-fast.
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
  private def tmpRoot(path: String) = path + ".zopt_tmp"
  private def oldRoot(path: String) = path + ".zopt_old"
  private def genDir(path: String, k: Int) = s"$path/gen=$k"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create the table: bounds measured once and PINNED, the base laid
    * out as generation 0. `numFiles` sets the target file grain —
    * recorded as rows/file so optimize sizes tail generations to the
    * same grain instead of a fixed count. */
  def write(df: DataFrame, path: String, xCol: String, yCol: String,
            bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val spark = df.sparkSession
    import spark.implicits._
    val fs = fsOf(spark, path)
    PartitionSwap.withWriterLock(fs, path, "ZOrderTable") {
      recoverLocked(fs, path)
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
      Seq((xCol, yCol, bits, rowsPerFile, xmn, xmx, ymn, ymx))
        .toDF("x_col", "y_col", "bits", "rows_per_file",
          "xmn", "xmx", "ymn", "ymx")
        .write.mode("overwrite").parquet(paramsDir(path))
    }
  }

  /** The table's pinned layout parameters. */
  def params(spark: SparkSession, path: String): Params = {
    val r = PartitionSwap.sidecar(spark, paramsDir(path),
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
             fenceWaitMs: Long = PartitionSwap.DefaultBatchFenceWaitMs): Unit = {
    val fs = fsOf(batch.sparkSession, path)
    PartitionSwap.withWriterLock(fs, path, "ZOrderTable", fenceWaitMs) {
      recoverLocked(fs, path)
      batch.write.mode("append").parquet(tailDir(path))
    }
  }

  /** Committed generation dirs (gen=<k>), by number. */
  private def gens(fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[Int] =
    PartitionSwap.partitionDirs(fs, new Path(path), "gen=")
      .map(_.getName.stripPrefix("gen=").toInt).sorted

  /** Read the whole table: every committed generation plus the live
    * tail, plus any tail PARKED by an in-flight/crashed optimize whose
    * generation never promoted (that park is the only committed copy of
    * its rows). Same consistency contract as the other stores' resolved
    * reads: a read overlapping a commit may raise on vanished files,
    * never silently lose or double rows. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = fsOf(spark, path)
    val liveGens = gens(fs, path).toSet
    val live = liveGens.toSeq.sorted.map(k => genDir(path, k)) ++
      (if (nonEmptyDir(fs, tailDir(path))) Seq(tailDir(path)) else Nil)
    // a park whose superseding generation never promoted is the last
    // committed copy of its rows (optimize parks the tail; compact also
    // parks whole generations) — serve it, but never beside a live twin
    val parked = parkedTails(fs, path).collect {
      case (k, p) if !liveGens.contains(k) => p.toString
    } ++ parkedGens(fs, path).collect {
      case (g, k, p) if !liveGens.contains(k) && !liveGens.contains(g) =>
        p.toString
    }
    val dirs = live ++ parked
    require(dirs.nonEmpty, s"ZOrderTable at $path holds no data")
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  private def nonEmptyDir(fs: org.apache.hadoop.fs.FileSystem, d: String): Boolean = {
    val p = new Path(d)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Exact row count of the parquet files under `dirs`, from the file
    * FOOTERS — O(files) metadata reads instead of the O(rows) cluster
    * scan a `df.count()` pays. Every file here is parquet we wrote
    * ourselves (append batches, committed generations), so the footer
    * record counts are exact by format contract. Footers are read on the
    * driver through the common pool: at the pinned grain the file count
    * stays proportional to rows/rowsPerFile, and a metadata read per
    * file is still orders of magnitude cheaper than re-scanning the
    * data (guide §1.2: remove whole passes first). */
  private def footerRowCount(fs: org.apache.hadoop.fs.FileSystem,
                             conf: org.apache.hadoop.conf.Configuration,
                             dirs: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val files = dirs.flatMap { d =>
      val p = new Path(d)
      if (fs.exists(p))
        fs.listStatus(p).toSeq.filter(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
      else Nil
    }
    files.asJava.parallelStream().mapToLong { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum()
  }

  /** Parked tails under `.zopt_old`, as (generation they were consumed
    * into, path). */
  private def parkedTails(fs: org.apache.hadoop.fs.FileSystem,
                          path: String): Seq[(Int, Path)] =
    PartitionSwap.partitionDirs(fs, new Path(oldRoot(path)), "tail_g")
      .map(p => (p.getName.stripPrefix("tail_g").toInt, p))

  /** Re-optimize: lay out the unclustered tail as the next z-ordered
    * generation — tail-sized work, the `OPTIMIZE` half of
    * `OPTIMIZE ZORDER BY`. File count follows the pinned rows/file
    * grain. No-op on an empty tail. Exclusive (fail-fast fence), like
    * compact on the other stores. */
  def optimize(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    PartitionSwap.withWriterLock(fs, path, "ZOrderTable") {
      recoverLocked(fs, path)
      if (nonEmptyDir(fs, tailDir(path))) {
        val p = params(spark, path)
        val tail = spark.read.parquet(tailDir(path))
        // file-grain sizing from the parquet footers: the count job this
        // replaces was a second full read of the tail before the layout
        // pass (round-20, guide §1.2) — same n, zero data scanned
        val n = footerRowCount(fs, spark.sparkContext.hadoopConfiguration,
          Seq(tailDir(path)))
        val numFiles = math.max(1L, (n + p.rowsPerFile - 1) / p.rowsPerFile).toInt
        val k = gens(fs, path).max + 1
        ZOrder.layoutPinned(tail, p.xCol, p.yCol, p.bits, numFiles,
            p.xmn, p.xmx, p.ymn, p.ymx)
          .drop("z")
          .write.mode("overwrite").parquet(s"${tmpRoot(path)}/gen=$k")
        // park -> promote -> clean: every crash window leaves exactly one
        // committed copy (see recoverLocked)
        fs.mkdirs(new Path(oldRoot(path)))
        PartitionSwap.mv(fs, new Path(tailDir(path)),
          new Path(oldRoot(path) + s"/tail_g$k"))
        PartitionSwap.mv(fs, new Path(s"${tmpRoot(path)}/gen=$k"),
          new Path(genDir(path, k)))
        fs.delete(new Path(oldRoot(path)), true)
        fs.delete(new Path(tmpRoot(path)), true)
      }
    }
  }

  /** COLLAPSE the generation ladder: rewrite every committed generation
    * plus the tail as ONE fresh z-ordered generation. [[optimize]] keeps
    * per-call cost tail-sized, but each call adds a generation and a
    * query touches ~fraction × files PER GENERATION — after enough
    * optimizes the ladder itself is the decay. This is the store-compact
    * analog: table-sized work, run on the maintenance cadence (e.g.
    * every N optimizes), restoring files_total to the pinned grain.
    *
    * Crash safety extends the same park-promote discipline: the new
    * generation k is written to scratch from a snapshot of the live
    * dirs, every consumed dir is parked SUFFIXED `.g<k>` (so recovery
    * knows which promote supersedes it), the tmp generation promotes,
    * parks drop. [[recoverLocked]] heals all windows: gen k live → drop
    * parks; committed tmp → finish promote; else restore every park —
    * exactly one committed copy of each row in every window. */
  def compact(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    PartitionSwap.withWriterLock(fs, path, "ZOrderTable") {
      recoverLocked(fs, path)
      val genIds = gens(fs, path)
      val hasTail = nonEmptyDir(fs, tailDir(path))
      if (genIds.size > 1 || hasTail) {
        val p = params(spark, path)
        val dirs = genIds.map(k => genDir(path, k)) ++
          (if (hasTail) Seq(tailDir(path)) else Nil)
        val all = dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
        // table-sized count pass removed (round-20): compact re-reads the
        // whole table once for the layout write; the sizing count now
        // rides the footers instead of a second full read
        val n = footerRowCount(fs, spark.sparkContext.hadoopConfiguration, dirs)
        val numFiles = math.max(1L, (n + p.rowsPerFile - 1) / p.rowsPerFile).toInt
        val k = genIds.max + 1
        ZOrder.layoutPinned(all, p.xCol, p.yCol, p.bits, numFiles,
            p.xmn, p.xmx, p.ymn, p.ymx)
          .drop("z")
          .write.mode("overwrite").parquet(s"${tmpRoot(path)}/gen=$k")
        fs.mkdirs(new Path(oldRoot(path)))
        genIds.foreach { g =>
          PartitionSwap.mv(fs, new Path(genDir(path, g)),
            new Path(oldRoot(path) + s"/gen=$g.g$k"))
        }
        if (hasTail)
          PartitionSwap.mv(fs, new Path(tailDir(path)),
            new Path(oldRoot(path) + s"/tail_g$k"))
        PartitionSwap.mv(fs, new Path(s"${tmpRoot(path)}/gen=$k"),
          new Path(genDir(path, k)))
        fs.delete(new Path(oldRoot(path)), true)
        fs.delete(new Path(tmpRoot(path)), true)
      }
    }
  }

  /** Parked GENERATIONS under `.zopt_old` (compact's parks), as
    * (original gen number, superseding gen number, path). */
  private def parkedGens(fs: org.apache.hadoop.fs.FileSystem,
                         path: String): Seq[(Int, Int, Path)] =
    PartitionSwap.partitionDirs(fs, new Path(oldRoot(path)), "gen=")
      .flatMap { d =>
        d.getName.stripPrefix("gen=").split("\\.g") match {
          case Array(g, k) => Some((g.toInt, k.toInt, d))
          case _ => None
        }
      }

  /** Heal a crashed optimize. For each parked tail `tail_g<k>`:
    * generation k live → the promote committed, drop the park;
    * else a COMMITTED tmp generation (its `_SUCCESS` marker exists) →
    * finish the promote, then drop the park; else the crash predates a
    * complete tmp → restore the park as the live tail (file-level moves:
    * appends may have landed since). Uncommitted tmp garbage is swept
    * last. Runs under every writer op's fence; callers may also invoke
    * it directly after `breakLock`. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    PartitionSwap.withWriterLock(fs, path, "ZOrderTable") {
      recoverLocked(fs, path)
    }
  }

  private def recoverLocked(fs: org.apache.hadoop.fs.FileSystem,
                            path: String): Unit = {
    // every park is tagged with the generation whose promote supersedes
    // it; group by that tag so one committed tmp promotes ONCE and then
    // releases all of its parks (a compact parks many dirs under one tag)
    val parks: Seq[(Int, (String, Int, Path))] =
      parkedTails(fs, path).map { case (k, p) => (k, ("tail", 0, p)) } ++
        parkedGens(fs, path).map { case (g, k, p) => (k, ("gen", g, p)) }
    parks.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, ps) =>
      val gen = new Path(genDir(path, k))
      val tmp = new Path(s"${tmpRoot(path)}/gen=$k")
      val committed = fs.exists(gen) || (
        if (fs.exists(new Path(tmp, "_SUCCESS"))) {
          PartitionSwap.mv(fs, tmp, gen); true
        } else false)
      ps.map(_._2).foreach { case (kind, g, park) =>
        if (committed) fs.delete(park, true)
        else if (kind == "gen") {
          // the park IS generation g's committed copy — restore it
          val dst = new Path(genDir(path, g))
          if (!fs.exists(dst)) PartitionSwap.mv(fs, park, dst)
          else fs.delete(park, true)
        } else {
          // restore the only tail copy; merge file-level in case
          // appends landed since
          val tl = new Path(tailDir(path))
          fs.mkdirs(tl)
          fs.listStatus(park).filter(_.isFile).foreach { st =>
            val dst = new Path(tl, st.getPath.getName)
            if (!fs.exists(dst)) PartitionSwap.mv(fs, st.getPath, dst)
          }
          fs.delete(park, true)
        }
      }
    }
    if (fs.exists(new Path(oldRoot(path)))) fs.delete(new Path(oldRoot(path)), true)
    if (fs.exists(new Path(tmpRoot(path)))) fs.delete(new Path(tmpRoot(path)), true)
  }

  /** Clear a stale writer fence left by a crashed holder (human
    * decision — see [[PartitionSwap.breakLock]]). */
  def breakLock(spark: SparkSession, path: String): Boolean =
    PartitionSwap.breakLock(fsOf(spark, path), path)
}
