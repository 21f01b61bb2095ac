package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sinks.ZOrderTable

/** The maintained z-order table's lifecycle and crash contract:
  * write/append/optimize round-trip fidelity, generation structure,
  * pinned-bounds clamping, every crash window of optimize's seal and of
  * compact's whole-table swap (staged on disk, like ParquetSink's in
  * RecoverySpec), reader behavior mid-swap, and the writer fence. The LAYOUT PAYOFF (decay under raw appends,
  * restoration after optimize) is measured, not asserted here —
  * `tools.ScaleCurve z` prices it through real parquet footers. */
class ZOrderTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ztab")
    d.toFile.deleteOnExit()
    d.toString + "/tab"
  }

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mk(n: Int, off: Int = 0) =
    (0 until n).map(i => (i.toLong + off, (i % 97).toLong, (i % 53).toLong))
      .toDF("id", "x", "y")

  private def ids(path: String): Set[Long] =
    ZOrderTable.read(spark, path).select("id").as[Long].collect().toSet

  test("write → append → optimize round-trips every row exactly once") {
    val path = freshDir()
    ZOrderTable.write(mk(500), path, "x", "y", bits = 6, numFiles = 8)
    ZOrderTable.append(mk(200, 1000), path)
    ZOrderTable.append(mk(200, 2000), path)
    assert(ids(path) === ((0L until 500L) ++ (1000L until 1200L) ++
      (2000L until 2200L)).toSet)
    ZOrderTable.optimize(spark, path)
    assert(ids(path) === ((0L until 500L) ++ (1000L until 1200L) ++
      (2000L until 2200L)).toSet, "optimize must be read-invisible")
    val fs = fsOf(path)
    assert(fs.exists(new Path(s"$path/gen=0")) && fs.exists(new Path(s"$path/gen=1")))
    assert(!fs.exists(new Path(s"$path/tail")) ||
      !fs.listStatus(new Path(s"$path/tail")).exists(
        _.getPath.getName.endsWith(".parquet")), "tail must be consumed")
    // idempotent: an empty-tail optimize is a no-op, not a gen=2
    ZOrderTable.optimize(spark, path)
    assert(!fs.exists(new Path(s"$path/gen=2")))
  }

  test("optimize sizes the new generation by the pinned rows/file grain") {
    val path = freshDir()
    // 800 rows / 8 files = 100 rows/file pinned; a 400-row tail → 4 files
    ZOrderTable.write(mk(800), path, "x", "y", bits = 6, numFiles = 8)
    ZOrderTable.append(mk(400, 5000), path)
    ZOrderTable.optimize(spark, path)
    val fs = fsOf(path)
    val gen1Files = fs.listStatus(new Path(s"$path/gen=1"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(gen1Files === 4, s"expected 4 files at the pinned grain, got $gen1Files")
  }

  test("appended values outside the pinned bounds clamp, never corrupt") {
    val path = freshDir()
    ZOrderTable.write(mk(300), path, "x", "y", bits = 6, numFiles = 4)
    // x/y far past the written bounds (the drift case)
    val drifted = Seq((9001L, 100000L, -50L), (9002L, -7L, 99999L))
      .toDF("id", "x", "y")
    ZOrderTable.append(drifted, path)
    ZOrderTable.optimize(spark, path)
    val got = ZOrderTable.read(spark, path)
      .filter(col("id") >= 9000L).as[(Long, Long, Long)].collect().toSet
    assert(got === Set((9001L, 100000L, -50L), (9002L, -7L, 99999L)),
      "out-of-bounds rows must round-trip verbatim (only their z cell clamps)")
  }

  // ---- crash windows (staged on disk, then recovered) ----

  /** Every id read, sorted — equal to the want list iff each row is read
    * exactly once (a set would hide a doubled row). */
  private def rows(path: String): Seq[Long] =
    ZOrderTable.read(spark, path).select("id").as[Long].collect().toSeq.sorted

  private def dataFiles(dir: String): Set[String] = {
    val fs = fsOf(dir)
    fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
  }

  /** A base generation plus a 50-row live tail: the state every optimize
    * window starts from. */
  private def withTail(): String = {
    val path = freshDir()
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    path
  }

  /** Stage the seal's scratch replacement of the tail under
    * `<path>.swap_tmp`, marking the scratch root committed or not. */
  private def stageReplacement(path: String, committed: Boolean): Unit = {
    val fs = fsOf(path)
    spark.read.parquet(s"$path/tail").write.parquet(s"$path.swap_tmp/tail")
    if (committed) fs.create(new Path(s"$path.swap_tmp/_SUCCESS")).close()
    else fs.delete(new Path(s"$path.swap_tmp/tail/_SUCCESS"), false)
  }

  test("crash window A: tmp written, tail still live — tmp is garbage") {
    val path = withTail()
    val fs = fsOf(path)
    val want = rows(path)
    // stage: the seal's committed replacement written, nothing parked yet
    stageReplacement(path, committed = true)
    assert(rows(path) === want, "scratch must never be read")
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path.swap_tmp")), "tmp must be swept")
    assert(!fs.exists(new Path(s"$path/gen=1")), "nothing promoted")
    assert(rows(path) === want)
  }

  test("crash window B: tail parked, committed tmp not yet promoted — promote") {
    val path = withTail()
    val fs = fsOf(path)
    val want = rows(path)
    // stage: committed replacement, the tail parked in .swap_old
    stageReplacement(path, committed = true)
    val replacement = dataFiles(s"$path.swap_tmp/tail")
    fs.mkdirs(new Path(s"$path.swap_old"))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.swap_old/tail")))
    // reader mid-crash: the parked tail has no live twin → served
    assert(rows(path) === want, "read must serve the parked tail while its replacement is not live")
    ZOrderTable.recover(spark, path)
    assert(dataFiles(s"$path/tail") === replacement, "committed tmp must promote")
    assert(!fs.exists(new Path(s"$path.swap_old")) &&
      !fs.exists(new Path(s"$path.swap_tmp")))
    assert(rows(path) === want)
    // the next optimize seals the promoted tail
    ZOrderTable.optimize(spark, path)
    assert(fs.exists(new Path(s"$path/gen=1")) && !fs.exists(new Path(s"$path/tail")))
    assert(rows(path) === want)
  }

  test("crash window B': tail parked, tmp UNCOMMITTED — restore the tail") {
    val path = withTail()
    val fs = fsOf(path)
    val want = rows(path)
    val original = dataFiles(s"$path/tail")
    // stage: park the tail; the scratch root has no _SUCCESS (torn write)
    stageReplacement(path, committed = false)
    fs.mkdirs(new Path(s"$path.swap_old"))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.swap_old/tail")))
    assert(rows(path) === want, "read must serve the parked tail")
    ZOrderTable.recover(spark, path)
    assert(dataFiles(s"$path/tail") === original,
      "parked tail must be restored — it is the only committed copy")
    assert(!fs.exists(new Path(s"$path/gen=1")), "torn tmp must NOT promote")
    assert(!fs.exists(new Path(s"$path.swap_tmp")))
    assert(rows(path) === want)
  }

  test("crash window C: promoted but park not cleaned — drop the park, no doubles") {
    val path = withTail()
    val fs = fsOf(path)
    val want = rows(path)
    // stage: the replacement is live as tail/, the original still parked
    // (a COPY of the tail's rows, as if cleanup never ran)
    spark.read.parquet(s"$path/tail").write.parquet(s"$path.swap_old/tail")
    // reader: live twin exists → the park must be ignored (no doubling)
    assert(rows(path) === want)
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path.swap_old")))
    assert(rows(path) === want)
  }

  test("crash window D: tail rewritten in place, not yet sealed as gen=<k> — optimize seals it") {
    val path = withTail()
    val fs = fsOf(path)
    val want = rows(path)
    // stage: the swap completed (the tail holds its z-ordered replacement,
    // no scratch left), the rename to gen=1 never ran
    val p = ZOrderTable.params(spark, path)
    graft.etl.ZOrder.layoutPinned(spark.read.parquet(s"$path/tail"), p.xCol, p.yCol,
        p.bits, 1, p.xmn, p.xmx, p.ymn, p.ymx).drop("z")
      .write.parquet(s"$path.staged")
    assert(fs.delete(new Path(s"$path/tail"), true))
    assert(fs.rename(new Path(s"$path.staged"), new Path(s"$path/tail")))
    val zordered = dataFiles(s"$path/tail")
    assert(rows(path) === want)
    ZOrderTable.recover(spark, path)
    assert(dataFiles(s"$path/tail") === zordered, "a live tail is never moved by recovery")
    assert(rows(path) === want)
    ZOrderTable.optimize(spark, path)
    assert(fs.exists(new Path(s"$path/gen=1")) && !fs.exists(new Path(s"$path/tail")))
    assert(rows(path) === want)
  }

  test("compact collapses the generation ladder to one generation, losslessly") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(400), path, "x", "y", bits = 6, numFiles = 4)
    // three optimize cycles → gens 1..3; plus a live tail
    (1 to 3).foreach { i =>
      ZOrderTable.append(mk(100, i * 1000), path)
      ZOrderTable.optimize(spark, path)
    }
    ZOrderTable.append(mk(50, 9000), path)
    val want = ids(path)
    assert((0 to 3).forall(g => fs.exists(new Path(s"$path/gen=$g"))))
    ZOrderTable.compact(spark, path)
    assert(ids(path) === want, "compact must be read-invisible")
    val liveGens = (0 to 10).filter(g => fs.exists(new Path(s"$path/gen=$g")))
    assert(liveGens === Seq(4), s"one collapsed generation expected, got $liveGens")
    // at the pinned 100-rows/file grain, 750 rows → 8 files
    val files = fs.listStatus(new Path(s"$path/gen=4"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(files === 8, s"expected 8 files at the pinned grain, got $files")
    // single-generation table: compact again is a no-op
    ZOrderTable.compact(spark, path)
    assert(ids(path) === want)
    assert(!fs.exists(new Path(s"$path/gen=5")))
  }

  /** Gens 0 and 1 plus a 25-row live tail — the state a compact
    * collapses. */
  private def ladder(): String = {
    val path = withTail()
    ZOrderTable.optimize(spark, path) // gens 0,1
    ZOrderTable.append(mk(25, 2000), path)
    path
  }

  /** Stage the collapse's scratch table under `<path>.collapse_tmp`:
    * gen=2 holding every row, plus `_zparams` — the commit marker — when
    * `committed`. */
  private def stageCollapse(path: String, committed: Boolean): Unit = {
    ZOrderTable.read(spark, path).write.parquet(s"$path.collapse_tmp/gen=2")
    if (committed)
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$path/_zparams"),
        new java.io.File(s"$path.collapse_tmp/_zparams"))
  }

  test("compact crash: all dirs parked, committed tmp — recovery finishes the promote") {
    val path = ladder()
    val fs = fsOf(path)
    val want = rows(path)
    // stage the window between the collapse's two renames: the committed
    // scratch table written, the whole live root parked
    stageCollapse(path, committed = true)
    assert(fs.rename(new Path(path), new Path(s"$path.collapse_old")))
    // reader mid-crash: the parked root is the last committed generation
    assert(rows(path) === want, "read must serve the parked root mid-swap")
    ZOrderTable.recover(spark, path)
    assert(fs.exists(new Path(s"$path/gen=2")), "committed tmp must promote")
    assert(!fs.exists(new Path(s"$path/gen=0")) && !fs.exists(new Path(s"$path/tail")))
    assert(!fs.exists(new Path(s"$path.collapse_old")) &&
      !fs.exists(new Path(s"$path.collapse_tmp")))
    assert(rows(path) === want)
  }

  test("compact crash: parked with a TORN tmp — every dir restores") {
    val path = ladder()
    val fs = fsOf(path)
    val want = rows(path)
    stageCollapse(path, committed = false)
    assert(fs.rename(new Path(path), new Path(s"$path.collapse_old")))
    assert(rows(path) === want, "read must serve the parked root mid-swap")
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path/gen=2")), "torn tmp must NOT promote")
    assert(fs.exists(new Path(s"$path/gen=0")) && fs.exists(new Path(s"$path/gen=1")) &&
      fs.exists(new Path(s"$path/tail")), "parked generations and tail must restore")
    assert(!fs.exists(new Path(s"$path.collapse_tmp")))
    assert(rows(path) === want)
  }

  test("doubly-crashed table: a tail parked by optimize under a compact-parked root still reads once") {
    // an optimize crashes with the tail parked beside the then-live root,
    // then a compact crashes with the whole root parked; the whole-root
    // rename does not carry the sibling scratch along, so the read must
    // probe the original path's scratch while serving `.collapse_old`
    val path = ladder()
    val fs = fsOf(path)
    val want = rows(path)
    fs.mkdirs(new Path(s"$path.swap_old"))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.swap_old/tail")))
    assert(fs.rename(new Path(path), new Path(s"$path.collapse_old")))
    assert(rows(path) === want, "the parked tail must resolve with the parked root")
    // recover heals both layers: the root first, then the tail
    ZOrderTable.recover(spark, path)
    assert(fs.exists(new Path(s"$path/tail")) && fs.exists(new Path(s"$path/gen=1")))
    assert(!fs.exists(new Path(s"$path.swap_old")) &&
      !fs.exists(new Path(s"$path.collapse_old")))
    assert(rows(path) === want)
  }

  test("a second writer raises against the fence; append waits it out") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    // hold the fence as a fake maintenance op (the same create-if-absent
    // token file withWriterLock writes)
    val o = fs.create(new Path(path + ".lock"), false)
    o.write("holder@test".getBytes("UTF-8")); o.close()
    // maintenance-class op: fail-fast
    val e = intercept[IllegalStateException](ZOrderTable.optimize(spark, path))
    assert(e.getMessage.contains("writer fence"))
    // batch-class op: bounded queue — a short wait then the same raise
    val e2 = intercept[IllegalStateException](
      ZOrderTable.append(mk(1, 1), path, fenceWaitMs = 300L))
    assert(e2.getMessage.contains("waited"))
    fs.delete(new Path(path + ".lock"), false)
    // fence released: both proceed
    ZOrderTable.append(mk(10, 1000), path)
    ZOrderTable.optimize(spark, path)
    assert(ids(path) === ((0L until 100L) ++ (1000L until 1010L)).toSet)
  }

  test("breakLock clears a stale fence after a crashed holder") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(10), path, "x", "y", bits = 6, numFiles = 1)
    // a crashed holder's fence file
    val o = fs.create(new Path(path + ".lock"), false)
    o.write("dead@host".getBytes("UTF-8")); o.close()
    intercept[IllegalStateException](ZOrderTable.optimize(spark, path))
    assert(ZOrderTable.breakLock(spark, path))
    ZOrderTable.optimize(spark, path) // no-op (empty tail) but must not raise
    assert(ids(path) === (0L until 10L).toSet)
  }
}
