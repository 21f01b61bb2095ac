package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sinks.ZOrderTable

/** The maintained z-order table's lifecycle and crash contract:
  * write/append/optimize round-trip fidelity, generation structure,
  * pinned-bounds clamping, every optimize crash window (staged on disk,
  * like ParquetSink's in RecoverySpec), reader behavior mid-swap, and
  * the writer fence. The LAYOUT PAYOFF (decay under raw appends,
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

  test("crash window A: tmp written, tail still live — tmp is garbage") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    // stage: a completed tmp generation but no park, no promote
    spark.read.parquet(s"$path/tail").write.parquet(s"$path.zopt_tmp/gen=1")
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path.zopt_tmp")), "tmp must be swept")
    assert(!fs.exists(new Path(s"$path/gen=1")), "nothing promoted")
    assert(ids(path) === ((0L until 100L) ++ (1000L until 1050L)).toSet)
  }

  test("crash window B: tail parked, committed tmp not yet promoted — promote") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    // stage: tmp committed (_SUCCESS from a real write), tail parked
    spark.read.parquet(s"$path/tail").write.parquet(s"$path.zopt_tmp/gen=1")
    fs.mkdirs(new Path(s"$path.zopt_old"))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.zopt_old/tail_g1")))
    // reader mid-crash: the parked tail has no promoted twin → served
    assert(ids(path) === ((0L until 100L) ++ (1000L until 1050L)).toSet,
      "read must serve the parked tail while gen=1 is not live")
    ZOrderTable.recover(spark, path)
    assert(fs.exists(new Path(s"$path/gen=1")), "committed tmp must promote")
    assert(!fs.exists(new Path(s"$path.zopt_old")) &&
      !fs.exists(new Path(s"$path.zopt_tmp")))
    assert(ids(path) === ((0L until 100L) ++ (1000L until 1050L)).toSet)
  }

  test("crash window B': tail parked, tmp UNCOMMITTED — restore the tail") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    // stage: park the tail; tmp exists but has no _SUCCESS (torn write)
    spark.read.parquet(s"$path/tail").write.parquet(s"$path.zopt_tmp/gen=1")
    fs.delete(new Path(s"$path.zopt_tmp/gen=1/_SUCCESS"), false)
    fs.mkdirs(new Path(s"$path.zopt_old"))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.zopt_old/tail_g1")))
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path/gen=1")), "torn tmp must NOT promote")
    assert(ids(path) === ((0L until 100L) ++ (1000L until 1050L)).toSet,
      "parked tail must be restored — it is the only committed copy")
  }

  test("crash window C: promoted but park not cleaned — drop the park, no doubles") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    ZOrderTable.optimize(spark, path)
    // stage: re-park a COPY of gen=1's rows as if cleanup never ran
    spark.read.parquet(s"$path/gen=1").write.parquet(s"$path.zopt_old/tail_g1")
    // reader: live twin exists → the park must be ignored (no doubling)
    assert(ZOrderTable.read(spark, path).count() === 150)
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path.zopt_old")))
    assert(ids(path) === ((0L until 100L) ++ (1000L until 1050L)).toSet)
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

  test("compact crash: all dirs parked, committed tmp — recovery finishes the promote") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    ZOrderTable.optimize(spark, path) // gens 0,1
    ZOrderTable.append(mk(25, 2000), path)
    val want = ids(path)
    // stage the window between park and promote: tmp gen=2 committed,
    // gens 0,1 and the tail all parked under the .g2 tag
    ZOrderTable.read(spark, path).write.parquet(s"$path.zopt_tmp/gen=2")
    fs.mkdirs(new Path(s"$path.zopt_old"))
    assert(fs.rename(new Path(s"$path/gen=0"), new Path(s"$path.zopt_old/gen=0.g2")))
    assert(fs.rename(new Path(s"$path/gen=1"), new Path(s"$path.zopt_old/gen=1.g2")))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.zopt_old/tail_g2")))
    // reader mid-crash: nothing live, every park is the committed copy
    assert(ids(path) === want, "read must serve the parked dirs mid-swap")
    ZOrderTable.recover(spark, path)
    assert(fs.exists(new Path(s"$path/gen=2")), "committed tmp must promote")
    assert(!fs.exists(new Path(s"$path.zopt_old")))
    assert(ids(path) === want)
  }

  test("compact crash: parked with a TORN tmp — every dir restores") {
    val path = freshDir()
    val fs = fsOf(path)
    ZOrderTable.write(mk(100), path, "x", "y", bits = 6, numFiles = 2)
    ZOrderTable.append(mk(50, 1000), path)
    ZOrderTable.optimize(spark, path)
    ZOrderTable.append(mk(25, 2000), path)
    val want = ids(path)
    ZOrderTable.read(spark, path).write.parquet(s"$path.zopt_tmp/gen=2")
    fs.delete(new Path(s"$path.zopt_tmp/gen=2/_SUCCESS"), false)
    fs.mkdirs(new Path(s"$path.zopt_old"))
    assert(fs.rename(new Path(s"$path/gen=0"), new Path(s"$path.zopt_old/gen=0.g2")))
    assert(fs.rename(new Path(s"$path/gen=1"), new Path(s"$path.zopt_old/gen=1.g2")))
    assert(fs.rename(new Path(s"$path/tail"), new Path(s"$path.zopt_old/tail_g2")))
    ZOrderTable.recover(spark, path)
    assert(!fs.exists(new Path(s"$path/gen=2")), "torn tmp must NOT promote")
    assert(fs.exists(new Path(s"$path/gen=0")) && fs.exists(new Path(s"$path/gen=1")),
      "parked generations must restore")
    assert(ids(path) === want)
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
