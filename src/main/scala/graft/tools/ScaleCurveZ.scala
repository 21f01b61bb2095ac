package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._
import graft.etl.ZOrder

/** Measured read payoff of the z-order layout (`ZOrder.layout`, query key
  * `etl_zorder_layout`) — the number a storage team asks for: how many
  * FILES / ROW GROUPS / BYTES does a two-dimensional predicate actually
  * read off a z-laid-out table versus the same table range-sorted on one
  * column? `ZOrderSpec` proves the bucket-span BOUND (a y-slice touches
  * ≤ a fraction of z-buckets, every bucket of an x-sort); this tool
  * prices the bound through a real parquet scan, two ways:
  *
  *   - FOOTER AUDIT: every row group's min/max stats for both predicate
  *     columns, read with the public parquet-hadoop footer API — a row
  *     group whose [min,max] box intersects the predicate box is one the
  *     pushed filter cannot skip. This is exactly the stats-overlap test
  *     Spark's parquet reader runs, so touched-row-group compressed
  *     bytes IS the planned read set.
  *   - EXECUTED SCAN: the same predicate run as a real
  *     filter→aggregate query, task `inputMetrics.bytesRead` summed by
  *     the runner's `bytesRead` listener (drained before and after the
  *     query). Executed bytes corroborate the footer math — including
  *     effects the footer audit can't see (every task still reads each
  *     file's footer; page-index pruning may read LESS).
  *
  * Layouts are written at equal file counts from the identical frame, and
  * both layouts' query RESULTS are asserted equal — a fast-but-wrong
  * layout must fail here. The corpus blows up ×1/×4/×10 (row replication:
  * the (ck, dd) distribution — hence the layout geometry and touched
  * FRACTIONS — is scale-free; bytes grow linearly), so the curve shows
  * the skip fraction is a property of the LAYOUT, not the scale: what a
  * 100 TB table keeps that a 100 MB test already shows.
  */
object ScaleCurveZ {

  /** One row group's stats footprint: its file, both columns' min/max,
    * and its compressed byte size. */
  private case class Rg(file: String, ckMin: Long, ckMax: Long,
                        ddMin: Long, ddMax: Long, bytes: Long)

  /** Footer audit of every .parquet file under `dir` (public
    * parquet-hadoop API — the same footers Spark's reader prunes by). */
  private def footers(dir: String,
                      conf: org.apache.hadoop.conf.Configuration): Seq[Rg] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0).sortBy(_.getName)
    files.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        def mm(name: String): (Long, Long) = {
          val c = b.getColumns.asScala.find(_.getPath.toDotString == name)
            .getOrElse(sys.error(s"$f: no column chunk for $name"))
          val st = c.getStatistics
          require(st != null && !st.isEmpty, s"$f: $name has no stats")
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }
        val (ckMn, ckMx) = mm("ck"); val (ddMn, ddMx) = mm("dd")
        Rg(f.getName, ckMn, ckMx, ddMn, ddMx, b.getCompressedSize)
      } finally r.close()
    }
  }

  /** A two-dim box predicate, [ckLo,ckHi] × [ddLo,ddHi] inclusive;
    * Long.Min/MaxValue legs mean "unconstrained on that axis". */
  private case class Box(name: String, ckLo: Long, ckHi: Long, ddLo: Long, ddHi: Long) {
    def touches(g: Rg): Boolean =
      g.ckMax >= ckLo && g.ckMin <= ckHi && g.ddMax >= ddLo && g.ddMin <= ddHi
    def pred = col("ck").between(ckLo, ckHi) && col("dd").between(ddLo, ddHi)
  }

  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    // the scan-node metric read below needs the executed plan's leaves,
    // not an AdaptiveSparkPlanExec shell; nothing here needs AQE
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val par = spark.sparkContext.defaultParallelism
    val conf = spark.sparkContext.hadoopConfiguration

    /** Run `df` to completion and return (rows, sum(pay), executed task
      * bytesRead for exactly this query). */
    def measured(df: DataFrame): (Long, Long, Long) = {
      val (row, bytes) = sc.bytesRead(
        df.agg(count(lit(1)).as("n"), sum(col("pay")).as("s")).collect()(0))
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1), bytes)
    }

    val base = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      .select(col("o_custkey").cast("bigint").as("ck"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("bigint").as("dd"),
        (col("o_totalprice") * 100).cast("bigint").as("pay"))
    val Array(ckMn, ckMx, ddMn, ddMx) = base.agg(
      min(col("ck")), max(col("ck")), min(col("dd")), max(col("dd")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    def mid(lo: Long, hi: Long, frac: Long): (Long, Long) = {
      val w = math.max(1L, (hi - lo + 1) / frac)
      val c = lo + (hi - lo) / 2; (c - w / 2, c - w / 2 + w - 1)
    }
    // the two shapes the spec bounds: a one-axis slice on the dimension
    // the x-sort CANNOT prune (dd, 1/16 of its range), and a genuinely
    // two-dimensional box (middle 1/8 × 1/8)
    val (sLo, sHi) = mid(ddMn, ddMx, 16L)
    val (bxLo, bxHi) = mid(ckMn, ckMx, 8L); val (byLo, byHi) = mid(ddMn, ddMx, 8L)
    val boxes = Seq(Box("dd_slice", Long.MinValue, Long.MaxValue, sLo, sHi),
      Box("ck_dd_box", bxLo, bxHi, byLo, byHi))

    val numFiles = 64
    val root = sc.scratch
    Seq(1, 4, 10).foreach { f =>
      // row replication: the (ck, dd) point cloud is unchanged, so both
      // layouts' geometry — and the touched FRACTION — must hold at ×f
      val df = (0 until f).map(_ => base).reduce(_ unionByName _)
        .repartition(par).localCheckpoint()
      val nRows = df.count()
      val zDir = s"$root/z_x$f"; val xDir = s"$root/xsort_x$f"
      ZOrder.layout(df, "ck", "dd", bits = 8, numFiles = numFiles)
        .drop("z").write.parquet(zDir)
      df.repartitionByRange(numFiles, col("ck")).write.parquet(xDir)
      val layouts = Seq("zorder" -> zDir, "xsort" -> xDir)
        .map { case (n, d) => (n, d, footers(d, conf)) }
      boxes.foreach { box =>
        val per = layouts.map { case (name, dir, rgs) =>
          val touched = rgs.filter(box.touches)
          val (rows, s, bytes) = measured(
            spark.read.parquet(dir).filter(box.pred).select(col("pay")))
          (name, rgs, touched, rows, s, bytes)
        }
        val Seq((_, zRgs, zT, zRows, zSum, zBytes),
          (_, xRgs, xT, xRows, xSum, xBytes)) = per
        require(zRows == xRows && zSum == xSum,
          s"x$f ${box.name}: layouts disagree — z ($zRows, $zSum) vs x-sort ($xRows, $xSum)")
        def files(t: Seq[Rg]) = t.map(_.file).distinct.size
        // the structural claim, both halves of the z-order tradeoff:
        // (a) dd_slice — the x-sort CANNOT prune a dd-constrained
        //     predicate (every file spans ~all dd, ≥90% touched) while
        //     the z-layout skips most files, and the skip shows up in
        //     EXECUTED bytes, not just footer math;
        // (b) ck_dd_box — on the x-sort's HOME case (a tight ck leg
        //     prunes it to ~1/8 of files) the z-layout stays comparable
        //     (bounded giveback, ≤2×), never catastrophically worse:
        //     z trades the one perfectly-sorted axis for ~√ pruning on
        //     BOTH axes.
        if (box.name == "dd_slice") {
          require(files(xT) >= (numFiles * 9) / 10,
            s"x$f: x-sort pruned a dd slice? ${files(xT)}/$numFiles")
          require(files(zT) * 2 <= files(xT),
            s"x$f dd_slice: z touches ${files(zT)} files vs x-sort ${files(xT)}")
          require(zBytes * 3 <= xBytes * 2,
            s"x$f dd_slice: executed z bytes $zBytes vs x-sort $xBytes")
        } else {
          require(files(zT) <= 2 * files(xT),
            s"x$f ${box.name}: z touches ${files(zT)} files vs x-sort ${files(xT)}")
          require(files(zT) * 3 <= numFiles,
            s"x$f ${box.name}: z touches ${files(zT)}/$numFiles files — no 2-D pruning?")
        }
        sc.emit(f"""{"dataset":"sf0.1x$f","op":"zorder_read","box":"${box.name}","n_rows":$nRows,"files_total":${files(zRgs)},"z_files_touched":${files(zT)},"x_files_touched":${files(xT)},"z_rg_touched":${zT.size},"x_rg_touched":${xT.size},"z_rg_bytes":${zT.map(_.bytes).sum},"x_rg_bytes":${xT.map(_.bytes).sum},"total_bytes":${zRgs.map(_.bytes).sum},"z_exec_bytes":$zBytes,"x_exec_bytes":$xBytes,"result_rows":$zRows}""")
      }
      GraftShim.unpersistCheckpoint(df)
    }
    // ---- maintained-table decay/restore (round-16 verdict item): the
    // payoff above is write-once; a LIVE table accumulates raw appends
    // that silently decay it. Lifecycle priced with the same footer
    // math: ZOrderTable.write(base) → 8 raw appends (hash-sliced copies
    // of the same point cloud — each batch spans the whole grid, the
    // worst realistic arrival order) → measure (decayed) → optimize
    // (tail re-clusters as generation 1) → measure (restored). The
    // touched-byte FRACTION must rise ≥1.5× under the unclustered tail
    // and return to ≤1.25× of the freshly-written fraction after
    // optimize — decay is real, and one tail-sized optimize undoes it.
    locally {
      import graft.sinks.ZOrderTable
      val tab = s"$root/ztable"
      def tableRgs(): Seq[Rg] =
        Option(new java.io.File(tab).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory &&
            (f.getName.startsWith("gen=") || f.getName == "tail"))
          .toSeq.flatMap(d => footers(d.getAbsolutePath, conf))
      def frac(box: Box): (Double, Int, Int, Long) = {
        val rgs = tableRgs()
        val t = rgs.filter(box.touches)
        (t.map(_.bytes).sum.toDouble / rgs.map(_.bytes).sum,
          t.map(_.file).distinct.size, rgs.map(_.file).distinct.size,
          t.map(_.bytes).sum)
      }
      val df = base.repartition(par).localCheckpoint()
      ZOrderTable.write(df, tab, "ck", "dd", bits = 8, numFiles = numFiles)
      // fresh-write baseline fractions, taken NOW: gen=0 is the whole
      // table here, and compact will collapse it away later
      val initFrac = boxes.map { box =>
        val gen0 = footers(s"$tab/gen=0", conf)
        box.name -> gen0.filter(box.touches).map(_.bytes).sum.toDouble /
          gen0.map(_.bytes).sum
      }.toMap
      val slice = pmod(xxhash64(col("ck"), col("dd"), col("pay")), lit(8))
      (0 until 8).foreach(i => ZOrderTable.append(df.filter(slice === i), tab))
      val states = scala.collection.mutable.Map[(String, String), (Double, Int, Int, Long)]()
      def snapshot(state: String): Unit = boxes.foreach { box =>
        val f = frac(box)
        states((state, box.name)) = f
        // executed corroboration + result stability across states
        val (rows, s, bytes) = measured(
          ZOrderTable.read(spark, tab).filter(box.pred).select(col("pay")))
        sc.emit(f"""{"op":"zorder_lifecycle","state":"$state","box":"${box.name}","touched_frac":${f._1}%.4f,"files_touched":${f._2},"files_total":${f._3},"touched_bytes":${f._4},"exec_bytes":$bytes,"result_rows":$rows,"result_sum":$s}""")
      }
      snapshot("decayed")
      ZOrderTable.optimize(spark, tab)
      snapshot("restored")
      // a second decay round, then COLLAPSE: optimize keeps per-call
      // cost tail-sized but each call adds a generation — compact is
      // the ladder's own maintenance, rewriting gens+tail as ONE
      // generation at the pinned grain
      (0 until 8).foreach(i => ZOrderTable.append(df.filter(slice === i), tab))
      ZOrderTable.optimize(spark, tab)
      ZOrderTable.compact(spark, tab)
      snapshot("collapsed")
      val genDirs = Option(new java.io.File(tab).listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("gen="))
      require(genDirs == 1,
        s"compact left $genDirs generations — the ladder did not collapse")
      // the fresh-write fraction baseline: same layout geometry as the
      // ×1 zorder dirs already measured — recompute from gen=0 alone
      boxes.foreach { box =>
        val init = initFrac(box.name)
        val dec = states(("decayed", box.name))._1
        val res = states(("restored", box.name))._1
        val clp = states(("collapsed", box.name))._1
        sc.emit(f"""{"op":"zorder_lifecycle","box":"${box.name}","init_frac":$init%.4f,"decayed_frac":$dec%.4f,"restored_frac":$res%.4f,"collapsed_frac":$clp%.4f}""")
        require(dec >= 1.5 * init,
          f"${box.name}: raw appends did not decay the layout ($dec%.3f vs init $init%.3f) — is the tail being clustered?")
        require(res <= 1.25 * init,
          f"${box.name}: optimize did not restore the layout ($res%.3f vs init $init%.3f)")
        require(clp <= 1.25 * init,
          f"${box.name}: compact did not restore the layout ($clp%.3f vs init $init%.3f)")
      }
      GraftShim.unpersistCheckpoint(df)
    }
  }
}
