package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import ScaleCurve.{timed, wallAlpha}

/** Scale-curve evidence for the three round-17 operators that shipped
  * with specs but no §5 α-measurement (round-17 verdict item 7):
  *
  *  - `q_skyline` (Skyline.pareto2d) — measured on the ADVERSARIAL
  *    anti-correlated shape (y = x: every point is on the frontier, the
  *    local sweep prunes nothing — the exact distribution where the
  *    round-17 phase-2 global window funneled the whole table through
  *    one task) and on a hashed "typical" shape (tiny frontier). α ≈ 1
  *    on the adversarial family is the round-18 hardening's claim: the
  *    prefix-max construction does per-task O(n/P) work even when the
  *    output IS the input.
  *  - `q_interval_overlap` (sweep-line peak concurrency) — suppliers
  *    scale WITH the blow-up (per-supplier interval density constant,
  *    the production shape: more data = more entities, not denser
  *    ones), so the two linear shuffles and the per-supplier cumsum
  *    window must give wall α ≈ 1.
  *  - `etl_compact_files` (Compact.filesInPlace) — fragment count and
  *    byte mass both scale ×k at a FIXED target file size; the
  *    measured-bytes bin-packing plans ceil(bytes/target) output files
  *    (asserted ×k) and the single round-robin exchange gives α ≈ 1.
  *
  * Output: one JSON line per dataset + fitted α lines (wall ∝ n^α). Run
  * on a QUIET host: `sbt "runMain graft.tools.ScaleCurve sweep"`. */
object ScaleCurveSweep {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark


    // ---- skyline: adversarial (all-frontier) + typical (hashed) ----
    locally {
      def antiCorr(n: Long): DataFrame = spark.range(n)
        .select(col("id").as("pk"), col("id").as("x"), col("id").as("y"))
      def typical(n: Long): DataFrame = spark.range(n)
        .select(col("id").as("pk"), expr("pmod(xxhash64(id), 1000000)").as("x"),
          expr("pmod(xxhash64(id + 7), 1000000)").as("y"))
      // discarded warm-up (the ScaleCurveGraph lesson: an un-warmed ×1
      // point inflates the fit's origin and the α gate passes on noise)
      graft.operators.Skyline.pareto2d(antiCorr(100000), "x", "y").count()
      var pts = Vector[(Long, Double)]()
      Seq(400000L, 1600000L, 4000000L).foreach { n =>
        val (cnt, wall) = timed(
          graft.operators.Skyline.pareto2d(antiCorr(n), "x", "y").count())
        require(cnt == n, s"skyline adversarial: expected all $n on frontier, got $cnt")
        pts :+= (n, wall)
        sc.emit(f"""{"op":"skyline","shape":"anti_correlated","n":$n,"frontier":$cnt,"wall_sec":$wall%.2f}""")
      }
      sc.emit(f"""{"op":"skyline","shape":"anti_correlated","alpha_wall":${wallAlpha(pts)}%.3f,"fit_range":[${pts.map(_._1).min},${pts.map(_._1).max}]}""")
      var tp = Vector[(Long, Double)]()
      Seq(400000L, 1600000L, 4000000L).foreach { n =>
        val (cnt, wall) = timed(
          graft.operators.Skyline.pareto2d(typical(n), "x", "y").count())
        tp :+= (n, wall)
        sc.emit(f"""{"op":"skyline","shape":"hashed","n":$n,"frontier":$cnt,"wall_sec":$wall%.2f}""")
      }
      sc.emit(f"""{"op":"skyline","shape":"hashed","alpha_wall":${wallAlpha(tp)}%.3f,"fit_range":[${tp.map(_._1).min},${tp.map(_._1).max}]}""")
    }

    // ---- interval overlap: constant per-entity density blow-up ----
    locally {
      def intervals(f: Int): DataFrame = spark.range(100000L * f)
        .select((col("id") % (1000L * f)).as("sk"),
          date_add(lit("2024-01-01").cast("date"),
            expr("pmod(xxhash64(id), 365)").cast("int")).as("ds"),
          (expr("pmod(xxhash64(id + 13), 30)") + 1).cast("int").as("transit"))
      // the q_interval_overlap construction (RelationalQueries), minus
      // the final max_by projection: ±1 boundary events pre-aggregated
      // per (sk, day) BEFORE the per-supplier cumulative window
      def peak(iv: DataFrame): DataFrame = {
        val ev = iv.select(col("sk"), col("ds").as("dt"), lit(1L).as("delta"))
          .unionAll(iv.select(col("sk"),
            date_add(col("ds"), col("transit")).as("dt"), lit(-1L).as("delta")))
        val per = ev.groupBy("sk", "dt").agg(sum("delta").as("d"))
        val w = Window.partitionBy("sk").orderBy("dt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        per.withColumn("conc", sum(col("d")).over(w))
          .groupBy("sk").agg(max(col("conc")).as("peak"))
      }
      peak(intervals(1)).count() // discarded warm-up
      var pts = Vector[(Long, Double)]()
      Seq(1, 4, 10).foreach { f =>
        val n = 100000L * f
        val (cnt, wall) = timed(peak(intervals(f)).count())
        require(cnt == 1000L * f, s"interval overlap: expected ${1000L * f} suppliers, got $cnt")
        pts :+= (n, wall)
        sc.emit(f"""{"op":"interval_overlap","n_intervals":$n,"n_suppliers":$cnt,"wall_sec":$wall%.2f}""")
      }
      sc.emit(f"""{"op":"interval_overlap","alpha_wall":${wallAlpha(pts)}%.3f,"fit_range":[${pts.map(_._1).min},${pts.map(_._1).max}]}""")
    }

    // ---- compaction: fragments and bytes both x k, fixed target ----
    locally {
      val targetBytes = 1L << 20 // 1 MiB files
      // every store (warm-up + the three factors, hundreds of MB at
      // factor 10) lives under the run's scratch root, which the runner
      // deletes however the family ends
      def store(name: String, f: Int): String = {
        val p = s"${sc.scratch}/frag_$name"
        spark.range(400000L * f)
          .select(col("id"), expr("xxhash64(id)").as("a"),
            expr("CAST(xxhash64(id + 3) AS STRING)").as("b"))
          .repartition(64 * f).write.parquet(p)
        p
      }
      locally { // discarded warm-up
        val p = store("warm_up", 1)
        graft.sinks.Compact.filesInPlace(spark, p, targetBytes)
      }
      var pts = Vector[(Long, Double)]()
      var outBase = -1L
      Seq(1, 4, 10).foreach { f =>
        val p = store(s"x$f", f)
        val rows0 = spark.read.parquet(p).count()
        val ((before, after), wall) = timed(
          graft.sinks.Compact.filesInPlace(spark, p, targetBytes))
        val rows1 = spark.read.parquet(p).count()
        require(rows0 == rows1, s"compaction lost rows: $rows0 -> $rows1")
        require(before == 64L * f, s"expected ${64 * f} fragments, saw $before")
        if (f == 1) outBase = after
        pts :+= (rows0, wall)
        sc.emit(f"""{"op":"compact_files","factor":$f,"rows":$rows0,"files_before":$before,"files_after":$after,"after_exact_xk":${f == 1 || after == outBase * f},"wall_sec":$wall%.2f}""")
      }
      sc.emit(f"""{"op":"compact_files","alpha_wall":${wallAlpha(pts)}%.3f,"fit_range":[${pts.map(_._1).min},${pts.map(_._1).max}]}""")
    }

  }
}
