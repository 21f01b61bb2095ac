package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import ScaleCurve.{countAlpha, ladder, timed}

/** Scale-curve evidence for SPAN-level exact dedup (`dedup_substring`,
  * `Dedup.removeRepeatedSpans`) under the Caesar blow-up discipline
  * (round-14 verdict item): the three volumes that must stay ~linear for
  * the plan to survive 100 TB —
  *  - WINDOW volume (every stride-1 winLen window: the scan-side md5 mass),
  *  - HOT volume (distinct windows with ≥ minOccur occurrences, plus the
  *    occurrence mass landing in the cover join),
  *  - COVER volume (distinct (doc, position) covered pairs — the only
  *    rows that fan out winLen-fold),
  * plus removed-token mass and wall time. A per-copy Caesar substitution
  * over letters AND digits replicates within-copy span structure EXACTLY
  * while keeping spans disjoint across copies (any window containing at
  * least one [a-z0-9] character differs per copy), so removed-token mass
  * is expected to scale exactly ×factor. The exactness is CORPUS-dependent
  * (a 12-token run of pure punctuation would be copy-identical), so it is
  * reported as `mass_exact_xk` + a WARN line rather than a hard abort.
  *
  * Output: one JSON line per dataset + fitted α lines (volume ∝ n^α).
  */
object ScaleCurveSpan {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    val par = spark.sparkContext.defaultParallelism
    val winLen = 12

    val letters = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    def blowUp(docs: DataFrame, factor: Int): DataFrame = {
      // factor <= 10: the digit rotation must be injective per copy too,
      // or an all-digit window would be byte-identical between copies k
      // and k+10 (the letter map alone caps at 26)
      require(factor <= 10, s"blowUp: factor $factor > 10 would reuse digit maps")
      (0 until factor).map { k =>
        val ls = k % 26
        val ds = k % 10
        docs.select((col("doc_id") * factor + k).as("doc_id"),
          translate(col("text"), letters + digits,
            letters.drop(ls) + letters.take(ls) +
              digits.drop(ds) + digits.take(ds)).as("text"))
      }.reduce(_ unionByName _)
    }

    val base01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val base1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val datasets = ladder(base01, base1)(blowUp)

    var baseMass = -1L
    val curves = scala.collection.mutable.Map[String, Vector[(Long, Long)]]()
      .withDefaultValue(Vector())

    datasets.foreach { case (name, factor, docs0) =>
      val docs = docs0.repartition(par).localCheckpoint()
      val n = docs.count()

      // the same window projection the operator runs, instrumented
      val win = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("nn", size(col("toks")))
        .select(col("doc_id"),
          explode(when(col("nn") >= winLen, sequence(lit(1), col("nn") - winLen + 1))
            .otherwise(array().cast("array<int>"))).as("s"),
          col("toks"))
        .select(col("doc_id"), col("s"),
          md5(concat_ws(" ", slice(col("toks"), col("s"), lit(winLen)))).as("wh"))
        .cache()
      val nWindows = win.count()
      val hotAgg = win.groupBy("wh").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2)
        .agg(count(lit(1)).as("hot"), sum(col("occ")).as("hot_occ")).head()
      val (nHot, hotOcc) =
        (hotAgg.getLong(0), if (hotAgg.isNullAt(1)) 0L else hotAgg.getLong(1))
      val hot = win.groupBy("wh").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2).select("wh")
      val nCover = win.join(hot, Seq("wh"), "left_semi")
        .select(col("doc_id"), explode(sequence(col("s"), col("s") + winLen - 1)).as("p"))
        .distinct().count()
      win.unpersist()

      // the operator end-to-end: removed-token mass + wall
      val (mass, wall) = timed(Dedup.removeRepeatedSpans(docs, "text", "doc_id", winLen)
        .agg(sum(col("n_dup_tokens"))).head().getLong(0))

      if (name == "sf0.1") baseMass = mass
      if (factor > 1 && mass != baseMass * factor) {
        // corpus-dependent exactness (see object doc): report loudly,
        // don't abort — the fitted alphas below are still meaningful
        println(s"""{"warn":"span_dedup mass not exactly x$factor: base $baseMass, got $mass (non-substitutable window text?)"}""")
      }
      sc.emit(f"""{"dataset":"$name","op":"span_dedup","n_docs":$n,"windows":$nWindows,"hot_windows":$nHot,"hot_occurrences":$hotOcc,"covered_positions":$nCover,"removed_tokens":$mass,"mass_exact_xk":${factor == 1 || mass == baseMass * factor},"wall_sec":$wall%.2f}""")
      if (name != "sf0.01") { // fit over the sf0.1 blow-up family only
        curves("windows") :+= (n, nWindows)
        curves("hot_occurrences") :+= (n, hotOcc)
        curves("covered_positions") :+= (n, nCover)
      }
    }

    curves.toSeq.sortBy(_._1).foreach { case (k, pts) =>
      sc.emit(f"""{"op":"span_dedup","alpha_$k":${countAlpha(pts)}%.3f,"fit_range":[${pts.map(_._1).min},${pts.map(_._1).max}]}""")
    }
  }
}
