package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Bloom
import ScaleCurve.{blowUp, endpointAlpha, ladder, timed}

/** Scale-curve evidence for the Bloom-prefiltered decontamination:
  * measures the prefilter's SURVIVOR volume (the probe side the exact
  * confirm join has to process — the quantity that must stay ~linear in
  * the true hit mass, not in the corpus) and the flagged-doc count
  * across the same Caesar blow-ups as [[ScaleCurve]].
  *
  * The benchmark (docs with id % 89 = 0) blows up WITH the corpus, so
  * the filter is re-sized per dataset by the library's own sizing rule
  * (~10 bits per distinct benchmark gram, next power of two): the curve
  * therefore exercises exactly what a production caller does at
  * growing scale — and documents that survivors ≈ true hits + a small
  * FP trickle at every scale, instead of the saturation cliff a fixed
  * 2^16 filter would show at sf0.1×10 (measured in BloomSpec).
  */
object ScaleCurveBloom {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    import graft.functions.TextFunctions.{hash31, wordNgrams}

    val base01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val base1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val sets = ladder(base01, base1)(blowUp(_, _))
      .map { case (name, _, docs) => (name, docs.localCheckpoint()) }

    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(array_distinct(transform(wordNgrams(col("text"), 3), hash31(_)))).as("gh"))

    var pts = Vector[(Long, Long)]()
    sets.foreach { case (name, docs) =>
      val n = docs.count()
      val bench = docs.filter(col("doc_id") % 89 === 0)
      val benchGrams = grams(bench).select("gh").distinct().localCheckpoint()
      val nBench = benchGrams.count()
      // the library's sizing rule: next power of two ≥ 10 bits/key
      val bits = math.max(65536,
        Integer.highestOneBit(math.min(Int.MaxValue / 2, nBench * 10).toInt) * 2)
      val filter = broadcast(Bloom.buildHashed(
        benchGrams.select(Bloom.widen31(col("gh")).as("h")), "h", bits))
      val (survivors, _) = timed(
        grams(docs).crossJoin(filter)
          .filter(Bloom.mightContainHashed(Bloom.widen31(col("gh")), col("words"), bits))
          .count())
      val trueHits = grams(docs).join(benchGrams, "gh").count()
      val (flagged, t) = timed(
        Bloom.prefilteredOverlap(docs, bench, "text", "doc_id", n = 3, bits = bits)
          .count())
      pts = pts :+ (n, survivors)
      sc.emit(f"""{"dataset":"$name","op":"bloom_prefilter","n_docs":$n,"candidates":$survivors,"pairs":$flagged,"sec":$t%.2f,"bits":$bits,"bench_grams":$nBench,"true_hits":$trueHits}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(benchGrams)
    }
    val scaled = pts.filter(_._1 >= pts.map(_._1).max / 15)
    sc.emit(f"""{"op":"bloom_prefilter","alpha":${endpointAlpha(scaled)}%.3f,"fit_range":[${scaled.head._1},${scaled.last._1}]}""")
    sets.foreach(s => org.apache.spark.sql.GraftShim.unpersistCheckpoint(s._2))
  }
}
