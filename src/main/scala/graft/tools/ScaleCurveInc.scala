package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import ScaleCurve.{blowUp, endpointAlpha, timed}

/** Scale-curve evidence for the INCREMENTAL near-dup path
  * (`Dedup.minhashNearDupsAgainst` — query key `dedup_incremental_near`),
  * the one candidate-generator family without a measured α until round
  * 12. The operator's claim: cross-set candidates scale with
  * batch × collision rate, never |history|² (the batch probes the
  * history band index; history never self-joins).
  *
  * Measurement design (the `ScaleCurve.blowUp` Caesar discipline): split sf0.1
  * documents into batch (doc_id % 10 = 0) and history (the rest) BEFORE
  * blowing up, then blow BOTH sides up by the same factor with matching
  * per-copy Caesar maps — copy k of the batch shares its substitution
  * with copy k of the history, so every original cross-set near-dup
  * replicates exactly once per copy (true cross mass ∝ factor) while
  * copies stay shingle-disjoint from each other (no factor² cross-copy
  * mass). α fitted on candidates ∝ n_total^α over the ×1 → ×10 range;
  * α ≈ 1 is the pass bar, α → 2 would mean the cross join degenerated
  * toward batch × history.
  *
  * Output: one JSON line per factor + a fitted-alpha line.
  */
object ScaleCurveInc {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    val par = spark.sparkContext.defaultParallelism

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val batchBase = base.filter(col("doc_id") % 10 === 0)
    val histBase = base.filter(col("doc_id") % 10 =!= 0)

    var pts = Vector[(Long, Long)]()
    Seq(1, 4, 10).foreach { f =>
      val hist = blowUp(histBase, f, "lang", "source", "n_chars").localCheckpoint()
      val batch = blowUp(batchBase, f, "lang", "source", "n_chars").localCheckpoint()
      val nH = hist.count(); val nB = batch.count()
      val mh = Dedup.minhashed(hist.repartition(par), "text", "doc_id")
        .filter(size(col("hs")) > 0).cache()
      val mb = Dedup.minhashed(batch.repartition(par), "text", "doc_id")
        .filter(size(col("hs")) > 0).cache()
      val (cand, _) = timed(
        Dedup.minhashCrossCandidates(mh, mb, "doc_id", 0.8).count())
      mh.unpersist(); mb.unpersist()
      val (pairs, t) = timed {
        val out = Dedup.minhashNearDupsAgainst(hist, batch, "text", "doc_id", 0.8)
        val n = out.count()
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(out)
        n
      }
      pts = pts :+ ((nH + nB, cand))
      sc.emit(f"""{"dataset":"sf0.1x$f","op":"incremental_near","n_hist":$nH,"n_batch":$nB,"candidates":$cand,"pairs":$pairs,"sec":$t%.2f}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(hist)
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(batch)
    }
    sc.emit(f"""{"op":"incremental_near","alpha":${endpointAlpha(pts)}%.3f,"fit_range":[${pts.head._1},${pts.last._1}]}""")
  }
}
