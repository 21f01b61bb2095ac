package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sinks.BandStore
import ScaleCurve.{blowUp, endpointAlpha, timed}

/** Scale-curve evidence for the persisted band index (`BandStore` —
  * query key `dedup_band_store`). The store's AMORTIZATION claim: with
  * the history indexed once, a fixed-size batch's probe cost stays
  * ~flat as history grows (the probe reads only colliding band
  * partitions and broadcasts the batch), while the self-contained
  * `minhashNearDupsAgainst` re-sketches the whole history every run —
  * its cost grows ~linearly. Both wall-time curves are fitted and
  * appended so the claim is priced, not asserted.
  *
  * History blows up with the `ScaleCurve.blowUp` Caesar discipline (per-copy
  * substitution maps keep copies shingle-disjoint — no cross-copy pair
  * mass); the batch stays FIXED, so any probe-side growth is index
  * overhead, not workload growth. Probe results are asserted equal to
  * the self-contained operator at every factor — a fast-but-wrong curve
  * must fail here.
  */
object ScaleCurveBand {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    val par = spark.sparkContext.defaultParallelism

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    // fixed batch: shift-0 Caesar copies of it exist in every history
    // factor, so cross-set pairs are stable per-factor fixture mass
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val histBase = base.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))

    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val root = sc.scratch
    var probePts = Vector[(Long, Double)]()
    var resketchPts = Vector[(Long, Double)]()
    Seq(1, 4, 10).foreach { f =>
      val hist = blowUp(histBase, f).repartition(par).localCheckpoint()
      val nH = hist.count()
      val path = s"$root/index_x$f"
      // ingest = write + compact: a `par`-task write leaves up to `par` files
      // per bucket, and the probe's footer overhead would price that
      // fragmentation, not the operator — production ingest compacts on
      // cadence, so the curve measures the compacted steady state
      val (_, ingestSec) = timed {
        BandStore.write(hist, "text", "doc_id", path)
        BandStore.compact(spark, path)
      }
      val (probePairs, probeSec) = timed {
        val out = BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)
        val s = pairSet(out)
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(out)
        s
      }
      val (directPairs, resketchSec) = timed {
        val out = Dedup.minhashNearDupsAgainst(hist, batch, "text", "doc_id", 0.8)
        val s = pairSet(out)
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(out)
        s
      }
      require(probePairs == directPairs,
        s"x$f: probe produced ${probePairs.size} pairs vs ${directPairs.size} self-contained")
      probePts :+= ((nH, probeSec)); resketchPts :+= ((nH, resketchSec))
      sc.emit(f"""{"dataset":"sf0.1x$f","op":"band_store","n_hist":$nH,"n_batch_fixed":true,"ingest_sec":$ingestSec%.2f,"probe_sec":$probeSec%.2f,"resketch_sec":$resketchSec%.2f,"pairs":${probePairs.size}}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(hist)
    }
    sc.emit(f"""{"op":"band_store","alpha_probe":${endpointAlpha(probePts)}%.3f,"alpha_resketch":${endpointAlpha(resketchPts)}%.3f,"fit_range":[${probePts.head._1},${probePts.last._1}]}""")
  }
}
