package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import ScaleCurve.{endpointAlpha, timed}

/** Scale-curve evidence for the IVF-blocked kNN graph (`sim_knn_graph`)
  * — the scale-curve discipline every candidate generator in this repo
  * carries, and for this one the curve IS the dial rule: candidate mass
  * is Σ_points Σ_probed-clusters |cluster| ≈ n · nProbe · (n/K), so a
  * FIXED centroid count K degenerates toward all-pairs (α → 2
  * structurally) while K grown with the corpus at a fixed target
  * cluster size holds α ≈ 1. Both policies are measured at ×1/×4/×10 and
  * the tool REQUIRES the fixed-K curve to expose the trap (α > 1.7) and
  * the scaled-K curve to stay linear (α < 1.2) — so the documented rule
  * ("grow K with n; cluster size is the dial, not K") is enforced by
  * measurement, not prose.
  *
  * Corpus: deterministic unit vectors (fixed-seed Gaussian, 32-dim —
  * the embeddings fixture's shape) so the curve is reproducible and the
  * blow-up adds NEW points rather than duplicating old ones (duplicated
  * vectors would be genuine near-dups and distort neighbor structure).
  * Centroids are the first K corpus points — the same stub-centroid
  * convention the sim_* keys use.
  */
object ScaleCurveKnn {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    import spark.implicits._

    val dim = 32
    val nProbe = 2
    val baseN = 2000 // the sf0.1 embeddings row count
    def corpus(n: Int): DataFrame = {
      val rnd = new scala.util.Random(42)
      (0 until n).map { i =>
        val v = Array.fill(dim)(rnd.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(x => (x / nrm).toFloat).toSeq)
      }.toDF("vec_id", "embedding")
    }

    def candidates(c: DataFrame, cents: DataFrame): Long = {
      val index = Similarity.ivfAssign(c, "embedding", "vec_id", cents, "cid")
        .select(col("vec_id").as("nbr_id"), col("centroid_id"))
      Similarity.ivfProbes(c, "embedding", "vec_id", cents, "cid", nProbe)
        .join(index, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .count()
    }

    var alphas = Map[String, Double]()
    Seq(("fixed_k", (_: Int) => 16),
        ("scaled_k", (n: Int) => math.max(16, n / 125))).foreach {
      case (policy, kOf) =>
        var pts = Vector[(Long, Double)]()
        Seq(1, 4, 10).foreach { f =>
          val n = baseN * f
          val c = corpus(n).localCheckpoint()
          val k = kOf(n)
          val cents = c.filter(col("vec_id") < k).withColumnRenamed("vec_id", "cid")
            .localCheckpoint()
          val (nCand, candSec) = timed(candidates(c, cents))
          val (nEdges, wallSec) = timed(
            Similarity.knnGraph(c, "embedding", "vec_id", cents, "cid",
              k = 5, nProbe = nProbe).count())
          pts :+= ((n.toLong, nCand.toDouble))
          sc.emit(f"""{"op":"knn_graph","policy":"$policy","n":$n,"k_centroids":$k,"n_probe":$nProbe,"candidates":$nCand,"edges":$nEdges,"cand_sec":$candSec%.2f,"wall_sec":$wallSec%.2f}""")
          org.apache.spark.sql.GraftShim.unpersistCheckpoint(c)
          org.apache.spark.sql.GraftShim.unpersistCheckpoint(cents)
        }
        val alpha = endpointAlpha(pts)
        alphas += policy -> alpha
        sc.emit(f"""{"op":"knn_graph","policy":"$policy","alpha_candidates":$alpha%.3f,"fit_range":[${pts.head._1},${pts.last._1}]}""")
    }
    // the curve must EXPOSE the fixed-K trap and PROVE the scaled-K rule
    require(alphas("fixed_k") > 1.7,
      f"fixed-K curve read α=${alphas("fixed_k")}%.3f — expected ~2 (n²/K growth); the measurement is broken")
    require(alphas("scaled_k") < 1.2,
      f"scaled-K curve read α=${alphas("scaled_k")}%.3f — the documented dial rule does not hold")

  }
}
