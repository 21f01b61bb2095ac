package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RandomProjection
import ScaleCurve.{endpointAlpha, ladder, timed}

/** Scale-curve evidence for the SRP-LSH family (round-11 addition):
  * candidate volume must track the true near-dup mass (~linear in corpus
  * size), never the pair space.
  *
  * Blow-up rule — the embedding analog of ScaleCurveHam's XOR isometry:
  * copy k REFLECTS each vector (negates the dimensions set in a
  * copy-specific 64-bit mask). A reflection is an isometry of the
  * sphere, so every within-copy cosine — and thus the planted near-dup
  * mass — replicates exactly ×factor, while cross-copy pairs decorrelate
  * (half the coordinate products flip sign on average, driving cross
  * cosines toward 0, far below τ=0.9). Plain replication would plant
  * factor² identical cross-copy pairs and measure the corpus, not the
  * plan.
  *
  * Output: same JSON line shape as the dedup family; α fit over the
  * sf0.1 → ×10 range (α ≈ 1 pass bar).
  */
object ScaleCurveRp {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark

    val dims = 64
    def mask(k: Int): Long = k.toLong * 0x9E3779B97F4A7C15L

    // the query's planted-corpus construction: base ∪ one damped-dim
    // variant per vector (cos ≈ 0.98–0.999)
    def planted(sf: String): DataFrame = {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val base = e.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val variant = e.select((col("vec_id") + lit(1048576L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("vec_id"), lit(64)).cast("int"),
            x.cast("double") * 0.5).otherwise(x.cast("double"))).as("v"))
      base.unionByName(variant)
    }

    def blowUp(c: DataFrame, factor: Int): DataFrame =
      (0 until factor).map { k =>
        val m = mask(k)
        c.select((col("vec_id") * factor + k).as("vec_id"),
          transform(col("v"), (x, i) =>
            when(call_function("shiftright", lit(m), i.cast("int"))
                .bitwiseAND(lit(1L)) === 1L, -x)
              .otherwise(x)).as("v"))
      }.reduce(_ unionByName _)

    val sets = ladder(planted("sf0.01").localCheckpoint(), planted("sf0.1").localCheckpoint())(
      blowUp(_, _).localCheckpoint())

    // Two curves. FIXED 16-bit bands document the textbook LSH failure
    // mode: the random-collision term 3·2^-16·n²/2 overtakes the linear
    // true-dup mass past ~30k vectors (α drifts toward 2 — the curve IS
    // the evidence that band width is not a constant you set once).
    // WIDTH-SCALED bands apply the standard log(n) rule — bandBits grows
    // by 2 per 4× corpus (collision 2^-bb tracks 1/n²·const) — holding
    // candidate mass ≈ true mass (α ≈ 1) at a measured, modest recall
    // cost (p^bandBits per band: 0.48 → 0.40 per band at cos ≈ 0.99).
    val curves = scala.collection.mutable.Map[String, Vector[(Long, Long)]]()
      .withDefaultValue(Vector())
    def run(op: String, name: String, c: DataFrame, bandBits: Int): Unit = {
      val n = c.count()
      val bits = 3 * bandBits
      val (cand, _) = timed(RandomProjection.rpLshCandidates(
        c, "v", "vec_id", dims, bits = bits, bandBits = bandBits).count())
      val (pairs, t) = timed(RandomProjection.rpLshPairs(
        c, "v", "vec_id", dims, 0.9, bits = bits, bandBits = bandBits).count())
      curves(op) = curves(op) :+ ((n, cand))
      sc.emit(f"""{"dataset":"$name","op":"$op","n_docs":$n,"band_bits":$bandBits,"candidates":$cand,"pairs":$pairs,"sec":$t%.2f}""")
    }
    sets.foreach { case (name, _, c) => run("rp_lsh_fixed", name, c, 16) }
    // log-scaled width: +2 bits per 4× corpus over the sf0.1 base
    val scaledBits = Map("sf0.01" -> 16, "sf0.1" -> 16, "sf0.1x4" -> 18, "sf0.1x10" -> 20)
    sets.foreach { case (name, _, c) => run("rp_lsh_scaled", name, c, scaledBits(name)) }

    curves.toSeq.sortBy(_._1).foreach { case (op, pts) =>
      val inRange = pts.filter(_._1 >= pts.map(_._1).max / 15)
      sc.emit(f"""{"op":"$op","alpha":${endpointAlpha(inRange)}%.3f,"fit_range":[${inRange.head._1},${inRange.last._1}]}""")
    }
    sets.foreach(s => org.apache.spark.sql.GraftShim.unpersistCheckpoint(s._3))
  }
}
