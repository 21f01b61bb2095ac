package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sign-random-projection (hyperplane) LSH for embedding near-dup — the
  * third candidate-generation family next to minhash banding (Jaccard)
  * and IVF bucketing (moderate-τ cosine): Charikar's SimHash for real
  * vectors. Each vector gets `bits` one-bit hashes (the side of a
  * deterministic ±1 hyperplane it falls on: P[bit match] = 1 − θ/π),
  * packed into `bits / bandBits` band values; only vectors sharing a
  * band value ever meet, and survivors are verified with the exact
  * cosine. The regime matters and is the documented contract: long
  * bands (16 bits ⇒ random-pair collision ≈ 1.5e-5) make candidate mass
  * track the true near-dup mass (measured α≈1.0–1.2 at bits=48), but
  * per-band recall is p^bandBits — strong only at HIGH cosine (τ ≳ 0.9,
  * ~97% measured). For moderate τ use the IVF-blocked
  * [[Dedup.embeddingNearDups]]; SRP's niche is exact-near-duplicate
  * detection where banding beats clustering (no training, no centroid
  * skew, streamable signatures).
  *
  * Determinism: hyperplane d of bit b has sign +1 iff the low bit of
  * md5("b_d") is set — the repo's standard public md5 derivation,
  * evaluated at PLAN time into ±1 literals (no per-row hashing; one
  * 64-bit mask per hyperplane is what the oracle SQL embeds). Vector
  * components are quantized to exact BIGINT micro-units before the dot
  * product, so every band value is integer arithmetic and replays
  * hash-identically in any engine.
  */
object RandomProjection {

  /** One 64-bit sign mask per hyperplane: bit d set ⇔ dimension d's
    * component is +1 (else −1). Derived from md5("b_d") low bit — fixed
    * public construction, same masks on every engine and run. */
  def signMasks(bits: Int, dims: Int): Seq[Long] = {
    require(dims >= 1 && dims <= 64, s"signMasks: dims must be in [1,64], got $dims")
    require(bits >= 1, s"signMasks: bits must be positive, got $bits")
    (0 until bits).map { b =>
      (0 until dims).foldLeft(0L) { (m, d) =>
        // low bit of the first 8 md5 hex chars = low bit of byte 3
        val name = s"${b}_${d}".getBytes("UTF-8")
        if ((graft.expressions.Md5.prefix32(name, 0, name.length) & 1) == 1) m | (1L << d)
        else m
      }
    }
  }

  /** The masks as a SQL VALUES body `(0, m0), (1, m1), …` — the oracle
    * embeds the SAME plan-time constants the Spark expression compiles
    * in, so the two sides can never drift. */
  def signMasksSqlValues(bits: Int, dims: Int): String =
    signMasks(bits, dims).zipWithIndex
      .map { case (m, b) => s"($b, CAST($m AS BIGINT))" }.mkString(", ")

  /** Exact integer micro-unit quantization of a float/double vector,
    * with a fused malformed-input guard. A wrong-width vector would
    * silently zip against the hyperplane prefix and hash into wrong
    * buckets; a NULL vector (or one containing NULL elements) is worse:
    * every dot evaluates NULL, every `when(dot >= 0, …)` bit drops to 0,
    * and ALL such vectors collide on band_value 0 in every band — m
    * malformed rows become an O(m²) candidate join while their true
    * near-dups are silently missed. Raise instead (the repo's
    * raise-on-bad-input discipline, cf. `Sampling.reservoirKey`). */
  def quantized(vec: Column, dims: Int): Column = {
    val bad = vec.isNull || size(vec) =!= dims || exists(vec, _.isNull)
    coalesce(
      when(bad, raise_error(concat(
        lit(s"SRP quantize: expected a non-null $dims-dim vector with no null elements, got size "),
        coalesce(size(vec).cast("string"), lit("NULL"))))),
      transform(vec, x => round(x.cast("double") * 1e6).cast("long")))
  }

  /** Banded SRP signatures: one (idCol, band, band_value) row per band —
    * the shuffle-free scan projection every SRP consumer starts from.
    * The `bits` hyperplane dots and the per-band bit packing run as ONE
    * native codegen'd pass over the quantized vector
    * ([[graft.expressions.SrpBandValues]]) — the previous composed form
    * (`bits` separate `aggregate(zip_with(...))` folds) interpreted two
    * lambdas and allocated a zipped array PER HYPERPLANE per row, which
    * at 100 TB is the corpus-scan hot loop. Value-identical: same
    * d-ascending long fold per hyperplane, same `dot ≥ 0` bit rule, same
    * band order (SrpNativeSpec + the oracle pin it). */
  def bandedSignatures(df: DataFrame, vecCol: String, idCol: String,
                       dims: Int, bits: Int = 48,
                       bandBits: Int = 16): DataFrame = {
    require(bits % bandBits == 0, s"bits=$bits must be a multiple of bandBits=$bandBits")
    require(bandBits >= 1 && bandBits <= 62, s"bandBits out of range: $bandBits")
    val masks = signMasks(bits, dims)
    df.select(col(idCol),
        posexplode(graft.expressions.VectorExpressions.srpBandValues(
          quantized(col(vecCol), dims), masks, dims, bandBits))
          .as(Seq("band", "band_value")))
  }

  /** Distinct candidate pairs sharing ≥1 band value, with the EARLIEST
    * agreeing band retained (`min_band` — lets a caller price the bands
    * dial: pairs found by the first k bands are those with min_band < k).
    * Only (band, value, id) triples ever shuffle. */
  def rpLshCandidates(df: DataFrame, vecCol: String, idCol: String,
                      dims: Int, bits: Int = 48,
                      bandBits: Int = 16): DataFrame = {
    val sigs = bandedSignatures(df, vecCol, idCol, dims, bits, bandBits)
    sigs.select(col("band"), col("band_value"), col(idCol).as("id_a"))
      .join(sigs.select(col("band"), col("band_value"), col(idCol).as("id_b")),
        Seq("band", "band_value"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(min(col("band")).as("min_band"))
  }

  /** Verified near-dup pairs via banded SRP signatures: (id_a, id_b,
    * cosine) for every candidate pair sharing ≥1 of the `bits/bandBits`
    * band values with exact cosine ≥ `threshold` (unrounded compare,
    * 6-dp output — [[Dedup.embeddingNearDups]]'s contract). The
    * signature stage is a zero-shuffle scan projection (48 codegen'd
    * integer folds per row); candidates shuffle (band, bandValue, id)
    * triples only; vectors are joined back by id for the verify — the
    * all-pairs cartesian never exists in the plan. */
  def rpLshPairs(df: DataFrame, vecCol: String, idCol: String, dims: Int,
                 threshold: Double, bits: Int = 48,
                 bandBits: Int = 16): DataFrame = {
    val cand = rpLshCandidates(df, vecCol, idCol, dims, bits, bandBits)
      .select("id_a", "id_b")
    // exact-cosine verify: vectors joined back by id (never through the
    // band join, which would carry them once per band)
    import graft.expressions.VectorExpressions.{dot, l2norm}
    val vecs = df.select(col(idCol).as("__vid"),
      transform(col(vecCol), _.cast("double")).as("__v"))
      .withColumn("__nrm", l2norm(col("__v")))
    cand
      .join(vecs.select(col("__vid").as("id_a"), col("__v").as("__va"), col("__nrm").as("__na")), "id_a")
      .join(vecs.select(col("__vid").as("id_b"), col("__v").as("__vb"), col("__nrm").as("__nb")), "id_b")
      .withColumn("__cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 6).as("cosine"))
  }
}
