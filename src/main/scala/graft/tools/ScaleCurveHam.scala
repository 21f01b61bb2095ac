package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, ProductQuant}
import ScaleCurve.{endpointAlpha, ladder, timed}

/** Scale-curve evidence for the ROUND-10 families [[ScaleCurve]] doesn't
  * cover: the 64-bit hamming chunk join (image/audio fingerprints) and
  * PQ encode/search.
  *
  * Hamming blow-up rule — the fingerprint analog of `ScaleCurve.blowUp`'s Caesar
  * map: each copy XORs every fingerprint with a copy-specific 64-bit
  * mask. XOR by a constant is a hamming-space ISOMETRY
  * (hamming(a^m, b^m) = hamming(a, b)), so every within-copy near-dup
  * pair replicates exactly — true near-dup mass scales ×factor — while
  * cross-copy fingerprints sit ~32 bits apart (mask pairs differ in
  * 24–40 bits, checked below), so no cross-copy near-dups are
  * introduced. Plain replication would add factor² cross-copy identical
  * pairs and measure the corpus, not the plan.
  *
  * PQ has no candidate-generation question (encode folds each row
  * against a broadcast codebook; ADC scores each row against a
  * broadcast table — both single scans by construction), so its curve
  * records rows/sec staying ~flat as the corpus grows 10×: the
  * evidence that per-row cost is constant, i.e. total cost is linear.
  *
  * Output: same JSON line shape as the dedup family, with fitted α per
  * op (candidates ~ n^α over the sf0.1 → ×10 range; α ≈ 1 is the pass
  * bar).
  */
object ScaleCurveHam {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    val m = graft.multimodal.Multimodal

    // golden-ratio multiples: deterministic masks whose pairwise XORs
    // carry 24-40 set bits — far above the maxHamming=2 near-dup band
    def mask(k: Int): Long = k.toLong * 0x9E3779B97F4A7C15L
    for {
      i <- 0 until 10; j <- (i + 1) until 10
    } require(java.lang.Long.bitCount(mask(i) ^ mask(j)) > 16,
      s"mask pair ($i,$j) too close — would alias cross-copy fingerprints")

    def blowUpFp(fps: DataFrame, col64: String, factor: Int): DataFrame =
      (0 until factor).map { k =>
        fps.select((col("doc_id") * factor + k).as("doc_id"),
          col(col64).bitwiseXOR(lit(mask(k))).as(col64))
      }.reduce(_ unionByName _)

    val curves = scala.collection.mutable.Map[String, Vector[(Long, Long)]]()
      .withDefaultValue(Vector())
    def record(name: String, op: String, n: Long, cand: Long, pairs: Long,
               sec: Double): Unit = {
      curves(op) = curves(op) :+ (n, cand)
      sc.emit(f"""{"dataset":"$name","op":"$op","n_docs":$n,"candidates":$cand,"pairs":$pairs,"sec":$sec%.2f}""")
    }

    // ---- hamming chunk join over REAL codec fingerprints ----
    def docs(sf: String) =
      spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
    // the same exact-collapse-to-representatives rule the query keys run
    // (identical hashes must not re-enter the chunk join)
    def imageReps(sf: String): DataFrame =
      m.dHash(m.synthesizePngs(docs(sf), "doc_id")).toDF()
        .groupBy("phash").agg(min(col("doc_id")).as("doc_id"))
    def audioReps(sf: String): DataFrame =
      m.audioFingerprint(m.synthesizeWavs(docs(sf), "doc_id")).toDF()
        .groupBy("afp").agg(min(col("doc_id")).as("doc_id"))

    Seq(("image_phash", "phash", imageReps _), ("audio_fp", "afp", audioReps _))
      .foreach { case (fam, hcol, reps) =>
        val sets = ladder(reps("sf0.01").localCheckpoint(), reps("sf0.1").localCheckpoint())(
          blowUpFp(_, hcol, _).localCheckpoint())
        sets.foreach { case (name, _, fps) =>
          val n = fps.count()
          val (cand, _) = timed(Dedup.hammingCandidates64(fps, hcol, "doc_id").count())
          val (pairs, t) = timed(
            Dedup.hammingPairs64(fps, hcol, "doc_id", maxHamming = 2).count())
          record(name, fam, n, cand, pairs, t)
        }
        sets.foreach(s => org.apache.spark.sql.GraftShim.unpersistCheckpoint(s._3))
      }

    // ---- PQ encode + ADC search (linear by construction; the curve
    // documents rows/sec holding as the corpus grows 10×) ----
    def emb(sf: String) =
      spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
    def blowUpEmb(e: DataFrame, factor: Int): DataFrame =
      (0 until factor).map { k =>
        // per-copy constant offset: keeps the geometry (and thus codes
        // per copy) realistic without duplicating exact vectors
        e.select((col("vec_id") * factor + k).as("vec_id"),
          transform(col("embedding"), x => x + lit(k * 0.001)).as("embedding"))
      }.reduce(_ unionByName _)
    val e1 = emb("sf0.1").localCheckpoint()
    val embSets = ladder(emb("sf0.01").localCheckpoint(), e1)(
      blowUpEmb(_, _).localCheckpoint())
    // ONE codebook trained on the base corpus serves every scale —
    // the serving-path shape (train once, encode/search forever)
    val cb = ProductQuant.train(e1, "embedding", "vec_id",
      m = 4, k = 8, dims = 64, iters = 2).localCheckpoint()
    val qv = e1.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
    embSets.foreach { case (name, _, e) =>
      val n = e.count()
      val (codes, tEnc) = timed {
        val c = ProductQuant.encode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
          .localCheckpoint()
        c.count(); c
      }
      record(name, "pq_encode", n, n, n, tEnc)
      val (_, tSearch) = timed(
        ProductQuant.search(codes, "vec_id", cb, qv, m = 4, dims = 64, k = 10).count())
      record(name, "pq_search", n, n, 10L, tSearch)
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(codes)
    }
    embSets.foreach(s => org.apache.spark.sql.GraftShim.unpersistCheckpoint(s._3))

    curves.toSeq.sortBy(_._1).foreach { case (op, pts) =>
      val scaled = pts.filter(_._1 >= pts.map(_._1).max / 15) // sf0.1..x10 range
      sc.emit(f"""{"op":"$op","alpha":${endpointAlpha(scaled)}%.3f,"fit_range":[${scaled.head._1},${scaled.last._1}]}""")
    }
  }
}
