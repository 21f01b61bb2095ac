package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Scale-curve evidence for the dedup family: measures corpus size,
  * CANDIDATE-pair volume (the quantity that must stay ~linear for the
  * plan to survive 100 TB), verified-pair volume, and wall time at
  * sf0.01, sf0.1, and salted blow-ups of sf0.1.
  *
  * The blow-up applies a per-copy Caesar substitution to the text: a
  * bijective character map preserves every within-copy shingle/gram
  * Jaccard EXACTLY (each copy replicates the original's similarity
  * structure) while making char-shingles and word-grams disjoint across
  * copies — so true near-dup mass scales ×factor, the honest way to
  * scale a near-dup benchmark. (Plain replication — or token-suffix
  * salting, which leaves char-3-grams overlapping — adds factor²
  * cross-copy near-dup pairs and measures the corpus, not the plan:
  * the first run of this tool did exactly that and LSH "failed" with
  * alpha=2.4 by correctly finding the quadratic duplicate mass.)
  *
  * Output: one JSON line per (dataset, op) on stdout; appends the whole
  * run to `scale_curve.jsonl` and prints the fitted scaling exponent
  * alpha where candidates ~ n_docs^alpha (alpha ≈ 1 is the pass bar;
  * alpha -> 2 means the candidate generator degenerated to all-pairs).
  */
object ScaleCurve {
  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** `factor` Caesar-shifted copies of `docs` (copy k rotates the
    * lowercase letters by k, ids become `doc_id * factor + k`): the
    * copies share no n-grams, so the corpus grows without adding
    * cross-copy duplicates. Output is `doc_id`, `text`, then `kept`. */
  def blowUp(docs: DataFrame, factor: Int, kept: String*): DataFrame = {
    // copies k and k+26 would share a Caesar map and reintroduce the
    // quadratic cross-copy dup mass the blow-up exists to avoid —
    // refuse factors the 26-cycle can't keep disjoint
    require(factor <= 26, s"blowUp: factor $factor > 26 would reuse Caesar maps")
    (0 until factor).map { k =>
      docs.select(Seq((col("doc_id") * factor + k).as("doc_id"),
        translate(col("text"), alphabet,
          alphabet.drop(k) + alphabet.take(k)).as("text")) ++ kept.map(col): _*)
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val par = spark.sparkContext.defaultParallelism

    val base01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val base1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val datasets: Seq[(String, DataFrame)] = Seq(
      "sf0.01" -> base01,
      "sf0.1" -> base1,
      "sf0.1x4" -> blowUp(base1, 4, "lang", "source", "n_chars"),
      "sf0.1x10" -> blowUp(base1, 10, "lang", "source", "n_chars"))

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val sb = new StringBuilder
    val curves = scala.collection.mutable.Map[String, Vector[(Long, Long)]]()
      .withDefaultValue(Vector())

    datasets.foreach { case (name, docs0) =>
      // materialize the blow-up once so sketch time, not union codegen,
      // is what gets measured
      val docs = docs0.localCheckpoint()
      val n = docs.count()

      // minhash LSH
      val m = Dedup.minhashed(docs.repartition(par), "text", "doc_id")
        .filter(size(col("hs")) > 0).cache()
      val (candLsh, _) = timed(Dedup.minhashBandCandidates(m, "doc_id", 0.8).count())
      m.unpersist()
      val (pairsLsh, tLsh) = timed(
        Dedup.minhashNearDups(docs, "text", "doc_id", 0.8, sketchParallelism = par).count())

      // ngram jaccard (PPJoin)
      val g = Dedup.ngramGramFrame(docs.repartition(par), "text", "doc_id", "lang").cache()
      val (candNg, _) = timed(Dedup.ngramPrefixCandidates(g, 0.8).count())
      g.unpersist()
      val (pairsNg, tNg) = timed(
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", 0.8,
          sketchParallelism = par).count())

      // simhash (HmSearch chunks)
      val wide = Dedup.simhashedWide(docs.repartition(par), "text", "doc_id").cache()
      val (candSh, _) = timed(Dedup.simhashCandidates(wide, "doc_id")
        .select("id_a", "id_b").distinct().count())
      wide.unpersist()
      val (pairsSh, tSh) = timed(
        Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 8,
          sketchParallelism = par).count())

      // benchmark decontamination: "candidates" = distinct gram-hash
      // collisions (the join's output volume — the quantity that must
      // stay ~linear), "pairs" = flagged docs. The Caesar blow-up keeps
      // copies gram-disjoint, so hit mass scales with the corpus, not
      // quadratically across copies.
      val ((dcHits, dcDocs), tDc) = timed {
        val r = graft.operators.Decontaminate.overlap(
          docs.repartition(par), docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 3)
          .agg(coalesce(sum(col("n_hit_grams")), lit(0L)).as("hits"),
            count(lit(1)).as("docs")).head()
        (r.getLong(0), r.getLong(1))
      }

      // asymmetric containment: 32-token windows probed against whole
      // docs — the Caesar blow-up keeps copies gram-disjoint, so a
      // chunk's candidate hosts stay within its own copy's near-dup
      // partners and candidate mass must scale with the corpus
      val chunkToks = split(col("text"), " ")
      val chunkStarts = sequence(lit(0),
        greatest(org.apache.spark.sql.functions.size(chunkToks) - 1, lit(0)), lit(24))
      val chunks = docs.filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("lang"),
          posexplode(transform(chunkStarts, st => slice(chunkToks, st + 1, lit(32))))
            .as(Seq("chunk_idx", "chunk")))
        .select(Dedup.packChunkKey(col("doc_id"), col("chunk_idx")).as("chunk_key"),
          col("lang"), concat_ws(" ", col("chunk")).as("chunk_text"))
      val pG = Dedup.containmentGramFrame(chunks.repartition(par),
        "chunk_text", "chunk_key", "lang").cache()
      val ixG = Dedup.containmentGramFrame(docs.repartition(par),
        "text", "doc_id", "lang").cache()
      val (candCt, _) = timed(Dedup.containmentCandidates(pG, ixG, 0.8).count())
      pG.unpersist(); ixG.unpersist()
      val (pairsCt, tCt) = timed(
        Dedup.containmentPairs(chunks, "chunk_text", "chunk_key",
          docs, "text", "doc_id", "lang", 0.8).count())

      Seq(("minhash_lsh", candLsh, pairsLsh, tLsh),
          ("ngram_jaccard", candNg, pairsNg, tNg),
          ("simhash_pairs", candSh, pairsSh, tSh),
          ("decontaminate", dcHits, dcDocs, tDc),
          ("containment", candCt, pairsCt, tCt)).foreach {
        case (op, cand, pairs, t) =>
          curves(op) = curves(op) :+ (n, cand)
          val line = f"""{"dataset":"$name","op":"$op","n_docs":$n,"candidates":$cand,"pairs":$pairs,"sec":$t%.2f}"""
          println(line); sb.append(line).append('\n')
      }
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(docs)
    }

    // fit alpha over the sf0.1 -> blow-up range (same underlying corpus
    // statistics; the sf0.01 point rides along for the record)
    curves.toSeq.sortBy(_._1).foreach { case (op, pts) =>
      val scaled = pts.filter(_._1 >= 5000)
      val (n0, c0) = scaled.head
      val (n1, c1) = scaled.last
      val alpha = math.log(c1.toDouble / c0) / math.log(n1.toDouble / n0)
      val line = f"""{"op":"$op","alpha":$alpha%.3f,"fit_range":[$n0,$n1]}"""
      println(line); sb.append(line).append('\n')
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_curve.jsonl"),
      sb.toString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
