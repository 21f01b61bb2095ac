package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Scale-curve evidence, one family per JVM:
  * `sbt "runMain graft.tools.ScaleCurve <family>"`. No argument or an
  * unknown one prints the family names and exits nonzero.
  *
  * Each family measures the candidate / pair / file / byte volumes (and
  * wall) of one candidate generator or store as its input grows, fits a
  * scaling exponent α (volume ~ n^α: α ≈ 1 is the pass bar, α → 2 means
  * a generator degenerated toward all-pairs) and `require`s its bounds.
  * The runner owns what every family shares: the session, the timer, the
  * two α fits, the output (each JSON line goes to stdout; the run is
  * appended to `scale_curve.jsonl` once the family returns, so a failed
  * gate appends nothing), one scratch root deleted however the family
  * ends, and the Caesar blow-up with its sf0.01 → sf0.1 → ×4 → ×10
  * ladder.
  *
  * The blow-up applies a per-copy Caesar substitution to the text: a
  * bijective character map preserves every within-copy shingle/gram
  * Jaccard EXACTLY (each copy replicates the original's similarity
  * structure) while making char-shingles and word-grams disjoint across
  * copies — so true near-dup mass scales ×factor, the honest way to
  * scale a near-dup benchmark. (Plain replication — or token-suffix
  * salting, which leaves char-3-grams overlapping — adds factor²
  * cross-copy near-dup pairs and measures the corpus, not the plan:
  * the first run of the dedup curve did exactly that and LSH "failed"
  * with alpha=2.4 by correctly finding the quadratic duplicate mass.)
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

  /** The sf0.01 and sf0.1 documents tables the document ladders start
    * from. */
  def documents(spark: SparkSession): (DataFrame, DataFrame) = {
    val base01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val base1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    (base01, base1)
  }

  /** The dedup family: corpus size, CANDIDATE-pair volume (the quantity
    * that must stay ~linear for the plan to survive 100 TB),
    * verified-pair volume and wall time at sf0.01, sf0.1 and Caesar
    * blow-ups of sf0.1, one JSON line per (dataset, op), then the fitted
    * alpha where candidates ~ n_docs^alpha. */
  def dedup(sc: Run): Unit = {
    val spark = sc.spark
    val par = spark.sparkContext.defaultParallelism

    val (base01, base1) = documents(spark)
    val datasets = ladder(base01, base1)(blowUp(_, _, "lang", "source", "n_chars"))

    val curves = scala.collection.mutable.Map[String, Vector[(Long, Long)]]()
      .withDefaultValue(Vector())

    datasets.foreach { case (name, _, docs0) =>
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
        Dedup.minhashNearDups(docs, "text", "doc_id", 0.8).count())

      // ngram jaccard (PPJoin)
      val g = Dedup.ngramGramFrame(docs.repartition(par), "text", "doc_id", "lang").cache()
      val (candNg, _) = timed(Dedup.ngramPrefixCandidates(g, 0.8).count())
      g.unpersist()
      val (pairsNg, tNg) = timed(
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", 0.8).count())

      // simhash (HmSearch chunks)
      val wide = Dedup.simhashedWide(docs.repartition(par), "text", "doc_id").cache()
      val (candSh, _) = timed(Dedup.simhashCandidates(wide, "doc_id")
        .select("id_a", "id_b").distinct().count())
      wide.unpersist()
      val (pairsSh, tSh) = timed(
        Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 8).count())

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
          sc.emit(f"""{"dataset":"$name","op":"$op","n_docs":$n,"candidates":$cand,"pairs":$pairs,"sec":$t%.2f}""")
      }
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(docs)
    }

    // fit alpha over the sf0.1 -> blow-up range (same underlying corpus
    // statistics; the sf0.01 point rides along for the record)
    curves.toSeq.sortBy(_._1).foreach { case (op, pts) =>
      val scaled = pts.filter(_._1 >= 5000)
      sc.emit(f"""{"op":"$op","alpha":${endpointAlpha(scaled)}%.3f,"fit_range":[${scaled.head._1},${scaled.last._1}]}""")
    }
  }

  /** The sf0.01 → sf0.1 → sf0.1×4 → sf0.1×10 ladder as
    * (dataset, factor, frame) rows; `blow` makes `factor` disjoint copies
    * of the sf0.1 base. */
  def ladder[A](sf001: A, sf01: A)(blow: (A, Int) => A): Seq[(String, Int, A)] =
    Seq(("sf0.01", 1, sf001), ("sf0.1", 1, sf01),
      ("sf0.1x4", 4, blow(sf01, 4)), ("sf0.1x10", 10, blow(sf01, 10)))

  /** What the runner hands a family: its session, a scratch root for the
    * stores it writes, `emit` for its JSON lines and `bytesRead` for the
    * executed input bytes of a query. */
  final class Run private[ScaleCurve] (val spark: SparkSession, val scratch: String) {
    private[ScaleCurve] val out = new StringBuilder
    def emit(line: String): Unit = { println(line); out.append(line).append('\n') }

    private lazy val taskBytes = {
      val n = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) { n.addAndGet(e.taskMetrics.inputMetrics.bytesRead); () }
      })
      n
    }

    /** `f`'s result and the task `inputMetrics.bytesRead` summed over
      * exactly its jobs: the listener bus is drained on both sides, so
      * "f returned" implies its task-end events were counted. */
    def bytesRead[T](f: => T): (T, Long) = {
      GraftShim.drainListenerBus(spark)
      val pre = taskBytes.get()
      val r = f
      GraftShim.drainListenerBus(spark)
      (r, taskBytes.get() - pre)
    }
  }

  val families: Seq[(String, Run => Unit)] = Seq(
    "band" -> ScaleCurveBand.run _,
    "bloom" -> ScaleCurveBloom.run _,
    "bpe" -> ScaleCurveBpe.run _,
    "dedup" -> dedup _,
    "fuzzy" -> ScaleCurveFuzzy.run _,
    "graph" -> ScaleCurveGraph.run _,
    "ham" -> ScaleCurveHam.run _,
    "inc" -> ScaleCurveInc.run _,
    "knn" -> ScaleCurveKnn.run _,
    "median" -> ScaleCurveMedian.run _,
    "rp" -> ScaleCurveRp.run _,
    "span" -> ScaleCurveSpan.run _,
    "store" -> ScaleCurveStore.run _,
    "sweep" -> ScaleCurveSweep.run _,
    "z" -> ScaleCurveZ.run _)

  /** The family `args` names, or the usage text naming every family. */
  def family(args: Seq[String]): Either[String, Run => Unit] =
    families.collectFirst { case (name, run) if args == Seq(name) => run }
      .toRight(s"usage: ScaleCurve <family>; families: ${families.map(_._1).mkString(" ")}")

  def main(args: Array[String]): Unit = family(args.toSeq) match {
    case Left(usage) =>
      System.err.println(usage)
      sys.exit(2)
    case Right(run) =>
      val spark = graft.Session.local()
      val scratch = Files.createTempDirectory("graft_scalecurve")
      try {
        val r = new Run(spark, scratch.toString)
        run(r)
        Files.write(Paths.get("scale_curve.jsonl"), r.out.toString.getBytes(UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
        spark.stop()
      }
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** α through the curve's first and last points:
    * log(y1 / y0) / log(n1 / n0). */
  def endpointAlpha[Y](pts: Seq[(Long, Y)])(implicit y: Numeric[Y]): Double = {
    val (n0, y0) = pts.head; val (n1, y1) = pts.last
    math.log(y.toDouble(y1) / y.toDouble(y0)) / math.log(n1.toDouble / n0)
  }

  /** Least-squares slope of log(wall) on log(n) over every point; walls
    * are floored at 1 ms so a sub-resolution point cannot reach log(0). */
  def wallAlpha(pts: Seq[(Long, Double)]): Double =
    logLogSlope(pts.map { case (n, w) => (n, math.max(1e-3, w)) })

  /** Least-squares slope of log(count) on log(n); counts floored at 1. */
  def countAlpha(pts: Seq[(Long, Long)]): Double =
    logLogSlope(pts.map { case (n, c) => (n, math.max(1L, c).toDouble) })

  private def logLogSlope(pts: Seq[(Long, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1.toDouble))
    val ys = pts.map(p => math.log(p._2))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
  }
}
