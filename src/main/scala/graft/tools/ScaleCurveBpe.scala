package graft.tools

import org.apache.spark.sql.functions._

/** BPE artifact cost curve (round-14 verdict item): per-row scoring cost
  * and shipped-table size as the merge table grows 40 → 256 → 1024 →
  * 51200. The table rides the plan as a reference object (one per task
  * via the serialized plan — broadcast-like distribution), so the two
  * numbers a deployment cares about are (a) the serialized artifact bytes
  * every executor receives and (b) the per-row encode throughput, which
  * the greedy encoder's O(word_len × merges_applied) — NOT O(table size)
  * — inner loop should keep flat as the table grows.
  *
  * The 51200-merge point (round-15 verdict item — production GPT-2 vocab
  * size) extends the real 1024-merge artifact with synthetic pairs built
  * from tokens no corpus word contains, so the encoded OUTPUT is
  * bit-identical to the 1024 table's (asserted) while the table is 50×
  * larger — isolating exactly the claim under test: encode cost depends
  * on merges APPLIED, not merges SHIPPED.
  *
  * Each rep is a fresh query, so a rep pays the table's PLAN-SERIALIZATION
  * ship cost once plus the per-word encode cost — at a tiny corpus the
  * 1.2 MB 51200-entry table's ship cost dominates and a naive words/s
  * number reads as a throughput collapse that isn't there. The sweep
  * therefore times TWO corpus sizes per table and splits the per-rep cost
  * into its slope (marginal per-word encode cost — the number that must
  * stay FLAT in table size) and its intercept (per-query fixed cost —
  * grows with table bytes, amortized to noise over any real corpus: at
  * 100 TB the table ships once per task and encode dominates). Both are
  * reported; the flatness assert is on the slope. One JSON line per
  * table size.
  */
object ScaleCurveBpe {
  def run(sc: ScaleCurve.Run): Unit = {
    val reps = 5
    val spark = sc.spark
    // the 1024-merge artifact's prefixes: slicing keeps rank order valid
    // (a BPE table's first k merges ARE the k-merge table of the same
    // trainer run)
    val full = graft.functions.Bpe.LargeMerges
    // sf0.1: the slope split needs encode time to dominate the per-query
    // submit cost, and at sf0.01's 500 docs it doesn't
    val docs = ScaleCurve.documents(spark)._2
      .select(col("text")).repartition(8).cache()
    val nDocs = docs.count()
    val words = docs.select(sum(size(split(col("text"), " ")))).head().getLong(0)
    // the slope corpus: 16× the base by union — same word mix, so the
    // per-rep cost difference vs the base is PURE per-word encode time,
    // and 16× keeps that difference an order of magnitude above run
    // noise (at 4× it drowned)
    val big = (0 until 16).map(_ => docs).reduce(_ unionByName _)
      .repartition(8).cache()
    val nBig = big.count()
    val wordsBig = words * 16
    def tableOf(m: Int): Seq[(String, String)] =
      if (m <= full.size) full.take(m)
      else full ++ (0 until m - full.size).map { i =>
        // 'zq'/'qz'-prefixed base-36 tokens: absent from every corpus
        // word, so these merges ship but never apply
        val t = java.lang.Integer.toString(i, 36)
        (s"zq$t", s"qz$t")
      }
    val totals = scala.collection.mutable.Map[Int, Long]()
    val rates = scala.collection.mutable.Map[Int, Double]()
    for (m <- Seq(40, 256, 1024, 51200)) {
      val merges = tableOf(m)
      val bytes = serializedSize(graft.expressions.BpeUtil.buildTable(merges))
      totals(m) = docs
        .select(sum(graft.functions.Bpe.bpeTokenCount(col("text"), merges)))
        .head().getLong(0)
      if (m > full.size)
        require(totals(m) == totals(full.size),
          s"synthetic tail must never apply: $m-table total ${totals(m)} " +
            s"!= ${full.size}-table total ${totals(full.size)}")
      // warm once per corpus, then median of 3 timed sweeps of `reps`
      // encodes on BOTH corpus sizes — slope/intercept split below
      def sweep(corpus: org.apache.spark.sql.DataFrame): Double = {
        val (acc, s) = ScaleCurve.timed((1 to reps).foldLeft(0L) { (a, _) =>
          a ^ corpus.select(sum(graft.functions.Bpe.bpeTokenCount(col("text"), merges)))
            .head().getLong(0)
        })
        require(acc != -1, "keep the fold alive")
        s
      }
      sweep(docs); sweep(big)
      val secSmall = Seq.fill(3)(sweep(docs)).sorted.apply(1)
      val secBig = Seq.fill(3)(sweep(big)).sorted.apply(1)
      // per-rep cost = fixed (plan-serialize + submit, ∝ table bytes)
      //              + words × marginal; two sizes solve for both. The
      //      division needs secBig > secSmall — timing noise inverting the
      //      order would make wordsPerSec Infinity/negative and turn the
      //      flatness require below vacuous (round-16 ADVICE item): the
      //      16× corpus exists precisely to keep the gap above noise, so
      //      an inversion is a degenerate measurement worth failing on
      require(secBig > secSmall,
        f"degenerate measurement at $m merges: big-corpus sweep $secBig%.3fs " +
          f"<= small-corpus sweep $secSmall%.3fs — rerun on a quieter host")
      val marginalSecPerWord =
        (secBig - secSmall) / reps / (wordsBig - words).toDouble
      val fixedSecPerQuery =
        math.max(0.0, secSmall / reps - words * marginalSecPerWord)
      val wordsPerSec = 1.0 / marginalSecPerWord
      sc.emit(f"""{"op":"bpe_encode","merges":$m,"table_bytes":$bytes,"docs":$nDocs,"docs_big":$nBig,"marginal_words_per_sec":${wordsPerSec.round},"fixed_ms_per_query":${fixedSecPerQuery * 1e3}%.1f,"sweep_small_sec":$secSmall%.3f,"sweep_big_sec":$secBig%.3f}""")
      rates(m) = wordsPerSec
    }
    // the claim under test: marginal encode throughput FLAT in shipped
    // table size — the 50×-bigger table may cost at most mild cache
    // pressure, never a proportional slowdown
    require(rates(51200) >= 0.6 * rates(1024),
      s"marginal encode rate collapsed with table size: ${rates(51200).round} " +
        s"words/s at 51200 merges vs ${rates(1024).round} at 1024")
  }

  private def serializedSize(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o); oos.close()
    bos.size().toLong
  }
}
