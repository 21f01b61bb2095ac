package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}

class TextSimSpec extends SparkSpec {
  import spark.implicits._

  // composed twins of the native shingle-hash and minhash expressions,
  // kept here as their oracles

  /** Character n-gram shingles (positions 1..len-n+1); empty array below
    * n; NULL text stays NULL (the native `ShingleHashes31`'s
    * null-propagating semantics). */
  private def charShingles(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - lit(n - 1)), i => c.substr(i, lit(n))))
      .otherwise(when(c.isNotNull, array()))

  /** Distinct 31-bit hashes of a shingle set. */
  private def shingleHashes(shingles: Column): Column =
    array_distinct(transform(shingles, graft.expressions.HashExpressions.md5prefix31(_)))

  /** k-element MinHash signature: slot j is the min of the j-th universal
    * hash over the shingle hashes. */
  private def minhashSignature(hashes: Column, k: Int): Column =
    array((0 until k).map(j => array_min(transform(hashes,
      h => (lit(MinhashA(j)) * h + lit(MinhashB(j))) % lit(MinhashP)))): _*)

  test("charShingles/wordNgrams edge cases") {
    val df = Seq("abcd", "ab", "x y z w", "x").toDF("t")
      .select(size(charShingles($"t", 3)).as("cs"), size(wordNgrams($"t", 3)).as("wn"))
      .as[(Int, Int)].collect().toSeq
    assert(df === Seq((2, 0), (0, 0), (5, 2), (0, 0)))
  }

  test("jaccard is 1 on identical sets, 0 on disjoint") {
    val df = Seq(("a b a", "a b a"), ("a b c", "x y z")).toDF("s1", "s2")
      .select(jaccard(array_distinct(tokens($"s1")), array_distinct(tokens($"s2"))).as("j"))
      .as[Double].collect().toSeq
    assert(df === Seq(1.0, 0.0))
  }

  test("setJaccardPairs equals brute force, deduplicates in-row, raises on nulls") {
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")), // j(1,2) = 3/5
      (3L, Seq("a", "b")),           // j(1,3) = 2/4 = 0.5 exactly (boundary kept)
      (4L, Seq("x", "y", "z")),
      (5L, Seq("x", "y", "z")),      // j(4,5) = 1.0
      (6L, Seq.empty[String])        // empty: excluded, pairs with nothing
    ).toDF("id", "elems")
    val got = Dedup.setJaccardPairs(rows, "elems", "id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val sets = Map(1L -> Set("a", "b", "c", "d"), 2L -> Set("a", "b", "c", "e"),
      3L -> Set("a", "b"), 4L -> Set("x", "y", "z"), 5L -> Set("x", "y", "z"))
    val brute = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
    } yield (ia, ib, math.rint(j * 1e6) / 1e6)).toSet
    assert(got === brute, "prefix-filter candidates + exact verify must equal brute force")
    assert(brute.exists(_._3 == 0.5), "the boundary pair must survive the >= threshold")
    // duplicate elements within a row deduplicate before sizing
    val dup = Seq((1L, Seq("a", "a", "b")), (2L, Seq("a", "b"))).toDF("id", "elems")
    val p = Dedup.setJaccardPairs(dup, "elems", "id", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(p.toSeq === Seq((1L, 2L, 1.0)))
    // a null element (or a null set) raises rather than silently shifting sizes
    val badElem = Seq((1L, Seq("a", null.asInstanceOf[String]))).toDF("id", "elems")
    assertThrows[Exception](Dedup.setJaccardPairs(badElem, "elems", "id", 0.5).collect())
    val badSet = Seq((1L, Seq("a")), (2L, null.asInstanceOf[Seq[String]])).toDF("id", "elems")
    assertThrows[Exception](Dedup.setJaccardPairs(badSet, "elems", "id", 0.5).collect())
    assertThrows[IllegalArgumentException](Dedup.setJaccardPairs(rows, "elems", "id", 0.0))
  }

  test("minhash LSH finds planted near-duplicates and respects threshold") {
    val pairs = q("dedup_minhash_lsh").cache()
    assert(pairs.count() > 0, "synthetic corpus contains near-dups; LSH must surface them")
    assert(pairs.filter($"jaccard" < 0.8).isEmpty)
    // candidates are genuine: verify one pair's jaccard independently
    val (a, b, j) = pairs.orderBy(desc("jaccard")).as[(Long, Long, Double)].head()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id".isin(a, b))
      .select(shingleHashes(array_distinct(charShingles($"text", 3))).as("s"))
      .as[Seq[Long]].collect()
    val exact = docs(0).toSet.intersect(docs(1).toSet).size.toDouble /
      docs(0).toSet.union(docs(1).toSet).size
    assert(math.abs(exact - j) < 1e-6)
  }

  test("simhash of near-dup pair is hamming-close, of random pair is far") {
    val sims = Dedup.simhashed(spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id")
    val pair = q("dedup_minhash_lsh").orderBy(desc("jaccard")).as[(Long, Long, Double)].head()
    val m = sims.filter($"doc_id".isin(pair._1, pair._2) || $"doc_id".isin(0L, 250L))
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(pair._1), m(pair._2)) < ham(m(0L), m(250L)))
  }

  test("native hash expressions match their compositional definitions") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val sh = array_distinct(charShingles($"text", 3))
    val mismatch = docs.select(
        shingleHashes(sh).as("native_hs"),
        array_distinct(transform(sh, hash31(_))).as("comp_hs"))
      .withColumn("sig_n", graft.expressions.HashExpressions.minhashSigNative($"native_hs", 16))
      .withColumn("sig_c", minhashSignature($"comp_hs", 16))
      .filter($"native_hs" =!= $"comp_hs" || $"sig_n" =!= $"sig_c")
    assert(mismatch.isEmpty)
  }

  test("exact dedup accounts for every document") {
    val out = q("dedup_exact_docs")
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.agg(sum($"n_dups") + count(lit(1))).first().getLong(0) === docs)
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fp = Seq("a b c", "a b c", "c b a").toDF("text")
      .select(fingerprint($"text")).as[Long].collect()
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("normalizeText lowercases, strips punct, collapses whitespace") {
    val got = Seq("  Hello,   WORLD!! 42  ").toDF("t")
      .select(normalizeText($"t")).as[String].head()
    assert(got === "hello world 42")
  }

  test("quality metrics bounded in [0,1]") {
    val bad = q("ta_quality")
      .filter($"dup_ratio" < 0 || $"dup_ratio" > 1 || $"stop_ratio" < 0 || $"stop_ratio" > 1 ||
        $"quality" < 0 || $"quality" > 1)
    assert(bad.isEmpty)
  }

  test("topk cosine: query vector ranks itself first with cosine 1") {
    val top = q("sim_topk_cosine").as[(Long, Double)].collect()
    assert(top.length === 10)
    assert(top.head === ((0L, 1.0)))
    assert(top.map(_._2).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("IVF assigns every vector; centroids self-assign at sim 1") {
    val out = q("sim_ann_ivf").cache()
    assert(out.count() === spark.read.parquet(s"$sf/embeddings.parquet").count())
    val selfs = out.filter($"vec_id" < 8).as[(Long, Long, Double)].collect()
    assert(selfs.forall(r => r._2 === r._1 && r._3 === 1.0))
  }

  test("k-means training improves IVF assignment quality over stub centroids") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val stub = e.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")
    val before = Similarity.assignmentQuality(e, "embedding", "vec_id", stub, "cid")
    val trained = Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
      .withColumnRenamed("c_v", "embedding")
    val after = Similarity.assignmentQuality(e, "embedding", "vec_id", trained, "centroid_id")
    assert(after > before, s"trained=$after stub=$before")
  }

  test("chunk-level dedup keeps exactly one copy of each distinct window") {
    val out = q("ta_chunk_dedup").as[(Long, Long, Long)].collect()
    val chunks = q("ta_chunk_windows").cache()
    assert(out.map(_._3).sum === chunks.select("chunk_hash").distinct().count(),
      "survivors = distinct windows")
    assert(out.map(_._2).sum === chunks.count(), "every chunk is accounted for")
    assert(out.exists(r => r._3 < r._2), "near-dup docs must actually share windows")
  }

  test("hybrid search returns only keyword-matching docs, ranked by cosine") {
    val out = q("sim_hybrid_search").as[(Long, Double)].collect().toSeq
    assert(out.nonEmpty && out.size <= 10)
    assert(out.map(_._2).sliding(2).forall { case Seq(a, b) => a >= b; case _ => true })
    val words = split($"text", " ")
    val kw = spark.read.parquet(s"$sf/documents.parquet")
      .filter(array_contains(words, "merge") && array_contains(words, "spark"))
      .select("doc_id").as[Long].collect().toSet
    assert(out.map(_._1).forall(kw), "every hit passed the keyword prefilter")
  }

  test("adaptive hybrid regimes return identical top-k when probes cover every cluster") {
    // an unselective candidate set (every id survives) crossed with both
    // regimes: bruteForceLimit = MaxValue forces the exact path, 0 forces
    // assign+probe; probing all 8 clusters makes the probed regime
    // exhaustive, so the switch must be a pure plan choice — same rows
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = e.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")
    val cands = e.select("vec_id")
    val q0 = e.filter($"vec_id" === 0)
    def run(limit: Long) =
      Similarity.hybridTopK(e, "embedding", "vec_id", cands, q0, 10,
        cents, "cid", nProbe = 8, bruteForceLimit = limit)
        .collect().map(_.toString).toSeq
    assert(run(Long.MaxValue) === run(0L))
  }

  test("canonicalizeUrl collapses wire variants and preserves real distinctions") {
    val cases = Seq(
      "http://Site1.Example.com/PathA"                      -> "site1.example.com/patha",
      "https://www.site1.example.com/PathA/"                -> "site1.example.com/patha",
      "HTTPS://WWW.SITE1.EXAMPLE.COM/PATHA?utm_source=x"    -> "site1.example.com/patha",
      "http://site1.example.com/PathA#section-2"            -> "site1.example.com/patha",
      "http://a.com/p/?q=1"                                 -> "a.com/p",   // query before slash strip
      "http://a.com/p/q"                                    -> "a.com/p/q", // inner slashes survive
      "http://a.com/p//"                                    -> "a.com/p",   // doubled trailing slash
      "http://www.www.ex.com/"                              -> "ex.com",    // stacked www. labels
      "http://wwwx.com/p"                                   -> "wwwx.com/p" // www. only as a label
    ).toDF("url", "want")
    val bad = cases.select(canonicalizeUrl($"url").as("got"), $"want")
      .filter($"got" =!= $"want")
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  test("ta_url_canon collapses each synthesized 4-variant group to one page") {
    val out = q("ta_url_canon").cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.count() === (docs + 3) / 4, "one canonical URL per 4-doc group")
    assert(out.filter($"n_docs" =!= 4).count() <= 1, "only a ragged tail group may be <4")
    assert(out.filter($"rep" % 4 =!= 0).isEmpty, "representative is the variant-0 doc")
  }

  test("packChunkKey is collision-free past 1000 chunks and round-trips") {
    // regression for the decimal multiplier: (doc 5, chunk 1000) and
    // (doc 6, chunk 0) both encoded to 6000 under doc_id*1000+idx
    val df = Seq((5L, 0), (5L, 999), (5L, 1000), (5L, 123456), (6L, 0))
      .toDF("doc", "idx")
    val enc = df.select(Dedup.packChunkKey($"doc", $"idx").as("k"), $"doc", $"idx")
    assert(enc.select(countDistinct($"k")).as[Long].head() === 5L)
    val bad = enc.filter(Dedup.chunkKeyDoc($"k") =!= $"doc" ||
      Dedup.chunkKeyIdx($"k") =!= $"idx".cast("long"))
    assert(bad.isEmpty, "decode must invert encode")
    val ex = intercept[Exception] {
      Seq((-1L, 0)).toDF("doc", "idx")
        .select(Dedup.packChunkKey($"doc", $"idx")).collect()
    }
    def msg(t: Throwable): String =
      t.getMessage + Option(t.getCause).map(msg).getOrElse("")
    assert(msg(ex).contains("packChunkKey"))
  }

  test("hybridTopK: duplicate candidate ids neither break results nor inflate the regime count") {
    // 3 distinct survivors duplicated 4x: the raw candidate frame has 12
    // rows, the distinct survivor set 3 — with bruteForceLimit = 5 the
    // measured (distinct) count must still pick a regime that returns the
    // exact top-k over the 3 survivors, once each
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = e.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")
    val dups = e.filter($"vec_id" < 3).select("vec_id")
    val cands = dups.union(dups).union(dups).union(dups)
    val q0 = e.filter($"vec_id" === 0)
    val out = Similarity.hybridTopK(e, "embedding", "vec_id", cands, q0, 10,
      cents, "cid", nProbe = 8, bruteForceLimit = 5L)
      .select("vec_id").as[Long].collect().toSeq
    assert(out.size === 3 && out.toSet === Set(0L, 1L, 2L),
      s"each distinct survivor exactly once, got $out")
  }

  test("ANN recall is monotone in nProbe and exactly 1.0 when probing every cluster") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = e.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")
    val qs = e.filter($"vec_id" < 3)
    def recalls(nProbe: Int) =
      Similarity.annRecall(e, "embedding", "vec_id", cents, "cid", qs, "vec_id",
        k = 10, nProbe = nProbe)
        .select($"q_id", $"recall").as[(Long, Double)].collect().toMap
    val r8 = recalls(8)
    assert(r8.values.forall(_ === 1.0), s"probing all 8 clusters must be exact: $r8")
    val r2 = recalls(2)
    val r4 = recalls(4)
    assert(r2.keySet === Set(0L, 1L, 2L))
    assert(r2.forall { case (q, r) => r <= r4(q) && r4(q) <= r8(q) },
      s"recall must be monotone in nProbe: r2=$r2 r4=$r4")
  }

  test("filtered-corpus recall: exact at full probes, never above the unfiltered dial's ceiling semantics") {
    // the sim_ann_filtered caveat, measured: recall over the
    // label-filtered corpus — still exactly 1.0 when probing every
    // cluster (the filter narrows both rankings identically), and
    // monotone in nProbe like the unfiltered dial
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = e.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")
    val qs = e.filter($"vec_id" < 3)
    val filt = e.filter($"label" === 3)
    def recalls(nProbe: Int) =
      Similarity.annRecall(filt, "embedding", "vec_id", cents, "cid", qs, "vec_id",
        k = 10, nProbe = nProbe)
        .select($"q_id", $"recall").as[(Long, Double)].collect().toMap
    val r8 = recalls(8)
    // full probes are exhaustive over the filtered corpus: n_hit is the
    // whole exact set, so recall = min(|filtered|, k)/k for EVERY query
    val expect = math.min(filt.count(), 10L).toDouble / 10.0
    assert(r8.values.forall(_ === expect),
      s"full probes must recover the whole filtered exact set: $r8 vs $expect")
    val r2 = recalls(2)
    assert(r2.keySet === Set(0L, 1L, 2L), "queries outside the filter still report")
    assert(r2.forall { case (q, r) => r <= r8(q) },
      s"filtered recall must stay monotone in nProbe: r2=$r2 r8=$r8")
  }

  test("contrastive pairs: verified positives, non-dup rotation negatives, disjoint labels, deterministic") {
    val out = SparkEntry.queries("ta_contrastive_pairs")(spark, sf)
      .select($"id_a", $"id_b", $"label").as[(Long, Long, Int)].collect()
    val pos = out.filter(_._3 == 1).map(p => (p._1, p._2)).toSet
    val neg = out.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(pos.nonEmpty && neg.nonEmpty)
    assert(pos.intersect(neg).isEmpty, "a pair is never both positive and negative")
    // positives ARE the verified near-dup pairs, nothing more or less
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val truePos = graft.operators.Dedup.minhashNearDups(docs, "text", "doc_id",
        threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pos === truePos)
    assert(neg.forall { case (a, b) => a < b }, "negatives are (min,max)-oriented")
    // every doc pairs with exactly one rotation partner, so the negative
    // count is bounded by the corpus size (and near n/2 after min/max
    // dedup and the near-dup anti-join)
    val n = docs.count()
    assert(neg.size <= n && neg.size >= n / 2 - pos.size)
    // deterministic: a rerun reproduces the exact pair set
    val again = SparkEntry.queries("ta_contrastive_pairs")(spark, sf)
      .select($"id_a", $"id_b", $"label").as[(Long, Long, Int)].collect()
    assert(again.toSet === out.toSet)
  }

  test("typed single-vector overloads match the frame path with a join-free plan") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qv = e.filter($"vec_id" === 0)
      .select(transform($"embedding", x => x.cast("double")))
      .head().getSeq[Double](0)
    val fromFrame = Similarity.topK(e, "embedding", "vec_id",
      e.filter($"vec_id" === 0), 10).collect().map(_.toString).toSeq
    val typed = Similarity.topK(e, "embedding", "vec_id", qv, 10)
    assert(typed.collect().map(_.toString).toSeq === fromFrame)
    assert(!typed.queryExecution.executedPlan.toString.toLowerCase.contains("join"),
      "typed topK plan must be join-free")
    val cents = e.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")
    val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", cents, "cid", keepVec = true)
    val viaFrame = Similarity.ivfSearchAssigned(assigned, "vec_id", cents, "cid",
      "embedding", e.filter($"vec_id" === 0), 10, 2).collect().map(_.toString).toSeq
    val viaVec = Similarity.ivfSearchAssigned(assigned, "vec_id", cents, "cid",
      "embedding", qv, 10, 2).collect().map(_.toString).toSeq
    assert(viaFrame === viaVec)
  }

  test("annRecall emits an explicit 0.0 row when probes miss the exact top-k") {
    // adversarial centroids: the query's nearest centroid (c0, exactly the
    // query vector) holds only the BAD corpus vector, while the exact
    // top-1 (10, at 15 deg) sits marginally closer to c1 — so probe-1
    // candidates share no ids with the exact top-k. The query must still
    // appear, as recall 0.0, not vanish from the output
    val corpus = Seq((10L, Seq(0.97, 0.26)), (11L, Seq(0.5, -0.87)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.92, 0.39)))
      .toDF("cid", "embedding")
    val qs = Seq((100L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val r = Similarity.annRecall(corpus, "embedding", "vec_id", cents, "cid",
        qs, "vec_id", k = 1, nProbe = 1)
      .select($"q_id", $"n_hit", $"recall").as[(Long, Long, Double)].collect()
    assert(r.toSeq === Seq((100L, 0L, 0.0)))
  }

  test("k-means training is partition-count-invariant (6-dp mean rounding)") {
    // a raw double avg sums in partition order, so unrounded training
    // would drift with the layout; the per-round rounding makes the
    // trained codebook a pure function of the data
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def fit(parts: Int) =
      Similarity.kmeansFit(e.repartition(parts), "embedding", "vec_id", k = 8, iters = 2)
        .select($"centroid_id", $"c_v".cast("array<double>"))
        .collect().map(_.toString).sorted.toSeq
    assert(fit(7) === fit(13))
  }

  test("embedding near-dup pairs all meet the threshold, symmetric-free (a<b)") {
    val out = q("dedup_embedding").cache()
    assert(out.filter($"cosine" < 0.45).isEmpty)
    assert(out.filter($"id_a" >= $"id_b").isEmpty)
  }

  test("containment join finds planted inclusions that Jaccard cannot see") {
    // host = 40 tokens, quote = its middle 12 tokens verbatim inside an
    // otherwise-unrelated probe context; j(quote-grams, host-grams) is
    // tiny but containment of the quote WINDOW in the host is 1.0
    val host = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (15 to 26).map(i => s"w$i").mkString(" ")
    val probe = Seq((100L, quote, "en"), (200L, "x1 x2 x3 x4 x5", "en"))
      .toDF("pid", "ptext", "lang")
    val index = Seq((1L, host, "en"), (2L, "y1 y2 y3 y4 y5 y6", "en"))
      .toDF("did", "dtext", "lang")
    val got = Dedup.containmentPairs(probe, "ptext", "pid",
        index, "dtext", "did", blockCol = "lang", threshold = 0.8)
      .select($"id_p", $"id_x", $"containment").as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((100L, 1L, 1.0)), s"only the planted quote is contained: $got")
    // the symmetric measure misses it: 10 shared grams of 10+38 total
    val j = 10.0 / 38.0
    assert(j < 0.8, "jaccard of the same pair sits far below any dedup threshold")
  }

  test("dedup_containment output is asymmetric: windows hosted in FOREIGN docs only") {
    val out = q("dedup_containment").cache()
    assert(out.count() > 0)
    assert(out.filter($"containment" < 0.8).isEmpty)
    assert(out.filter($"src_doc" === $"host_doc").isEmpty, "self-hosting filtered")
  }

  test("rarity score flags exactly the docs carrying sub-threshold tokens") {
    // the synthetic vocab has one genuinely rare token ('dup', ~1000 ppm
    // vs ~33k ppm for the rest): rare_frac must be positive exactly on
    // the docs containing it, and the mean-frequency score must stay a
    // valid ppm average everywhere
    val out = q("ta_rarity_score").cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(out.count() === docs.count())
    assert(out.filter($"rare_frac" < 0.0 || $"rare_frac" > 1.0).isEmpty)
    assert(out.filter($"avg_tok_ppm" <= 0.0 || $"avg_tok_ppm" >= 1000000.0).isEmpty)
    val dupDocs = docs.filter(array_contains(split($"text", " "), "dup"))
      .select("doc_id").as[Long].collect().toSet
    val flagged = out.filter($"rare_frac" > 0.0).select("doc_id").as[Long].collect().toSet
    assert(flagged === dupDocs, "rare mass is exactly the 'dup'-carrying docs")
  }

  test("tf-idf ranks the rare token first in every doc that contains it") {
    val out = q("ta_tfidf_terms").cache()
    // dense per-doc ranks, at most 3 each
    val byDoc = out.groupBy("doc_id").agg(collect_list($"rank").as("rs"))
      .select(array_sort($"rs").as("rs")).as[Seq[Int]].collect()
    assert(byDoc.forall(rs => rs == (1 to rs.size)))
    assert(out.filter($"rank" > 3).isEmpty)
    assert(out.filter($"score" <= 0.0).isEmpty)
    // idf dominance: 'dup' appears in ~5% of docs, every other term in
    // nearly all — wherever 'dup' occurs it must be the top term
    val dupDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(array_contains(split($"text", " "), "dup"))
      .select("doc_id").as[Long].collect().toSet
    assert(dupDocs.nonEmpty)
    val top = out.filter($"rank" === 1 && $"term" === "dup")
      .select("doc_id").as[Long].collect().toSet
    assert(top === dupDocs)
  }

  test("BM25 top-10 equals an independent Scala replay, bit for bit") {
    val qTerms = Seq("dup", "vector", "scan")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // -1 limit mirrors Spark's split(): trailing empty tokens survive
    val toks = docs.map { case (id, t) => (id, t.split(" ", -1)) }
    val nDocs = docs.length.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / nDocs
    val dfm = qTerms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    val expected = toks.flatMap { case (id, ws) =>
      val dl = ws.length.toDouble
      // sorted term order = the query's array_sort fold order
      val contribs = qTerms.sorted.flatMap { term =>
        val tf = ws.count(_ == term).toDouble
        if (tf == 0) None
        else Some((nDocs - dfm(term) + 0.5) / (dfm(term) + 0.5) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      }
      if (contribs.isEmpty) None
      else Some((id, contribs.size.toLong,
        BigDecimal(contribs.foldLeft(0.0)(_ + _))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.sortBy { case (id, _, sc) => (-sc, id) }.take(10).toSeq
    val got = q("ta_bm25").as[(Long, Long, Double)].collect().toSeq
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("k-anonymous release: every non-residual class >= k, flags honest, nothing lost") {
    val out = q("ta_k_anonymize").cache()
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(out.count() === total, "a release must account for every record")
    // the hard guarantee: no released (non-residual) class under k=4
    val classes = out.filter($"nat_q" =!= "*")
      .groupBy("nat_q", "seg_q").agg(count(lit(1)).as("n"))
    assert(classes.filter($"n" < 4).isEmpty,
      "released QI class under k — the release is re-identifiable")
    // flags agree with the generalization: suppressed iff both QIs are '*'
    assert(out.filter($"suppressed" =!=
      ($"nat_q" === "*" && $"seg_q" === "*")).isEmpty)
    // both branches fire at this scale (classes of 4..6 exist among 150
    // customers × 125 combos) — a one-sided fixture would prove nothing
    assert(out.filter($"suppressed").count() > 0)
    assert(out.filter(!$"suppressed").count() > 0)
  }

  test("semantic dedup keeps the most atypical member of a near-dup group") {
    // hand-assigned cluster: ids 1/2 are near-identical (cos ~0.99995);
    // id 1 sits closer to its centroid (sim 0.99 vs 0.9), so SemDeDup's
    // rule drops it and RETAINS the atypical id 2; id 3 has no near-dup
    // neighbor and must survive untouched; id 4 duplicates id 1's vector
    // but lives in another cluster — cross-cluster pairs never form
    val assigned = Seq(
      (1L, 0, 0.99, Seq(1.0, 0.0)),
      (2L, 0, 0.90, Seq(0.9999, 0.045)),
      (3L, 0, 0.50, Seq(0.0, 1.0)),
      (4L, 1, 0.95, Seq(1.0, 0.0))
    ).toDF("vec_id", "centroid_id", "sim", "v")
    val kept = Dedup.semanticDedup(assigned, "vec_id", threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L, 4L))
    // a threshold above any attainable cosine keeps everything
    val all = Dedup.semanticDedup(assigned, "vec_id", threshold = 2.0)
      .select("vec_id").as[Long].collect().toSet
    assert(all === Set(1L, 2L, 3L, 4L))
    // the components variant agrees in the near-clique regime (ids 1/2
    // form a 2-clique; 3 and 4 are singletons)
    val comp = Dedup.semanticDedupComponents(assigned, "vec_id", threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(comp === kept)
  }

  test("semanticDedupComponents keeps exactly one per tau-connected group on a spanning chain") {
    // a—b—c similarity CHAIN below the near-clique regime: cos(a,b) and
    // cos(b,c) ≈ 0.707 ≥ τ=0.5 but cos(a,c) = 0 < τ. Keep claims (lower
    // centroid-sim = stronger): a(0.1) < c(0.2) < b(0.3).
    //  - chain rule (semanticDedup): a kept (no stronger neighbor),
    //    b dropped (a and c both stronger), c ALSO kept — its only
    //    neighbor b is weaker — so BOTH chain endpoints survive;
    //  - components rule: {a,b,c} is one τ-connected group → exactly
    //    its minimum a survives.
    val inv = math.sqrt(2.0) / 2.0
    val assigned = Seq(
      (1L, 0, 0.1, Seq(1.0, 0.0)),
      (2L, 0, 0.3, Seq(inv, inv)),
      (3L, 0, 0.2, Seq(0.0, 1.0)),
      (4L, 0, 0.9, Seq(-1.0, -1.0)) // no τ-neighbor: its own component
    ).toDF("vec_id", "centroid_id", "sim", "v")
    val chain = Dedup.semanticDedup(assigned, "vec_id", threshold = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(chain === Set(1L, 3L, 4L), "chain rule keeps both endpoints")
    val comp = Dedup.semanticDedupComponents(assigned, "vec_id", threshold = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(comp === Set(1L, 4L), "components rule keeps one per group")
    // output shape matches semanticDedup's (id, centroid_id, centroid_sim)
    val cols = Dedup.semanticDedupComponents(assigned, "vec_id", 0.5).columns.toSeq
    assert(cols === Seq("vec_id", "centroid_id", "centroid_sim"))
  }

  test("semantic dedup output is a subset with no duplicate ids; cluster minima always survive") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = q("dedup_semantic").cache()
    val n = e.count()
    assert(out.count() > 0 && out.count() < n, "some but not all rows drop")
    assert(out.select("vec_id").distinct().count() === out.count())
    assert(out.join(e, Seq("vec_id"), "left_anti").isEmpty, "kept ids come from the corpus")
    // nothing can dominate a cluster's minimum-(sim, id) member, so the
    // per-cluster minima of the FULL assignment must all be in the output
    val cents = Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
    val assigned = Similarity.ivfAssign(e, "embedding", "vec_id",
      cents.withColumnRenamed("c_v", "embedding"), "centroid_id")
    val minima = assigned
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"centroid_id").orderBy($"sim", $"vec_id")))
      .filter($"rn" === 1).select("vec_id")
    assert(minima.join(out, Seq("vec_id"), "left_anti").isEmpty,
      "every cluster's most atypical member survives")
  }

  test("int8 quantization preserves nearest-neighbor structure") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val stats = Similarity.quantizeStats(e, "embedding")
    val deq = Similarity.dequantize(
        Similarity.scalarQuantize(e, "embedding", "vec_id", stats),
        "codes", "vec_id", stats)
      .withColumnRenamed("v", "embedding")
    // exact top-2 (query itself + true NN) vs encode→decode top-2: the
    // true nearest neighbor must survive 8-bit round-tripping
    val exact = Similarity.topK(e, "embedding", "vec_id",
      e.filter($"vec_id" === 0), k = 2).select("vec_id").as[Long].collect().toSet
    val quant = Similarity.topK(deq, "embedding", "vec_id",
      deq.filter($"vec_id" === 0), k = 2).select("vec_id").as[Long].collect().toSet
    assert(quant === exact, "top-2 after int8 round-trip must match exact")
  }

  test("minhashNearDupsAgainst finds exactly the cross-set pairs of the self-join") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = Seq(
      (1L, base), (2L, base + " again"),                      // history near-dups of batch
      (3L, "completely different text with nothing shared at all here now"),
      (10L, base + " indeed"),                                // batch: near-dup of 1,2
      (11L, base + " indeed truly"),                          // batch: near-dup of 10 (internal!)
      (12L, "another unrelated batch document about other topics entirely")
    ).toDF("doc_id", "text")
    val history = docs.filter($"doc_id" < 10)
    val batch = docs.filter($"doc_id" >= 10)
    val cross = graft.operators.Dedup.minhashNearDupsAgainst(
        history, batch, "text", "doc_id", threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // reference: the self-join over the combined corpus, restricted to
    // (history, batch) pairs — batch-internal pairs (10,11) must NOT appear
    val selfJoin = graft.operators.Dedup.minhashNearDups(
        docs, "text", "doc_id", threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => a < 10 && b >= 10 }.toSet
    assert(cross === selfJoin, "cross-set pairs must equal the self-join's cross slice")
    assert(cross.nonEmpty, "fixture must exercise real cross-set near-dups")
    assert(!cross.exists { case (a, _) => a >= 10 }, "no batch-internal pairs")
  }

  test("removeBoilerplateLines: frequency rule, order, empty lines, all-boilerplate docs") {
    val hdr = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"$hdr\nalpha beta\n\ngamma delta\n$hdr"),  // hdr twice in ONE doc
      (2L, s"$hdr\nepsilon zeta"),
      (3L, s"$hdr\neta theta\nrare shared line"),
      (4L, s"$hdr\nrare shared line\niota kappa"),     // "rare shared line": 2 docs < minDocs
      (5L, hdr)                                        // all boilerplate
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .removeBoilerplateLines(docs, "text", "doc_id", minDocs = 3)
      .as[(Long, Int, Long, String)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    // hdr appears in 5 distinct docs (twice in doc 1 — distinct-doc
    // counting, not occurrence counting) => removed EVERYWHERE
    assert(byId(1L)._4 === "alpha beta\n\ngamma delta",
      "both header copies removed, empty line preserved, order kept")
    assert(byId(1L)._2 === 5 && byId(1L)._3 === 2)
    // a line shared by only 2 docs stays below minDocs=3 and survives
    assert(byId(3L)._4 === "eta theta\nrare shared line")
    assert(byId(4L)._4 === "rare shared line\niota kappa")
    // a doc that was pure boilerplate still reports, emptied
    assert(byId(5L)._4 === "" && byId(5L)._3 === 1 && byId(5L)._2 === 1)
  }

  test("removeRepeatedSpans: ExactSubstr rule — cross-doc spans, within-doc repeats, short docs, nulls") {
    val span = (1 to 15).map(i => s"s$i").mkString(" ")
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, Some(s"a1 a2 a3 $span z1 z2")),        // span at positions 4..18
      (2L, Some(s"b1 b2 $span y1 y2 y3")),        // same span, different frame
      (3L, Some("c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14")), // unique
      (4L, Some("short doc only five tokens")),    // < winLen: no windows
      (5L, Some(s"$run mid1 mid2 $run")),          // within-ONE-doc repeat
      (6L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .removeRepeatedSpans(docs, "text", "doc_id", winLen = 12)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // only windows wholly inside the shared span are hot, so coverage is
    // exactly the span — the unique frames survive in order
    assert(out(1L)._4 === "a1 a2 a3 z1 z2" && out(1L)._3 === 15L && out(1L)._2 === 20L)
    assert(out(2L)._4 === "b1 b2 y1 y2 y3" && out(2L)._3 === 15L)
    assert(out(3L)._4.startsWith("c1 ") && out(3L)._3 === 0L, "unique doc untouched")
    assert(out(4L)._4 === "short doc only five tokens" && out(4L)._3 === 0L,
      "a doc shorter than winLen has no windows and passes through")
    // occurrence counting is positional, not per-doc: a span repeated
    // twice inside one document is duplicated mass too
    assert(out(5L)._4 === "mid1 mid2" && out(5L)._3 === 24L && out(5L)._2 === 26L)
    assert(!out.contains(6L), "null-text docs produce no output row")
  }

  test("removeRepeatedSpans is partition-invariant and winLen-threshold-sharp") {
    val shared11 = (1 to 11).map(i => s"w$i").mkString(" ")  // one token SHORT of winLen
    val docs = (1L to 30L).map { i =>
      (i, s"$shared11 unique${i}a unique${i}b unique${i}c")
    }.toDF("doc_id", "text")
    def run(parts: Int) = graft.operators.Dedup
      .removeRepeatedSpans(docs.repartition(parts), "text", "doc_id", winLen = 12)
      .as[(Long, Long, Long, String)].collect().toSet
    val one = run(1)
    assert(one === run(7), "result must not depend on partitioning")
    // every window spans into the unique tail, so NOTHING is hot: an
    // 11-token repeat is invisible at winLen=12 — the threshold is sharp
    assert(one.forall(_._3 === 0L), "repeats shorter than winLen are kept")
  }

  test("extractHtmlText: script/style/comments drop wholly, tag text survives, entities decode with &amp; last") {
    val cases = Seq(
      ("<p>alpha</p><p>beta</p>", "alpha beta"),
      ("<SCRIPT type='x'>var a = '<p>not text</p>';</SCRIPT>ok", "ok"),
      ("<style>p{}</style>a<style\nmedia=\"x\">q{}</style>b", "a b"),
      ("pre<!-- hidden <b>bold</b> -->post", "pre post"),
      ("<title>kept title</title>body", "kept title body"),
      ("Q&amp;A &lt;x&gt; &quot;q&quot; &#39;a&#39;&nbsp;end", "Q&A <x> \"q\" 'a' end"),
      // the double-escape rule: &amp;lt; is the literal TEXT "&lt;"
      ("&amp;lt;esc&amp;gt;", "&lt;esc&gt;"),
      ("  a   \n\t b  ", "a b"))
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }.toDF("i", "html")
    val got = df.select($"i", graft.functions.TextFunctions.extractHtmlText($"html").as("t"))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got === cases.map(_._2))
  }

  test("removeBoilerplateLines: null-text docs produce no output row, never a bogus (-1,-1)") {
    val docs = Seq(
      (1L, Some("shared line\nbody one")),
      (2L, Some("shared line\nbody two")),
      (3L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .removeBoilerplateLines(docs, "text", "doc_id", minDocs = 2)
      .as[(Long, Int, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 2L),
      "the null-text doc must be absent, not reported with n_lines=-1")
    assert(out.forall(_._2 >= 0) && out.forall(_._3 >= 0))
  }

  test("removeBoilerplateLines is partition-invariant") {
    val docs = (1L to 40L).map { i =>
      (i, s"shared header line\nbody $i content\nshared footer line")
    }.toDF("doc_id", "text")
    def run(parts: Int) = graft.operators.Dedup
      .removeBoilerplateLines(docs.repartition(parts), "text", "doc_id", minDocs = 5)
      .as[(Long, Int, Long, String)].collect().toSet
    val one = run(1)
    assert(one === run(7), "result must not depend on partitioning")
    assert(one.forall(_._4.startsWith("body ")), "only body lines survive")
    assert(one.forall(_._3 === 2L), "header and footer removed from every doc")
  }

  test("template dedup: instances of one template collapse, different skeletons don't") {
    import graft.operators.Dedup
    val docs = Seq(
      // three instances of one order-confirmation template: ids,
      // counters and the session URL vary, the skeleton doesn't
      (1L, "Order 1234 confirmed, see https://shop.example/o/1234?s=9f for item 77"),
      (2L, "Order 98 confirmed, see https://shop.example/o/98?s=aa for item 5"),
      (3L, "Order 555 confirmed, see https://shop.example/o/555 for item 123456"),
      // same volatile fields, DIFFERENT static text — a distinct template
      (4L, "Order 1234 cancelled, see https://shop.example/o/1234?s=9f for item 77"),
      // no volatile fields at all: a genuine singleton
      (5L, "terms of service unchanged")
    ).toDF("doc_id", "text")
    val out = Dedup.templateDedup(docs, "text", "doc_id")
      .select($"keep_id", $"n_dups").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 4L -> 0L, 5L -> 0L))
    // the mask leaves non-volatile text byte-identical
    val masked = docs.select(Dedup.templateMask($"text")).as[String].collect()
    assert(masked(4) === "terms of service unchanged")
    assert(masked(0) === "Order 0 confirmed, see <url> for item 0")
  }
}
