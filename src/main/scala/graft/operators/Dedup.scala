package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operator family (SURVEY.md §2.D). Scale design:
  *  - `exact` shuffles 16-byte digests, never document bodies.
  *  - MinHash/LSH is linear: signatures are per-row folds (no shuffle),
  *    candidate generation is a band-key self-join (shuffles doc_id +
  *    band hash only), and O(n²) verification happens only inside band
  *    buckets — the whole pipeline never materializes all-pairs.
  *  - At 100 TB, band-bucket skew (a degenerate band matching millions of
  *    docs) is the risk: AQE skew-join handles moderate skew; degenerate
  *    buckets should be counted and capped upstream (documented here, the
  *    cap itself is a config decision).
  */
object Dedup {

  /** Fan the input out to the session's parallelism BEFORE a CPU-heavy
    * per-row stage (the sketch operators here, the media synthesizers in
    * `graft.multimodal`). Inputs often arrive as one small parquet split,
    * which would serialize the hashing or codec work on a single task;
    * one round-robin exchange of the input rows keeps every core busy. */
  private[graft] def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact dedup: group by content digest, keep the smallest id.
    * Reference analog: `drop_duplicates` (Airbnb_Listings_ETL.py:47-49),
    * hardened for scale by hashing the text before the shuffle. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), (count(lit(1)) - 1).as("n_dups"))

  /** Mask the VOLATILE fields of a document — URLs first (their path
    * segments are full of ids that the digit pass would otherwise turn
    * into a half-masked mixture), then digit runs — leaving the template
    * skeleton. RE2-portable patterns only (no lookaround), the
    * `redactPii` discipline, so an engine replaying the mask in SQL gets
    * the identical skeleton. */
  def templateMask(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "https?://\\S+", "<url>"),
      "[0-9]+", "0")

  /** TEMPLATE dedup — the boilerplate rule between exact dedup and
    * near-dup: machine-generated pages (order confirmations, product
    * listings, error pages, per-user views of one page) differ ONLY in
    * volatile fields — ids, counters, timestamps, session URLs — and
    * n-gram sketches see those as genuinely different documents while a
    * crawl may hold millions of instances of one template. Two documents
    * are template duplicates when they are IDENTICAL after
    * [[templateMask]]; same output contract as [[exact]] (keep the
    * smallest id per group, count the rest).
    *
    * Scale shape: identical to [[exact]] — the mask is a map-side
    * projection and only the 16-byte skeleton digest enters the shuffle;
    * document bodies never cross the wire. A 100 TB crawl's template
    * dedup costs one scan + one digest-sized exchange. */
  def templateDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(templateMask(col(textCol))).as("template_hash"), col(idCol))
      .groupBy("template_hash")
      .agg(min(col(idCol)).as("keep_id"), (count(lit(1)) - 1).as("n_dups"))

  /** INCREMENTAL exact dedup — the daily-crawl shape: which documents of
    * the NEW batch are genuinely new against the accumulated history?
    * Collapses the batch to one representative per digest (min id), then
    * anti-joins the history's digest set — the batch never rescans
    * history text, only its digests.
    *
    * Plan shape at 100 TB: both sides reduce to 16-byte digests
    * map-side; the anti-join shuffles digests only (batch side is a
    * day's crawl, history side one digest per distinct doc ever seen).
    * Store the history digest frame bucketed by `text_hash` and the
    * exchange on the history side disappears entirely — the same
    * bucketing contract as [[graft.sinks]]' bucketed join sinks.
    *
    * @return (idCol, text_hash) — the batch's surviving representatives
    */
  def incrementalExact(history: DataFrame, batch: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val hist = history.select(md5(col(textCol)).as("text_hash")).distinct()
    batch.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as(idCol))
      .join(hist, Seq("text_hash"), "left_anti")
      .select(col(idCol), col("text_hash"))
  }

  /** LINE-level boilerplate removal (the CCNet/RefinedWeb pre-filter):
    * any line whose exact text appears in at least `minDocs` DISTINCT
    * documents is boilerplate — navigation, headers, footers, cookie
    * banners — and is removed from EVERY document (unlike
    * `chunkDedupKeepFirst`, which keeps one copy of a duplicated window,
    * the frequency rule deletes all copies: a line shared by 10k docs
    * is template, not content). Documents are reconstructed with their
    * surviving lines in original order; empty lines never count toward
    * the threshold and are preserved as structure.
    *
    * Plan shape at 100 TB: the frequency count shuffles (line-digest,
    * doc-distinct) pairs — 16-byte digests, never line text — with
    * map-side partial distinct; the reassembly shuffles each doc's
    * lines once (unavoidable: reconstruction needs the text), keyed by
    * doc id so it co-partitions with any downstream per-doc stage. The
    * hot-line set itself is never collected or broadcast — a template
    * line shared by millions of docs is exactly the skewed key a
    * broadcast would not help with; the digest join handles it as a
    * plain shuffle join under AQE skew handling.
    *
    * @return (idCol, n_lines, n_removed, `clean_text`) — one row per
    *         NON-NULL-text input document, including documents whose
    *         every line was boilerplate (clean_text = ""). Null-text
    *         docs produce NO output row (the [[graft.etl.Chunking]]
    *         chunkWindows convention — without the filter, `split(null)`
    *         drops the doc from the line side while `size(split(null))`
    *         is -1 on the reassembly side, emitting a bogus
    *         (n_lines=-1, n_removed=-1) row). */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             minDocs: Int, delim: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val docs = df.filter(col(textCol).isNotNull)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("__line_no", "__line")))
    val hot = lines.filter(col("__line") =!= "")
      .select(md5(col("__line")).as("__lh"), col(idCol))
      .groupBy("__lh").agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__lh")
    val kept = lines.join(hot, md5(col("__line")) === col("__lh"), "left_anti")
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(delim,
          transform(array_sort(collect_list(struct(col("__line_no"), col("__line")))),
            s => s.getField("__line"))).as("clean_text"))
      // right-join the doc set back so an all-boilerplate doc still
      // reports a row (its every line dropped, clean_text empty)
      .join(docs.select(col(idCol),
          size(split(col(textCol), java.util.regex.Pattern.quote(delim))).as("n_lines")),
        Seq(idCol), "right")
      .select(col(idCol), col("n_lines"),
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** SPAN-level exact dedup (the ExactSubstr rule of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * token span of length ≥ `winLen` whose exact text occurs at
    * `minOccur`+ positions ANYWHERE in the corpus — another document or
    * the same one — is duplicated mass, and every token it covers is
    * removed from every occurrence. This is the third granularity of the
    * exact-dedup family: [[exact]] drops whole-doc copies,
    * [[removeBoilerplateLines]] drops template LINES, and this drops
    * repeated SPANS that cross line structure (quoted passages, licence
    * blocks, lyric refrains — the memorization-driving mass the paper
    * measures). Like the line rule (and unlike the paper's
    * keep-one-occurrence suffix-array formulation), removal is
    * symmetric: occurrence counting is positional, so a span repeated
    * twice inside ONE document is removed too.
    *
    * Mechanics: windows of `winLen` tokens at stride 1 — a duplicated
    * span of length ≥ winLen is, at every offset, some duplicated
    * window, so marking all tokens covered by a hot window removes
    * exactly the spans the rule names (shorter repeats are invisible by
    * design; winLen IS the threshold). Tokens are space-split, the
    * engine-portable convention of the ta_* family.
    *
    * Plan shape at 100 TB: window hashing is a scan-side projection
    * (O(len·winLen) chars md5'd per doc — a rolling Rabin-Karp
    * `Expression` is the constant-factor upgrade if the hash cost ever
    * shows up; the PLAN is already linear). Hot detection shuffles
    * 16-byte digests with map-side partial counts — never window text.
    * Cover marking semi-joins windows to the hot set and ships (id,
    * position) ints for HOT windows only — volume is the corpus's
    * duplication mass, not its size. Reconstruction joins each doc's
    * bounded covered-position set back to the doc row (ONE text-carrying
    * shuffle, keyed by id) and filters tokens in place — documents are
    * never exploded token-by-token.
    *
    * @return (idCol, n_tokens, n_dup_tokens, clean_text) — one row per
    *         non-null-text doc (the [[removeBoilerplateLines]] null
    *         convention); docs shorter than winLen have no windows and
    *         pass through unchanged. */
  def removeRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                          winLen: Int, minOccur: Int = 2): DataFrame = {
    require(winLen >= 2, s"winLen must be >= 2, got $winLen")
    require(minOccur >= 2, s"minOccur must be >= 2, got $minOccur")
    val docs = df.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val win = docs
      .select(col(idCol), col("__toks"),
        explode(when(col("__n") >= winLen, sequence(lit(1), col("__n") - winLen + 1))
          .otherwise(array().cast("array<int>"))).as("__s"))
      .select(col(idCol), col("__s"),
        md5(concat_ws(" ", slice(col("__toks"), col("__s"), lit(winLen)))).as("__wh"))
    val hot = win.groupBy("__wh").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOccur).select("__wh")
    // positions covered by some hot window — expanded AFTER the semi
    // join, so only the duplicated mass fans out winLen-fold
    val covered = win.join(hot, Seq("__wh"), "left_semi")
      .select(col(idCol), explode(sequence(col("__s"), col("__s") + winLen - 1)).as("__p"))
      .distinct()
      .groupBy(idCol).agg(collect_set(col("__p")).as("__cov"))
    docs.join(covered, Seq(idCol), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .select(col(idCol),
        col("__n").cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_dup_tokens"),
        concat_ws(" ", filter(col("__toks"),
          (t, i) => !array_contains(col("__cov"), i + 1))).as("clean_text"))
  }

  /** Per-doc MinHash signature + LSH band keys. Zero-shuffle projection:
    * one md5 per distinct shingle (→ 31-bit int), then k universal-hash
    * mins over the int array. */
  def minhashed(df: DataFrame, textCol: String, idCol: String,
                k: Int = 128, rowsPerBand: Int = 8, shingleN: Int = 3,
                carry: Seq[String] = Nil): DataFrame = {
    // hs kept SORTED: signatures are order-independent, and sortedness lets
    // pair verification run a native merge-intersect instead of per-pair
    // hash-set builds. The fused expression replaces the substring/
    // distinct/hash/sort HOF chain (value-identical, one pass, no
    // intermediate string arrays).
    // `carry` rides metadata columns (event time, source tags) through the
    // sketch projection — the streaming path needs the doc's event time
    // beside its signature for watermark-driven state TTL.
    df.select(col(idCol) +: carry.map(col) :+
        graft.expressions.HashExpressions.shingleHashes31Native(col(textCol), shingleN).as("hs"): _*)
      .withColumn("sig", graft.expressions.HashExpressions.minhashSigNative(col("hs"), k))
      .withColumn("bands", lshBands(col("sig"), k, rowsPerBand))
  }

  /** Near-dup pairs: LSH candidates (share ≥1 band) verified by exact
    * shingle-set Jaccard ≥ `threshold` (unrounded — identical IEEE division
    * in every engine). Returns (id_a, id_b, jaccard rounded for output).
    *
    * Band sizing: with b bands of r rows, P(candidate | jaccard j) =
    * 1−(1−j^r)^b. The default k=128 (16 bands × 8 rows) gives ~95% recall
    * at j=0.8 and ~100% at j≥0.9, while unrelated pairs (j~0.5) collide on
    * a band only ~6% of the time — and those are then dropped by the sound
    * size-ratio prune (j ≥ τ ⇒ |A|,|B| within τ of each other) and exact
    * verification. (A 2-band/16-hash config would recall only ~31% at
    * τ=0.8 — recall, not the join plan, is why k must be sized to τ.)
    * InvariantSpec measures recall ≥ 0.9 against brute-force pairs.
    *
    * Docs shorter than `shingleN` have empty shingle sets — no similarity
    * is defined for them (jaccard = 0/0), so they are excluded, mirroring
    * the oracle's WHERE len(text) >= shingleN. Without this, all-null
    * signatures band-collide with each other and NaN ≥ τ is true under
    * Spark's NaN-largest semantics, emitting spurious pairs. */
  /** `maxBandBucket` (0 = off) drops bands whose bucket exceeds the cap —
    * the 100 TB guard against a degenerate band (boilerplate shared by
    * millions of docs) turning the band join quadratic. A capped bucket of
    * B docs would have contributed B·(B−1)/2 candidate pairs from that one
    * key. Exact-duplicate mass should be removed by [[exact]] BEFORE LSH;
    * the cap protects against the residue. Capping can only drop pairs
    * whose EVERY shared band is degenerate — for near-dups that is
    * vanishingly rare with 16 bands (their probability mass is spread), so
    * recall loss concentrates exactly on the mass the cap exists to shed. */
  /** LSH band-bucket candidate generation over a [[minhashed]] frame:
    * (id_a, id_b, na, nb) for every pair sharing ≥1 band and passing the
    * sound size-ratio prune. Exposed so scale runs can measure the
    * candidate volume (the quantity that must grow LINEARLY with corpus
    * size for the plan to survive 100 TB) separately from verified pairs. */
  def minhashBandCandidates(m: DataFrame, idCol: String, threshold: Double,
                            maxBandBucket: Int = 0): DataFrame = {
    val e0 = m.select(col(idCol), size(col("hs")).as("n_sh"), explode(col("bands")).as("band"))
    val e = if (maxBandBucket > 0) {
      // hot bands are few by construction (each holds > cap docs), so the
      // anti-join side broadcasts
      val hot = e0.groupBy("band").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > maxBandBucket).select("band")
      e0.join(broadcast(hot), Seq("band"), "left_anti")
    } else e0
    // candidate generation shuffles only (id, size, 16-byte band key) —
    // never the shingle arrays
    e.select(col(idCol).as("id_a"), col("n_sh").as("na"), col("band"))
      .join(e.select(col(idCol).as("id_b"), col("n_sh").as("nb"), col("band")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      // sound prune: j >= t implies t*|B| <= |A| (and symmetrically)
      .filter(col("na") >= col("nb") * threshold && col("nb") >= col("na") * threshold)
      .select("id_a", "id_b", "na", "nb").distinct()
  }

  /** Signature-agreement floor for the verification prefilter: a pair with
    * true jaccard ≥ τ has expected agreement τ·k with sd sqrt(τ(1−τ)k), so
    * requiring agree ≥ floor(k·τ − 5·sqrt(τ(1−τ)k)) rejects essentially no
    * true pair (P < 1e-6 at k=128, τ=0.8) while discarding the j≈0.5
    * band-collision mass (its agreement sits ~4σ below the floor). A
    * DETERMINISTIC function of the two texts — the DuckDB oracle replays
    * it exactly, so this is part of the operator's definition, not a
    * heuristic. */
  def minAgree(k: Int, threshold: Double): Int =
    math.floor(k * threshold - 5 * math.sqrt(threshold * (1 - threshold) * k)).toInt

  /** Exact shingle-set verification, shared by the batch path (stage 2 of
    * [[minhashNearDups]]) and the streaming path
    * (`StreamDedup.verify`): join candidate (id_a, id_b) rows to the
    * sketch's sorted hash arrays and keep pairs with exact Jaccard ≥ τ —
    * |A∩B| via native merge over the sorted arrays, |A∪B| = |A| + |B| −
    * |A∩B| (value-identical to array_intersect/array_union on distinct
    * arrays). ONE definition: the verify expression is part of the
    * operator's meaning, and two copies could drift apart and silently
    * break the spec-proven batch/stream parity. */
  private[graft] def verifyPairs(cands: DataFrame, sketch: DataFrame,
                                 idCol: String, threshold: Double): DataFrame =
    verifyPairsAcross(cands, sketch, sketch, idCol, threshold)

  /** [[verifyPairs]] with distinct sketch frames per side — the
    * cross-set (history vs batch) form shares the same defining verify
    * expression, it just sources `sh_a`/`sh_b` from different frames. */
  private[graft] def verifyPairsAcross(cands: DataFrame,
                                       sketchA: DataFrame, sketchB: DataFrame,
                                       idCol: String, threshold: Double): DataFrame = {
    val inter = graft.expressions.HashExpressions.sortedIntersectCount(col("sh_a"), col("sh_b"))
    cands
      .select(col("id_a"), col("id_b"))
      .join(sketchA.select(col(idCol).as("id_a"), col("hs").as("sh_a")), Seq("id_a"))
      .join(sketchB.select(col(idCol).as("id_b"), col("hs").as("sh_b")), Seq("id_b"))
      .withColumn("inter", inter)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double")).as("j"))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
  }

  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double, k: Int = 128, rowsPerBand: Int = 8,
                      shingleN: Int = 3, maxBandBucket: Int = 0): DataFrame = {
    val m = minhashed(fanOut(df), textCol, idCol, k, rowsPerBand, shingleN)
      .filter(size(col("hs")) > 0).cache()
    val candidates = minhashBandCandidates(m, idCol, threshold, maxBandBucket)
    // Verification is TWO-STAGE to keep the big exchange small. Stage 1
    // joins only the fixed-size signatures (k longs) and drops candidates
    // whose positional agreement can't support j ≥ τ — at τ=0.8 this
    // discards ~99.9% of band collisions, so the expensive stage 2 join of
    // the full shingle arrays (unbounded, ~10-100× a signature) runs over
    // a candidate set the size of the true pair set. At corpus scale the
    // array join is THE verify bottleneck: shipping arrays to every raw
    // band collision is O(candidates·doc_len) shuffle bytes.
    val agree = graft.expressions.HashExpressions.positionalAgree(col("sig_a"), col("sig_b"))
    val plausible = candidates
      .join(m.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(m.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .filter(agree >= minAgree(k, threshold))
      .select("id_a", "id_b", "na", "nb")
    // stage 2: exact verify — the shared operator-defining expression
    // (verifyPairs), also the streaming path's stream-static verify
    val out = verifyPairs(plausible.select("id_a", "id_b"),
      m.select(col(idCol), col("hs")), idCol, threshold)
    // The pair output is tiny (near-dups only); materialize it eagerly so
    // the cached signature frame can be RELEASED before returning — a
    // lazily-returned plan would pin `m` in the block store for the
    // caller's lifetime (the round-2 bench leak). Materialization also
    // means iterative consumers (connected components) never re-run the
    // sketch pipeline. CONTRACT NOTE: the returned frame is EAGER — the
    // full pair set is computed now (even if the caller only counts or
    // filters further; pushdown below this point is deliberately given
    // up) and its checkpoint blocks stay resident until the frame is
    // GC'd or explicitly released via GraftShim.unpersistCheckpoint.
    try out.localCheckpoint() finally m.unpersist()
  }

  /** INCREMENTAL near-dup — the fuzzy twin of [[incrementalExact]]:
    * which documents of the NEW batch are near-duplicates (char-shingle
    * Jaccard ≥ τ) of something already in the history? Same
    * sketch → band-collision → sig-agree prefilter → exact-verify
    * pipeline as [[minhashNearDups]], but the candidate join is
    * CROSS-SET: batch band keys probe the history's band index, so
    * candidate volume scales with batch size × collision rate, never
    * with |history|².
    *
    * At production scale the history side of this join is a PRE-STORED
    * band index (band_key → id, maintained incrementally as batches are
    * accepted — the same banded state `streaming/StreamDedup` keeps per
    * key); this method resketches it from text for the self-contained
    * form. Ids must be distinct within each side; the two sides may
    * overlap (a pair is reported under its (history, batch) ids).
    *
    * @return (id_a = history doc, id_b = batch doc, jaccard)
    */
  /** Cross-set band-collision candidates — the batch side probing the
    * history band index, with the sound size-ratio prune (j ≥ τ implies
    * τ·|B| ≤ |A| and symmetrically). Exposed (like
    * [[minhashBandCandidates]]) so scale runs can measure the
    * incremental path's candidate volume independently of exact
    * verification; inputs are [[minhashed]] frames. */
  def minhashCrossCandidates(mh: DataFrame, mb: DataFrame, idCol: String,
                             threshold: Double): DataFrame = {
    def bands(m: DataFrame, side: String) =
      m.select(col(idCol).as(s"id_$side"), size(col("hs")).as(s"n$side"),
        explode(col("bands")).as("band"))
    bands(mh, "a").join(bands(mb, "b"), Seq("band"))
      .filter(col("na") >= col("nb") * threshold && col("nb") >= col("na") * threshold)
      .select("id_a", "id_b").distinct()
  }

  def minhashNearDupsAgainst(history: DataFrame, batch: DataFrame,
                             textCol: String, idCol: String, threshold: Double,
                             k: Int = 128, rowsPerBand: Int = 8,
                             shingleN: Int = 3): DataFrame = {
    val mh = minhashed(fanOut(history), textCol, idCol, k, rowsPerBand, shingleN)
      .filter(size(col("hs")) > 0).cache()
    val mb = minhashed(fanOut(batch), textCol, idCol, k, rowsPerBand, shingleN)
      .filter(size(col("hs")) > 0).cache()
    val candidates = minhashCrossCandidates(mh, mb, idCol, threshold)
    val agree = graft.expressions.HashExpressions.positionalAgree(col("sig_a"), col("sig_b"))
    val plausible = candidates
      .join(mh.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(mb.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .filter(agree >= minAgree(k, threshold))
      .select("id_a", "id_b")
    val out = verifyPairsAcross(plausible, mh, mb, idCol, threshold)
    // same eager-materialize/release contract as minhashNearDups
    try out.localCheckpoint() finally { mh.unpersist(); mb.unpersist() }
  }

  /** Near-dup pairs by word-n-gram Jaccard inside a blocking key (e.g.
    * language). Result = ALL within-block pairs with jaccard ≥ threshold,
    * computed without the O(n²) pair join via PPJoin-style prefix
    * filtering (Bayardo et al., WWW'07): under a global gram order, two
    * sets with overlap ≥ ⌈τ·|A|⌉ must share an element of each other's
    * (|A|-⌈τ·|A|⌉+1)-prefix — so candidates are generated by joining
    * exploded *prefixes* on the gram value, then verified exactly.
    * Candidate volume scales with gram-frequency, not n². */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, threshold: Double, n: Int = 3): DataFrame = {
    val in = fanOut(df)
    // Global gram order = (hash31(gram), gram): prefixes under a plain
    // lexicographic order all start with the same alphabetically-early
    // grams, so prefix buckets degenerate and the join tends to n²; a
    // hash order spreads prefix membership uniformly. (Rare-first
    // frequency ordering — classic AllPairs — prunes slightly better but
    // costs two extra shuffles over the gram corpus; hash order is pure
    // per-row compute.)
    // cached: the gram pipeline feeds the prefix explode, BOTH sides of
    // the candidate self-join, and BOTH verification joins — uncached it
    // recomputes the per-row n-gram build up to 5×
    val g = ngramGramFrame(in, textCol, idCol, blockCol, n).cache()
    // eager materialize-and-release, same rationale as minhashNearDups:
    // don't pin the cached gram frame beyond this call
    try jaccardPairsOver(g, threshold, withBlock = true).localCheckpoint()
    finally g.unpersist()
  }

  /** The shared candidate-and-verify core of [[ngramJaccardPairs]] and
    * [[setJaccardPairs]] over a cached hash-ordered element frame
    * (id, block, grams: array<struct<h,g>>, sz): prefix-filter candidates
    * ([[ngramPrefixCandidates]]), exact verify by native merge-intersect
    * under the frame's own (h, g) order (|A∪B| derived as
    * |A|+|B|−|A∩B| over the distinct arrays — same integers, one IEEE
    * division, so j is bit-identical to the array_intersect/array_union
    * form), 6-dp rounding. */
  private def jaccardPairsOver(g: DataFrame, threshold: Double,
                               withBlock: Boolean): DataFrame = {
    val keyCols = if (withBlock) Seq(col("block")) else Seq.empty[Column]
    val inter = graft.expressions.HashExpressions
      .hashOrderedIntersectCount(col("g_a"), col("g_b"))
    ngramPrefixCandidates(g, threshold)
      .join(g.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(g.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("__i", inter)
      .select(keyCols ++ Seq(col("id_a"), col("id_b"),
        (col("__i").cast("double") /
          (size(col("g_a")) + size(col("g_b")) - col("__i")).cast("double")).as("j")): _*)
      .filter(col("j") >= threshold)
      .select(keyCols ++ Seq(col("id_a"), col("id_b"),
        round(col("j"), 6).as("jaccard")): _*)
  }

  /** PPJoin prefix-filter candidate generation over the hash-ordered gram
    * frame (id, block, grams: array<struct<h,g>>, sz): (block, id_a, id_b)
    * pairs sharing a prefix gram within a block, size-ratio pruned. The
    * join key is the prefix gram's 31-BIT HASH, not the gram string —
    * the exchange ships (block, int, id, sz) rows, never gram text
    * (guide §2.3: shuffle keys, not payloads). A hash collision between
    * two DIFFERENT prefix grams can only ADD a candidate pair (same gram
    * ⟹ same hash, so no genuine collision pair is ever lost), and every
    * added pair is removed or confirmed by exact verification — the
    * verified pair set is unchanged; PPJoin completeness (j ≥ τ ⟹
    * prefixes share a gram ⟹ they share that gram's hash) is preserved.
    * Exposed (like [[minhashBandCandidates]]) so scale runs can measure
    * candidate volume independently of exact verification. */
  def ngramPrefixCandidates(g: DataFrame, threshold: Double): DataFrame = {
    // prefix length |A| - ceil(t*|A|) + 1
    val pref = g.withColumn("plen", (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))
      .select(col("id"), col("block"), col("sz"),
        explode(slice(col("grams"), lit(1), greatest(col("plen"), lit(1)))).as("e"))
      .select(col("id"), col("block"), col("sz"), col("e.h").as("gh"))
    pref.select(col("block"), col("gh"), col("id").as("id_a"), col("sz").as("na"))
      .join(pref.select(col("block"), col("gh"), col("id").as("id_b"), col("sz").as("nb")),
        Seq("block", "gh"))
      .filter(col("id_a") < col("id_b") &&
        col("na") >= col("nb") * threshold && col("nb") >= col("na") * threshold)
      .select("block", "id_a", "id_b").distinct()
  }

  /** The gram frame [[ngramPrefixCandidates]] consumes — the first stage
    * of [[ngramJaccardPairs]], exposed for instrumentation. Built by the
    * fused native [[graft.expressions.HashOrderedGrams]] (one pass:
    * split, n-gram, dedup, hash, (h, g) sort) — value-identical per
    * field to the four-op HOF chain it replaces, which paid interpreted
    * lambda evaluation per gram and intermediate struct arrays. */
  def ngramGramFrame(df: DataFrame, textCol: String, idCol: String,
                     blockCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), col(blockCol).as("block"),
        graft.expressions.HashExpressions
          .hashOrderedGramsNative(col(textCol), n).as("grams"))
      .withColumn("sz", size(col("grams")))
      .filter(col("sz") > 0)

  /** The ONE hash-ordered element frame shape both Jaccard entry points
    * build — (id, block, grams: array<struct<h:long, g:string>>, sz)
    * sorted under the (hash31, element) order: a plain lexicographic
    * order degenerates prefix buckets (they all start with the same
    * alphabetically-early elements and the join tends to n²); the hash
    * order spreads prefix membership uniformly. The struct keeps each
    * element's hash BESIDE it, so candidates join on the 8-byte hash and
    * verification merge-intersects without re-hashing. Empty sets carry
    * no evidence either way and are excluded. (The array-input builder
    * for [[setJaccardPairs]]; the text path uses the fused native
    * expression in [[ngramGramFrame]].) */
  private def hashOrderedSets(df: DataFrame, idCol: Column, blockCol: Column,
                              elems: Column): DataFrame =
    df.select(idCol.as("id"), blockCol.as("block"),
        array_sort(transform(elems,
          e => struct(graft.expressions.HashExpressions.md5prefix31(e).as("h"), e.as("g"))))
          .as("grams"))
      .withColumn("sz", size(col("grams")))
      .filter(col("sz") > 0)

  /** Exact set-Jaccard near-dup pairs over ARBITRARY element sets — the
    * [[ngramJaccardPairs]] machinery generalized past text: the caller
    * brings (id, elements) rows (any element type with a stable string
    * form — keyframe hashes, feature codes, shingle digests) and gets
    * every pair with Jaccard ≥ threshold. Candidates come from the same
    * PPJoin prefix filter under the (hash31, element) order
    * ([[ngramPrefixCandidates]] — complete for j ≥ τ, volume scales with
    * element frequency, never the O(n²) pair join), then exact
    * intersect/union verification. Elements deduplicate in-row; a null
    * set or null element raises (silently dropping one would shift set
    * sizes and misprice every Jaccard it touches — the raise-on-bad-input
    * discipline of `reservoirKey`/`weightedBernoulli`). Empty sets carry
    * no evidence either way and are excluded, as in [[ngramGramFrame]]. */
  def setJaccardPairs(df: DataFrame, elemsCol: String, idCol: String,
                      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val rawSet = coalesce(
      when(col(elemsCol).isNull,
        raise_error(lit(s"setJaccardPairs: null $elemsCol set"))),
      col(elemsCol))
    val elems = array_distinct(transform(rawSet, e =>
      coalesce(
        when(e.isNull, raise_error(lit(s"setJaccardPairs: null element in $elemsCol"))),
        e.cast("string"))))
    // cached for the same reason as ngramJaccardPairs: the element frame
    // feeds the prefix explode, both candidate sides, and both
    // verification joins
    val g = hashOrderedSets(df, col(idCol), lit("_"), elems).cache()
    try jaccardPairsOver(g, threshold, withBlock = false).localCheckpoint()
    finally g.unpersist()
  }

  /** Packed (doc, chunk-ordinal) probe key for asymmetric containment:
    * doc_id in the high 31 bits, chunk ordinal in the low 32 — collision-
    * free for any chunk count a single document can physically produce
    * (a decimal multiplier like doc_id*1000 silently collides once a doc
    * exceeds 1000 chunks ≈ 24k tokens at stride 24). Out-of-range inputs
    * raise rather than alias: the guard is fused into the key expression
    * itself, so column pruning can never elide it. */
  val ChunkKeyMaxDoc: Long = (1L << 31) - 1
  val ChunkKeyMaxIdx: Long = (1L << 32) - 1

  def packChunkKey(docId: Column, chunkIdx: Column): Column = {
    val doc = docId.cast("long")
    val idx = chunkIdx.cast("long")
    val bad = doc.isNull || doc < 0 || doc > ChunkKeyMaxDoc ||
      idx.isNull || idx < 0 || idx > ChunkKeyMaxIdx
    coalesce(
      when(bad, raise_error(concat(
        lit(s"packChunkKey: doc_id outside [0,$ChunkKeyMaxDoc] or chunk_idx outside [0,$ChunkKeyMaxIdx]: "),
        docId.cast("string"), lit("/"), chunkIdx.cast("string")))),
      shiftleft(doc, 32).bitwiseOR(idx))
  }

  /** Decode [[packChunkKey]]: the source doc id (high bits). */
  def chunkKeyDoc(key: Column): Column = shiftright(key, 32)

  /** Decode [[packChunkKey]]: the chunk ordinal within its doc (low bits). */
  def chunkKeyIdx(key: Column): Column = key.bitwiseAND(lit(ChunkKeyMaxIdx))

  /** Asymmetric CONTAINMENT join: (probe, index) pairs where the probe
    * doc's n-gram set is ≥ `threshold` contained in the index doc's —
    * C(A,B) = |A∩B| / |A|. Jaccard misses exactly this case: a 30-gram
    * quote inside a 3000-gram host scores j ≈ 0.01 at containment 1.0,
    * so quote/boilerplate-inclusion detection needs the asymmetric
    * measure (the training-data leak where an eval item hides INSIDE a
    * larger document).
    *
    * Candidate generation is prefix filtering on the PROBE side only,
    * with RARE-FIRST prefix selection: A missing more than
    * m = |A|−⌈τ·|A|⌉ of ANY chosen (m+1)-subset of its grams from B
    * contradicts C≥τ, so joining any (m+1)-subset against B's full
    * posting list is COMPLETE for the threshold (the index side cannot
    * be prefix-pruned: |B| does not bound A's overlap fraction) — and
    * since any subset works, the optimal one is A's m+1 grams with the
    * SMALLEST index document frequency (classic AllPairs ordering):
    * prefix grams land on the shortest posting lists, collapsing
    * candidate volume to Σ_A prefix·min-postings. Grams absent from the
    * index (df 0) are chosen first and generate nothing — correctly so:
    * m+1 absent grams already prove C<τ against every host. The df
    * ranking costs one gram-corpus aggregate + one per-probe top-(m+1)
    * window — on the synthetic corpus (max posting 14, avg 2.4) it buys
    * little over hash order (measured: 65k candidates → 14k pairs at
    * sf0.1 either way), but on real text the hot stopword grams have
    * postings proportional to the CORPUS, and rare-first is what keeps a
    * boilerplate-heavy probe from joining them. `nx ≥ ⌈τ·np⌉` size
    * pruning drops hosts too small to contain the probe. Returns
    * (block, id_p, id_x, containment) — caller filters self-pairs when
    * the probe derives from the index. */
  def containmentPairs(probe: DataFrame, probeText: String, probeId: String,
                       index: DataFrame, indexText: String, indexId: String,
                       blockCol: String, threshold: Double, n: Int = 3): DataFrame = {
    val p = containmentGramFrame(probe, probeText, probeId, blockCol, n).cache()
    val ix = containmentGramFrame(index, indexText, indexId, blockCol, n).cache()
    val cands = containmentCandidates(p, ix, threshold)
    val out = cands
      .join(p.select(col("id").as("id_p"), col("grams").as("g_p")), Seq("id_p"))
      .join(ix.select(col("id").as("id_x"), col("grams").as("g_x")), Seq("id_x"))
      // both gram arrays are sorted distinct strings (containmentGramFrame),
      // so |A∩B| is a linear native merge — value-identical to
      // size(array_intersect(...)) without the per-pair hash-set build
      // (NativeGramsSpec pins the count equality over edge-row pairs)
      .select(col("block"), col("id_p"), col("id_x"),
        (graft.expressions.HashExpressions
          .sortedStringIntersectCount(col("g_p"), col("g_x")).cast("double") /
          size(col("g_p")).cast("double")).as("c"))
      .filter(col("c") >= threshold)
      .select(col("block"), col("id_p"), col("id_x"), round(col("c"), 6).as("containment"))
    // eager materialize-and-release, same rationale as minhashNearDups
    try out.localCheckpoint() finally { p.unpersist(); ix.unpersist() }
  }

  /** The gram frame [[containmentPairs]] consumes — leaner than
    * [[ngramGramFrame]]: no per-gram hash, since the hash ORDER only
    * matters when prefixes are chosen positionally (the Jaccard PPJoin
    * path); containment's prefix choice is df-ranked and its verify is a
    * set intersection, both order-free, so plain lexicographic sort
    * saves a gram-corpus of md5 work. Exposed (like [[ngramGramFrame]])
    * for instrumentation. Built by the fused native expression
    * (round 20): `sortedDistinctNgramsNative` is value-identical to
    * `array_sort(array_distinct(wordNgrams(text, n)))` (NativeGramsSpec
    * pins it at n=2,3 over edge rows) in one pass
    * over the text bytes instead of the interpreted 3-op HOF chain. */
  def containmentGramFrame(df: DataFrame, textCol: String, idCol: String,
                           blockCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), col(blockCol).as("block"),
        graft.expressions.HashExpressions
          .sortedDistinctNgramsNative(col(textCol), n).as("grams"))
      .withColumn("sz", size(col("grams")))
      .filter(col("sz") > 0)

  /** Rare-first containment candidate generation over two
    * [[containmentGramFrame]]s — exposed (like [[ngramPrefixCandidates]])
    * so scale runs can measure candidate volume independently of exact
    * verification. Returns distinct (block, id_p, id_x). */
  def containmentCandidates(p: DataFrame, ix: DataFrame,
                            threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val post = ix.select(col("id").as("id_x"), col("block"), col("sz").as("nx"),
      explode(col("grams")).as("gram"))
    // per-(block, gram) index document frequency — vocabulary-sized
    val idf = post.groupBy("block", "gram").agg(count(lit(1)).as("df"))
    val rank = Window.partitionBy("block", "id_p")
      .orderBy(col("df").asc_nulls_first, col("gram"))
    val pref = p.withColumn("plen", (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))
      .select(col("id").as("id_p"), col("block"), col("sz").as("np"), col("plen"),
        explode(col("grams")).as("gram"))
      .join(idf, Seq("block", "gram"), "left")
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= greatest(col("plen"), lit(1)))
      .select(col("id_p"), col("block"), col("np"), col("gram"))
    pref.join(post, Seq("block", "gram"))
      .filter(col("nx") >= ceil(col("np") * threshold))
      .select("block", "id_p", "id_x").distinct()
  }

  /** Per-doc 60-bit SimHash (+ token count). Zero-shuffle projection;
    * near-dup = small hamming distance, found at scale by joining on
    * rotated prefixes (pigeonhole) rather than all-pairs. */
  def simhashed(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // one native pass tokenizes and digests (round 20: the composed
    // transform(split, hash60) interpreted an md5 chain per token);
    // n_tokens = the hash array's length — same count split() produced
    df.select(col(idCol), graft.expressions.HashExpressions
        .tokenHashes60PairNative(col(textCol)).getField("lo").as("__th"))
      .select(col(idCol),
        graft.expressions.VectorExpressions.simhash60Native(col("__th")).as("simhash"),
        size(col("__th")).as("n_tokens"))

  /** Per-doc 120-bit SimHash as two 60-bit halves over independent
    * md5-derived token hashes. The width is the scale lever for pair
    * finding: pigeonhole chunk width = hash bits / chunks, and expected
    * candidate volume divides by 2^chunkBits — a 60-bit hash at
    * maxHamming=8 forces 7-bit chunks (candidates ≈ 9n²/256, still
    * quadratic in practice), while 120 bits gives 12-bit chunks
    * (≈ 10n²/8192). Both halves are one-pass native expressions. */
  def simhashedWide(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // ONE tokenize+digest pass feeds both halves (round 20): the
    // composed form ran TWO transform(split, hash60*) chains, each
    // re-digesting every token — the pair expression reads lo/hi from
    // the same md5. The intermediate projection keeps the pair column a
    // bound reference, so CollapseProject cannot duplicate the digest
    // into the two getFields
    df.select(col(idCol), graft.expressions.HashExpressions
        .tokenHashes60PairNative(col(textCol)).as("__tp"))
      .select(col(idCol),
        graft.expressions.VectorExpressions
          .simhash60Native(col("__tp").getField("lo")).as("sh_lo"),
        graft.expressions.VectorExpressions
          .simhash60Native(col("__tp").getField("hi")).as("sh_hi"))

  /** 120-bit hash split into 10 chunks of 12 bits (5 per half). */
  private val WideChunks = 10
  private val WideChunkBits = 12

  /** HmSearch-style candidate pairs over the wide simhash: two 120-bit
    * hashes within hamming h ≤ 8 have at most 8 differing chunks, so at
    * least TWO of the 10 chunks agree exactly — joining on all C(10,2)=45
    * (chunk-pair index, value_i, value_j) 24-bit keys is a complete
    * candidate generator. Two-chunk agreement matters on correlated
    * corpora: single-chunk 12-bit collisions are common when documents
    * share a vocabulary (measured ~17% of all-pairs on the synthetic
    * corpus), while a 24-bit double collision needs genuine similarity
    * (~1.5% measured; ~2^-24·45 per pair for unrelated docs). Shuffles
    * 45 fixed-size rows per doc — linear, never all-pairs. Exposed for the
    * completeness / candidate-volume invariant spec. */
  def simhashCandidates(wide: DataFrame, idCol: String): DataFrame = {
    def chunkVal(i: Int): Column = {
      val half = if (i < WideChunks / 2) col("sh_lo") else col("sh_hi")
      shiftright(half, (i % (WideChunks / 2)) * WideChunkBits)
        .bitwiseAND(lit((1L << WideChunkBits) - 1))
    }
    val pairs = for { i <- 0 until WideChunks; j <- i + 1 until WideChunks } yield (i, j)
    val chunked = wide.select(col(idCol), col("sh_lo"), col("sh_hi"),
      explode(array(pairs.zipWithIndex.map { case ((i, j), p) =>
        struct(lit(p).as("ci"), chunkVal(i).as("cv1"), chunkVal(j).as("cv2"))
      }: _*)).as("ch"))
      .select(col(idCol), col("sh_lo"), col("sh_hi"), col("ch.ci"), col("ch.cv1"), col("ch.cv2"))
    val a = chunked.select(col(idCol).as("id_a"), col("sh_lo").as("lo_a"),
      col("sh_hi").as("hi_a"), col("ci"), col("cv1"), col("cv2"))
    val b = chunked.select(col(idCol).as("id_b"), col("sh_lo").as("lo_b"),
      col("sh_hi").as("hi_b"), col("ci"), col("cv1"), col("cv2"))
    a.join(b, Seq("ci", "cv1", "cv2"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` over the
    * 120-bit wide hash, via [[simhashCandidates]] + one XOR+popcount per
    * candidate — never all-pairs. Complete for maxHamming ≤ 8 (10 chunks,
    * 2-chunk agreement). */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= WideChunks - 2,
      s"2-of-$WideChunks chunk agreement is complete only for hamming <= ${WideChunks - 2}")
    simhashCandidates(simhashedWide(fanOut(df), textCol, idCol), idCol)
      .select(col("id_a"), col("id_b"),
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** HmSearch-style near-dup pairs over ONE 64-bit fingerprint column —
    * the fixed-width-hash chunk join [[simhashNearDups]] uses, exposed for
    * any 64-bit hash (perceptual image hashes via
    * [[graft.multimodal.Multimodal.dHash]], rolling fingerprints…).
    * Pigeonhole: two hashes within hamming h differ in at most h of the
    * `chunks` fixed 8-bit chunks, so at least two chunks agree exactly
    * whenever h ≤ chunks−2 — joining on all C(chunks,2) (chunk-pair,
    * value,value) keys is a complete candidate generator (enforced), and
    * one XOR+popcount per candidate verifies. Shuffles C(chunks,2)
    * fixed-size rows per hash — linear, never all-pairs. Exact-duplicate
    * mass (identical hashes) should be collapsed to representatives
    * BEFORE this join, same rule as [[exact]]-before-LSH: an N-row
    * identical-hash cluster collides on EVERY chunk key and contributes
    * its quadratic pair mass C(chunks,2) times over. */
  def hammingPairs64(df: DataFrame, hashCol: String, idCol: String,
                     maxHamming: Int, chunks: Int = 8): DataFrame = {
    require(maxHamming <= chunks - 2,
      s"2-of-$chunks chunk agreement is complete only for hamming <= ${chunks - 2}")
    hammingCandidates64(df, hashCol, idCol, chunks)
      .filter(col("hamming") <= maxHamming)
  }

  /** [[hammingPairs64]]'s CANDIDATE stage — the distinct chunk-join
    * collisions with their verified hamming distance, before the
    * distance cut. Exposed so the scale harness (`tools.ScaleCurve ham`)
    * can measure candidate volume directly: this count is the quantity
    * that must stay ~linear in corpus size for the chunk join to
    * survive 100 TB (α→2 would mean the generator degenerated to
    * all-pairs). */
  def hammingCandidates64(df: DataFrame, hashCol: String, idCol: String,
                          chunks: Int = 8): DataFrame = {
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    val bits = 64 / chunks
    // unsigned shift: the top chunk of a hash with bit 63 set must not
    // smear sign bits over its value
    def chunkVal(i: Int): Column =
      shiftrightunsigned(col(hashCol), i * bits).bitwiseAND(lit((1L << bits) - 1))
    val pairs = for { i <- 0 until chunks; j <- i + 1 until chunks } yield (i, j)
    val chunked = df.select(col(idCol), col(hashCol),
      explode(array(pairs.zipWithIndex.map { case ((i, j), p) =>
        struct(lit(p).as("ci"), chunkVal(i).as("cv1"), chunkVal(j).as("cv2"))
      }: _*)).as("ch"))
      .select(col(idCol), col(hashCol), col("ch.ci"), col("ch.cv1"), col("ch.cv2"))
    val a = chunked.select(col(idCol).as("id_a"), col(hashCol).as("h_a"),
      col("ci"), col("cv1"), col("cv2"))
    val b = chunked.select(col(idCol).as("id_b"), col(hashCol).as("h_b"),
      col("ci"), col("cv1"), col("cv2"))
    a.join(b, Seq("ci", "cv1", "cv2"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .distinct()
  }

  /** Embedding near-dup pairs with cosine ≥ threshold. Brute-force
    * all-pairs — correct for oracle verification and small n; the scale
    * path is `Similarity.ivfAssign` bucketing first (candidates share a
    * centroid), which this method accepts via `blockCol`. */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, blockCol: Option[String] = None): DataFrame = {
    import graft.expressions.VectorExpressions.{dot, l2norm}
    val v = transform(col(vecCol), x => x.cast("double"))
    // the block column must ride along in the initial projection — selecting
    // it off the pre-projection `df` afterwards would not resolve
    val withBlock = (blockCol match {
      case Some(bc) => df.select(col(idCol), v.as("v"), col(bc).as("block"))
      case None     => df.select(col(idCol), v.as("v"), lit(1).as("block"))
    }).withColumn("nrm", l2norm(col("v")))
    val a = withBlock.select(col("block"), col(idCol).as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val bb = withBlock.select(col("block"), col(idCol).as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(bb, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_raw", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cosine"))
  }

  /** Semantic (embedding-space) deduplication, SemDeDup-style: cluster
    * the corpus, then within each cluster drop every vector that has a
    * near-identical neighbor (cosine ≥ `threshold`) with a stronger keep
    * claim. Keep priority follows the published SemDeDup rule — of a
    * near-dup group, RETAIN the example least similar to its centroid
    * (the most atypical one carries the most marginal information;
    * duplicates near the centroid are the redundant mass), tiebroken by
    * id so the decision is total and rerun-stable.
    *
    * `assigned` is the `Similarity.ivfAssign(keepVec = true)` shape
    * (idCol, centroid_id, sim, v) — centroids typically come from
    * `Similarity.kmeansFit`, so the whole chain (train → assign → dedup)
    * is deterministic and exactly replayable. The domination test is a
    * DIRECT pairwise rule, not connected components: x is dropped iff
    * some y in the same cluster has cos(x,y) ≥ τ and (sim_y, id_y) <
    * (sim_x, id_x). At SemDeDup's operating thresholds (τ ≥ 0.9) groups
    * are tight near-cliques and the rule keeps exactly the group's
    * minimum, at a join cost identical to [[embeddingNearDups]]'s
    * bucketed pair scan — the all-pairs cartesian never exists in the
    * plan, and each cluster's pair block is independent (a skewed giant
    * cluster, not corpus size, is the unit of work — k is the dial).
    *
    * CONTRACT at lower thresholds: the dominator y is NOT required to
    * itself survive, so in a similarity chain a ≺ b ≺ c where cos(a,c)
    * < τ, b drops c even though b is itself dropped by a — the kept set
    * can be strictly smaller than "one representative per τ-connected
    * group". That is the documented semantics (drop anything with a
    * stronger near-identical neighbor, survivor or not): it is total,
    * rerun-stable, needs no fixpoint iteration, and the SQL oracle
    * replays the identical rule. Callers below the near-clique regime
    * (the shipped `dedup_semantic` runs τ = 0.45) get this chain rule,
    * not keep-group-minimum; if group-minimum is required, use
    * [[semanticDedupComponents]] — the same pair scan fed through
    * [[Components]], keeping each τ-connected component's minimum
    * (cost: the fixpoint rounds this rule exists to avoid).
    *
    * Scaling rule: pair mass is Σ_c n_c² ≈ n·(n/k), so hold the MEAN
    * CLUSTER SIZE n/k constant as the corpus grows (k ∝ n — the
    * published SemDeDup regime, e.g. 50k clusters for a ~100M-doc
    * corpus) and candidate volume stays linear in n; a fixed k under a
    * 10× corpus would grow pair blocks 100×. Training cost is not the
    * obstacle: `kmeansFit` is linear in n with constant k·dim state.
    * Returns kept rows (idCol, centroid_id, centroid_sim). */
  def semanticDedup(assigned: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    import graft.expressions.VectorExpressions.{dot, l2norm}
    val base = assigned.select(col(idCol), col("centroid_id"), col("sim"),
        col("v"))
      .withColumn("nrm", l2norm(col("v")))
    val x = base.select(col("centroid_id"), col(idCol).as("id_x"),
      col("v").as("v_x"), col("nrm").as("n_x"), col("sim").as("cs_x"))
    val y = base.select(col("centroid_id"), col(idCol).as("id_y"),
      col("v").as("v_y"), col("nrm").as("n_y"), col("sim").as("cs_y"))
    val dominated = x.join(y, Seq("centroid_id"))
      .filter(col("id_x") =!= col("id_y"))
      .filter(dot(col("v_x"), col("v_y")) / (col("n_x") * col("n_y")) >= threshold)
      .filter(col("cs_y") < col("cs_x") ||
        (col("cs_y") === col("cs_x") && col("id_y") < col("id_x")))
      .select(col("id_x").as(idCol)).distinct()
    base.join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id"), col("sim").as("centroid_sim"))
  }

  /** [[semanticDedup]]'s KEEP-GROUP-MINIMUM variant for callers below the
    * near-clique regime: build the intra-cluster τ pair graph (the same
    * bucketed pair scan — never all-pairs), take its connected
    * components, and keep exactly ONE member per component — the one
    * with the strongest keep claim under SemDeDup's rule (LOWEST
    * centroid similarity = most atypical, id tiebreak), plus every
    * vector with no τ-neighbor at all.
    *
    * This is the contract [[semanticDedup]]'s scaladoc points to when
    * its chain rule is not wanted: in a similarity chain a ≺ b ≺ c with
    * cos(a,c) < τ, the chain rule can keep BOTH endpoints (each is a
    * local minimum among its own neighbors) or drop a member whose only
    * dominator was itself dropped — here every τ-connected group keeps
    * exactly its global minimum, at the cost of the components fixpoint
    * (driver union-find under [[Components]]' measured-small gate;
    * O(log diameter) pointer-jumping rounds above it).
    *
    * Same input shape and output columns as [[semanticDedup]]; at
    * SemDeDup's published thresholds (τ ≥ 0.9, groups near-cliques) the
    * two agree (spec'd). */
  def semanticDedupComponents(assigned: DataFrame, idCol: String,
                              threshold: Double, maxIter: Int = 64,
                              smallGraphLimit: Long = 2000000L): DataFrame = {
    val base = assigned.select(col(idCol), col("centroid_id"), col("sim"), col("v"))
    val pairs = embeddingNearDups(base, "v", idCol, threshold,
      blockCol = Some("centroid_id"))
    val labels = Components
      .connectedComponents(pairs, "id_a", "id_b", maxIter, smallGraphLimit)
      .select(col("id").as("__lid"), col("comp").as("__comp"))
    // unpaired vectors are their own (kept) component
    val withComp = base
      .join(labels, col(idCol) === col("__lid"), "left")
      .withColumn("__comp", coalesce(col("__comp"), col(idCol)))
    // one survivor per component: min (centroid_sim, id) — ids are
    // unique, so min_by's tie behavior never decides
    val keep = withComp.groupBy("__comp")
      .agg(min_by(col(idCol), struct(col("sim"), col(idCol))).as("__keep"))
      .select(col("__keep").as(idCol))
    base.join(keep, Seq(idCol), "left_semi")
      .select(col(idCol), col("centroid_id"), col("sim").as("centroid_sim"))
  }
}
