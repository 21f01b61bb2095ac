package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup
import Common._

/** SURVEY.md §2.D (text half) — dedup + text-analysis operators over the
  * `documents` table, each with an exact DuckDB oracle. Oracle SQL for the
  * hash-heavy ops is generated to mirror the Spark fold order exactly
  * (DuckDB `list_reduce` ≡ Spark `aggregate` left fold).
  */
object TextQueries {

  private val langProfiles = Seq(
    "proto-a" -> Seq("spark", "query", "join"),
    "proto-b" -> Seq("window", "stream", "batch"),
    "proto-c" -> Seq("vector", "hash", "merge"))

  /** The k=128 LSH near-dup pair frame, built once per (application, sf
    * dir) and shared by its two consumers (`dedup_minhash_lsh`,
    * `stream_dedup_near`) — one stage, many consumers (round-3 verdict:
    * duplicate pipeline rebuilds were 26% of the bench). The memo retains
    * the EAGER pair frame itself: it is near-dups only (tens to hundreds
    * of rows at bench scales), already localCheckpoint'ed by
    * `minhashNearDups`, and its checkpoint blocks are released on clear. */
  private[queries] def lshPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Scratch.memo(s, d, "lsh_pairs")(
      Dedup.minhashNearDups(t(s, d, "documents"), "text", "doc_id", threshold = 0.8))(
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(_))

  /** The shared component LABELS: `dedup_components` and
    * `dedup_keep_representatives` consume the SAME labeling — in a
    * production pipeline this is one stage feeding two consumers, not two
    * rebuilds of the sketch pipeline (round-3 verdict: the duplicate
    * rebuild was 26% of the whole bench). The labels are
    * `localCheckpoint()`ed, so later consumers read checkpoint blocks
    * instead of re-running ~2.4 s of shingling. Only the labels survive in
    * the memo: the pair frame's checkpoint blocks are released as soon as
    * the labeling materializes — holding them with zero readers would be
    * a leak (round-4 review finding). The labels are small — one (id,
    * comp) row per doc that HAS a near-dup, not per doc. */
  private def preparedLabels(s: org.apache.spark.sql.SparkSession, d: String) =
    Scratch.memo(s, d, "pair_graph") {
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "text", "doc_id",
        blockCol = "lang", threshold = 0.8)
      val run = graft.operators.Components.run(pairs, "id_a", "id_b")
      if (!run.converged)
        throw new IllegalStateException("near-dup component labeling did not converge")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(pairs)
      run.labels
    }(org.apache.spark.sql.GraftShim.unpersistCheckpoint(_))

  val defs: Map[String, QFn] = Map[String, QFn](
    "dedup_exact_docs" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "text", "doc_id")),

    // TEMPLATE dedup: two machine-generated instances of one page —
    // same skeleton, different ids/counters/session URLs — collapse
    // after the volatile-field mask. Planted-wire-format corpus: every
    // doc appears as two instances of its template with different
    // numbers and URL ids; the mask reduces both to one skeleton, so
    // each group pairs. Same scale shape as dedup_exact_docs — the mask
    // is map-side, only 16-byte skeleton digests shuffle
    "dedup_template" -> ((s, d) => {
      val doc = t(s, d, "documents")
      def inst(idOff: Long, urlK: Long, refK: Long) = doc.select(
        (col("doc_id") + lit(idOff)).as("doc_id"),
        concat(lit("GET https://site.example/item/"),
          (col("doc_id") * urlK + lit(urlK + 2)).cast("string"),
          lit(" ref "), (col("doc_id") * refK + lit(refK + 4)).cast("string"),
          lit(" "), col("text")).as("text"))
      graft.operators.Dedup.templateDedup(
        inst(0L, 13L, 17L).unionByName(inst(1048576L, 29L, 31L)), "text", "doc_id")
    }),

    // the daily-crawl shape: which docs of today's batch are genuinely
    // NEW against the accumulated history — digests only cross the wire,
    // the batch never rescans history text
    "dedup_incremental" -> ((s, d) => {
      val doc = t(s, d, "documents")
      Dedup.incrementalExact(
        doc.filter(col("doc_id") % 3 =!= 0), doc.filter(col("doc_id") % 3 === 0),
        "text", "doc_id")
    }),

    // SPAN-level exact dedup (the ExactSubstr rule): every 12-token
    // window occurring >= 2 times anywhere in the corpus is duplicated
    // mass, and all tokens it covers are removed from every occurrence.
    // Runs on the RAW corpus — the planted exact/near-dup docs share
    // long spans naturally, so this is the operator on real input, not
    // a synthesized fixture. The checked fact is the rebuilt text's md5
    "dedup_substring" -> ((s, d) =>
      Dedup.removeRepeatedSpans(t(s, d, "documents"), "text", "doc_id",
          winLen = 12, minOccur = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
          md5(col("clean_text")).as("clean_md5"))),

    "dedup_minhash_sig" -> ((s, d) => {
      val m = Dedup.minhashed(t(s, d, "documents"), "text", "doc_id", k = 8)
      m.select(col("doc_id") +: (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    }),

    // the sketch stage inside lshPairs fans the one-split testdata
    // parquet out to every core (Dedup.fanOut)
    "dedup_minhash_lsh" -> ((s, d) => lshPairs(s, d)),

    // the fuzzy twin of dedup_incremental: batch docs that are
    // NEAR-duplicates of the accumulated history — batch band keys probe
    // the history band index (pre-stored in production), candidates
    // scale with batch size × collision rate, never |history|²
    "dedup_incremental_near" -> ((s, d) => {
      val doc = t(s, d, "documents")
      Dedup.minhashNearDupsAgainst(
        doc.filter(col("doc_id") % 3 =!= 0), doc.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", threshold = 0.8)
    }),

    // the PERSISTED form of dedup_incremental_near — the store that makes
    // the daily-crawl shape incremental for real, run COLD end to end:
    // index half the history, APPEND the other half (band rows land only
    // in their buckets), COMPACT the fragmented buckets (layout, never
    // semantics), then PROBE with the batch — reading only the batch's
    // colliding band partitions (static pruning on the bucket route; the
    // index never shuffles). The oracle is the same cross-set LSH replay
    // as dedup_incremental_near: index-then-probe must equal re-sketching
    // everything
    "dedup_band_store" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val path = Scratch.lifecycle(s, d, "band_store") + "/index"
      val hist = doc.filter(col("doc_id") % 3 =!= 0)
      // 16 buckets: the route bound should track corpus scale (like
      // IVF's K) — 64 dirs of per-task files on a 5k-doc corpus is
      // directory overhead, not pruning; buckets are layout, the oracle
      // is bucket-count-blind
      graft.sinks.BandStore.write(hist.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", path, buckets = 16)
      graft.sinks.BandStore.append(hist.filter(col("doc_id") % 2 =!= 0),
        "text", "doc_id", path)
      graft.sinks.BandStore.compact(s, path)
      graft.sinks.BandStore.probe(s, path,
        doc.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", threshold = 0.8)
    }),

    // SHARD CONSOLIDATION for the band index, run cold end to end: two
    // crawl shards each index their history slice under the same pinned
    // params, MERGE renames src's bucket files into dst (identical
    // params ⇒ identical hash family AND bucket routing, so both tables
    // file-merge — zero data bytes moved), then the batch probes the
    // consolidated index. The oracle is the same cross-set LSH replay:
    // shard-then-merge ≡ having indexed everything in one place
    "dedup_band_merge" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val scratch = Scratch.lifecycle(s, d, "band_merge")
      val (dst, src) = (scratch + "/index_dst", scratch + "/index_src")
      val hist = doc.filter(col("doc_id") % 3 =!= 0)
      // the two crawl shards are independent store roots (each write
      // holds its own writer fence) — overlap their index builds
      // (guide §2.6; graft.etl.Concurrent), exactly the shape a real
      // two-shard ingest runs
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => graft.sinks.BandStore.write(hist.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", dst, buckets = 16),
        () => graft.sinks.BandStore.write(hist.filter(col("doc_id") % 2 =!= 0),
          "text", "doc_id", src, buckets = 16)))
      graft.sinks.BandStore.merge(s, src, dst)
      graft.sinks.BandStore.probe(s, dst,
        doc.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", threshold = 0.8)
    }),

    // the band index's TAKEDOWN path, run cold end to end: index the
    // history, tombstone a slice of it (O(ids), no data file touched),
    // physically purge (exactly the affected buckets rewrite in both
    // tables through the atomic swap), then probe — deleted docs must
    // not resurface as dup sources. The oracle replays the LSH against
    // history-minus-deleted: delete ≡ never having indexed those docs
    "dedup_band_delete" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val path = Scratch.lifecycle(s, d, "band_delete") + "/index"
      val hist = doc.filter(col("doc_id") % 3 =!= 0)
      graft.sinks.BandStore.write(hist, "text", "doc_id", path, buckets = 16)
      graft.sinks.BandStore.delete(
        hist.filter(col("doc_id") % 5 === 1).select("doc_id"), "doc_id", path)
      graft.sinks.BandStore.purge(s, path)
      graft.sinks.BandStore.probe(s, path,
        doc.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", threshold = 0.8)
    }),

    // the band index's route-bound remedy, run cold end to end: index
    // under a bucket count the corpus has outgrown, REBUCKET (whole-store
    // atomic swap re-deriving every row's bucket; signatures untouched —
    // O(index bytes), not O(corpus text)), then probe under the widened
    // route. Rebucketing is pure layout, so the oracle is the same
    // bucket-count-blind LSH replay — the sim_ann_compact discipline
    "dedup_band_rebucket" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val path = Scratch.lifecycle(s, d, "band_rebucket") + "/index"
      val hist = doc.filter(col("doc_id") % 3 =!= 0)
      graft.sinks.BandStore.write(hist, "text", "doc_id", path, buckets = 4)
      graft.sinks.BandStore.rebucket(s, path, newBuckets = 16)
      graft.sinks.BandStore.probe(s, path,
        doc.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", threshold = 0.8)
    }),

    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "text", "doc_id",
        blockCol = "lang", threshold = 0.8)),

    // ASYMMETRIC containment dedup: 32-token windows probed against
    // whole docs — the quote/boilerplate-INCLUSION case symmetric
    // Jaccard misses by construction (a window inside a larger host
    // scores j ≈ |window|/|host| however perfectly it is contained).
    // Probe keys pack (doc, chunk) so output names the source window
    // AND the foreign host; self-hosting (a chunk in its own doc,
    // containment 1.0 by identity) is filtered out
    "dedup_containment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // token array staged once per row (a split inside the window
      // lambda re-evaluates per window — HOFs are CodegenFallback)
      val toks = col("__toks")
      val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(24))
      val chunks = docs.filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), col("lang"),
          posexplode(transform(starts, st => slice(toks, st + 1, lit(32))))
            .as(Seq("chunk_idx", "chunk")))
        .select(Dedup.packChunkKey(col("doc_id"), col("chunk_idx")).as("chunk_key"),
          col("lang"), concat_ws(" ", col("chunk")).as("chunk_text"))
      Dedup.containmentPairs(chunks, "chunk_text", "chunk_key",
          docs, "text", "doc_id", blockCol = "lang", threshold = 0.8)
        .withColumn("src_doc", Dedup.chunkKeyDoc(col("id_p")))
        .filter(col("src_doc") =!= col("id_x"))
        .select(col("src_doc"), Dedup.chunkKeyIdx(col("id_p")).as("chunk_idx"),
          col("id_x").as("host_doc"), col("containment"))
    }),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashed(t(s, d, "documents"), "text", "doc_id")),

    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashNearDups(t(s, d, "documents"), "text", "doc_id", maxHamming = 8)),

    // transitive dup-cluster resolution: pairwise near-dups -> disjoint
    // clusters (min-label propagation); the step between "found pairs"
    // and "kept one representative per group". The labels are the result
    // here, not a join side, so their broadcast hint goes unused — drop it
    "dedup_components" -> ((s, d) =>
      org.apache.spark.sql.GraftShim.withoutHints(preparedLabels(s, d))),

    // PII scrubbing: synthesize deterministic PII (email/url/ip/id) per doc
    // so the redaction actually fires, then hash the scrubbed text and
    // count insertions — both engines build and scrub the same string
    "ta_redact_pii" -> ((s, d) => {
      val id = col("doc_id")
      val synth = concat(
        lit("contact user"), id.cast("string"),
        lit("@example.com visit https://ex.com/p"), id.cast("string"),
        lit(" from 10.0.0."), (id % 256).cast("string"),
        lit(" id "), (id * 1000003).cast("string"),
        lit(" end "), col("text"))
      t(s, d, "documents").select(id,
        md5(redactPii(synth)).as("redacted_hash"),
        piiCount(synth).as("n_pii"))
    }),

    // k-ANONYMOUS RELEASE — ta_redact_pii's structured twin: PII regexes
    // scrub direct identifiers, but QUASI-identifier combinations
    // (nation × market segment here) re-identify through linkage; a
    // training-data release keeps a QI combo verbatim only when at
    // least k = 4 records share it, else generalizes it to '*' (the
    // suppressed rows collapse into one residual class, flagged).
    // Plan: QI-class sizes are ONE map-side-partial aggregate bounded
    // by QI cardinality (never corpus rows), broadcast back — the
    // corpus itself is a single scan with no Exchange at any scale.
    // TextSimSpec asserts the hard guarantee: every released
    // non-residual class has >= k members
    // DISCLOSURE-CONTROLLED RELEASE — the census-style pair to
    // ta_k_anonymize/ta_l_diversity: publish per-(lang, source) cell
    // counts with (a) CELL SUPPRESSION below threshold k=5 (a small
    // cell IS a disclosure — its count releases as NULL with the
    // suppression flagged) and (b) additive integer noise on surviving
    // cells, clamped at 0. The noise here is a SEEDED PRF stand-in
    // (md5 of the cell key + salt → a symmetric integer in [-3, 3]) —
    // deterministic so the cross-engine oracle gate can hold; a
    // production release swaps ONE expression for a true discrete
    // Laplace/geometric sampler at calibrated ε (the mm_* stub rule:
    // plumbing real, sampler pluggable). One aggregate + one map —
    // never a per-row pass over suppressed data
    "ta_dp_counts" -> ((s, d) => {
      val h = graft.functions.TextFunctions.hash31(
        concat_ws("|", col("lang"), col("source"), lit("dp_salt_r18")))
      t(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"),
          when(col("n") >= 5,
            greatest(lit(0L), col("n") + (h % 7) - lit(3L))).as("n_noised"),
          (col("n") < 5).as("suppressed"))
    }),

    // WINSORIZED MEAN — the robust pair to q_outlier_iqr: per-language
    // mean document length with values clamped to the exact [p10, p90]
    // rank picks (a single tail crawler distorts a raw mean; clamping
    // at measured deciles is the standard robust estimator). Both
    // bounds are ONE Rank.withGroupRank pass (the two-level exchange —
    // never a per-group buffer) + one conditional-max agg at integer
    // rank cuts ceil(n/10) / ceil(9n/10) (pure integer div, identical
    // in both engines); the tiny per-lang bounds table broadcast-joins
    // back and the clamped sum stays exact bigint to the final divide
    "ta_winsorize" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
      def at(rank: org.apache.spark.sql.Column) =
        max(when(col("rank") === rank, col("n_chars"))).cast("bigint")
      val bounds = graft.operators.Rank.withGroupRank(docs, Seq("lang"),
          "n_chars", tiebreakCols = Seq("doc_id"))
        .groupBy("lang")
        .agg(at(call_function("div", col("n") + 9, lit(10L))).as("p10"),
          at(call_function("div", col("n") * 9 + 9, lit(10L))).as("p90"))
      docs.join(broadcast(bounds), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          max(col("p10")).as("p10"), max(col("p90")).as("p90"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("mean_raw"),
          round(sum(greatest(col("p10"), least(col("p90"), col("n_chars"))))
            .cast("double") / count(lit(1)), 6).as("mean_winsor"))
    }),

    "ta_k_anonymize" -> ((s, d) => {
      val k = 4
      val cust = t(s, d, "customer").select(col("c_custkey"),
        col("c_nationkey").cast("string").as("nat"), col("c_mktsegment").as("seg"))
      val classes = cust.groupBy("nat", "seg").agg(count(lit(1)).as("n_qi"))
      cust.join(broadcast(classes), Seq("nat", "seg"))
        .select(col("c_custkey"),
          when(col("n_qi") >= k, col("nat")).otherwise(lit("*")).as("nat_q"),
          when(col("n_qi") >= k, col("seg")).otherwise(lit("*")).as("seg_q"),
          (col("n_qi") < k).as("suppressed"))
    }),

    // the complete corpus-dedup pipeline: near-dup pairs -> clusters ->
    // one representative kept per cluster (plus all unpaired docs);
    // consumes the SAME shared labeling dedup_components produced
    "dedup_keep_representatives" -> ((s, d) =>
      graft.operators.Components.keepRepresentativesFromLabels(
        t(s, d, "documents"), "doc_id", preparedLabels(s, d))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))),

    // ATTRIBUTION-PRESERVING dedup: dropping a near-dup must not drop
    // its provenance (license/source bookkeeping survives the collapse).
    // Every doc maps to its cluster representative (unclustered docs
    // represent themselves) and the representative carries the merged
    // member count + sorted distinct source list — the third consumer of
    // the ONE shared pair-graph labeling
    "dedup_provenance_merge" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
      docs.join(preparedLabels(s, d).withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("comp"), col("doc_id")))
        .groupBy("rep")
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("source")).as("n_sources"),
          concat_ws(",", sort_array(collect_set(col("source")))).as("sources"))
    }),

    // SOFT dedup: near-dups are DOWNWEIGHTED, not dropped — each doc
    // gets sampling weight 1/|its dup cluster| (singletons keep 1.0),
    // so a later weighted-sampling epoch sees each duplicated content
    // unit with total mass 1 while keeping every variant available.
    // Fourth consumer of the ONE shared pair-graph labeling; the weight
    // column feeds Sampling.weighted unchanged
    "dedup_soft" -> ((s, d) => {
      val sizes = preparedLabels(s, d)
        .groupBy("comp").agg(count(lit(1)).as("cs"))
      val byDoc = preparedLabels(s, d)
        .join(sizes, Seq("comp"))
        .select(col("id").as("doc_id"), col("cs"))
      t(s, d, "documents").select(col("doc_id"))
        .join(byDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cs"), lit(1L)).cast("int").as("cluster_size"),
          round(lit(1.0d) / coalesce(col("cs"), lit(1L)).cast("double"), 6)
            .as("weight"))
    }),

    // token-budget packing: docs -> fixed-budget packs per lang (window
    // cumsum, the distributed form of greedy sequence packing)
    "ta_pack_budget" -> ((s, d) =>
      graft.etl.Packing.withPackId(
        t(s, d, "documents").withColumn("tk", size(tokens(col("text")))),
        "tk", budget = 2000, partitionCols = Seq("lang"), orderCol = "doc_id")
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("tk")).cast("bigint").as("sum_tokens"))),

    // deterministic md5-bucket train/validation/test assignment — a doc
    // never migrates between splits across runs, engines, or partitionings
    "ta_split_sample" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("split", graft.etl.Sampling.splitLabel(col("doc_id")))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))),

    // SINGLE-PASS bounded-state uniform sample: 16 hash-first docs per
    // source through the min-k aggregate — one scan, O(k) state per
    // partial, ≤k packed longs per (partition, group) on the shuffle
    // (where ta_source_cap's exact-window plan takes 3 pruned scans).
    // The oracle is the naive hash-rank window over the same packed key
    "ta_reservoir_sample" -> ((s, d) =>
      graft.etl.Sampling.reservoirByGroup(
        t(s, d, "documents").select(col("source"), col("doc_id")),
        Seq("source"), "doc_id", 16)),

    // quality-WEIGHTED Bernoulli downsampling: every doc keeps with its
    // OWN probability (here: longer docs at a higher rate, capped at 1)
    // — the training-mix dial between a hard quality floor and
    // keep-everything. Map-side filter, zero shuffle, no cross-row
    // state; probabilities are exact integer ppm arithmetic, so the
    // kept SET is hash-identical across engines and partitionings
    "ta_weighted_sample" -> ((s, d) => {
      val ppm = least(lit(1000000L), lit(200000L) + col("n_chars") * 40)
      graft.etl.Sampling.weightedBernoulli(t(s, d, "documents"), "doc_id", ppm)
        .select(col("doc_id"), col("source"), ppm.as("ppm"))
    }),

    // the MIXTURE-REWEIGHTING stage (Pile/Dolma-style): per-source
    // downsampling rates toward a uniform token target, then the mix
    // REALIZED by the same deterministic integer-ppm Bernoulli filter
    // ta_weighted_sample uses — natural share, rate, and the kept
    // masses all in one report, exact integer arithmetic end to end
    "ta_domain_mix" -> ((s, d) => {
      val doc = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("tk"))
      val mix = graft.etl.Sampling.domainMixRates(doc, "source", "tk")
      val kept = graft.etl.Sampling.weightedBernoulli(
          doc.join(broadcast(mix.select(col("source"), col("ppm"))), Seq("source")),
          "doc_id", col("ppm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("tk")).cast("bigint").as("kept_tokens"))
      mix.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("tokens"), col("share"),
          col("rate"), col("ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    }),

    // CONTRASTIVE training-pair construction — the dataset an embedding
    // model trains on: POSITIVES are the verified near-dup pairs (the
    // ONE shared LSH stage — its fifth consumer), NEGATIVES one per doc
    // by antipodal rotation in a seeded hash permutation: rank every
    // doc in md5('cp-1'|id) order (epochShuffle's permutation —
    // uniform, rerun/engine-stable, never rand()) on the two-level rank
    // plan, pair rank r with rank ((r-1+⌊n/2⌋) mod n)+1, orient
    // (min,max), and drop any rotation partner that IS a near-dup.
    // Deterministic end to end, so the whole pair set hash-checks
    "ta_contrastive_pairs" -> ((s, d) => {
      val doc = t(s, d, "documents").select(col("doc_id"))
      val pos = lshPairs(s, d).select(col("id_a"), col("id_b"))
      val h = graft.etl.Sampling.hashOrder(
        concat(lit("cp-1"), lit("|"), col("doc_id").cast("string")))
      val ranked = graft.operators.Rank.withGroupRank(
          doc.select(lit(0).as("g"), col("doc_id"), h.as("hv")),
          Seq("g"), "hv", tiebreakCols = Seq("doc_id"))
        .select(col("doc_id"), col("rank"), col("n"))
      val partner = ranked.select(
        ((col("rank") - 1 + floor(col("n") / 2)) % col("n") + 1).as("rank"),
        col("doc_id").as("p_id"))
      val neg = ranked.join(partner, Seq("rank"))
        .filter(col("doc_id") =!= col("p_id"))
        .select(least(col("doc_id"), col("p_id")).as("id_a"),
          greatest(col("doc_id"), col("p_id")).as("id_b"))
        .distinct()
        .join(pos, Seq("id_a", "id_b"), "left_anti")
      pos.select(col("id_a"), col("id_b"), lit(1).as("label"))
        .unionByName(neg.select(col("id_a"), col("id_b"), lit(0).as("label")))
    }),

    // TEMPERATURE mixing at τ=1/2 (square-root sampling, the
    // multilingual standard): the tempered midpoint between natural
    // composition and ta_domain_mix's uniform target — keep rate
    // √(min_tokens/tokens) per source, smallest source at 1.0, heads
    // flattened but never erased; realized by the same exact integer-ppm
    // Bernoulli filter (√ is correctly rounded, so the ppm is
    // bit-identical across engines — general τ would need libm pow)
    "ta_mix_temperature" -> ((s, d) => {
      val doc = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("tk"))
      val mix = graft.etl.Sampling.sqrtMixRates(doc, "source", "tk")
      val kept = graft.etl.Sampling.weightedBernoulli(
          doc.join(broadcast(mix.select(col("source"), col("ppm"))), Seq("source")),
          "doc_id", col("ppm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("tk")).cast("bigint").as("kept_tokens"))
      mix.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("tokens"), col("share"),
          col("rate"), col("ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    }),

    // GENERAL-τ temperature grid (round-14 verdict item): the same
    // realized mix at τ = 1/4, 1/2, 3/4 — dyadic temperatures whose
    // x^(1−τ) decomposes into repeated correctly-rounded √ factors
    // (Sampling.temperedSqrtCounts, ONE source of truth for Spark and
    // the oracle generator), so the integer-ppm cross-engine guarantee
    // holds WITHOUT libm pow. Same md5-threshold filter at every τ, so
    // the kept sets are nested as τ rises toward natural sampling.
    // FUSED (round-15 verdict item): Sampling.temperedMixGrid computes
    // the per-source aggregate ONCE and every τ's ppm + kept mass from
    // that single G-row frame and one doc-side pass — per-row keep
    // decisions bit-identical to the per-τ legs, ~4 exchanges total
    // instead of ~10 per temperature
    "ta_mix_temperature_grid" -> ((s, d) =>
      graft.etl.Sampling.temperedMixGrid(
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("tk")),
        "source", "tk", "doc_id", mixTemperatures)),

    // URL canonicalization + collapse — the FIRST dedup a crawl pipeline
    // runs: the same page arrives as http/https, with/without www.,
    // tracking params, fragments, trailing slashes, mixed case. URLs are
    // synthesized deterministically per doc (4 wire-variants per page,
    // same construction in the oracle — the ta_redact_pii pattern), so
    // the canonicalizer provably collapses each group to one page
    "ta_url_canon" -> ((s, d) => {
      val grp = expr("doc_id div 4").cast("string")
      val v = pmod(col("doc_id"), lit(4))
      val base = concat(lit("Site"), grp, lit(".Example.com/Path"), grp)
      val url = when(v === 0, concat(lit("http://"), base))
        .when(v === 1, concat(lit("https://www."), base, lit("/")))
        .when(v === 2, concat(lit("https://"), base, lit("?utm_source=feed&ref=x")))
        .otherwise(concat(lit("HTTP://WWW."), upper(base), lit("#frag")))
      t(s, d, "documents")
        .select(col("doc_id"), canonicalizeUrl(url).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep"))
    }),

    // fixed-window chunking with overlap (size 32, stride 24) — the
    // embedding/RAG prep step; per-chunk hash enables chunk-level dedup
    "ta_chunk_windows" -> ((s, d) =>
      graft.etl.Chunking.chunkWindows(t(s, d, "documents"), "text", "doc_id",
        size = 32, stride = 24)),

    // CHUNK-level exact dedup: near-dup docs share whole windows even
    // when no full doc duplicates exist — dedup at chunk granularity
    // keeps the first occurrence of each distinct window (lowest
    // (doc_id, chunk_idx)) and reports per-doc survival. The shuffle
    // carries md5 hashes only, never chunk text — the same
    // digests-not-bodies rule as dedup_exact_docs
    "ta_chunk_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = graft.etl.Chunking.chunkWindows(
        t(s, d, "documents"), "text", "doc_id", size = 32, stride = 24)
      val w = Window.partitionBy("chunk_hash").orderBy(col("doc_id"), col("chunk_idx"))
      chunks.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1).otherwise(0)).cast("bigint").as("n_kept"))
    }),

    // deterministic EPOCH SHUFFLE: every doc addressed by (shard, pos)
    // under the md5 order of (seed | id) — the reproducible global
    // permutation training runs read, reshuffled per epoch by changing
    // the seed string (never rand()). Position within shard is the
    // scale-safe two-level rank, not a per-shard single-reducer window
    "ta_epoch_shuffle" -> ((s, d) =>
      graft.etl.Sampling.epochShuffle(
          t(s, d, "documents").select("doc_id"), "doc_id",
          seed = "epoch-1", nShards = 8)
        .select(col("doc_id"), col("shard"),
          col("pos").cast("long").as("pos"))),

    // LINE-level boilerplate removal (the CCNet/RefinedWeb pre-filter,
    // distinct from ta_chunk_dedup's keep-first rule): a line appearing
    // in ≥ 5 distinct docs is template — navigation, headers, footers —
    // and is removed from EVERY doc, then docs are reconstructed in
    // line order. Multi-line docs are synthesized deterministically
    // (the ta_redact_pii pattern): a per-source subscribe header +
    // 12-token body lines + a per-source copyright footer, so each
    // source's 25 header/footer copies cross the threshold while body
    // content survives — and the oracle replays the identical
    // construction + removal + reassembly
    "ta_line_dedup" -> ((s, d) => {
      // token array staged once per row — same lesson as chunkWindows
      val toks = col("__toks")
      val nBody = greatest(ceil(size(toks).cast("double") / 12).cast("int"), lit(1))
      val bodyArr = transform(sequence(lit(0), nBody - 1),
        i => concat_ws(" ", slice(toks, i * 12 + 1, lit(12))))
      val docLines = concat(
        array(concat(lit("subscribe at "), col("source"))),
        bodyArr,
        array(concat(lit("(c) "), col("source"), lit(" all rights reserved"))))
      val synth = t(s, d, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), concat_ws("\n", docLines).as("ml_text"))
      graft.operators.Dedup
        .removeBoilerplateLines(synth, "ml_text", "doc_id", minDocs = 5)
        .select(col("doc_id"), col("n_lines").cast("long").as("n_lines"),
          col("n_removed").cast("long").as("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // per-source contribution cap (the crawl pipeline's per-domain cap):
    // at most 10 hash-first docs per source. The plan prefilters each
    // stratum by a hash cutoff before ranking, so a hot source never
    // window-sorts whole — exactness restored by the observed-survivor
    // fallback (Sampling.stratifiedQuota)
    "ta_source_cap" -> ((s, d) =>
      graft.etl.Sampling.capPerStratum(
        t(s, d, "documents").select("doc_id", "source"),
        Seq("source"), "doc_id", n = 10)),

    // training-mix rebalancing to per-language quotas: en capped at 30,
    // zh at 10, de's quota covers it whole; langs absent from the quota
    // table (es, fr) are dropped — explicit mixes only
    "ta_quota_sample" -> ((s, d) => {
      val sq = s; import sq.implicits._
      val quotas = Seq(("en", 30), ("zh", 10), ("de", 70)).toDF("lang", "quota")
      graft.etl.Sampling.stratifiedQuota(
        t(s, d, "documents").select("doc_id", "lang"),
        Seq("lang"), "doc_id", quotas, "quota")
    }),

    // global greedy selection under a corpus-wide token budget: best-
    // quality docs until 15k tokens are spent. Histogram thresholding —
    // the corpus never passes through a global sort; only the one
    // straddling quality bucket gets an exact cumsum window. Oracle runs
    // the naive global window: results are row-identical
    "ta_budget_select" -> ((s, d) => {
      val w = tokens(col("text"))
      val nW = size(w).cast("double")
      val dup = lit(1.0) - size(array_distinct(w)).cast("double") / nW
      val stop = tokenCount(col("text"), Seq("the", "a")).cast("double") / nW
      val scored = t(s, d, "documents").select(col("doc_id"),
        size(w).cast("long").as("tk"),
        round(lit(0.5) * stop + lit(0.5) * (lit(1.0) - dup), 6).as("quality"))
      graft.etl.Selection.tokenBudgetSelect(scored, "tk", "quality", "doc_id",
        budget = 15000L)
    }),

    // benchmark decontamination: docs sharing any word-3-gram hash with
    // the held-out "benchmark" subset (doc_id % 97 = 0) are flagged with
    // their distinct-collision count — the n-gram-overlap guard against
    // eval-set leakage in a training corpus. Benchmark grams broadcast;
    // the corpus is filtered map-side and only hits reach the shuffle.
    "ta_decontaminate" -> ((s, d) => {
      val doc = t(s, d, "documents")
      graft.operators.Decontaminate.overlap(
        doc, doc.filter(col("doc_id") % 97 === 0), "text", "doc_id", n = 3)
    }),

    // constant-size decontamination: the benchmark gram set compressed to
    // an 8 KiB Bloom bitset probed map-side, exact confirm join after —
    // same answer as ta_decontaminate's exact broadcast, but the guard
    // stays broadcastable when the held-out set itself is huge
    "ta_bloom_prefilter" -> ((s, d) => {
      val doc = t(s, d, "documents")
      graft.operators.Bloom.prefilteredOverlap(
        doc, doc.filter(col("doc_id") % 89 === 0), "text", "doc_id", n = 3)
    }),

    // the Bloom bitset itself, cross-engine: ≤1041 (word, bits, n_set)
    // rows rebuilt bit-for-bit by the oracle — proves the md5 double
    // hashing, 63-bit word packing, and bit_or merge replay exactly
    "ta_bloom_bitset" -> ((s, d) => {
      val doc = t(s, d, "documents")
      // round-20: fused native distinct-hash set (set-identical to
      // array_distinct(transform(wordNgrams, hash31)); the cross-doc
      // distinct below makes element order immaterial)
      val bench = doc.filter(col("doc_id") % 89 === 0)
        .select(explode(graft.expressions.HashExpressions
          .wordNgramHashes31Native(col("text"), 3)).as("gh"))
        .distinct()
      graft.operators.Bloom.wordRowsHashed(
          bench.select(graft.operators.Bloom.widen31(col("gh")).as("h")), "h")
        .withColumn("n_set", bit_count(col("bits")).cast("bigint"))
    }),

    // corpus boilerplate mining: top-5 word-2-grams per lang by DOCUMENT
    // frequency (distinct per doc, so a spammy doc can't dominate) — the
    // signal behind boilerplate-strip lists; classic word-count shuffle
    // with map-side partial aggregation, then a tiny per-lang top-k window
    "ta_ngram_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // round-20: fused native distinct-gram set (set-identical to
      // array_distinct(wordNgrams); explode → groupBy ignores order)
      val g = t(s, d, "documents")
        .select(col("lang"), explode(graft.expressions.HashExpressions
          .sortedDistinctNgramsNative(col("text"), 2)).as("gram"))
      val w = Window.partitionBy("lang").orderBy(col("df").desc, col("gram"))
      g.groupBy("lang", "gram").agg(count(lit(1)).as("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    }),

    "ta_langid" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val scored = doc.select(col("doc_id") +: col("lang") +:
        langProfiles.map { case (l, ws) => tokenCount(col("text"), ws).as(s"s_${l.last}") }: _*)
      scored.withColumn("guess",
        when(col("s_a") >= col("s_b") && col("s_a") >= col("s_c"), "proto-a")
          .when(col("s_b") >= col("s_c"), "proto-b")
          .otherwise("proto-c"))
    }),

    "ta_quality" -> ((s, d) => {
      val w = tokens(col("text"))
      val nW = size(w).cast("double")
      val dup = lit(1.0) - size(array_distinct(w)).cast("double") / nW
      val stop = tokenCount(col("text"), Seq("the", "a")).cast("double") / nW
      t(s, d, "documents").select(col("doc_id"),
        length(col("text")).as("n_chars_m"), size(w).as("n_words"),
        round(dup, 6).as("dup_ratio"), round(stop, 6).as("stop_ratio"),
        round(lit(0.5) * stop + lit(0.5) * (lit(1.0) - dup), 6).as("quality"))
    }),

    // Gopher-style repetition signals (Rae et al. 2021 §A1.1): fraction
    // of word-2-gram / word-3-gram occurrences that are repeats of an
    // already-seen gram — high values flag boilerplate/spam docs that
    // slip past length and stopword filters
    "ta_repetition" -> ((s, d) => {
      def repRatio(n: Int) = {
        val grams = wordNgrams(col("text"), n)
        val total = size(grams).cast("double")
        when(size(grams) > 0,
          round(lit(1.0) - size(array_distinct(grams)).cast("double") / total, 6))
          .otherwise(lit(0.0))
      }
      t(s, d, "documents").select(col("doc_id"),
        repRatio(2).as("dup_2gram"), repRatio(3).as("dup_3gram"),
        (repRatio(2) > 0.2 || repRatio(3) > 0.18).as("flagged"))
    }),

    // Statistical rarity scoring from the corpus's OWN unigram
    // distribution — the CCNet LM-score quality filter re-expressed in
    // COUNT space (integer sums, divisions only at output) so the score
    // is exact cross-engine; a ln-based perplexity differs between libm
    // implementations at the ulp level and would make hash-exact oracles
    // flaky. avg_tok_ppm = mean corpus frequency (ppm) of the doc's
    // tokens (low = rare/misspelled/noisy text); rare_frac = share of
    // tokens under 5000 ppm. Plan: ONE vocab-sized count shuffle, the
    // unigram table packed into a single broadcast row (same pattern as
    // Decontaminate's gram set), scoring a map-side fold — the corpus is
    // never shuffled. An unbounded vocab would swap the packed map for a
    // broadcast token join; the threshold compare stays in long space
    "ta_rarity_score" -> ((s, d) => {
      val toks = t(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("w"))
      val packed = broadcast(toks.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .agg(map_from_entries(collect_list(struct(col("tok"), col("c")))).as("m"),
          sum(col("c")).as("total")))
      toks.crossJoin(packed)
        .select(col("doc_id"), size(col("w")).as("n_tokens"),
          aggregate(col("w"), lit(0L), (acc, t0) => acc + element_at(col("m"), t0)).as("cnt_sum"),
          size(filter(col("w"),
            t0 => element_at(col("m"), t0) * lit(1000000L) < lit(5000L) * col("total"))).as("n_rare"),
          col("total"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("cnt_sum").cast("double") * lit(1000000.0) /
            (col("n_tokens").cast("double") * col("total").cast("double")), 6).as("avg_tok_ppm"),
          round(col("n_rare").cast("double") / col("n_tokens").cast("double"), 6).as("rare_frac"))
    }),

    // Per-doc top TF-IDF terms — the keyword-extraction primitive for
    // corpus curation (what is this doc ABOUT, without a model). Raw
    // N/df in place of ln(N/df) for the same transcendental-free
    // exactness as ta_rarity_score; rank ties break on the term itself.
    // Plan: per-(doc,term) counts in one shuffle (doc length rides the
    // row — no second pass for doc totals), df as a COUNT window over
    // those same rows (a groupBy+join would recompute the whole explode
    // subtree — Spark does not dedup common subplans), then the per-doc
    // top-3 window: one scan, three linear shuffles
    "ta_tfidf_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = split(col("text"), " ")
      val toks = t(s, d, "documents")
        .select(col("doc_id"), size(words).as("n"), explode(words).as("term"))
      val tf = toks.groupBy("doc_id", "n", "term").agg(count(lit(1)).as("c"))
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val wTop = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.crossJoin(broadcast(nDocs))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .select(col("doc_id"), col("term"),
          round((col("c").cast("double") / col("n").cast("double")) *
            (col("n_docs").cast("double") / col("df").cast("double")), 6).as("score"))
        .withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 3)
    }),

    // BM25 top-10 retrieval for a 3-term query — the lexical ranking
    // half of hybrid search (sim_hybrid_search ranks the vector half).
    // Okapi BM25 with k1=1.2, b=0.75, idf kept as the RAW odds ratio
    // (N−df+0.5)/(df+0.5) — ln() is monotone, so ranking is unchanged
    // and the score stays transcendental-free (the ta_rarity_score /
    // ta_tfidf_terms exactness rule). Plan: term filter BEFORE the
    // tf aggregate (only query-term postings ever shuffle — at 100 TB
    // the posting mass is terms-selectivity-bounded, never corpus-
    // bounded), df from those same rows, corpus stats one tiny
    // aggregate broadcast back. Per-doc term contributions fold in
    // sorted term order (sequential `aggregate` ≡ DuckDB list_reduce,
    // bit-identical — the repo's double-sum rule); top-10 is
    // TakeOrderedAndProject, never a global sort
    "ta_bm25" -> ((s, d) => {
      val qTerms = Seq("dup", "vector", "scan")
      val docs = t(s, d, "documents")
      val words = split(col("text"), " ")
      val tf = docs
        .select(col("doc_id"), size(words).as("dl"), explode(words).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(words)).as("sum_dl"))
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val contrib = idf * (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
      tf.join(broadcast(dfr), "term").crossJoin(broadcast(stats))
        .select(col("doc_id"), col("term"), contrib.as("contrib"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          aggregate(array_sort(collect_list(struct(col("term"), col("contrib")))),
            lit(0.0d), (a, x) => a + x.getField("contrib")).as("raw"))
        .select(col("doc_id"), col("n_terms"), round(col("raw"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),

    "ta_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        md5(normalizeText(col("text"))).as("norm_hash"),
        length(normalizeText(col("text"))).as("norm_len"))),

    // the corpus length distribution as the TRAINING TOKENS see it, not
    // as documents do: per-lang char-length quantiles weighted by token
    // count — the stat behind sequence-length/packing decisions (a few
    // giant docs dominate token mass long before they dominate doc
    // count). Weighted mergeable sketch: bucket counts = Σ weight,
    // still integer, order-free, and SQL-replayable
    "ta_weighted_quantile" -> ((s, d) =>
      graft.operators.QuantileSketch.quantiles(
          graft.operators.QuantileSketch.sketchWeighted(
            t(s, d, "documents").select(col("lang"),
              length(col("text")).as("clen"),
              size(tokens(col("text"))).cast("bigint").as("ws")),
            Seq("lang"), "clen", "ws"),
          Seq("lang"), Seq("p50" -> 0.5, "p90" -> 0.9))
        .withColumnRenamed("n", "n_tokens")),

    "ta_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"), size(tokens(col("text"))).as("ws"), bpeishCount(col("text")).as("bpe"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("sum_ws"), sum(col("bpe")).as("sum_bpe"))),

    "ta_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), fingerprint(col("text")).as("fp"))),

    // HTML -> text extraction, the crawl pipeline's FIRST stage: markup
    // synthesized deterministically per doc (head with title/style/
    // script, comments, entity-laden trailer — the ta_line_dedup
    // synthesize-then-operate pattern), then the composed regexp/replace
    // extraction. script/style/comments drop wholly; tag TEXT survives;
    // entities decode with &amp; last (the double-escape rule); the
    // oracle applies the identical RE2-portable rewrites
    "ta_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>"), col("source"), lit("</title>"),
        lit("<style type=\"text/css\">p { color: #fff; }</style>"),
        lit("<script>if (1 < 2) { emit(\"x\"); }</script></head>"),
        lit("<body><!-- doc "), col("doc_id"), lit(" --><h1>"), col("source"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>Q&amp;A &lt;raw&gt; &quot;quoted&quot; &#39;x&#39;&nbsp;end &amp;lt;esc&amp;gt;</p></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), extractHtmlText(html).as("clean"))
        .select(col("doc_id"), length(col("clean")).cast("long").as("n_chars"),
          md5(col("clean")).as("clean_md5"))
    }),

    // REAL subword tokenization — the frozen-merge-table greedy BPE the
    // regex "BPE-ish" proxy in ta_tokens stands in for: per-source totals
    // under Bpe.LargeMerges (the 1024-merge spec-provenanced production
    // artifact; round-14 verdict item). On in-domain text the trained
    // common words collapse to ~1 token each (exactly what a real
    // tokenizer does), so the key ALSO scores an UNSEEN id-like word per
    // doc (the c_name shape at doc_id positions the training sample
    // never saw) — those split into genuine subwords, exercising the
    // partial-merge path. The oracle replays the encoder as a recursive
    // CTE applying the same (lowest-rank, leftmost) rule over DISTINCT
    // words — the count is part of the operator's definition, not an
    // approximation
    "ta_bpe_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"),
          graft.functions.Bpe.bpeTokenCount(col("text"),
            graft.functions.Bpe.LargeMerges).as("bpe"),
          graft.functions.Bpe.bpeTokenCount(
            concat(lit("Customer#"), lpad(col("doc_id").cast("string"), 9, "0")),
            graft.functions.Bpe.LargeMerges).as("bpe_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("bpe")).as("sum_bpe"),
          sum(col("bpe_id")).as("sum_bpe_id"))),

    // budget selection in the tokens a TRAINING RUN actually consumes:
    // same histogram-thresholded quality selection as ta_budget_select,
    // but the per-doc cost is the real BPE token count, so the selected
    // set is the one a tokenizer-aware pipeline would ship
    "ta_bpe_budget" -> ((s, d) => {
      val w = tokens(col("text"))
      val nW = size(w).cast("double")
      val dup = lit(1.0) - size(array_distinct(w)).cast("double") / nW
      val stop = tokenCount(col("text"), Seq("the", "a")).cast("double") / nW
      val scored = t(s, d, "documents").select(col("doc_id"),
        graft.functions.Bpe.bpeTokenCount(col("text"),
          graft.functions.Bpe.LargeMerges).as("tk"),
        round(lit(0.5) * stop + lit(0.5) * (lit(1.0) - dup), 6).as("quality"))
      graft.etl.Selection.tokenBudgetSelect(scored, "tk", "quality", "doc_id",
        budget = 40000L)
    }),

    // sequence packing in REAL tokenizer tokens — the same distributed
    // window-cumsum pack assignment as ta_pack_budget, but each doc's
    // cost is its BPE token count under the 1024-merge production
    // artifact, so pack boundaries land where a training run's sequence
    // budget actually lands (in-vocab words train to ~1 token each, as a
    // real tokenizer's common words do)
    // the CCNet-style LM FILTER: score every doc's perplexity under a
    // small bigram LM trained on a trusted slice, keep the fluent tail.
    // The model is bounded by construction (top-256 vocab + <unk>), so
    // scoring is one zero-shuffle scan folding each doc's own bigrams
    // against the broadcast maps; the nll fold is sequential, so the
    // unrounded keep-threshold compare is bit-identical to the oracle's
    // list_reduce replay
    "ta_lm_perplexity" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val model = graft.operators.LmScore.bigramModel(
        doc.filter(col("doc_id") % 7 === 0), "text", vocab = 256)
      graft.operators.LmScore.perplexityScore(doc, "text", "doc_id", model,
        maxNll = 6.0)
    }),

    // the fastText-shaped LINEAR quality filter: naive-Bayes log-odds
    // over HASHED token buckets trained on trusted-vs-crawl labels, one
    // bounded broadcast weight map, zero-shuffle map-side scoring; the
    // mean-log-odds fold is sequential, so the unrounded keep-threshold
    // compare is bit-identical to the oracle's list_reduce replay
    "ta_quality_classifier" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val model = graft.operators.QualityClassifier.logOddsModel(
        doc.filter(col("doc_id") % 7 =!= 0)
          .withColumn("pos", col("source").isin("src0", "src2", "src4", "src6", "src8")),
        "text", "pos", buckets = 1024)
      graft.operators.QualityClassifier.score(doc, "text", "doc_id", model,
        minScore = 0.0)
    }),

    "ta_bpe_pack" -> ((s, d) =>
      graft.etl.Packing.withPackId(
        t(s, d, "documents")
          .withColumn("tk", graft.functions.Bpe.bpeTokenCount(col("text"),
            graft.functions.Bpe.LargeMerges)),
        "tk", budget = 6000, partitionCols = Seq("lang"), orderCol = "doc_id")
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("tk")).cast("bigint").as("sum_tokens"))),

    // the flagship LLM-pipeline deliverable, oracle-checked END-TO-END:
    // normalize -> exact dedup -> LSH near-dup clusters -> one
    // representative per cluster -> quality floor -> md5 split ->
    // token-budget packing, all in ONE call; the result is summarized
    // per (lang, split) so the oracle can replay the whole composition
    "pipeline_corpus_prep" -> ((s, d) => {
      val out = graft.etl.CorpusPipeline.prepare(t(s, d, "documents"))
      out.withColumn("tk", size(tokens(normalizeText(col("text")))))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("pack_id")).as("n_packs"),
          sum(col("tk")).cast("bigint").as("sum_tokens"))
    }),

    "mm_meta" -> ((s, d) =>
      graft.multimodal.Multimodal.withPayload(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("meta.byte_len").as("byte_len"),
          col("meta.width").as("width"), col("meta.height").as("height"))),

    // REAL image codec round-trip: synthesize one PNG per doc, decode with
    // javax.imageio, emit (dims, pixel sum). PNG is lossless, so the
    // arithmetic oracle recomputes the decoded pixel sum exactly.
    "mm_decode" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      m.decodePngs(m.synthesizePngs(t(s, d, "documents"), "doc_id")).toDF()
    }),

    // REAL resize in the codec chain: encode -> decode -> nearest-neighbor
    // resize -> re-encode -> decode; integer floor sampling makes the
    // resized pixel sum arithmetically reproducible in SQL
    "mm_resize" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      m.decodePngs(m.resizePngs(m.synthesizePngs(t(s, d, "documents"), "doc_id"),
        tw = 8, th = 6)).toDF()
    }),

    // video-pipeline frame sampling: length-prefixed multi-frame container
    // -> decode every 2nd frame (skipped frames seeked past, not decoded)
    "mm_frame_sample" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      m.sampleFrames(m.synthesizeVideos(t(s, d, "documents"), "doc_id"), stride = 2).toDF()
    }),

    // SCENE/shot-boundary detection over the frame container: every
    // frame's delta energy vs its predecessor (frames decode
    // sequentially, memory bounded at two frames per row), flagged as a
    // cut where the delta exceeds 1.1x the video's own mean — the
    // ADAPTIVE threshold real shot detectors use, in exact integer
    // arithmetic (delta*cnt*10 > sum*11, no float compare). Frame 0 is
    // the opening keyframe by definition and emits no row
    "mm_scene_detect" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      val deltas = m.frameDeltas(m.synthesizeVideos(t(s, d, "documents"), "doc_id")).toDF()
      val stats = deltas.groupBy("doc_id")
        .agg(sum(col("delta_energy")).as("__s"), count(lit(1)).as("__c"))
      deltas.join(broadcast(stats), Seq("doc_id"))
        .select(col("doc_id"), col("frame_idx"), col("delta_energy"),
          (col("delta_energy") * col("__c") * 10 > col("__s") * 11).as("is_cut"))
    }),

    // REAL audio codec round-trip: 16-bit PCM WAV encode + AudioSystem
    // decode (JDK javax.sound.sampled, no extra deps)
    "mm_audio_decode" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      m.decodeWavs(m.synthesizeWavs(t(s, d, "documents"), "doc_id")).toDF()
    }),

    // IMAGE near-dup dedup — the codec family meets the dedup family:
    // decode every PNG, perceptual dHash-64 (9x8 gradient grid, integer
    // floor resize), collapse identical hashes to their min-id
    // representative (exact image dedup — the synthetic corpus has large
    // identical-gradient clusters, exactly the blank-image mass a real
    // crawl carries), then HmSearch 2-of-8-chunk pairs at hamming <= 2
    // among representatives only. The oracle replays the pixel formula,
    // the grid, the bit rule, and the brute-force pair join exactly
    "dedup_image_phash" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      val hashed = m.dHash(m.synthesizePngs(t(s, d, "documents"), "doc_id")).toDF()
      val reps = hashed.groupBy("phash").agg(min(col("doc_id")).as("doc_id"))
      graft.operators.Dedup.hammingPairs64(reps, "phash", "doc_id", maxHamming = 2)
    }),

    // AUDIO near-dup dedup — same composition as dedup_image_phash for
    // the second modality: decode every WAV, 64-bit sign-of-energy-delta
    // fingerprint (65 equal PCM frames), collapse identical fingerprints
    // to min-id representatives, HmSearch pairs at hamming <= 2 among
    // representatives. Lossless PCM => the oracle replays sample formula
    // -> frame energies -> bits -> brute-force pairs exactly
    "dedup_audio_fp" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      val fps = m.audioFingerprint(m.synthesizeWavs(t(s, d, "documents"), "doc_id")).toDF()
      val reps = fps.groupBy("afp").agg(min(col("doc_id")).as("doc_id"))
      graft.operators.Dedup.hammingPairs64(reps, "afp", "doc_id", maxHamming = 2)
    }),

    // the COMPLETE image-corpus dedup, end-to-end: decode -> dHash ->
    // exact collapse (identical hash -> min-id) -> HmSearch near-dup
    // pairs among representatives -> connected components -> one
    // canonical image per cluster. Output is the dedup MANIFEST every
    // doc maps through: (doc, its canonical image id, whether it IS the
    // canon) — what a 100 TB image pipeline writes back so downstream
    // training reads canon images only. Same composition as the text
    // side's pairs -> components -> representatives, over the phash
    // pair machinery
    "mm_image_dedup" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      val hashed = m.dHash(m.synthesizePngs(t(s, d, "documents"), "doc_id")).toDF()
      val reps = hashed.groupBy("phash").agg(min(col("doc_id")).as("rep"))
      val pairs = graft.operators.Dedup.hammingPairs64(
        reps.select(col("phash"), col("rep").as("doc_id")), "phash", "doc_id",
        maxHamming = 2)
      val r = graft.operators.Components.run(
        pairs.select("id_a", "id_b"), "id_a", "id_b")
      if (!r.converged)
        throw new IllegalStateException(
          "mm_image_dedup: component labeling did not converge — a manifest " +
            "from partial labels would name multiple canons per cluster")
      val repCanon = reps
        .join(r.labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
        .select(col("phash"), coalesce(col("comp"), col("rep")).as("canon"))
      hashed.join(repCanon, Seq("phash"))
        .select(col("doc_id"), col("canon").as("canon_id"),
          (col("doc_id") === col("canon")).as("is_canon"))
    }),

    // VIDEO near-dup dedup — the dedup composition for the THIRD
    // modality: dHash every 2nd frame of the container (skipped frames
    // seeked past, never decoded), a video's sampled-hash SET is its
    // keyframe signature; identical signatures collapse to min-id
    // representatives (exact video dedup — repeated-content mass), then
    // signature-Jaccard >= 0.5 pairs among representatives via the
    // PPJoin prefix filter (complete for j >= tau, candidate volume
    // scales with keyframe-hash frequency, never all-pairs). The oracle
    // replays pixel formula -> grid -> bits -> signature sets ->
    // brute-force Jaccard exactly
    "mm_video_dedup" -> ((s, d) => {
      val m = graft.multimodal.Multimodal
      val fh = m.frameHashes(m.synthesizeVideos(t(s, d, "documents"), "doc_id"), stride = 2).toDF()
      val sigs = fh.groupBy("doc_id").agg(array_sort(collect_set(col("fhash"))).as("sig"))
      val reps = sigs.groupBy("sig").agg(min(col("doc_id")).as("doc_id"))
      graft.operators.Dedup.setJaccardPairs(reps, "sig", "doc_id", threshold = 0.5)
    }),

    // per-doc CHARACTER ENTROPY (bits) — the compressibility proxy of the
    // quality family: boilerplate/repetitive docs score low, natural text
    // high. Char counting is explode + two hash aggregates (map-side
    // partial combine absorbs the per-char fan-out — the scan shuffles
    // (doc, char) counts, never raw characters); the Σ c·ln c fold runs
    // over the CHAR-SORTED count list on both engines, so every double
    // add happens in the same order and the unrounded sum is
    // bit-identical to the oracle's list_reduce replay (the established
    // ta_lm_perplexity determinism discipline)
    "ta_entropy" -> ((s, d) =>
      graft.functions.TextStats.charEntropy(t(s, d, "documents"), "doc_id", "text"))
  ) ++ Map[String, QFn](

    // ZIPF FIT: least-squares slope of ln(freq) over ln(rank) for the
    // top-500 corpus terms — the power-law health check of a training
    // mix (natural corpora slope ≈ −1; template/spam mass flattens or
    // steepens it). Term counts are ONE map-side-combined aggregate;
    // the top-500 cut is TakeOrderedAndProject (per-partition top-N,
    // never a global sort); ranking and the 4 regression folds then run
    // over a 500-row bounded frame, each fold in rank order — the
    // ta_lm_perplexity determinism discipline for the ln sums
    "ta_zipf_fit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = t(s, d, "documents")
        .select(explode(tokens(normalizeText(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(500)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("term"))))
      def foldOver(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
          org.apache.spark.sql.Column) =
        aggregate(sort_array(collect_list(struct(col("rank"), col("n")))),
          lit(0.0d), (acc, p) => acc + f(p.getField("rank").cast("double"),
            p.getField("n").cast("double")))
      val m = terms.agg(count(lit(1)).as("n_terms"),
        foldOver((r, _) => log(r)).as("slr"),
        foldOver((_, n) => log(n)).as("slf"),
        foldOver((r, _) => log(r) * log(r)).as("slr2"),
        foldOver((r, n) => log(r) * log(n)).as("slrlf"))
      val nd = col("n_terms").cast("double")
      val slope = (nd * col("slrlf") - col("slr") * col("slf")) /
        (nd * col("slr2") - col("slr") * col("slr"))
      m.select(col("n_terms"), round(slope, 6).as("slope"),
        round((col("slf") - slope * col("slr")) / nd, 6).as("intercept"))
    }),

    // LEXICAL DIVERSITY — the vocabulary-flatness quality signal
    // (ta_entropy's token-level sibling): type-token ratio and hapax
    // fraction per doc. Template/boilerplate mass repeats a tiny
    // vocabulary (low TTR, low hapax); natural prose does not. ONE
    // explode + two hash aggregates, map-side partial combine absorbing
    // the token fan-out — the shuffle carries (doc, token) counts,
    // never raw tokens; ratios are single double divisions over exact
    // integers
    "ta_ttr" -> ((s, d) => {
      val cnt = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(normalizeText(col("text")))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      cnt.groupBy("doc_id")
        .agg(sum(col("c")).cast("bigint").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("bigint").as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
            .as("ttr"),
          round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
            .as("hapax_frac"))
    }),

    // VOCABULARY COVERAGE curve: the token-mass fraction a top-k
    // vocabulary covers at k = 100 / 1000 / 10000 — the sizing readout
    // behind every vocab/tokenizer decision (ta_zipf_fit shows the
    // SHAPE of the distribution; this shows the cut points a budget
    // actually buys). Term counts = ONE map-side-combined aggregate;
    // the top-10k cut is TakeOrderedAndProject (per-partition top-N,
    // never a global sort of the vocabulary); rank + cumulative mass
    // run over the bounded 10k-row frame in rank order (the zipf
    // discipline); total mass rides a 1-row broadcast
    "ta_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, d, "documents")
        .select(explode(tokens(normalizeText(col("text")))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).cast("bigint").as("tc"))
      val top = counts.orderBy(col("c").desc, col("tok")).limit(10000)
      val w = Window.orderBy(col("c").desc, col("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = top
        .withColumn("r", row_number().over(w))
        .withColumn("cum", sum(col("c")).over(w).cast("bigint"))
      Seq(100, 1000, 10000).map { k =>
        ranked.filter(col("r") <= k)
          .agg(max(col("r")).cast("bigint").as("vocab_used"),
            max(col("cum")).cast("bigint").as("covered_tokens"))
          .select(lit(k.toLong).as("k"), col("vocab_used"), col("covered_tokens"))
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(tot))
        .select(col("k"), col("vocab_used"), col("covered_tokens"),
          col("tc").as("total_tokens"),
          round(col("covered_tokens").cast("double") / col("tc").cast("double"), 6)
            .as("coverage"))
    }),

    // CODE-VS-PROSE detector — the corpus-routing filter between langid
    // and quality: code must route to a code pipeline (different
    // tokenizer, different quality rules), not score as bad prose. Pure
    // symbol-density heuristic over a removal-diff character count
    // (length minus length-after-strip — one codegen'd regexp, no
    // explode). Corpus docs are prose, so code-shaped variants are
    // PLANTED deterministically per doc_id (the ta_url_canon pattern)
    // and the oracle replays the identical construction + arithmetic
    "ta_code_score" -> ((s, d) => {
      val txt = when(col("doc_id") % 7 === 0,
        concat(col("text"), expr(
          "repeat(' if (x==1) { return y[0]; }', CAST(doc_id % 3 + 1 AS INT))")))
        .otherwise(col("text"))
      val stripped = regexp_replace(txt, "[{}();=<>\\[\\]]", "")
      t(s, d, "documents").select(col("doc_id"),
        length(txt).cast("bigint").as("n_chars"),
        (length(txt) - length(stripped)).cast("bigint").as("n_code_chars"))
        .select(col("doc_id"), col("n_chars"), col("n_code_chars"),
          round(col("n_code_chars").cast("double") / col("n_chars").cast("double"), 6)
            .as("code_ratio"))
        .withColumn("is_code", col("code_ratio") >= 0.005)
    }),

    // N-GRAM NOVELTY: per doc, the fraction of its distinct word
    // 3-grams FIRST seen in this doc (ownership = min doc_id over the
    // corpus) — the curation dial between dedup (novelty ≈ 0 is a
    // near-copy) and quality (boilerplate-heavy docs score low without
    // being copies of any single doc). The exchange ships (doc, hash31)
    // pairs — 8-byte gram digests, NEVER gram strings (the Dedup.exact
    // rule) — through one min-aggregate and one keyed join back; both
    // engines hash identically so intra-doc digest collisions (distinct
    // grams, same 31-bit hash) collapse the same way on both sides
    "ta_novelty" -> ((s, d) => {
      // round-20: the distinct gram STRINGS were built (interpreted HOF
      // chain), exploded, hashed, then re-distinct'd through an exchange
      // only to collapse intra-doc hash collisions. The fused native
      // wordNgramHashes31 emits the per-doc distinct HASH set directly
      // (collisions already collapsed inside the row), so the explode
      // yields exactly the post-distinct (doc_id, h) set — the distinct
      // exchange is gone and no gram string is ever materialized
      val gr = t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.expressions.HashExpressions
            .wordNgramHashes31Native(col("text"), 3)).as("h"))
      val first = gr.groupBy("h").agg(min(col("doc_id")).as("own"))
      gr.join(first, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("own") === col("doc_id"), 1L).otherwise(0L))
            .cast("bigint").as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
            .as("novelty"))
    }),

    // l-DIVERSITY AUDIT — ta_k_anonymize's second guarantee: a QI class
    // can be k-large yet leak when every member shares ONE sensitive
    // value; each (nation × segment) class must carry >= l distinct
    // sensitive bands. Class stats are ONE map-side-combined aggregate
    // bounded by QI cardinality — never corpus rows through a window
    "ta_l_diversity" -> ((s, d) => {
      val l = 2
      t(s, d, "customer")
        .select(col("c_nationkey").cast("string").as("nat"),
          col("c_mktsegment").as("seg"),
          when(col("c_acctbal") < 0, "debt")
            .when(col("c_acctbal") < 5000, "low")
            .otherwise("high").as("sens"))
        .groupBy("nat", "seg")
        .agg(count(lit(1)).as("n"), count_distinct(col("sens")).as("n_sens"))
        .withColumn("diverse", col("n_sens") >= l)
    })
  )

  // ---- generated oracle fragments ----

  /** DuckDB: per-doc distinct char-3-gram shingle list. */
  private val duckShingles =
    "list_distinct(list_transform(range(1, len(text)-1), i -> substr(text, CAST(i AS INT), 3)))"

  /** DuckDB: distinct 31-bit hashes of the shingle set (mirrors the
    * native `ShingleHashes31`). */
  private val duckShingleHashes =
    s"list_distinct(list_transform($duckShingles, g -> CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 2147483647))"

  private def duckMinhash(seed: Int, listExpr: String): String = {
    val a = graft.functions.TextFunctions.MinhashA(seed)
    val b = graft.functions.TextFunctions.MinhashB(seed)
    s"list_min(list_transform($listExpr, h -> ($a*h + $b) % 2147483647))"
  }

  /** The 128-slot signature as a DuckDB list (for the agreement replay). */
  private val duckSigList = (0 until 128).map(j => s"m$j").mkString("[", ", ", "]")

  /** Replay of the operator's signature-agreement prefilter
    * (`Dedup.minAgree`): count of positions where two signatures agree —
    * deterministic in both engines, so it is part of the LSH operator's
    * definition, not a lossy heuristic. */
  private def duckSigAgree(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 129), i -> CASE WHEN " +
      s"$a.sg[CAST(i AS INT)] = $b.sg[CAST(i AS INT)] THEN 1 ELSE 0 END)) >= " +
      graft.operators.Dedup.minAgree(128, 0.8)

  private val duckSimhashHashes =
    "list_transform(string_split(text, ' '), w -> CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT))"

  /** Second independent 60-bit token hash (md5 hex chars 16..30) — the
    * `hi` half of the 120-bit wide simhash. */
  private val duckSimhashHashesB =
    "list_transform(string_split(text, ' '), w -> CAST(concat('0x', substr(md5(w), 16, 15)) AS BIGINT))"

  private def duckSimhashSumOf(l: String): String = (0 until 60).map { b =>
    s"(CASE WHEN 2*CAST(list_sum(list_transform($l, x -> (x >> $b) & 1)) AS BIGINT) >= len($l) " +
      s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  private val duckSimhashSum = duckSimhashSumOf("hs")

  private val duckJaccardRaw =
    "len(list_intersect(a.s, b.s))*1.0 / len(list_distinct(list_concat(a.s, b.s)))"

  /** Shared CTEs producing per-doc distinct word-3-gram sets (`g`). */
  private val duckNgramCtes =
    """w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       g AS (SELECT doc_id, lang,
               list_distinct(list_transform(range(1, len(ws)-1),
                 i -> ws[CAST(i AS INT)] || '_' || ws[CAST(i AS INT)+1] || '_' || ws[CAST(i AS INT)+2])) AS s
             FROM w WHERE len(ws) >= 3)"""

  /** The k=128 / 16-band LSH near-dup pair oracle — shared by
    * `dedup_minhash_lsh` and the streaming dedup's batch form
    * (`stream_dedup_near` in StreamQueries). */
  private[queries] lazy val lshPairsSql: String = {
    val ms = (0 until 128).map(j => duckMinhash(j, "hs") + s" AS m$j").mkString(", ")
    val bands = (0 until 16).map { b =>
      val parts = (0 until 8).map(r => s"CAST(m${b * 8 + r} AS VARCHAR)").mkString(" || '#' || ")
      s"md5($parts)"
    }.mkString("[", ", ", "]")
    s"""WITH sh AS (SELECT doc_id, $duckShingleHashes AS hs FROM documents WHERE len(text) >= 3),
          sig AS (SELECT doc_id, hs AS s, $ms FROM sh),
          banded AS (SELECT doc_id, s, $duckSigList AS sg, $bands AS bands FROM sig)
        SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
          FROM banded a JOIN banded b
            ON a.doc_id < b.doc_id AND len(list_intersect(a.bands, b.bands)) > 0
           AND ${duckSigAgree("a", "b")})
        WHERE j >= 0.8"""
  }

  /** Cross-set (history vs batch) replay of the LSH pipeline: same
    * sh/sig/banded CTEs as [[lshPairsSql]], the join constrained to
    * history×batch; the size-ratio prune is subsumed exactly by
    * j ≥ τ (j ≥ τ ⇒ min(|A|,|B|) ≥ τ·max), so only the defining
    * band-collision and sig-agree conditions appear. */
  private[queries] def lshAgainstSqlWhere(histPred: String): String = {
    val ms = (0 until 128).map(j => duckMinhash(j, "hs") + s" AS m$j").mkString(", ")
    val bands = (0 until 16).map { b =>
      val parts = (0 until 8).map(r => s"CAST(m${b * 8 + r} AS VARCHAR)").mkString(" || '#' || ")
      s"md5($parts)"
    }.mkString("[", ", ", "]")
    s"""WITH sh AS (SELECT doc_id, $duckShingleHashes AS hs FROM documents WHERE len(text) >= 3),
          sig AS (SELECT doc_id, hs AS s, $ms FROM sh),
          banded AS (SELECT doc_id, s, $duckSigList AS sg, $bands AS bands FROM sig)
        SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
          FROM banded a JOIN banded b
            ON $histPred AND b.doc_id % 3 = 0
           AND len(list_intersect(a.bands, b.bands)) > 0
           AND ${duckSigAgree("a", "b")})
        WHERE j >= 0.8"""
  }

  private[queries] lazy val lshAgainstSql: String =
    lshAgainstSqlWhere("a.doc_id % 3 <> 0")

  /** The frozen 1024-merge table as a DuckDB map literal (rank lookup
    * keyed "left right" — tokens never contain a space; the vocab carries
    * no quote characters, so plain single-quoted literals are safe —
    * guarded below rather than assumed). */
  /** The dyadic temperature grid `ta_mix_temperature_grid` prices —
    * shared by the query and its oracle generator. */
  private val mixTemperatures: Seq[(Int, Int)] = Seq((1, 4), (2, 4), (3, 4))

  /** x^(1−τ) as a DuckDB expression — the SAME √-chain decomposition the
    * Spark side folds ([[graft.etl.Sampling.temperedSqrtCounts]] is the
    * single source of truth), factors multiplied left-to-right in
    * ascending-chain-length order. */
  private def temperedPowSql(tauNum: Int, tauDen: Int, x: String): String =
    graft.etl.Sampling.temperedSqrtCounts(tauNum, tauDen)
      .map(j => (1 to j).foldLeft(x)((c, _) => s"sqrt($c)"))
      .mkString("(", " * ", ")")

  private def bpeMergeMapSql: String = {
    val ms = graft.functions.Bpe.LargeMerges
    require(ms.forall { case (a, b) => !(a + b).exists(c => c == '\'' || c == '\\') },
      "merge tokens must be quote-free to embed as SQL literals")
    val keys = ms.map { case (a, b) => s"'$a $b'" }.mkString(", ")
    val vals = ms.indices.mkString(", ")
    s"map([$keys], [$vals])"
  }

  /** Recursive-CTE replay of the greedy BPE encoder over each DISTINCT
    * word: every step merges the (lowest-rank, leftmost) adjacent pair —
    * `BpeUtil.countTokens`' exact rule — until no pair is in the table
    * (`bi` NULL terminates that word's recursion). Ends with `doctk`
    * (doc_id, bpe). Callers must open with `WITH RECURSIVE`. */
  /** One recursive-encoder CTE chain over the distinct words of
    * `wordsSql` (a `(doc_id, w)` relation), names prefixed with `p`,
    * ending in `<p>tk` (doc_id, bpe). Shares the single `rm` rank map;
    * callers compose one or more chains after `rm` under one
    * `WITH RECURSIVE`. */
  private def bpeTokensCtes(p: String, wordsSql: String): String =
    s"""${p}dw AS ($wordsSql),
       ${p}uw AS (SELECT DISTINCT w FROM ${p}dw),
       ${p}init AS (SELECT w,
                  list_transform(range(1, length(w)+1), i -> substr(w, CAST(i AS INT), 1)) AS toks,
                  0 AS step
                FROM ${p}uw),
       ${p}enc AS (
         SELECT * FROM ${p}init
         UNION ALL
         SELECT w,
                list_concat(list_concat(toks[1:bi-1], [toks[bi] || toks[bi+1]]), toks[bi+2:]) AS toks,
                step + 1
         FROM (
           SELECT e.w, e.toks, e.step, list_position(rks, list_min(rks)) AS bi
           FROM (SELECT w, toks, step,
                        list_transform(range(1, len(toks)),
                          i -> rm.m[toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]][1]) AS rks
                 FROM ${p}enc CROSS JOIN rm) e
         ) WHERE bi IS NOT NULL),
       ${p}wt AS (SELECT w, len(toks) AS n FROM ${p}enc
              QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1),
       ${p}tk AS (SELECT d.doc_id, CAST(sum(${p}wt.n) AS BIGINT) AS bpe
                 FROM ${p}dw d JOIN ${p}wt ON d.w = ${p}wt.w GROUP BY 1)"""

  private lazy val bpeDocTokensCtes: String =
    s"""rm AS (SELECT $bpeMergeMapSql AS m),
       ${bpeTokensCtes("doc", "SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM documents")}"""

  /** The entity-decode chain as nested DuckDB `replace()` calls —
    * generated from the SAME [[graft.functions.TextFunctions.HtmlEntities]]
    * list the Spark expression folds, so the two can never drift. */
  private lazy val htmlEntitySql: String =
    graft.functions.TextFunctions.HtmlEntities
      .foldLeft("t") { case (acc, (e, r)) =>
        s"replace($acc, '${e.replace("'", "''")}', '${r.replace("'", "''")}')"
      }

  val oracle: Map[String, String] = Map(
    "dedup_incremental_near" -> lshAgainstSql,
    // replay: stride-1 12-token windows, global occurrence count >= 2,
    // covered-position expansion, in-order reconstruction of survivors
    "dedup_substring" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents WHERE text IS NOT NULL),
            win AS (SELECT doc_id, CAST(r.s AS INT) AS s,
                           md5(array_to_string(
                             list_slice(toks, CAST(r.s AS INT), CAST(r.s + 11 AS INT)), ' ')) AS wh
                    FROM base, unnest(range(1, greatest(len(toks) - 12 + 2, 1))) AS r(s)),
            hot AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
            cov AS (SELECT DISTINCT w.doc_id, w.s + CAST(o.o AS INT) AS p
                    FROM win w JOIN hot USING (wh), unnest(range(0, 12)) AS o(o)),
            tok AS (SELECT b.doc_id, CAST(r.p AS INT) AS p, b.toks[CAST(r.p AS INT)] AS tok
                    FROM base b, unnest(range(1, len(b.toks) + 1)) AS r(p)),
            kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
                     LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
                     WHERE c.doc_id IS NULL)
         SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
                CAST(len(b.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_dup_tokens,
                md5(coalesce(k.clean_text, '')) AS clean_md5
         FROM base b
         LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
                           string_agg(tok, ' ' ORDER BY p) AS clean_text
                    FROM kept GROUP BY doc_id) k USING (doc_id)""",
    "ta_html_extract" ->
      s"""WITH h AS (SELECT doc_id,
                '<html><head><title>' || source || '</title>' ||
                '<style type="text/css">p { color: #fff; }</style>' ||
                '<script>if (1 < 2) { emit("x"); }</script></head>' ||
                '<body><!-- doc ' || doc_id || ' --><h1>' || source ||
                '</h1><p>' || text ||
                '</p><p>Q&amp;A &lt;raw&gt; &quot;quoted&quot; &#39;x&#39;&nbsp;end &amp;lt;esc&amp;gt;</p></body></html>' AS html
              FROM documents),
            s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
            s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
            s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
            e1 AS (SELECT doc_id, $htmlEntitySql AS t FROM s4),
            fin AS (SELECT doc_id, trim(regexp_replace(t, '[ \\t\\n\\r]+', ' ', 'g')) AS clean FROM e1)
          SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_chars, md5(clean) AS clean_md5
          FROM fin""",
    "ta_bpe_tokens" ->
      s"""WITH RECURSIVE $bpeDocTokensCtes,
          ${bpeTokensCtes("id",
        "SELECT doc_id, 'Customer#' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS w FROM documents")}
          SELECT d.source, count(*) AS n_docs,
                 CAST(sum(coalesce(t.bpe, 0)) AS BIGINT) AS sum_bpe,
                 CAST(sum(i.bpe) AS BIGINT) AS sum_bpe_id
          FROM documents d LEFT JOIN doctk t USING (doc_id)
                           JOIN idtk i USING (doc_id)
          GROUP BY 1""",
    "ta_bpe_budget" ->
      s"""WITH RECURSIVE $bpeDocTokensCtes,
            q AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sc AS (SELECT q.doc_id, t.bpe AS tk,
                     round(0.5*(len(list_filter(q.w, x -> x IN ('the','a')))*1.0/len(q.w))
                         + 0.5*(1.0 - (1.0 - len(list_distinct(q.w))*1.0/len(q.w))), 6) AS quality
                   FROM q JOIN doctk t USING (doc_id)),
            o AS (SELECT doc_id, tk, quality,
                    sum(tk) OVER (ORDER BY quality DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tk AS bef
                  FROM sc)
          SELECT doc_id, tk, quality FROM o WHERE bef < 40000""",
    // full replay of the bigram-LM filter: train counts -> deterministic
    // top-V vocab -> <unk> folding -> mapped bigram counts -> per-doc
    // SEQUENTIAL list_reduce of the ln terms (bit-identical to Spark's
    // aggregate fold, so the unrounded kept-threshold compare agrees)
    "ta_lm_perplexity" ->
      """WITH tr AS (SELECT string_split(text, ' ') AS w FROM documents
                     WHERE doc_id % 7 = 0 AND text IS NOT NULL),
            uni AS (SELECT tok, count(*) AS c
                    FROM (SELECT unnest(w) AS tok FROM tr) GROUP BY 1),
            topv AS (SELECT tok, c FROM uni ORDER BY c DESC, tok ASC LIMIT 256),
            unk AS (SELECT '<unk>' AS tok, coalesce(sum(c), 0) AS c FROM uni
                    WHERE tok NOT IN (SELECT tok FROM topv)),
            m1 AS (SELECT map(list(tok), list(c)) AS m
                   FROM (SELECT * FROM topv UNION ALL SELECT * FROM unk)),
            trm AS (SELECT list_transform(w,
                      t -> CASE WHEN m1.m[t][1] IS NOT NULL THEN t ELSE '<unk>' END) AS mw
                    FROM tr CROSS JOIN m1),
            m2 AS (SELECT map(list(bg), list(c)) AS m FROM (
                     SELECT bg, count(*) AS c FROM (
                       SELECT unnest(list_transform(range(2, len(mw) + 1),
                         i -> mw[CAST(i - 1 AS INT)] || ' ' || mw[CAST(i AS INT)])) AS bg
                       FROM trm WHERE len(mw) >= 2) GROUP BY 1)),
            sc AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                   WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
            scm AS (SELECT doc_id, list_transform(w,
                      t -> CASE WHEN m1.m[t][1] IS NOT NULL THEN t ELSE '<unk>' END) AS mw
                    FROM sc CROSS JOIN m1),
            ll AS (SELECT doc_id, list_transform(range(2, len(mw) + 1), i ->
                     ln((coalesce(m2.m[mw[CAST(i - 1 AS INT)] || ' ' || mw[CAST(i AS INT)]][1], 0) + 1)::DOUBLE
                        / (coalesce(m1.m[mw[CAST(i - 1 AS INT)]][1], 0) + 257)::DOUBLE)) AS lls
                   FROM scm CROSS JOIN m1 CROSS JOIN m2),
            agg AS (SELECT doc_id, len(lls) AS n_bigrams,
                           -list_reduce(lls, (a, b) -> a + b) / len(lls)::DOUBLE AS nll_raw
                    FROM ll)
          SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
                 round(nll_raw, 6) AS nll, nll_raw <= 6.0 AS kept FROM agg""",
    // trains the hashed-bucket NB log-odds model in SQL (occurrence
    // counts per md5-bucket -> add-one log-odds weights in one map +
    // the never-seen default), then scores every doc by the SAME
    // sequential mean-log-odds fold the Spark plan runs
    "ta_quality_classifier" ->
      """WITH tr AS (SELECT (source IN ('src0','src2','src4','src6','src8')) AS pos,
                            string_split(text, ' ') AS w
                     FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL),
            occ AS (SELECT pos,
                           CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                             % 2147483647 % 1024 AS bkt
                    FROM (SELECT pos, unnest(w) AS t FROM tr)),
            pb AS (SELECT bkt, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
                          sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
                   FROM occ GROUP BY 1),
            tot AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
                           sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS nn FROM occ),
            pr AS (SELECT ln((sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1)::DOUBLE
                             / (sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1)::DOUBLE) AS bias
                   FROM tr),
            wm AS (SELECT map(list(bkt),
                              list(ln((cp + 1)::DOUBLE / (np + 1024)::DOUBLE)
                                   - ln((cn + 1)::DOUBLE / (nn + 1024)::DOUBLE))) AS m
                   FROM pb CROSS JOIN tot),
            w0 AS (SELECT ln(1::DOUBLE / (np + 1024)::DOUBLE)
                          - ln(1::DOUBLE / (nn + 1024)::DOUBLE) AS d FROM tot),
            sc AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                   WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 1),
            ll AS (SELECT doc_id, list_transform(w, t ->
                     coalesce(wm.m[CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                                   % 2147483647 % 1024][1], w0.d)) AS lws
                   FROM sc CROSS JOIN wm CROSS JOIN w0),
            agg AS (SELECT doc_id, len(lws) AS n_tokens,
                           pr.bias + list_reduce(lws, (a, b) -> a + b)
                             / len(lws)::DOUBLE AS sraw
                    FROM ll CROSS JOIN pr)
          SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                 round(sraw, 6) AS score, sraw >= 0.0 AS kept FROM agg""",
    // the ta_pack_budget cumsum replay, costed in replayed BPE tokens
    "ta_bpe_pack" ->
      s"""WITH RECURSIVE $bpeDocTokensCtes,
            t AS (SELECT d.lang, d.doc_id, k.bpe AS tk
                  FROM documents d JOIN doctk k USING (doc_id)),
            c AS (SELECT lang, doc_id, tk,
                         sum(tk) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
            r AS (SELECT lang, doc_id, tk, (cum - tk) // 6000 AS rawpack FROM c),
            dd AS (SELECT lang, tk,
                         dense_rank() OVER (PARTITION BY lang ORDER BY rawpack) - 1 AS pack_id
                  FROM r)
         SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
                count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS sum_tokens
         FROM dd GROUP BY 1, 2""",
    // index-then-probe ≡ re-sketch-everything: the store changes where
    // the history's banded signatures LIVE, never what they say
    "dedup_band_store" -> lshAgainstSql,
    // shard-then-merge ≡ index-everything-in-one-place: a merge moves
    // files between roots, never signatures between hash families
    "dedup_band_merge" -> lshAgainstSql,
    // delete ≡ never having indexed the tombstoned docs: the oracle
    // simply excludes them from the history side of the same replay
    "dedup_band_delete" -> lshAgainstSqlWhere(
      "a.doc_id % 3 <> 0 AND a.doc_id % 5 <> 1"),
    // rebucket is pure layout — same bucket-count-blind replay
    "dedup_band_rebucket" -> lshAgainstSql,
    "dedup_exact_docs" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) - 1 AS n_dups
         FROM documents GROUP BY 1""",
    // positives = the shared LSH replay; negatives = the seeded-hash
    // antipodal rotation, min/max-oriented, near-dups anti-joined away
    "ta_contrastive_pairs" ->
      s"""WITH pos AS (SELECT id_a, id_b FROM ($lshPairsSql)),
            r AS (SELECT doc_id,
                         row_number() OVER (
                           ORDER BY CAST(concat('0x', substr(md5('cp-1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                                    doc_id) AS rnk,
                         count(*) OVER () AS n
                  FROM documents),
            pr AS (SELECT a.doc_id AS x, b.doc_id AS y
                   FROM r a JOIN r b
                     ON b.rnk = ((a.rnk - 1 + a.n // 2) % a.n) + 1),
            neg AS (SELECT DISTINCT least(x, y) AS id_a, greatest(x, y) AS id_b
                    FROM pr WHERE x <> y),
            negf AS (SELECT n.id_a, n.id_b FROM neg n
                     LEFT JOIN pos p ON n.id_a = p.id_a AND n.id_b = p.id_b
                     WHERE p.id_a IS NULL)
          SELECT id_a, id_b, 1 AS label FROM pos
          UNION ALL
          SELECT id_a, id_b, 0 AS label FROM negf""",
    // DuckDB regexp_replace is first-match-only without the 'g' flag;
    // Spark's replaces all — the flag keeps the two masks identical
    "dedup_template" ->
      """WITH c AS (
           SELECT doc_id,
                  'GET https://site.example/item/' || CAST(doc_id*13+15 AS VARCHAR)
                    || ' ref ' || CAST(doc_id*17+21 AS VARCHAR) || ' ' || text AS text
           FROM documents
           UNION ALL
           SELECT doc_id + 1048576,
                  'GET https://site.example/item/' || CAST(doc_id*29+31 AS VARCHAR)
                    || ' ref ' || CAST(doc_id*31+35 AS VARCHAR) || ' ' || text
           FROM documents),
         m AS (SELECT doc_id,
                      regexp_replace(regexp_replace(text, 'https?://\S+', '<url>', 'g'),
                                     '[0-9]+', '0', 'g') AS mt
               FROM c)
         SELECT md5(mt) AS template_hash, min(doc_id) AS keep_id,
                count(*) - 1 AS n_dups
         FROM m GROUP BY 1""",
    "dedup_incremental" ->
      """WITH h AS (SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 3 <> 0),
            b AS (SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
                  FROM documents WHERE doc_id % 3 = 0 GROUP BY 1)
         SELECT b.doc_id, b.text_hash
         FROM b LEFT JOIN h ON b.text_hash = h.text_hash
         WHERE h.text_hash IS NULL""",
    "dedup_minhash_sig" -> {
      val cols = (0 until 8).map(j => duckMinhash(j, "hs") + s" AS m$j").mkString(", ")
      s"""WITH sh AS (SELECT doc_id, $duckShingleHashes AS hs FROM documents)
          SELECT doc_id, $cols FROM sh"""
    },
    "dedup_minhash_lsh" -> lshPairsSql,
    "dedup_ngram_jaccard" ->
      s"""WITH $duckNgramCtes
          SELECT block, id_a, id_b, round(j, 6) AS jaccard FROM (
            SELECT a.lang AS block, a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
            FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
          WHERE j >= 0.8""",
    // brute-force containment replay: the prefix filter only generates
    // candidates (complete for C >= tau under any global gram order), so
    // the oracle needs no ordering — set intersection is order-free
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
                    WHERE text IS NOT NULL AND text <> ''),
           ch AS (SELECT doc_id, lang, CAST(r.i AS INT) AS chunk_idx,
                         list_slice(ws, CAST(r.i*24 + 1 AS INT), CAST(r.i*24 + 32 AS INT)) AS cw
                  FROM w, unnest(range(0, ((len(ws) - 1) // 24) + 1)) AS r(i)),
           cg AS (SELECT doc_id, lang, chunk_idx,
                         list_distinct(list_transform(range(1, len(cw) - 1),
                           i -> cw[CAST(i AS INT)] || '_' || cw[CAST(i AS INT)+1] || '_' || cw[CAST(i AS INT)+2])) AS grams
                  FROM ch WHERE len(cw) >= 3),
           dg AS (SELECT doc_id, lang,
                         list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[CAST(i AS INT)] || '_' || ws[CAST(i AS INT)+1] || '_' || ws[CAST(i AS INT)+2])) AS grams
                  FROM w WHERE len(ws) >= 3)
         SELECT src_doc, chunk_idx, host_doc, round(c, 6) AS containment FROM (
           SELECT c.doc_id AS src_doc, c.chunk_idx, d.doc_id AS host_doc,
                  len(list_intersect(c.grams, d.grams))*1.0 / len(c.grams) AS c
           FROM cg c JOIN dg d ON c.lang = d.lang AND c.doc_id <> d.doc_id)
         WHERE c >= 0.8""",
    // transitive closure of the same pair graph, via recursive CTE — the
    // exact reference for the Spark min-label-propagation fixpoint
    "dedup_components" ->
      s"""WITH RECURSIVE $duckNgramCtes,
            p AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
                    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
                  WHERE j >= 0.8),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es)
          SELECT v AS id, least(v, min(r)) AS comp FROM reach GROUP BY v""",
    // same reachability labeling; unclustered docs represent themselves
    "dedup_provenance_merge" ->
      s"""WITH RECURSIVE $duckNgramCtes,
            p AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
                    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
                  WHERE j >= 0.8),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
            lbl AS (SELECT v AS doc_id, least(v, min(r)) AS comp FROM reach GROUP BY v),
            wc AS (SELECT d.doc_id, d.source, coalesce(l.comp, d.doc_id) AS rep
                   FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id)
          SELECT rep, count(*) AS n_members,
                 count(DISTINCT source) AS n_sources,
                 string_agg(DISTINCT source, ',' ORDER BY source) AS sources
          FROM wc GROUP BY rep""",
    // same reachability labeling; weight = 1/|cluster|, singletons 1.0
    "dedup_soft" ->
      s"""WITH RECURSIVE $duckNgramCtes,
            p AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
                    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
                  WHERE j >= 0.8),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
            comp AS (SELECT v AS id, least(v, min(r)) AS comp FROM reach GROUP BY v),
            cs AS (SELECT comp, count(*) AS n FROM comp GROUP BY 1)
          SELECT d.doc_id, CAST(coalesce(cs.n, 1) AS INT) AS cluster_size,
                 round(CAST(1 AS DOUBLE) / coalesce(cs.n, 1), 6) AS weight
          FROM documents d
          LEFT JOIN comp c ON c.id = d.doc_id
          LEFT JOIN cs ON cs.comp = c.comp""",
    "ta_redact_pii" -> {
      val steps = graft.functions.TextFunctions.PiiPatterns
      def red(expr: String, upTo: Int): String =
        steps.take(upTo).foldLeft(expr) { case (e, (p, tag)) =>
          s"regexp_replace($e, '$p', '$tag', 'g')"
        }
      val counts = steps.zipWithIndex.map { case ((p, _), i) =>
        s"len(regexp_extract_all(${red("s0", i)}, '$p'))"
      }.mkString(" + ")
      s"""WITH b AS (SELECT doc_id,
              concat('contact user', CAST(doc_id AS VARCHAR),
                     '@example.com visit https://ex.com/p', CAST(doc_id AS VARCHAR),
                     ' from 10.0.0.', CAST(doc_id % 256 AS VARCHAR),
                     ' id ', CAST(doc_id * 1000003 AS VARCHAR),
                     ' end ', text) AS s0
            FROM documents)
          SELECT doc_id, md5(${red("s0", steps.size)}) AS redacted_hash,
                 CAST($counts AS INT) AS n_pii
          FROM b"""
    },
    // the class sizes replayed as a window count; same >= k gate
    "ta_dp_counts" ->
      """WITH c AS (SELECT lang, source, count(*) AS n
                    FROM documents GROUP BY 1, 2),
           h AS (SELECT lang, source, n,
                        CAST('0x' || substr(md5(concat_ws('|', lang, source, 'dp_salt_r18')), 1, 8)
                          AS BIGINT) % 2147483647 AS hh
                 FROM c)
         SELECT lang, source,
                CASE WHEN n >= 5
                     THEN greatest(CAST(0 AS BIGINT), n + (hh % 7) - 3) END AS n_noised,
                n < 5 AS suppressed
         FROM h""",
    "ta_winsorize" ->
      """WITH r AS (SELECT lang, n_chars,
                           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
                           count(*) OVER (PARTITION BY lang) AS n
                    FROM documents),
           b AS (SELECT lang,
                        CAST(min(CASE WHEN rk = (n+9)//10 THEN n_chars END) AS BIGINT) AS p10,
                        CAST(min(CASE WHEN rk = (9*n+9)//10 THEN n_chars END) AS BIGINT) AS p90
                 FROM r GROUP BY 1)
         SELECT d.lang, count(*) AS n, b.p10, b.p90,
                round(CAST(sum(d.n_chars) AS DOUBLE) / count(*), 6) AS mean_raw,
                round(CAST(sum(greatest(b.p10, least(b.p90, d.n_chars))) AS DOUBLE)
                      / count(*), 6) AS mean_winsor
         FROM documents d JOIN b USING (lang)
         GROUP BY 1, 3, 4""",
    "ta_k_anonymize" ->
      """WITH c AS (SELECT c_custkey,
                           CAST(c_nationkey AS VARCHAR) AS nat,
                           c_mktsegment AS seg,
                           count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n_qi
                    FROM customer)
         SELECT c_custkey,
                CASE WHEN n_qi >= 4 THEN nat ELSE '*' END AS nat_q,
                CASE WHEN n_qi >= 4 THEN seg ELSE '*' END AS seg_q,
                n_qi < 4 AS suppressed
         FROM c""",
    "dedup_keep_representatives" ->
      s"""WITH RECURSIVE $duckNgramCtes,
            p AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
                    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
                  WHERE j >= 0.8),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
            comp AS (SELECT v AS id, least(v, min(r)) AS comp FROM reach GROUP BY v)
          SELECT lang, count(*) AS n_kept
          FROM documents
          WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)
          GROUP BY lang""",
    "ta_pack_budget" ->
      """WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS tk FROM documents),
            c AS (SELECT lang, doc_id, tk,
                         sum(tk) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
            r AS (SELECT lang, doc_id, tk, (cum - tk) // 2000 AS rawpack FROM c),
            d AS (SELECT lang, tk,
                         dense_rank() OVER (PARTITION BY lang ORDER BY rawpack) - 1 AS pack_id
                  FROM r)
         SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
                count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS sum_tokens
         FROM d GROUP BY 1, 2""",
    "ta_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE text IS NOT NULL AND text <> ''),
            ch AS (SELECT doc_id, CAST(r.i AS INT) AS chunk_idx,
                     md5(array_to_string(list_slice(ws, CAST(r.i*24 + 1 AS INT), CAST(r.i*24 + 32 AS INT)), ' ')) AS chunk_hash
                   FROM w, unnest(range(0, ((len(ws) - 1) // 24) + 1)) AS r(i)),
            k AS (SELECT doc_id,
                     row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
                  FROM ch)
         SELECT doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM k GROUP BY doc_id""",
    // the naive per-shard rank window: the two-level plan must be
    // row-identical to it
    "ta_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
                           CAST(concat('0x', substr(md5('epoch-1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
                    FROM documents)
         SELECT doc_id, hv % 8 AS shard,
                row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
         FROM h""",
    // replay construction (header + 12-token body lines + footer),
    // frequency rule (>= 5 distinct docs), removal, and in-order
    // reassembly — the md5 of the rebuilt text is the checked fact
    "ta_line_dedup" ->
      """WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                       FROM documents),
            built AS (
              SELECT doc_id,
                     list_prepend('subscribe at ' || source,
                       list_append(
                         list_transform(
                           range(0, greatest(CAST(ceil(len(toks) / 12.0) AS INT), 1)),
                           i -> array_to_string(
                                  list_slice(toks, CAST(i*12 + 1 AS INT), CAST(i*12 + 12 AS INT)), ' ')),
                         '(c) ' || source || ' all rights reserved')) AS lines
              FROM base),
            ln AS (SELECT doc_id, CAST(r.i AS INT) AS line_no,
                          lines[CAST(r.i + 1 AS INT)] AS line
                   FROM built, unnest(range(0, len(lines))) AS r(i)),
            hot AS (SELECT md5(line) AS lh FROM ln WHERE line <> ''
                    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
            kept AS (SELECT doc_id, line_no, line FROM ln
                     WHERE md5(line) NOT IN (SELECT lh FROM hot)),
            agg AS (SELECT doc_id, count(*) AS n_kept,
                           string_agg(line, chr(10) ORDER BY line_no) AS clean_text
                    FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines FROM built)
         SELECT t.doc_id, t.n_lines,
                t.n_lines - coalesce(a.n_kept, 0) AS n_removed,
                md5(coalesce(a.clean_text, '')) AS clean_md5
         FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id""",
    // naive per-stratum hash rank: the prefiltered plan must be
    // row-identical to it
    "ta_source_cap" ->
      """SELECT doc_id, source FROM documents
         QUALIFY row_number() OVER (PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                    doc_id) <= 10""",
    "ta_quota_sample" ->
      """WITH q(lang, quota) AS (VALUES ('en', 30), ('zh', 10), ('de', 70))
         SELECT doc_id, lang FROM documents JOIN q USING (lang)
         QUALIFY row_number() OVER (PARTITION BY lang
           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                    doc_id) <= quota""",
    // the naive GLOBAL cumsum form of the budget selection — the
    // histogram-threshold plan must reproduce it row for row
    "ta_budget_select" ->
      """WITH q AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS tk,
                    round(0.5*(len(list_filter(w, x -> x IN ('the','a')))*1.0/len(w))
                        + 0.5*(1.0 - (1.0 - len(list_distinct(w))*1.0/len(w))), 6) AS quality
                  FROM q),
            o AS (SELECT doc_id, tk, quality,
                    sum(tk) OVER (ORDER BY quality DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tk AS bef
                  FROM m)
         SELECT doc_id, tk, quality FROM o WHERE bef < 15000""",
    // the packed key replays exactly: 28 md5 hash bits over 32 id bits,
    // min-k per group = the hash-rank window's first k rows
    "ta_reservoir_sample" ->
      """WITH h AS (SELECT DISTINCT source, doc_id,
                      ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) >> 4) << 32)
                        | doc_id AS pk
                    FROM documents)
         SELECT source, row_number() OVER (PARTITION BY source ORDER BY pk) AS sample_rank, doc_id
         FROM h QUALIFY sample_rank <= 16""",
    "ta_split_sample" ->
      """SELECT CASE WHEN b < 80 THEN 'train'
                     WHEN b < 90 THEN 'validation'
                     ELSE 'test' END AS split,
                lang, count(*) AS n
         FROM (SELECT lang,
                      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
               FROM documents)
         GROUP BY 1, 2""",
    "ta_weighted_sample" ->
      """SELECT doc_id, source, least(1000000, 200000 + n_chars * 40) AS ppm
         FROM documents
         WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000000 < least(1000000, 200000 + n_chars * 40)""",
    // replays rates (integer-ppm floor toward the uniform token target)
    // and the realized md5-threshold Bernoulli keep in one statement
    "ta_domain_mix" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS tk
                    FROM documents),
            per AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(tk) AS BIGINT) AS tokens FROM d GROUP BY 1),
            tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
                           count(*) AS n_groups FROM per),
            mix AS (SELECT source, n_docs, tokens,
                           round(tokens::DOUBLE / total::DOUBLE, 6) AS share,
                           least(1000000, CAST(floor(1000000 * total::DOUBLE
                             / (n_groups::DOUBLE * tokens::DOUBLE)) AS BIGINT)) AS ppm
                    FROM per CROSS JOIN tot),
            kept AS (SELECT d.source, count(*) AS n_kept,
                            CAST(sum(d.tk) AS BIGINT) AS kept_tokens
                     FROM d JOIN mix USING (source)
                     WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 1000000 < mix.ppm
                     GROUP BY 1)
          SELECT m.source, m.n_docs, m.tokens, m.share,
                 m.ppm::DOUBLE / 1000000 AS rate, m.ppm,
                 coalesce(k.n_kept, 0) AS n_kept,
                 coalesce(k.kept_tokens, 0) AS kept_tokens
          FROM mix m LEFT JOIN kept k USING (source)""",
    // same replay as ta_domain_mix with the sqrt-tempered ppm: keep
    // rate √(min_tokens/tokens), floored to integer ppm (sqrt is
    // correctly rounded — bit-identical across engines)
    "ta_mix_temperature" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS tk
                    FROM documents),
            per AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(tk) AS BIGINT) AS tokens FROM d GROUP BY 1),
            tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
                           CAST(min(tokens) AS BIGINT) AS min_tokens FROM per),
            mix AS (SELECT source, n_docs, tokens,
                           round(tokens::DOUBLE / total::DOUBLE, 6) AS share,
                           least(1000000, CAST(floor(1000000 * sqrt(
                             min_tokens::DOUBLE / tokens::DOUBLE)) AS BIGINT)) AS ppm
                    FROM per CROSS JOIN tot),
            kept AS (SELECT d.source, count(*) AS n_kept,
                            CAST(sum(d.tk) AS BIGINT) AS kept_tokens
                     FROM d JOIN mix USING (source)
                     WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 1000000 < mix.ppm
                     GROUP BY 1)
          SELECT m.source, m.n_docs, m.tokens, m.share,
                 m.ppm::DOUBLE / 1000000 AS rate, m.ppm,
                 coalesce(k.n_kept, 0) AS n_kept,
                 coalesce(k.kept_tokens, 0) AS kept_tokens
          FROM mix m LEFT JOIN kept k USING (source)""",
    // the τ grid: one (mix, kept) CTE pair per dyadic temperature, the
    // pow replaced by the generated √-chain product (same decomposition
    // the Spark fold applies — temperedSqrtCounts is shared)
    "ta_mix_temperature_grid" -> {
      val blocks = mixTemperatures.map { case (n, dn) =>
        val pow = temperedPowSql(n, dn, "min_tokens::DOUBLE / tokens::DOUBLE")
        s"""mix_${n}_$dn AS (SELECT source, n_docs, tokens,
                     round(tokens::DOUBLE / total::DOUBLE, 6) AS share,
                     least(1000000, CAST(floor(1000000 * $pow) AS BIGINT)) AS ppm
                FROM per CROSS JOIN tot),
           kept_${n}_$dn AS (SELECT d.source, count(*) AS n_kept,
                      CAST(sum(d.tk) AS BIGINT) AS kept_tokens
               FROM d JOIN mix_${n}_$dn m USING (source)
               WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 1000000 < m.ppm
               GROUP BY 1)"""
      }
      val selects = mixTemperatures.map { case (n, dn) =>
        s"""SELECT $n AS tau_num, $dn AS tau_den, m.source, m.n_docs, m.tokens,
                  m.share, m.ppm::DOUBLE / 1000000 AS rate, m.ppm,
                  coalesce(k.n_kept, 0) AS n_kept,
                  coalesce(k.kept_tokens, 0) AS kept_tokens
           FROM mix_${n}_$dn m LEFT JOIN kept_${n}_$dn k USING (source)"""
      }
      s"""WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS tk
                     FROM documents),
            per AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(tk) AS BIGINT) AS tokens FROM d GROUP BY 1),
            tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
                           CAST(min(tokens) AS BIGINT) AS min_tokens FROM per),
            ${blocks.mkString(",\n            ")}
          ${selects.mkString("\n          UNION ALL ")}"""
    },
    "ta_url_canon" ->
      """WITH b AS (SELECT doc_id,
                           'Site' || CAST(doc_id // 4 AS VARCHAR) ||
                           '.Example.com/Path' || CAST(doc_id // 4 AS VARCHAR) AS base
                    FROM documents),
           u AS (SELECT doc_id, CASE doc_id % 4
                    WHEN 0 THEN 'http://' || base
                    WHEN 1 THEN 'https://www.' || base || '/'
                    WHEN 2 THEN 'https://' || base || '?utm_source=feed&ref=x'
                    ELSE 'HTTP://WWW.' || upper(base) || '#frag' END AS url
                 FROM b),
           c AS (SELECT doc_id,
                        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                          lower(url), '^https?://', ''), '^(www\.)+', ''),
                          '[?#].*$', ''), '/+$', '') AS canon_url
                 FROM u)
         SELECT canon_url, count(*) AS n_docs, min(doc_id) AS rep
         FROM c GROUP BY 1""",
    "dedup_simhash" ->
      s"""WITH h AS (SELECT doc_id, $duckSimhashHashes AS hs FROM documents)
          SELECT doc_id, $duckSimhashSum AS simhash, len(hs) AS n_tokens FROM h""",
    // brute-force ALL-pairs hamming over the wide hash — no pigeonhole
    // condition baked in, so this checks the Spark candidate generator's
    // completeness, not just its verification arithmetic
    "dedup_simhash_pairs" ->
      s"""WITH h AS (SELECT doc_id, $duckSimhashHashes AS hs,
                            $duckSimhashHashesB AS hs2 FROM documents),
            s AS (SELECT doc_id, ${duckSimhashSumOf("hs")} AS lo,
                         ${duckSimhashSumOf("hs2")} AS hi FROM h)
          SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
          WHERE hamming <= 8""",
    "ta_chunk_windows" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE text IS NOT NULL AND text <> '')
         SELECT doc_id, CAST(r.i AS INT) AS chunk_idx,
                CAST(len(list_slice(ws, CAST(r.i*24 + 1 AS INT), CAST(r.i*24 + 32 AS INT))) AS INT) AS n_tokens,
                md5(array_to_string(list_slice(ws, CAST(r.i*24 + 1 AS INT), CAST(r.i*24 + 32 AS INT)), ' ')) AS chunk_hash
         FROM w, unnest(range(0, ((len(ws) - 1) // 24) + 1)) AS r(i)""",
    "ta_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
                    i -> CAST(concat('0x', substr(md5(ws[CAST(i AS INT)] || '_' || ws[CAST(i AS INT)+1] || '_' || ws[CAST(i AS INT)+2]), 1, 8)) AS BIGINT) % 2147483647))) AS gh
                  FROM w),
            b AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0)
         SELECT doc_id, count(*) AS n_hit_grams
         FROM g JOIN b USING (gh) GROUP BY doc_id""",
    // EXACT decontamination SQL: the Bloom layer is a no-false-negative
    // prefilter plus an exact confirm join, so the oracle is the same
    // exact-overlap query — any dropped true positive hash-mismatches
    "ta_bloom_prefilter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
                    i -> CAST(concat('0x', substr(md5(ws[CAST(i AS INT)] || '_' || ws[CAST(i AS INT)+1] || '_' || ws[CAST(i AS INT)+2]), 1, 8)) AS BIGINT) % 2147483647))) AS gh
                  FROM w),
            b AS (SELECT DISTINCT gh FROM g WHERE doc_id % 89 = 0)
         SELECT doc_id, count(*) AS n_hit_grams
         FROM g JOIN b USING (gh) GROUP BY doc_id""",
    // bit-for-bit Bloom bitset replay: widen31 prehash (gh · 536870923),
    // Kirsch-Mitzenmacher positions (h1 + i*h2) mod 2^16 with odd h2,
    // 63-bit words, bit_or merge — mirrors operators/Bloom term-for-term
    "ta_bloom_bitset" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
                    i -> CAST(concat('0x', substr(md5(ws[CAST(i AS INT)] || '_' || ws[CAST(i AS INT)+1] || '_' || ws[CAST(i AS INT)+2]), 1, 8)) AS BIGINT) % 2147483647))) AS gh
                  FROM w),
            b AS (SELECT DISTINCT gh FROM g WHERE doc_id % 89 = 0),
            hh AS (SELECT gh, gh * 536870923 AS h FROM b),
            pp AS (SELECT ((h & ((1::BIGINT << 30) - 1)) + i * ((h >> 30) | 1)) % 65536 AS pos
                   FROM hh, range(0, 4) r(i))
         SELECT pos // 63 AS word,
                bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits,
                CAST(bit_count(bit_or(1::BIGINT << CAST(pos % 63 AS INT))) AS BIGINT) AS n_set
         FROM pp GROUP BY 1""",
    "ta_ngram_topk" ->
      """WITH w AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
            g AS (SELECT lang, unnest(list_distinct(list_transform(range(1, len(ws)),
                    i -> ws[CAST(i AS INT)] || '_' || ws[CAST(i AS INT)+1]))) AS gram
                  FROM w),
            c AS (SELECT lang, gram, count(*) AS df FROM g GROUP BY 1, 2)
         SELECT lang, gram, df, rank FROM (
           SELECT lang, gram, df,
                  row_number() OVER (PARTITION BY lang ORDER BY df DESC, gram) AS rank
           FROM c)
         WHERE rank <= 5""",
    "ta_langid" -> {
      val scores = langProfiles.map { case (l, ws) =>
        val set = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), x -> x IN ($set))) AS s_${l.last}"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents)
          SELECT doc_id, lang, s_a, s_b, s_c,
                 CASE WHEN s_a >= s_b AND s_a >= s_c THEN 'proto-a'
                      WHEN s_b >= s_c THEN 'proto-b'
                      ELSE 'proto-c' END AS guess
          FROM sc"""
    },
    "ta_quality" ->
      """WITH q AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
            m AS (SELECT doc_id, len(text) AS n_chars_m, len(w) AS n_words,
                    1.0 - len(list_distinct(w))*1.0/len(w) AS dup,
                    len(list_filter(w, x -> x IN ('the','a')))*1.0/len(w) AS stop
                  FROM q)
          SELECT doc_id, n_chars_m, n_words, round(dup, 6) AS dup_ratio,
                 round(stop, 6) AS stop_ratio,
                 round(0.5*stop + 0.5*(1.0 - dup), 6) AS quality
          FROM m""",
    "ta_repetition" -> {
      def g(n: Int) = {
        val parts = (0 until n).map(k => s"ws[CAST(i AS INT)+$k]").mkString(" || '_' || ")
        s"list_transform(range(1, len(ws) - ${n - 2}), i -> $parts)"
      }
      def ratio(n: Int) =
        s"""CASE WHEN len(${g(n)}) > 0
                 THEN round(1.0 - len(list_distinct(${g(n)}))*1.0 / len(${g(n)}), 6)
                 ELSE 0.0 END"""
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          SELECT doc_id, ${ratio(2)} AS dup_2gram, ${ratio(3)} AS dup_3gram,
                 (${ratio(2)} > 0.2 OR ${ratio(3)} > 0.18) AS flagged
          FROM w"""
    },
    // integer sums joined per token, one division at output — the exact
    // replay of the packed-map fold (long addition is order-free)
    "ta_rarity_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           cnt AS (SELECT tok, count(*) AS c
                   FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1),
           tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
           scored AS (
             SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
                    CAST(sum(c.c) AS BIGINT) AS cnt_sum,
                    CAST(sum(CASE WHEN c.c * 1000000 < 5000 * tot.total
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
             FROM (SELECT doc_id, unnest(w) AS tok FROM toks) t
             JOIN cnt c ON t.tok = c.tok
             CROSS JOIN tot
             GROUP BY 1)
         SELECT doc_id, n_tokens,
                round(CAST(cnt_sum AS DOUBLE) * 1000000.0 /
                      (CAST(n_tokens AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS avg_tok_ppm,
                round(CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS rare_frac
         FROM scored CROSS JOIN tot""",
    "ta_tfidf_terms" ->
      """WITH toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n,
                              unnest(string_split(text, ' ')) AS term
                       FROM documents),
           tf AS (SELECT doc_id, n, term, count(*) AS c FROM toks GROUP BY 1, 2, 3),
           dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           nd AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, term, score, rank FROM (
           SELECT doc_id, term, score,
                  CAST(row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term) AS INT) AS rank
           FROM (SELECT tf.doc_id, tf.term,
                        round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                              (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
                 FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN nd))
         WHERE rank <= 3""",
    // the same BM25 replayed: filtered postings, raw-odds idf, the exact
    // double expression shape, per-doc fold in sorted term order
    "ta_bm25" ->
      """WITH toks AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                              unnest(string_split(text, ' ')) AS term
                       FROM documents),
           tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
                  WHERE term IN ('dup', 'vector', 'scan')
                  GROUP BY 1, 2, 3),
           dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           st AS (SELECT count(*) AS n_docs,
                         sum(len(string_split(text, ' '))) AS sum_dl
                  FROM documents),
           contribs AS (
             SELECT tf.doc_id, tf.term,
                    (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
                      (CAST(df AS DOUBLE) + 0.5) *
                      (CAST(tf AS DOUBLE) * 2.2) /
                      (CAST(tf AS DOUBLE) +
                       1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
                         (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS contrib
             FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN st)
         SELECT doc_id, n_terms, score FROM (
           SELECT doc_id, count(*) AS n_terms,
                  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(contrib ORDER BY term)), (a, b) -> a + b), 6) AS score
           FROM contribs GROUP BY doc_id)
         QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 10""",
    "ta_normalize" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
                len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_len
         FROM documents""",
    "ta_weighted_quantile" -> Common.quantileSketchOracleSql(
      """SELECT lang, CAST(length(text) AS BIGINT) AS vc,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents""",
      "lang", Seq("p50" -> 0.5, "p90" -> 0.9),
      weighted = true, outScale = "", nName = "n_tokens"),
    "ta_tokens" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws,
                CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS sum_bpe
         FROM documents GROUP BY source""",
    "ta_fingerprint" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(text, ' '),
                      w -> CAST(ascii(substr(w, 1, 1))*31 + len(w) AS BIGINT))),
                  (a, b) -> (a*131 + b) % 2147483647) AS fp
         FROM documents""",
    // the full corpus-prep composition, replayed stage by stage: every CTE
    // below is the already-verified oracle of one pipeline stage (exact
    // dedup <- ek; LSH banding <- dedup_minhash_lsh; closure <-
    // dedup_components; split <- ta_split_sample; packing <- ta_pack_budget)
    "pipeline_corpus_prep" -> {
      val norm =
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      val ms = (0 until 128).map(j => duckMinhash(j, "hs") + s" AS m$j").mkString(", ")
      val bands = (0 until 16).map { b =>
        val parts = (0 until 8).map(r => s"CAST(m${b * 8 + r} AS VARCHAR)").mkString(" || '#' || ")
        s"md5($parts)"
      }.mkString("[", ", ", "]")
      val bucket = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
      s"""WITH RECURSIVE
            ek AS (SELECT doc_id, lang, text FROM (
                     SELECT doc_id, lang, text,
                            min(doc_id) OVER (PARTITION BY md5($norm)) AS keep
                     FROM documents) WHERE doc_id = keep),
            sh AS (SELECT doc_id, $duckShingleHashes AS hs FROM ek WHERE len(text) >= 3),
            sig AS (SELECT doc_id, hs AS s, $ms FROM sh),
            banded AS (SELECT doc_id, s, $duckSigList AS sg, $bands AS bands FROM sig),
            p AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccardRaw AS j
                    FROM banded a JOIN banded b
                      ON a.doc_id < b.doc_id AND len(list_intersect(a.bands, b.bands)) > 0
                     AND ${duckSigAgree("a", "b")})
                  WHERE j >= 0.8),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
            comp AS (SELECT v AS id, least(v, min(r)) AS comp FROM reach GROUP BY v),
            reps AS (SELECT doc_id, lang, text FROM ek
                     WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)),
            qual AS (SELECT doc_id, lang, len(string_split($norm, ' ')) AS tk
                     FROM reps
                     WHERE len(string_split($norm, ' ')) >= 5
                       AND 1.0 - len(list_distinct(string_split($norm, ' ')))*1.0
                                 / len(string_split($norm, ' ')) <= 0.6),
            sp AS (SELECT doc_id, lang, tk,
                          CASE WHEN $bucket < 80 THEN 'train'
                               WHEN $bucket < 90 THEN 'validation'
                               ELSE 'test' END AS split
                   FROM qual),
            c AS (SELECT lang, split, doc_id, tk,
                         sum(tk) OVER (PARTITION BY lang, split ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM sp),
            rw AS (SELECT lang, split, tk, (cum - tk) // 2000 AS rawpack FROM c),
            dn AS (SELECT lang, split, tk,
                          dense_rank() OVER (PARTITION BY lang, split ORDER BY rawpack) - 1 AS pack_id
                   FROM rw)
          SELECT lang, split, count(*) AS n_docs,
                 CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
                 CAST(sum(tk) AS BIGINT) AS sum_tokens
          FROM dn GROUP BY lang, split"""
    },

    "mm_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
                CAST(64 + CAST(concat('0x', substr(md5(text), 1, 6)) AS BIGINT) % 960 AS INT) AS width,
                CAST(64 + CAST(concat('0x', substr(md5(text), 7, 6)) AS BIGINT) % 960 AS INT) AS height
         FROM documents""",
    "mm_decode" ->
      """SELECT doc_id,
                CAST(4 + doc_id % 13 AS INT) AS width,
                CAST(4 + doc_id % 11 AS INT) AS height,
                CAST(list_sum(flatten(list_transform(range(0, 4 + doc_id % 11), y ->
                       list_transform(range(0, 4 + doc_id % 13), x ->
                         (doc_id*31 + y*7 + x*13) % 256)))) AS BIGINT) AS sum_gray
         FROM documents""",
    // the resized image samples source pixel (x*w//8, y*h//6) — identical
    // integer floor arithmetic to the Java raster loop
    "mm_resize" ->
      """SELECT doc_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
                CAST(list_sum(flatten(list_transform(range(0, 6), y ->
                       list_transform(range(0, 8), x ->
                         (doc_id*31 + ((y * (4 + doc_id % 11)) // 6)*7
                                    + ((x * (4 + doc_id % 13)) // 8)*13) % 256)))) AS BIGINT) AS sum_gray
         FROM documents""",
    // every 2nd frame of the 3 + id%5 frame container; frame f's pixels
    // add f*17 to the still-image formula
    "mm_frame_sample" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
                CAST(4 + doc_id % 13 AS INT) AS width,
                CAST(4 + doc_id % 11 AS INT) AS height,
                CAST(list_sum(flatten(list_transform(range(0, 4 + doc_id % 11), y ->
                       list_transform(range(0, 4 + doc_id % 13), x ->
                         (doc_id*31 + f*17 + y*7 + x*13) % 256)))) AS BIGINT) AS sum_gray
         FROM documents, unnest(range(0, 3 + doc_id % 5)) AS r(f)
         WHERE f % 2 = 0""",
    // per-frame delta energy replayed from the synthetic pixel formula;
    // the adaptive cut flag compares in exact integer arithmetic
    "mm_scene_detect" ->
      """WITH d AS (
           SELECT doc_id, CAST(f AS INT) AS frame_idx,
                  CAST(list_sum(flatten(list_transform(range(0, 4 + doc_id % 11), y ->
                         list_transform(range(0, 4 + doc_id % 13), x ->
                           abs((doc_id*31 + f*17 + y*7 + x*13) % 256 -
                               (doc_id*31 + (f-1)*17 + y*7 + x*13) % 256))))) AS BIGINT) AS delta_energy
           FROM documents, unnest(range(1, 3 + doc_id % 5)) AS r(f)),
           st AS (SELECT doc_id, sum(delta_energy) AS s, count(*) AS c
                  FROM d GROUP BY 1)
         SELECT d.doc_id, d.frame_idx, d.delta_energy,
                d.delta_energy * st.c * 10 > st.s * 11 AS is_cut
         FROM d JOIN st USING (doc_id)""",
    // 16-bit PCM samples round-trip losslessly through the WAV container
    "mm_audio_decode" ->
      """SELECT doc_id, CAST(100 + doc_id % 50 AS INT) AS n_samples,
                CAST(8000 AS INT) AS sample_rate,
                CAST(list_sum(list_transform(range(0, 100 + doc_id % 50), i ->
                       abs((doc_id*31 + i*13) % 65536 - 32768))) AS BIGINT) AS sum_abs
         FROM documents""",
    // dHash bits replayed from the synthetic pixel formula: 9x8 grid via
    // the same integer floor sampling as the Java raster loop, bit = 1
    // iff grid(x+1,y) > grid(x,y); identical bit-lists collapse to their
    // min-id representative, then brute-force pairs at hamming <= 2
    // (grouping by the 64-element bit list == grouping by the packed
    // 64-bit hash — the packing is bijective)
    "dedup_image_phash" ->
      """WITH g AS (
           SELECT doc_id,
                  list_transform(range(0, 8), y ->
                    list_transform(range(0, 9), x ->
                      (doc_id*31 + ((y * (4 + doc_id % 11)) // 8)*7
                                 + ((x * (4 + doc_id % 13)) // 9)*13) % 256)) AS px
           FROM documents),
         b AS (
           SELECT doc_id,
                  flatten(list_transform(px, row ->
                    list_transform(range(1, 9), x ->
                      CASE WHEN row[CAST(x AS INT) + 1] > row[CAST(x AS INT)]
                           THEN 1 ELSE 0 END))) AS bits
           FROM g),
         reps AS (SELECT min(doc_id) AS doc_id, bits FROM b GROUP BY bits)
         SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM (
           SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                  list_sum(list_transform(range(1, 65), i ->
                    CASE WHEN a.bits[CAST(i AS INT)] <> c.bits[CAST(i AS INT)]
                         THEN 1 ELSE 0 END)) AS hamming
           FROM reps a JOIN reps c ON a.doc_id < c.doc_id)
         WHERE hamming <= 2""",
    // the image-dedup manifest: the phash bit replay + brute-force pairs
    // above, then the recursive-CTE closure (dedup_components' pattern)
    // and every doc mapped through its exact-rep to the cluster canon
    "mm_image_dedup" ->
      """WITH RECURSIVE g AS (
           SELECT doc_id,
                  list_transform(range(0, 8), y ->
                    list_transform(range(0, 9), x ->
                      (doc_id*31 + ((y * (4 + doc_id % 11)) // 8)*7
                                 + ((x * (4 + doc_id % 13)) // 9)*13) % 256)) AS px
           FROM documents),
         b AS (
           SELECT doc_id,
                  flatten(list_transform(px, row ->
                    list_transform(range(1, 9), x ->
                      CASE WHEN row[CAST(x AS INT) + 1] > row[CAST(x AS INT)]
                           THEN 1 ELSE 0 END))) AS bits
           FROM g),
         reps AS (SELECT min(doc_id) AS rep, bits FROM b GROUP BY bits),
         p AS (SELECT id_a, id_b FROM (
                 SELECT a.rep AS id_a, c.rep AS id_b,
                        list_sum(list_transform(range(1, 65), i ->
                          CASE WHEN a.bits[CAST(i AS INT)] <> c.bits[CAST(i AS INT)]
                               THEN 1 ELSE 0 END)) AS hamming
                 FROM reps a JOIN reps c ON a.rep < c.rep)
               WHERE hamming <= 2),
         e AS (SELECT id_a AS es, id_b AS ed FROM p
               UNION SELECT id_b, id_a FROM p),
         reach AS (SELECT es AS v, ed AS r FROM e
                   UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
         comp AS (SELECT v AS id, least(v, min(r)) AS comp FROM reach GROUP BY v),
         repc AS (SELECT r.bits, coalesce(c.comp, r.rep) AS canon
                  FROM reps r LEFT JOIN comp c ON r.rep = c.id)
         SELECT b.doc_id, rc.canon AS canon_id, b.doc_id = rc.canon AS is_canon
         FROM b JOIN repc rc ON b.bits = rc.bits""",
    // audio fingerprint bits replayed from the synthetic PCM formula:
    // 65 integer-bound frames, energy = sum |sample|, bit = next frame
    // louder; identical bit-lists collapse to min-id representatives,
    // then brute-force pairs at hamming <= 2
    "dedup_audio_fp" ->
      """WITH e AS (SELECT doc_id, 100 + doc_id % 50 AS n FROM documents),
         fr AS (
           SELECT doc_id,
                  list_transform(range(0, 65), f ->
                    coalesce(list_sum(list_transform(
                      range((f*n)//65, ((f+1)*n)//65), i ->
                        abs((doc_id*31 + i*13) % 65536 - 32768))), 0)) AS en
           FROM e),
         b AS (
           SELECT doc_id,
                  list_transform(range(1, 65), f ->
                    CASE WHEN en[CAST(f AS INT) + 1] > en[CAST(f AS INT)]
                         THEN 1 ELSE 0 END) AS bits
           FROM fr),
         reps AS (SELECT min(doc_id) AS doc_id, bits FROM b GROUP BY bits)
         SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM (
           SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                  list_sum(list_transform(range(1, 65), i ->
                    CASE WHEN a.bits[CAST(i AS INT)] <> c.bits[CAST(i AS INT)]
                         THEN 1 ELSE 0 END)) AS hamming
           FROM reps a JOIN reps c ON a.doc_id < c.doc_id)
         WHERE hamming <= 2""",
    // video keyframe signatures replayed from the synthetic pixel
    // formula: per sampled frame (every 2nd of 3 + id%5) the dHash bit
    // string (bijective with the packed 64-bit hash, so grouping by it
    // == grouping by the hash), signature = sorted distinct bit-string
    // set; identical signatures collapse to min-id representatives,
    // then brute-force pairs at Jaccard >= 0.5 (one integer intersect,
    // one IEEE division — same arithmetic as the Spark verify)
    "mm_video_dedup" ->
      """WITH px AS (
           SELECT doc_id, f,
                  list_transform(range(0, 8), y ->
                    list_transform(range(0, 9), x ->
                      (doc_id*31 + f*17 + ((y * (4 + doc_id % 11)) // 8)*7
                                 + ((x * (4 + doc_id % 13)) // 9)*13) % 256)) AS px
           FROM documents, unnest(range(0, 3 + doc_id % 5)) AS r(f)
           WHERE f % 2 = 0),
         b AS (
           SELECT doc_id,
                  array_to_string(flatten(list_transform(px, row ->
                    list_transform(range(1, 9), x ->
                      CASE WHEN row[CAST(x AS INT) + 1] > row[CAST(x AS INT)]
                           THEN 1 ELSE 0 END))), '') AS bs
           FROM px),
         sig AS (SELECT doc_id, list_sort(list_distinct(list(bs))) AS sig
                 FROM b GROUP BY doc_id),
         reps AS (SELECT min(doc_id) AS doc_id, sig FROM sig GROUP BY sig)
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
           SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                  CAST(len(list_intersect(a.sig, c.sig)) AS DOUBLE) /
                  CAST(len(a.sig) + len(c.sig) - len(list_intersect(a.sig, c.sig)) AS DOUBLE) AS j
           FROM reps a JOIN reps c ON a.doc_id < c.doc_id)
         WHERE j >= 0.5""",
    // the Σ c·ln(c) fold replays over the same char-sorted list, so the
    // double adds happen in the Spark aggregate()'s exact order
    "ta_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
           cnt AS (SELECT doc_id, c AS ch, count(*) AS n
                   FROM ch WHERE length(c) > 0 GROUP BY 1, 2),
           agg AS (SELECT doc_id,
                          CAST(sum(n) AS BIGINT) AS n_chars,
                          count(*) AS n_distinct,
                          list_reduce(list_prepend(CAST(0 AS DOUBLE),
                            list(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) ORDER BY ch)),
                            (a, b) -> a + b) AS slc
                   FROM cnt GROUP BY 1)
         SELECT doc_id, n_chars, n_distinct,
                round((ln(CAST(n_chars AS DOUBLE)) - slc / CAST(n_chars AS DOUBLE))
                      / ln(2.0), 6) AS entropy_bits
         FROM agg""",
    // rank-ordered list_reduce folds = the Spark aggregate()'s exact
    // double-add order; same closed form over identical doubles
    "ta_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS term
                      FROM documents),
           tc AS (SELECT term, count(*) AS n FROM tok WHERE term <> '' GROUP BY 1),
           top AS (SELECT * FROM (
                     SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
                     FROM tc)
                   WHERE rank <= 500),
           f AS (SELECT count(*) AS n_terms,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(ln(CAST(rank AS DOUBLE)) ORDER BY rank)), (a,b) -> a + b) AS slr,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(ln(CAST(n AS DOUBLE)) ORDER BY rank)), (a,b) -> a + b) AS slf,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) ORDER BY rank)), (a,b) -> a + b) AS slr2,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE)) ORDER BY rank)), (a,b) -> a + b) AS slrlf
                 FROM top),
           g AS (SELECT n_terms,
                        (CAST(n_terms AS DOUBLE)*slrlf - slr*slf)
                        / (CAST(n_terms AS DOUBLE)*slr2 - slr*slr) AS slope,
                        slr, slf
                 FROM f)
         SELECT n_terms, round(slope, 6) AS slope,
                round((slf - slope*slr) / CAST(n_terms AS DOUBLE), 6) AS intercept
         FROM g""",
    "ta_ttr" ->
      """WITH tok AS (SELECT doc_id,
                             unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS t
                      FROM documents),
           cnt AS (SELECT doc_id, t, count(*) AS c
                   FROM tok WHERE t <> '' GROUP BY 1, 2),
           agg AS (SELECT doc_id,
                          CAST(sum(c) AS BIGINT) AS n_tokens,
                          count(*) AS n_types,
                          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
                   FROM cnt GROUP BY 1)
         SELECT doc_id, n_tokens, n_types, n_hapax,
                round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
                round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_frac
         FROM agg""",
    "ta_l_diversity" ->
      """WITH c AS (SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg,
                           CASE WHEN c_acctbal < 0 THEN 'debt'
                                WHEN c_acctbal < 5000 THEN 'low'
                                ELSE 'high' END AS sens
                    FROM customer)
         SELECT nat, seg, count(*) AS n, count(DISTINCT sens) AS n_sens,
                count(DISTINCT sens) >= 2 AS diverse
         FROM c GROUP BY 1, 2""",

    // normalizeText + whitespace tokens replayed; the rank order is the
    // deterministic (count DESC, token ASC) total order on both sides
    "ta_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                         ' +', ' ', 'g')), ' ')) AS tok
                      FROM documents),
           c AS (SELECT tok, count(*) AS c FROM toks WHERE length(tok) > 0 GROUP BY 1),
           tot AS (SELECT CAST(sum(c) AS BIGINT) AS tc FROM c),
           r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r,
                        sum(c) OVER (ORDER BY c DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM c QUALIFY r <= 10000),
           ks AS (SELECT CAST(u.k AS BIGINT) AS k FROM unnest([100, 1000, 10000]) AS u(k))
         SELECT ks.k,
                CAST(max(r.r) AS BIGINT) AS vocab_used,
                CAST(max(r.cum) AS BIGINT) AS covered_tokens,
                tot.tc AS total_tokens,
                round(CAST(max(r.cum) AS DOUBLE)/CAST(tot.tc AS DOUBLE), 6) AS coverage
         FROM ks JOIN r ON r.r <= ks.k CROSS JOIN tot
         GROUP BY ks.k, tot.tc""",

    "ta_code_score" ->
      """WITH t AS (SELECT doc_id,
                           CASE WHEN doc_id % 7 = 0
                                THEN text || repeat(' if (x==1) { return y[0]; }',
                                                    CAST(doc_id % 3 + 1 AS INT))
                                ELSE text END AS txt
                    FROM documents),
           m AS (SELECT doc_id, CAST(length(txt) AS BIGINT) AS n_chars,
                        CAST(length(txt) - length(
                          regexp_replace(txt, '[{}();=<>\[\]]', '', 'g')) AS BIGINT)
                          AS n_code_chars
                 FROM t)
         SELECT doc_id, n_chars, n_code_chars,
                round(CAST(n_code_chars AS DOUBLE)/CAST(n_chars AS DOUBLE), 6) AS code_ratio,
                round(CAST(n_code_chars AS DOUBLE)/CAST(n_chars AS DOUBLE), 6) >= 0.005 AS is_code
         FROM m""",

    // the shared word-3-gram CTEs + the hash31 digest, so intra-doc
    // digest collisions collapse identically on both sides
    "ta_novelty" ->
      s"""WITH $duckNgramCtes,
            ed AS (SELECT DISTINCT doc_id,
                          CAST('0x'||substr(md5(u.g),1,8) AS BIGINT) % 2147483647 AS h
                   FROM g, unnest(s) AS u(g)),
            f AS (SELECT h, min(doc_id) AS own FROM ed GROUP BY 1)
          SELECT ed.doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN f.own = ed.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                 round(CAST(sum(CASE WHEN f.own = ed.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) AS novelty
          FROM ed JOIN f USING (h) GROUP BY 1"""
  )
}
