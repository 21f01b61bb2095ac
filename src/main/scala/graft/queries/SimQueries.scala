package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import Common._

/** SURVEY.md §2.D (similarity half) — embedding near-dup, brute-force
  * top-k, and IVF-bucketed ANN over the `embeddings` table. Oracle dot
  * products use DuckDB `list_reduce` to replicate Spark's `aggregate`
  * left-fold order bit-for-bit.
  */
object SimQueries {

  private def centroids(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "embeddings").filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid")

  /** One centroid-partitioned [[graft.sinks.AnnStore]] per (application,
    * sf dir), built on first use (a [[Scratch]] memo dir: the store is a
    * full copy of the embeddings table, deleted on clear). */
  private def annStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Scratch.memoDir(s, d, "ann") { dir =>
      // label rides the assignment's zero-shuffle fold into the store's
      // partition files — the serving metadata sim_ann_filtered's pushed
      // predicate reads without any join
      val assigned = Similarity.ivfAssign(t(s, d, "embeddings"), "embedding", "vec_id",
        centroids(s, d), "cid", keepVec = true, metaCols = Seq("label"))
      graft.sinks.AnnStore.write(assigned, dir + "/store")
    } + "/store"

  /** One centroid-partitioned PQ-code store (+ its codebook) per
    * (application, sf dir) — the `sim_ivfpq_search` serving index:
    * codebook trained, corpus encoded, codes laid out by their coarse
    * cluster ([[graft.sinks.AnnStore.writePq]]), codebook persisted next
    * to them (it is part of the index — a query must not retrain it).
    * A memo dir like [[annStore]]: Bench clears it per pass so the
    * artifact's median is the cold index build, and the `warm` entry
    * records the serving-only cost — the production build-once-query-many
    * shape. */
  private def pqStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Scratch.memoDir(s, d, "pq") { dir =>
      val e = t(s, d, "embeddings")
      val pq = graft.operators.ProductQuant
      val cb = pq.train(e, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      val codes = pq.encode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", centroids(s, d), "cid")
      graft.sinks.AnnStore.writePq(assigned, codes, "vec_id", dir + "/store")
      cb.write.mode("overwrite").parquet(dir + "/codebook")
    }

  val defs: Map[String, QFn] = Map(
    // scale path: IVF-assign each vector to its nearest centroid (zero
    // shuffle), then near-dup pairs only WITHIN a centroid bucket — the
    // all-pairs cartesian never exists in the plan. The oracle mirrors the
    // same bucketing (like LSH's band condition), so parity is exact.
    "dedup_embedding" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid")
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", cents, "cid", keepVec = true)
      Dedup.embeddingNearDups(assigned, "v", "vec_id",
        threshold = 0.45, blockCol = Some("centroid_id"))
    }),

    // sign-random-projection LSH — the banded (training-free) candidate
    // generator for the HIGH-cosine regime IVF clustering is overkill
    // for: near-exact duplicates are planted deterministically (one
    // damped dimension per vector, cos ≈ 0.98–0.999 — the ta_url_canon
    // pattern: the oracle replays the same construction), and the
    // 48-bit/3-band signatures recover them with candidate mass ≈ the
    // true dup mass (measured α≈1.0–1.2; random collisions ≈ 1.5e-5 per
    // band pair)
    "dedup_embedding_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val variant = e.select((col("vec_id") + lit(1048576L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("vec_id"), lit(64)).cast("int"),
            x.cast("double") * 0.5) // ×0.5 is exact in IEEE — engine-portable
            .otherwise(x.cast("double"))).as("v"))
      graft.operators.RandomProjection.rpLshPairs(
        base.unionByName(variant), "v", "vec_id", dims = 64, threshold = 0.9)
    }),

    // PRICE THE BANDS DIAL (the SRP analog of sim_ann_recall's nProbe
    // pricing): over the planted-positive set, how many τ=0.9 true pairs
    // do the first 1/2/3 bands recover — the measured recall curve a
    // 100 TB operator needs before choosing its band count. Truth is the
    // planted pair set (the deterministic construction above; measured:
    // no unplanted pair reaches τ at these scales), so both sides stay
    // linear — no all-pairs truth scan
    "dedup_lsh_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val variant = e.select((col("vec_id") + lit(1048576L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("vec_id"), lit(64)).cast("int"),
            x.cast("double") * 0.5)
            .otherwise(x.cast("double"))).as("v"))
      val corpus = base.unionByName(variant)
      val cand = graft.operators.RandomProjection.rpLshCandidates(
        corpus, "v", "vec_id", dims = 64)
      import graft.expressions.VectorExpressions.{dot, l2norm}
      val planted = base.select(col("vec_id").as("id_a"), col("v").as("va"))
        .join(variant.select((col("vec_id") - lit(1048576L)).as("id_a"),
          col("vec_id").as("id_b"), col("v").as("vb")), "id_a")
        .withColumn("cos",
          dot(col("va"), col("vb")) / (l2norm(col("va")) * l2norm(col("vb"))))
        .join(cand, Seq("id_a", "id_b"), "left")
      val isTrue = col("cos") >= 0.9
      val one = planted.agg(
        sum(when(isTrue, 1L).otherwise(0L)).as("n_true"),
        sum(when(isTrue && col("min_band") <= 0, 1L).otherwise(0L)).as("f1"),
        sum(when(isTrue && col("min_band") <= 1, 1L).otherwise(0L)).as("f2"),
        sum(when(isTrue && col("min_band") <= 2, 1L).otherwise(0L)).as("f3"))
      one.select(explode(array(
          struct(lit(1).as("n_bands"), col("n_true"), col("f1").as("n_found")),
          struct(lit(2).as("n_bands"), col("n_true"), col("f2").as("n_found")),
          struct(lit(3).as("n_bands"), col("n_true"), col("f3").as("n_found")))).as("r"))
        .select(col("r.n_bands"), col("r.n_true"), col("r.n_found"),
          round(col("r.n_found").cast("double") / col("r.n_true"), 6).as("recall"))
    }),

    "sim_topk_cosine" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.topK(e, "embedding", "vec_id", e.filter(col("vec_id") === 0), k = 10)
    }),

    // MMR DIVERSITY RERANK over the exact top-20: greedy
    // λ·rel − μ·max-sim-to-selected selection of 5 — retrieval scoring
    // stays fully distributed, the greedy runs on the ROUTE-bounded
    // collected candidate page (20 rows — the ANN stores' probe-route
    // discipline); oracle = the greedy UNROLLED as 5 chained CTEs over
    // the same rounded relevance/similarity values
    "sim_mmr_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.mmrRerank(e.filter(col("vec_id") =!= 0), "embedding", "vec_id",
        e.filter(col("vec_id") === 0), topN = 20, k = 5,
        lambda = 0.7, mu = 0.3)
    }),

    "sim_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfAssign(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid")
    }),

    // kNN GRAPH: every vector's 5 nearest neighbors, candidates blocked
    // by IVF clusters (home-cluster index ⋈ 2-probe query side — both
    // sides assigned by zero-shuffle broadcast folds; candidate mass
    // ≈ n·nProbe/K of the n² grid, never a cartesian). The primitive
    // under SemDeDup, graph clustering, and ANN-graph construction;
    // KnnGraphSpec proves probing all K clusters ≡ brute-force kNN
    "sim_knn_graph" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.knnGraph(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        k = 5, nProbe = 2)
    }),

    // PRICE THE GRAPH'S nProbe DIAL corpus-wide — sim_ann_recall's
    // corpus-to-corpus twin: per sampled point (1/16 of the corpus,
    // deterministic), hits of the 2-probe blocked graph's top-5 vs the
    // exact self-excluded top-5. Truth is brute force by definition,
    // but bounded: the SAMPLE rides one broadcast (hinted at the cross
    // join, the one place it is the build side), scoring is map-side
    // — sample-size × corpus work, never corpus². Explicit-zero rows
    // for sampled points the blocked graph misses entirely
    "sim_knn_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings")
      val g = Similarity.knnGraph(e, "embedding", "vec_id",
          e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
          k = 5, nProbe = 2)
        .filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("q_id"), col("nbr_id"))
      val sample = e.filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("q_id"),
          transform(col("embedding"), _.cast("double")).as("q_v"))
      val exact = e
        .select(col("vec_id").as("nbr_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .crossJoin(broadcast(sample))
        .filter(col("nbr_id") =!= col("q_id"))
        .select(col("q_id"), col("nbr_id"),
          round(Similarity.cosine(col("v"), col("q_v")), 6).as("cos"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id"))))
        .filter(col("rank") <= 5)
      val hits = exact.select(col("q_id"), col("nbr_id"))
        .join(g, Seq("q_id", "nbr_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      sample.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5, 6).as("recall"))
    }),

    // MUTUAL-kNN CLUSTERING — corpus structure discovery over the graph:
    // keep only reciprocated edges (a lists b AND b lists a — the
    // public mutual-kNN rule that strips hub-induced false links), then
    // transitive closure via the shared Components machinery; output =
    // per-cluster sizes (label = min member id; unlinked points are
    // singletons). The composition SemDeDup-style pipelines run when
    // the pair set comes from a graph instead of a threshold
    "sim_knn_components" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val g = Similarity.knnGraph(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        k = 5, nProbe = 2)
      // mutuality as ONE keyed aggregate over the normalized pair key —
      // a self-join would re-evaluate the whole graph for its second
      // side (Spark doesn't dedup common subplans) and shuffle
      // graph-against-graph instead of one map-side-combined hash agg
      val mutual = g
        .select(least(col("vec_id"), col("nbr_id")).as("a"),
          greatest(col("vec_id"), col("nbr_id")).as("b"),
          (col("vec_id") < col("nbr_id")).as("fwd"))
        .groupBy("a", "b").agg(countDistinct(col("fwd")).as("nd"))
        .filter(col("nd") === 2).select("a", "b")
      val labels = graft.operators.Components.connectedComponents(mutual, "a", "b")
      e.select(col("vec_id"))
        .join(labels, col("vec_id") === col("id"), "left")
        .select(coalesce(col("comp"), col("vec_id")).as("cluster"))
        .groupBy("cluster").agg(count(lit(1)).as("n_members"))
    }),

    // one NN-DESCENT round over that graph: candidates = edges ∪
    // reversals ∪ two-hop pairs, exact rescore, top-5 kept — the
    // standard recall-repair step after blocked construction (recall
    // is monotone: every current neighbor stays a candidate; an exact
    // graph is a fixed point — both spec-proven in KnnGraphSpec).
    // Candidate mass is k²-bounded per point, linear in corpus size
    "sim_knn_refine" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = Similarity.knnGraph(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        k = 5, nProbe = 2)
      Similarity.knnRefine(base, e, "embedding", "vec_id", k = 5)
    }),

    // int8 scalar quantization: deterministic per-dim codebook, per-row
    // encode, output checksummed per vector
    "sim_quantize" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.scalarQuantize(e, "embedding", "vec_id",
          Similarity.quantizeStats(e, "embedding"))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L),
            (a, c) => (a * 131 + c) % 2147483647L).as("code_fp"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"))
    }),

    // end-to-end ANN: probe the query's 2 nearest centroids, rank only
    // those clusters — whole-corpus scoring never appears in the plan
    "sim_ann_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfSearch(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        query = e.filter(col("vec_id") === 0), k = 10, nProbe = 2)
    }),

    // EXACT radius search — the range twin of top-k serving: every
    // member with cosine >= τ, with clusters pruned by the spherical
    // triangle inequality (angle(q,x) >= angle(q,c) − radius(c)).
    // Pruning is LOSSLESS — a pruned cluster provably holds no
    // qualifying member — so the oracle brute-forces the same set and
    // the result is pruning-blind; on a centroid-partitioned store the
    // survivor IN-filter is static partition pruning
    "sim_range_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid")
      Similarity.rangeSearch(
        Similarity.ivfAssign(e, "embedding", "vec_id", cents, "cid", keepVec = true),
        "vec_id", cents, "cid", "embedding",
        query = e.filter(col("vec_id") === 1), minCosine = 0.25)
    }),

    // ANN over the PREBUILT centroid-partitioned store: assignment was
    // paid once at ingest (memoized write above); the driver-routed probe
    // ids become a STATIC partition filter, so the scan reads only the 2
    // probed clusters' directories — the 100 TB path sim_ann_search's
    // Scaladoc promises, realized and plan-spec-proven (AnnStoreSpec)
    "sim_ann_pruned" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfSearchAssigned(
        graft.sinks.AnnStore.read(s, annStore(s, d)), "vec_id",
        centroids(s, d), "cid", "embedding",
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // metadata-FILTERED ANN over the same prebuilt store: the label
    // predicate is PRE-filtering (top-k OF the filtered set, never a
    // recall-broken post-filter of an unfiltered top-k), and physically
    // it lands in the probed scan as a pushed parquet filter BESIDE the
    // static partition filter (AnnStoreSpec proves both), so the only
    // bytes read are the probed clusters' predicate-surviving row groups
    "sim_ann_filtered" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.filteredSearch(
        graft.sinks.AnnStore.read(s, annStore(s, d)), "vec_id",
        centroids(s, d), "cid", "embedding",
        predicate = col("label") === 3,
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // shard CONSOLIDATION, run cold end to end: two writers each built
    // their own store against the SAME centroids (deterministic
    // assignment — any corpus split assigns identically), then MERGE
    // renames src's immutable cluster files into dst's matching dirs —
    // O(files) namenode metadata, zero data bytes moved — and search
    // serves the union. The oracle is the full-corpus IVF search:
    // build-in-shards-then-merge must equal having ingested everything
    // into one store up front
    "sim_ann_merge" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = centroids(s, d)
      val scratch = Scratch.lifecycle(s, d, "ann_merge")
      val (dst, src) = (scratch + "/dst", scratch + "/src")
      def assign(part: org.apache.spark.sql.DataFrame) =
        Similarity.ivfAssign(part, "embedding", "vec_id", cents, "cid", keepVec = true)
      // parity split: both shards are non-empty at every scale factor;
      // independent store roots — overlap the two builds (guide §2.6)
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => graft.sinks.AnnStore.write(
          assign(e.filter(pmod(col("vec_id"), lit(2)) === 0)), dst),
        () => graft.sinks.AnnStore.write(
          assign(e.filter(pmod(col("vec_id"), lit(2)) === 1)), src)))
      graft.sinks.AnnStore.merge(s, src, dst)
      Similarity.ivfSearchAssigned(
        graft.sinks.AnnStore.read(s, dst), "vec_id", cents, "cid", "embedding",
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // the EMBEDDING-MODALITY prep pipeline end-to-end — the vector twin
    // of pipeline_corpus_prep: planted-variant corpus → SRP-LSH verified
    // pairs (τ=0.9) → connected components → keep each cluster's min-id
    // representative → PQ-encode the survivors against a corpus-trained
    // codebook → per-label report (corpus size, survivors, integer code
    // checksum). Every stage is the library operator the standalone keys
    // verify; the oracle chains the SAME generated CTEs (srpCtes +
    // recursive components + pqBaseFrom), so the composition is
    // hash-checked end to end
    "pipeline_embedding_prep" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val variant = e.select((col("vec_id") + lit(1048576L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("vec_id"), lit(64)).cast("int"),
            x.cast("double") * 0.5)
            .otherwise(x.cast("double"))).as("v"))
      val corpus = base.unionByName(variant)
      // the dedup side (LSH pairs → components → drops) and the codebook
      // side (PQ train over the FULL corpus — deliberately not the
      // survivors, so the two sides share no dependency) are both
      // eager multi-job stages; overlap them (guide §2.6;
      // graft.etl.Concurrent) — each side's own op sequence, and so its
      // hash, is untouched
      val Seq(drops, cb) = graft.etl.Concurrent.awaitAll(2)(Seq(
        () => {
          val pairs = graft.operators.RandomProjection
            .rpLshPairs(corpus, "v", "vec_id", dims = 64, threshold = 0.9)
            .select("id_a", "id_b")
          // min-id representative per cluster: every clustered
          // non-minimum drops
          graft.operators.Components.run(pairs, "id_a", "id_b")
            .labels.filter(col("id") =!= col("comp"))
            .select(col("id").as("vec_id"))
        },
        () => graft.operators.ProductQuant.train(
          corpus, "v", "vec_id", m = 4, k = 8, dims = 64, iters = 2)))
      val survivors = corpus.join(drops, Seq("vec_id"), "left_anti")
      val codeSum = graft.operators.ProductQuant
        .encode(survivors, "v", "vec_id", cb, m = 4, dims = 64)
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"))
      corpus.select(col("vec_id"),
          when(col("vec_id") >= 1048576L, col("vec_id") - 1048576L)
            .otherwise(col("vec_id")).as("orig"))
        .join(e.select(col("vec_id").as("orig"), col("label")), "orig")
        .join(codeSum, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_corpus"),
          count(col("code_sum")).as("n_survivors"),
          sum(col("code_sum")).as("sum_code"))
    }),

    // the store INGEST lifecycle end-to-end, run cold every call: write
    // the base corpus centroid-partitioned, APPEND an arriving batch
    // (assigned against the same centroids — new files land only in
    // their clusters, untouched partitions never rewritten), then search
    // the post-append store. The oracle is the full-corpus IVF search:
    // append-then-search must equal having ingested everything up front
    "sim_ann_upsert" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = centroids(s, d)
      val path = Scratch.lifecycle(s, d, "ann_upsert") + "/store"
      def assign(part: org.apache.spark.sql.DataFrame) =
        Similarity.ivfAssign(part, "embedding", "vec_id", cents, "cid", keepVec = true)
      graft.sinks.AnnStore.write(assign(e.filter(col("vec_id") >= 100)), path)
      graft.sinks.AnnStore.append(assign(e.filter(col("vec_id") < 100)), path)
      Similarity.ivfSearchAssigned(
        graft.sinks.AnnStore.read(s, path), "vec_id", cents, "cid", "embedding",
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // the store lifecycle's THIRD stage, run cold end to end: write the
    // base corpus, append two batches (fragmenting their target
    // clusters), COMPACT the fragmented clusters back to one file each,
    // then search the compacted store. Files are layout, never
    // semantics: the oracle is the same full-corpus IVF search as
    // sim_ann_upsert — write+append+compact+search must equal having
    // ingested everything up front, with the compacted clusters at one
    // file each (compact() raising on any parity break is spec-level;
    // here the search result IS the checked fact)
    "sim_ann_compact" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = centroids(s, d)
      val path = Scratch.lifecycle(s, d, "ann_compact") + "/store"
      def assign(part: org.apache.spark.sql.DataFrame) =
        Similarity.ivfAssign(part, "embedding", "vec_id", cents, "cid", keepVec = true)
      graft.sinks.AnnStore.write(assign(e.filter(col("vec_id") >= 100)), path)
      graft.sinks.AnnStore.append(assign(e.filter(col("vec_id") < 50)), path)
      graft.sinks.AnnStore.append(
        assign(e.filter(col("vec_id") >= 50 && col("vec_id") < 100)), path)
      graft.sinks.AnnStore.compact(s, path)
      Similarity.ivfSearchAssigned(
        graft.sinks.AnnStore.read(s, path), "vec_id", cents, "cid", "embedding",
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // the store lifecycle's FOURTH stage, run cold end to end: write the
    // base corpus, DELETE a deterministic id slice — tombstones append
    // to the hidden sidecar, NO data file is rewritten (O(deleted ids),
    // the Delta/Iceberg delete-vector shape; readLive masks them via a
    // broadcast anti-join) — then PURGE (only the clusters actually
    // holding tombstoned rows rewrite through the atomic swap, sidecar
    // drops last) and search the purged store. Deleted centroid IDS stay
    // centroids — they are index metadata, not corpus rows. Tombstone vs
    // purged serving parity is spec-level (AnnStoreSpec); here the
    // checked fact is the search: write+delete+purge+search must equal
    // the full-corpus IVF search minus the deleted ids
    "sim_ann_delete" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = centroids(s, d)
      val path = Scratch.lifecycle(s, d, "ann_delete") + "/store"
      graft.sinks.AnnStore.write(
        Similarity.ivfAssign(e, "embedding", "vec_id", cents, "cid", keepVec = true), path)
      graft.sinks.AnnStore.delete(
        e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"), "vec_id", path)
      graft.sinks.AnnStore.purge(s, path, "vec_id")
      Similarity.ivfSearchAssigned(
        graft.sinks.AnnStore.readLive(s, path, "vec_id"), "vec_id", cents, "cid", "embedding",
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // the store lifecycle's DRIFT REMEDY, run cold end to end: ingest the
    // whole corpus against a deliberately BAD 2-centroid index (the drift
    // regime append's contract tolerates — degraded recall, never
    // correctness), RECLUSTER (retrain deterministic Lloyd's from the
    // live store, reassign, whole-store atomic swap, centroid sidecar
    // committed last), then probe-2 search routed by the NEW centroids.
    // The oracle replays trained-centroid IVF from scratch: a store that
    // drifted and was reclustered must answer exactly like one built
    // against the trained centroids from day one
    "sim_ann_recluster" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val path = Scratch.lifecycle(s, d, "ann_recluster") + "/store"
      val bad = e.filter(col("vec_id") < 2).withColumnRenamed("vec_id", "cid")
      graft.sinks.AnnStore.write(
        Similarity.ivfAssign(e, "embedding", "vec_id", bad, "cid", keepVec = true), path)
      val cents = graft.sinks.AnnStore.recluster(s, path, "vec_id", k = 8, iters = 2)
      Similarity.ivfSearchAssigned(
        graft.sinks.AnnStore.read(s, path), "vec_id",
        cents.withColumnRenamed("c_v", "embedding"), "centroid_id", "embedding",
        query = e.filter(col("vec_id") === 1), k = 10, nProbe = 2)
    }),

    // IVF centroid TRAINING, oracle-checked: deterministic init (first k
    // ids) + fixed iterations + per-round 6-dp mean rounding make Lloyd's
    // k-means exactly replayable in SQL — closing the one ANN stage that
    // had no correctness row. Output is the exploded (centroid, dim, mean)
    // codebook the whole sim_ann_* family's recall depends on
    "sim_kmeans_fit" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
        .select(col("centroid_id"), posexplode(col("c_v")).as(Seq("dim", "m")))
        .select(col("centroid_id"), col("dim"), round(col("m"), 6).as("m"))
    }),

    // HYBRID retrieval: keyword predicate over documents prefilters the
    // corpus (map-side scan + id semi-join), then only the survivors are
    // vector-ranked — the filtered-RAG composition. ADAPTIVE plan
    // (hybridTopK): a measured survivor count picks brute-force ranking
    // while the filter is selective (it is here, so the oracle's naive
    // rank is row-identical) and assign+probe when it is not — an
    // unselective filter can no longer silently degrade into a full
    // brute-force rank
    "sim_hybrid_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val words = split(col("text"), " ")
      val keyword = t(s, d, "documents")
        .filter(array_contains(words, "merge") && array_contains(words, "spark"))
        .select(col("doc_id").as("vec_id"))
      Similarity.hybridTopK(e, "embedding", "vec_id", keyword,
        query = e.filter(col("vec_id") === 0), k = 10,
        centroids = centroids(s, d), cIdCol = "cid", nProbe = 2)
    }),

    // measured recall@10 of probe-2 IVF search vs exact brute force, per
    // query — the number that prices the nProbe dial before a 100 TB
    // corpus commits to it (probing all K clusters is exact; spec'd)
    "sim_ann_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.annRecall(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        queries = e.filter(col("vec_id") < 3), "vec_id", k = 10, nProbe = 2)
    }),

    // PRICE THE FILTERED-ANN DIAL — the measurement sim_ann_filtered's
    // recall caveat points at: with the corpus pre-filtered (label = 3),
    // probe-2 recall@10 vs exact filtered top-k, per query. nProbe
    // bounds the clusters scanned BEFORE the filter, so selective
    // predicates thin the probed candidate mass — this number is how a
    // deployment decides where to raise nProbe as selectivity rises
    // (probing all K clusters stays exact, as in sim_ann_recall)
    "sim_filtered_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.annRecall(e.filter(col("label") === 3), "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        queries = e.filter(col("vec_id") < 3), "vec_id", k = 10, nProbe = 2)
    }),

    // the ADAPTIVE filtered-ANN dial (round-14 verdict item): one cheap
    // survivor-count aggregate measures each predicate's selectivity and
    // Similarity.adaptiveNProbe scales the base dial —
    // min(K, max(base, ceil(base·n/m))) — so the SURVIVING candidate
    // mass holds the unfiltered target. A mild predicate (half the
    // corpus) lands a middle dial; a rare one clamps to all K clusters
    // (exhaustive by construction). Recall@10 on the filtered corpus per
    // query, the chosen dial in the output — the oracle recomputes the
    // dial from the same counts, so the hash checks the FORMULA, not a
    // pinned constant
    "sim_filtered_adaptive" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Seq(("half", col("label") <= 4), ("rare", col("label") === 3))
        .map { case (name, p) =>
          val c = e.agg(count(lit(1)).as("n"),
            sum(when(p, 1L).otherwise(0L)).as("m")).head()
          // empty-input sum is NULL: fold to 0 so adaptiveNProbe's own
          // "predicate matches no rows" require fires with its diagnostic
          // (mirrors Similarity.filteredSearchAdaptive)
          val m = if (c.isNullAt(1)) 0L else c.getLong(1)
          val np = Similarity.adaptiveNProbe(c.getLong(0), m,
            baseNProbe = 2, kCentroids = 8)
          Similarity.annRecall(e.filter(p), "embedding", "vec_id",
              e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
              queries = e.filter(col("vec_id") < 3), "vec_id", k = 10, nProbe = np)
            .select(lit(name).as("pred"), col("q_id"), col("n_hit"),
              col("recall"), lit(np).as("n_probe"))
        }.reduce(_ unionAll _)
    }),

    // QUANTIZED serving path end-to-end: the corpus lives as int8 codes
    // (4x less memory than float32 — what lets a RAM-resident index hold
    // 4x the vectors), queries stay float; scoring runs on dequantized
    // values. Codebook + encode + decode are deterministic arithmetic,
    // so the whole chain has an exact oracle — the recall cost of
    // quantization is measurable against sim_topk_cosine's exact rank
    "sim_quantized_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val stats = Similarity.quantizeStats(e, "embedding")
      val deq = Similarity.dequantize(
        Similarity.scalarQuantize(e, "embedding", "vec_id", stats),
        "codes", "vec_id", stats)
      Similarity.topK(deq.withColumnRenamed("v", "embedding"),
        "embedding", "vec_id", e.filter(col("vec_id") === 0), k = 10)
    }),

    // SEMANTIC dedup (SemDeDup): train the codebook, assign every vector
    // (zero-shuffle broadcast fold), then within each cluster drop the
    // vectors that have a near-identical neighbor with a stronger keep
    // claim — the published rule retains the group member LEAST similar
    // to its centroid (the most atypical example; the redundant mass
    // sits near the centroid). The whole chain (Lloyd's training →
    // assignment → intra-cluster domination) is deterministic and
    // replays exactly in SQL; pair cost is per-cluster blocks, so the
    // all-pairs cartesian never exists in the plan.
    // τ = 0.45 is BELOW SemDeDup's near-clique regime: domination is a
    // chain rule here (an already-dropped vector still drops its weaker
    // neighbors), so the kept set can undercut one-per-connected-group —
    // intended, and the oracle replays the same rule (Dedup.semanticDedup
    // scaladoc spells out the contract)
    "dedup_semantic" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id",
        cents.withColumnRenamed("c_v", "embedding"), "centroid_id", keepVec = true)
      Dedup.semanticDedup(assigned, "vec_id", threshold = 0.45)
    }),

    // the KEEP-GROUP-MINIMUM variant dedup_semantic's scaladoc points to
    // below the near-clique regime: the SAME trained clusters and
    // intra-cluster τ pair scan, but pairs feed connected components and
    // each τ-connected group keeps exactly its most-atypical member
    // (lowest centroid-sim, id tiebreak); unpaired vectors survive as
    // themselves. At τ = 0.45 similarity CHAINS span the clusters, so
    // this key's kept set differs from dedup_semantic's chain rule by
    // construction — the two keys together pin down both contracts.
    // Oracle = the same recursive-CTE closure the dedup_components
    // family replays
    "dedup_semantic_components" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id",
        cents.withColumnRenamed("c_v", "embedding"), "centroid_id", keepVec = true)
      Dedup.semanticDedupComponents(assigned, "vec_id", threshold = 0.45)
    }),

    // Index-health report over the TRAINED codebook: per-centroid mass
    // and similarity spread — the numbers that price k (nlist) and spot
    // the skewed cluster that will dominate every probe of it. One
    // broadcast-fold assignment + one k-row aggregate
    "sim_cluster_stats" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
      Similarity.ivfAssign(e, "embedding", "vec_id",
          cents.withColumnRenamed("c_v", "embedding"), "centroid_id")
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n"),
          round(avg(col("sim")), 6).as("avg_sim"),
          min(col("sim")).as("min_sim"))
    }),

    // SEMANTIC decontamination: corpus vectors within cosine >= 0.35 of
    // ANY benchmark vector (vec_id % 97 = 0 — the same held-out-set
    // convention as ta_decontaminate) are flagged with their nearest
    // benchmark item. The embedding-space form of the n-gram guard:
    // paraphrased eval leakage shares no 8-gram but still lands next to
    // its source. Benchmark packs into one broadcast row; the corpus
    // folds over it map-side — zero shuffle, like ivfAssign
    "ta_decontaminate_semantic" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.Decontaminate.semanticOverlap(
        e.filter(col("vec_id") % 97 =!= 0),
        e.filter(col("vec_id") % 97 === 0),
        "embedding", "vec_id", threshold = 0.35)
    }),

    // BATCHED ANN: one top-k per query row, all queries in one plan (no
    // per-query jobs, no driver loop) — the API the single-query guard
    // points to
    "sim_ann_batch" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfSearchBatch(e, "embedding", "vec_id",
        e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid"), "cid",
        queries = e.filter(col("vec_id") < 3), "vec_id", k = 5, nProbe = 2)
    }),

    // PRODUCT quantization codes: m=4 subspaces × k=8 L2 codebooks over
    // the 64-dim embeddings — each vector stored as 4 small ints (the
    // 64×-compression codebook path real vector stores run; complements
    // sim_quantize's scalar int8 4×). Deterministic train → encode chain
    // (first-k init, 6-dp rounding, lowest-cid ties) replays exactly in
    // SQL; codes folded to a fingerprint like sim_quantize
    "sim_pq_codes" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cb = graft.operators.ProductQuant.train(e, "embedding", "vec_id",
        m = 4, k = 8, dims = 64, iters = 2)
      graft.operators.ProductQuant.encode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L),
            (a, c) => (a * 131 + c.cast("long")) % 2147483647L).as("code_fp"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long")).as("code_sum"))
    }),

    // IVF+PQ — the production vector-store serving stack, served from
    // the PREBUILT centroid-partitioned code store: the coarse quantizer
    // routes to nProbe clusters driver-side, the route plans as a STATIC
    // `centroid_id IN (...)` partition filter on the store (AnnStoreSpec
    // proves the executed scan reads only the probed clusters' code
    // files), and ADC ranks the surviving codes against the query's
    // broadcast distance table — at 100 TB the query reads
    // (nProbe/K) · m bytes per corpus row and never touches a float
    // vector. The store+codebook build is the memoized ingest stage
    // (cold in bench, like sim_ann_pruned); searchPruned is spec-proven
    // rank-identical to the in-memory assign⋈encode composition, so the
    // SQL oracle replays unchanged
    "sim_ivfpq_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = pqStore(s, d)
      val codes = graft.sinks.AnnStore.read(s, base + "/store")
      val cb = s.read.parquet(base + "/codebook")
      val qv = e.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
      graft.operators.ProductQuant.searchPruned(codes, "vec_id", cb,
        centroids(s, d), "cid", "embedding", qv, m = 4, dims = 64, k = 10, nProbe = 2)
    }),

    // the PQ SERVING path end-to-end: asymmetric-distance (ADC) ranking
    // of the whole corpus against a float query while reading CODES only
    // — the m·k distance table is one broadcast row, the corpus is never
    // shuffled and never touches a float vector at query time
    "sim_pq_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val pq = graft.operators.ProductQuant
      val cb = pq.train(e, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      val codes = pq.encode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
      val qv = e.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
      pq.search(codes, "vec_id", cb, qv, m = 4, dims = 64, k = 10)
    }),

    // TWO-STAGE serving — PQ shortlist, exact float re-rank: ADC reads
    // m bytes/row to shortlist 50 candidates, then ONLY those 50 float
    // vectors are fetched (broadcast semi-join; id-bucketed pruned read
    // at store scale) and re-ranked by exact L2 — the production recipe
    // that buys quantized scan cost without quantized top-k quality
    "sim_pq_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val pq = graft.operators.ProductQuant
      val cb = pq.train(e, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      val codes = pq.encode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
      val qv = e.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
      pq.searchRerank(codes, e, "vec_id", "embedding", cb, qv,
        m = 4, dims = 64, k = 10, nCand = 50)
    }),

    // TWO-STAGE serving via DIMENSION TRUNCATION (Matryoshka-style):
    // prefix-cosine on the first 16 of 64 dims shortlists 50, full-dim
    // exact cosine re-ranks them — searchRerank's shape with truncation
    // as the compressor; in production the prefix is its own column and
    // stage 1 column-prunes to dPrefix/d of the vector bytes
    "sim_mrl_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
      Similarity.truncatedRerank(e, "embedding", "vec_id", qv,
        dPrefix = 16, k = 10, nCand = 50)
    }),

    // PRICE THE QUANTIZATION: how much of the exact L2 top-k does the
    // ADC code-only ranking keep — the measured recall a deployment
    // trades for reading m bytes/row instead of the float vectors (the
    // PQ analog of sim_ann_recall's nProbe and dedup_lsh_recall's bands
    // pricing). Exact side is a distributed partial top-k
    // (TakeOrderedAndProject), never a global sort
    "sim_pq_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val pq = graft.operators.ProductQuant
      val cb = pq.train(e, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      val codes = pq.encode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
      val qv = e.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
      val adc = pq.search(codes, "vec_id", cb, qv, m = 4, dims = 64, k = 10)
        .select("vec_id")
      val qlit = array(qv.map(lit): _*)
      val exact = e.select(col("vec_id"),
          round(aggregate(zip_with(transform(col("embedding"), _.cast("double")), qlit,
            (x, q) => (x - q) * (x - q)), lit(0.0), (a, x) => a + x), 6).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10)
      adc.join(exact.select("vec_id"), "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10).as("k"), col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 6).as("recall"))
    }),

    // EMBEDDING DRIFT MONITOR: per-dimension centroid shift between two
    // corpus slices (here: even/odd vec_id — in production: last week's
    // embeddings vs this week's, or model v1 vs v2). The first check a
    // serving pipeline runs before trusting a re-embedded corpus: a
    // drifted dimension means re-tuned thresholds or a stale index.
    // ONE posexplode + ONE map-side-combined aggregate — the exchange
    // carries (dim, slice) partial sums, never vectors; sums are exact
    // BIGINT micro-units (RandomProjection.quantized, guard included)
    // so the means are single double divisions over identical integers
    // in both engines (at true 100 TB row counts the micro-unit sums
    // outgrow BIGINT ~1e12 rows/dim — swap to decimal(38,0), the q_corr
    // headroom note)
    "sim_drift" -> ((s, d) => {
      val dims = 64
      val q = t(s, d, "embeddings")
        .select((col("vec_id") % 2 === 0).as("old"),
          posexplode(graft.operators.RandomProjection.quantized(
            col("embedding"), dims)).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(
          sum(when(col("old"), 1L)).cast("bigint").as("n_old"),
          sum(when(!col("old"), 1L)).cast("bigint").as("n_new"),
          sum(when(col("old"), col("v"))).cast("bigint").as("so"),
          sum(when(!col("old"), col("v"))).cast("bigint").as("sn"))
      val mo = (col("so").cast("double") / col("n_old").cast("double")) / 1000000.0
      val mn = (col("sn").cast("double") / col("n_new").cast("double")) / 1000000.0
      q.select(col("dim"), col("n_old"), col("n_new"),
        round(mo, 6).as("mean_old"), round(mn, 6).as("mean_new"),
        round(mn - mo, 6).as("shift"))
    }),

    // THRESHOLD CALIBRATION SWEEP: the histogram of same-cluster pair
    // cosines — the curve you read BEFORE picking a dedup/search τ
    // (guessing τ=0.8 without it is folklore; the histogram shows where
    // the near-dup mass actually separates from the background). Pairs
    // are BLOCKED by the label column (the IVF-bucket stand-in — the
    // same candidates-within-a-cluster shape the dedup/ANN family
    // exchanges), never all-pairs; cosine is the shared sequential-fold
    // construction (Similarity.cosine ≡ the oracle's list_reduce), the
    // bucket a floor over an identical double
    "sim_threshold_sweep" -> ((s, d) => {
      val n = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val a = n.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"))
      val b = n.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"))
      a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .select(floor(graft.operators.Similarity.cosine(col("va"), col("vb"))
          * 10).cast("bigint").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("tau_lo", round(col("bucket").cast("double") / 10.0, 1))
    }),

    // VECTOR NORM AUDIT — the sanity gate before any cosine/IP index: a
    // corpus mixing normalized and unnormalized embeddings (two encoder
    // versions, a bad batch) silently corrupts inner-product search,
    // and the norm HISTOGRAM is how the mix shows up. Squared norms are
    // exact BIGINT micro-unit sums (one zero-shuffle fold per row), the
    // sqrt runs once per row on identical integers, the histogram is a
    // bounded aggregate
    "sim_norm_audit" -> ((s, d) => {
      val q = graft.operators.RandomProjection.quantized(col("embedding"), 64)
      val ssq = aggregate(transform(q, x => x * x), lit(0L), (a, x) => a + x)
      t(s, d, "embeddings")
        .select(col("label"),
          round(sqrt(ssq.cast("double")) / 1000000.0, 2).as("norm"))
        .groupBy("label", "norm")
        .agg(count(lit(1)).as("n_vecs"))
    })
  )

  /** Sequential-fold dot product / squared norm in DuckDB, matching
    * Spark's `aggregate(zip_with(...), 0.0, _+_)` evaluation order. */
  private def fold(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  private val vecs =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"

  private def normed(src: String) =
    s"SELECT vec_id, v, sqrt(${fold("list_transform(v, x -> x*x)")}) AS nrm FROM ($src)"

  private val pairDot =
    fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])")

  /** [[pairDot]] over (b = corpus row, q = query row) aliases. */
  private val pairDot2 =
    fold("list_transform(range(1, len(b.v)+1), i -> b.v[CAST(i AS INT)] * q.v[CAST(i AS INT)])")

  /** One unrolled Lloyd's iteration as chained CTEs: assign every vector
    * to its nearest `prev` centroid (rounded cosine, lowest-cid tiebreak —
    * ivfAssign's fold order), then 6-dp-rounded per-dim means become
    * `next`; a centroid winning zero vectors keeps its previous value
    * (kmeansFit's coalesce). */
  private def kmeansIter(prev: String, next: String, tag: String): String =
    s"""s$tag AS (
          SELECT a.vec_id, c.cid,
                 round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
          FROM n a CROSS JOIN
               (SELECT cid, v, sqrt(${fold("list_transform(v, x -> x*x)")}) AS nrm FROM $prev) c),
        b$tag AS (
          SELECT vec_id, cid FROM s$tag
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
        m$tag AS (
          SELECT xx.cid, r.i AS dim, round(avg(xx.v[CAST(r.i AS INT)]), 6) AS m
          FROM (SELECT x.v, b.cid FROM n x JOIN b$tag b ON x.vec_id = b.vec_id) xx,
               unnest(range(1, len(xx.v)+1)) AS r(i)
          GROUP BY 1, 2),
        $next AS (
          SELECT p.cid, coalesce(mm.v, p.v) AS v
          FROM $prev p LEFT JOIN
               (SELECT cid, list(m ORDER BY dim) AS v FROM m$tag GROUP BY cid) mm
            ON p.cid = mm.cid)"""

  /** Trained-codebook CTE prefix shared by the SemDeDup and cluster-stats
    * oracles: two unrolled Lloyd's rounds (c0→c1→c2, mirroring
    * `kmeansFit(k = 8, iters = 2)`), then every vector assigned to its
    * nearest trained centroid with the rounded score retained (`asg`:
    * vec_id, cid, sim). */
  private def kmeansAssigned: String =
    s"""WITH n AS (${normed(vecs)}),
          c0 AS (SELECT CAST(vec_id AS INT) AS cid, v FROM n ORDER BY vec_id LIMIT 8),
          ${kmeansIter("c0", "c1", "1")},
          ${kmeansIter("c1", "c2", "2")},
          cn AS (SELECT cid, v, sqrt(${fold("list_transform(v, x -> x*x)")}) AS nrm FROM c2),
          sc AS (SELECT a.vec_id, c.cid,
                        round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
                 FROM n a CROSS JOIN cn c),
          asg AS (SELECT vec_id, cid, sim FROM sc
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1)"""

  /** ANN probe-2 top-10 oracle, parameterized by the query row id —
    * shared by the raw-corpus and prebuilt-store forms. */
  /** Shared base-graph CTEs for the kNN-graph family: home assignment
    * (rn=1), 2-probe query side (rn<=2), equi-join on cluster, exact
    * cosine — ends at the `cand` CTE so consumers rank or expand it. */
  private val knnGraphCtes: String =
    s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c),
            assigned AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            probes AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) <= 2),
            cand AS (
              SELECT p.vec_id, ix.vec_id AS nbr_id,
                     round($pairDot / (a.nrm * b.nrm), 6) AS cosine
              FROM probes p
              JOIN assigned ix ON ix.centroid_id = p.centroid_id
                               AND ix.vec_id <> p.vec_id
              JOIN n a ON a.vec_id = p.vec_id
              JOIN n b ON b.vec_id = ix.vec_id)"""

  private def annSearchSql(qid: Int, corpusWhere: String = "TRUE"): String =
    s"""WITH n AS (${normed(vecs)}),
          c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
          scored AS (
            SELECT a.vec_id, c.centroid_id,
                   round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
            FROM n a CROSS JOIN c),
          assigned AS (
            SELECT vec_id, centroid_id FROM scored
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
          na AS (SELECT n.vec_id, n.v, n.nrm, a.centroid_id
                 FROM n JOIN assigned a ON n.vec_id = a.vec_id
                 WHERE $corpusWhere),
          qa AS (SELECT centroid_id FROM scored WHERE vec_id = $qid
                 QUALIFY row_number() OVER (ORDER BY sim DESC, centroid_id) <= 2),
          q AS (SELECT v, nrm FROM n WHERE vec_id = $qid)
        SELECT vec_id, cosine FROM (
          SELECT a.vec_id,
                 round($pairDot / (a.nrm * b.nrm), 6) AS cosine
          FROM na a CROSS JOIN (SELECT v, nrm FROM q) b
          JOIN qa ON a.centroid_id = qa.centroid_id)
        QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10"""

  /** One unrolled PQ Lloyd's iteration over the subspace-exploded corpus
    * `ns` (vec_id, subspace, sv): L2 assignment via the |c|² − 2x·c
    * argmin (rounded 6 dp, lowest-cid ties — `ProductQuant.argminCode`'s
    * fold), then 6-dp per-dim means; empty codes keep their previous
    * centroid. */
  private def pqAssign(prev: String, tag: String): String =
    s"""s$tag AS (
          SELECT a.vec_id, a.subspace, c.cid,
                 round(c.cn2 - 2 * ${fold("list_transform(range(1, len(a.sv)+1), i -> a.sv[CAST(i AS INT)] * c.v[CAST(i AS INT)])")}, 6) AS s
          FROM ns a JOIN
               (SELECT subspace, cid, v, ${fold("list_transform(v, x -> x*x)")} AS cn2 FROM $prev) c
            ON a.subspace = c.subspace),
        b$tag AS (
          SELECT vec_id, subspace, cid FROM s$tag
          QUALIFY row_number() OVER (PARTITION BY vec_id, subspace ORDER BY s ASC, cid) = 1)"""

  private def pqIter(prev: String, next: String, tag: String): String =
    s"""${pqAssign(prev, tag)},
        m$tag AS (
          SELECT xx.subspace, xx.cid, r.i AS dim, round(avg(xx.sv[CAST(r.i AS INT)]), 6) AS mn
          FROM (SELECT a.sv, b.subspace, b.cid FROM ns a JOIN b$tag b
                ON a.vec_id = b.vec_id AND a.subspace = b.subspace) xx,
               unnest(range(1, len(xx.sv)+1)) AS r(i)
          GROUP BY 1, 2, 3),
        $next AS (
          SELECT p.subspace, p.cid, coalesce(mm.v, p.v) AS v
          FROM $prev p LEFT JOIN
               (SELECT subspace, cid, list(mn ORDER BY dim) AS v FROM m$tag GROUP BY 1, 2) mm
            ON p.subspace = mm.subspace AND p.cid = mm.cid)"""

  /** Shared PQ CTE prefix: subspace slices, first-8 init, two unrolled
    * iterations (pc0→pc1→pc2, mirroring `ProductQuant.train(m=4, k=8,
    * iters=2)`), final encode assignment `bpe` against pc2. */
  /** The SRP-LSH construction as shared CTEs (planted-variant corpus →
    * quantized dots against the mask literals → 3×16-bit bands) — used
    * verbatim by the dedup_embedding_lsh / dedup_lsh_recall /
    * pipeline_embedding_prep oracles so the three can never drift. */
  private def srpCtes: String =
    s"""base AS ($vecs),
        var1 AS (SELECT vec_id AS ovid, v FROM base),
        var2 AS (SELECT ovid + 1048576 AS vec_id,
                        list_transform(range(1, len(v)+1),
                          i -> CASE WHEN i - 1 = ovid % 64
                                    THEN v[CAST(i AS INT)] * 0.5
                                    ELSE v[CAST(i AS INT)] END) AS v
                 FROM var1),
        corpus AS (SELECT * FROM base UNION ALL SELECT * FROM var2),
        qz AS (SELECT vec_id,
                      list_transform(v, x -> CAST(round(x*1000000) AS BIGINT)) AS qv
               FROM corpus),
        masks(b, m) AS (VALUES ${graft.operators.RandomProjection.signMasksSqlValues(48, 64)}),
        sdots AS (SELECT vec_id, b,
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, 65),
                             i -> qv[CAST(i AS INT)] *
                                  (CASE WHEN (m >> CAST(i - 1 AS INT)) & 1 = 1 THEN 1 ELSE -1 END))),
                           (a, x) -> a + x) AS dot
                  FROM qz CROSS JOIN masks),
        bands AS (SELECT vec_id, b // 16 AS band,
                         CAST(sum(CASE WHEN dot >= 0
                                       THEN CAST(1 AS BIGINT) << CAST(b % 16 AS INT)
                                       ELSE 0 END) AS BIGINT) AS bv
                  FROM sdots GROUP BY 1, 2)"""

  private def pqBaseFrom(src: String): String =
    s"""nall AS ($src),
        ns AS (SELECT vec_id, CAST(r.j AS INT) AS subspace,
                      list_slice(v, CAST(r.j*16 + 1 AS INT), CAST(r.j*16 + 16 AS INT)) AS sv
               FROM nall, unnest(range(0, 4)) AS r(j)),
        pc0 AS (SELECT CAST(r.j AS INT) AS subspace, CAST(vec_id AS INT) AS cid,
                       list_slice(v, CAST(r.j*16 + 1 AS INT), CAST(r.j*16 + 16 AS INT)) AS v
                FROM (SELECT * FROM nall ORDER BY vec_id LIMIT 8),
                     unnest(range(0, 4)) AS r(j)),
        ${pqIter("pc0", "pc1", "p1")},
        ${pqIter("pc1", "pc2", "p2")},
        ${pqAssign("pc2", "pe")}"""

  private def pqBase: String = pqBaseFrom(vecs)

  val oracle: Map[String, String] = Map(
    "sim_pq_codes" ->
      s"""WITH $pqBase,
            pcodes AS (SELECT vec_id, list(cid ORDER BY subspace) AS codes
                       FROM bpe GROUP BY vec_id)
          SELECT vec_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(codes, c -> CAST(c AS BIGINT))),
                   (a, b) -> (a*131 + b) % 2147483647) AS code_fp,
                 CAST(list_sum(codes) AS BIGINT) AS code_sum
          FROM pcodes""",
    "sim_ivfpq_search" ->
      s"""WITH $pqBase,
            nn AS (SELECT vec_id, v, sqrt(${fold("list_transform(v, x -> x*x)")}) AS nrm
                   FROM nall),
            cc AS (SELECT vec_id AS centroid_id, v, nrm FROM nn WHERE vec_id < 8),
            csc AS (SELECT a.vec_id, c.centroid_id,
                           round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
                    FROM nn a CROSS JOIN cc c),
            asg AS (SELECT vec_id, centroid_id FROM csc
                    QUALIFY row_number() OVER (PARTITION BY vec_id
                                               ORDER BY sim DESC, centroid_id) = 1),
            qa AS (SELECT centroid_id FROM csc WHERE vec_id = 0
                   QUALIFY row_number() OVER (ORDER BY sim DESC, centroid_id) <= 2),
            q AS (SELECT v FROM nall WHERE vec_id = 0),
            dt AS (SELECT c.subspace, c.cid,
                          round(${fold("list_transform(range(1, len(c.v)+1), i -> (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]) * (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]))")}, 6) AS pd
                   FROM pc2 c CROSS JOIN q),
            surv AS (SELECT b.vec_id, b.subspace, b.cid
                     FROM bpe b
                     JOIN asg ON b.vec_id = asg.vec_id
                     JOIN qa ON asg.centroid_id = qa.centroid_id),
            sc AS (SELECT s.vec_id,
                          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list(dt.pd ORDER BY s.subspace)), (a, x) -> a + x), 6) AS adist
                   FROM surv s JOIN dt
                     ON s.subspace = dt.subspace AND s.cid = dt.cid
                   GROUP BY s.vec_id)
          SELECT vec_id, adist FROM sc
          QUALIFY row_number() OVER (ORDER BY adist, vec_id) <= 10""",
    "sim_pq_search" ->
      s"""WITH $pqBase,
            q AS (SELECT v FROM nall WHERE vec_id = 0),
            dt AS (SELECT c.subspace, c.cid,
                          round(${fold("list_transform(range(1, len(c.v)+1), i -> (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]) * (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]))")}, 6) AS pd
                   FROM pc2 c CROSS JOIN q),
            sc AS (SELECT b.vec_id,
                          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list(dt.pd ORDER BY b.subspace)), (a, x) -> a + x), 6) AS adist
                   FROM bpe b JOIN dt
                     ON b.subspace = dt.subspace AND b.cid = dt.cid
                   GROUP BY b.vec_id)
          SELECT vec_id, adist FROM sc
          QUALIFY row_number() OVER (ORDER BY adist, vec_id) <= 10""",
    // ADC shortlist of 50 replayed term-for-term, then the exact-L2
    // re-rank restricted to it
    "sim_pq_rerank" ->
      s"""WITH $pqBase,
            q AS (SELECT v FROM nall WHERE vec_id = 0),
            dt AS (SELECT c.subspace, c.cid,
                          round(${fold("list_transform(range(1, len(c.v)+1), i -> (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]) * (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]))")}, 6) AS pd
                   FROM pc2 c CROSS JOIN q),
            sc AS (SELECT b.vec_id,
                          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list(dt.pd ORDER BY b.subspace)), (a, x) -> a + x), 6) AS adist
                   FROM bpe b JOIN dt
                     ON b.subspace = dt.subspace AND b.cid = dt.cid
                   GROUP BY b.vec_id),
            shortlist AS (SELECT vec_id FROM sc
                          QUALIFY row_number() OVER (ORDER BY adist, vec_id) <= 50),
            rr AS (SELECT a.vec_id,
                          round(${fold("list_transform(range(1, len(a.v)+1), i -> (a.v[CAST(i AS INT)] - q.v[CAST(i AS INT)]) * (a.v[CAST(i AS INT)] - q.v[CAST(i AS INT)]))")}, 6) AS d2
                   FROM nall a JOIN shortlist USING (vec_id) CROSS JOIN q)
          SELECT vec_id, d2 FROM rr
          QUALIFY row_number() OVER (ORDER BY d2, vec_id) <= 10""",
    // ADC top-k ∩ exact-L2 top-k over the same corpus — both rankings
    // replay term-for-term
    "sim_pq_recall" ->
      s"""WITH $pqBase,
            q AS (SELECT v FROM nall WHERE vec_id = 0),
            dt AS (SELECT c.subspace, c.cid,
                          round(${fold("list_transform(range(1, len(c.v)+1), i -> (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]) * (q.v[c.subspace*16 + CAST(i AS INT)] - c.v[CAST(i AS INT)]))")}, 6) AS pd
                   FROM pc2 c CROSS JOIN q),
            sc AS (SELECT b.vec_id,
                          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list(dt.pd ORDER BY b.subspace)), (a, x) -> a + x), 6) AS adist
                   FROM bpe b JOIN dt
                     ON b.subspace = dt.subspace AND b.cid = dt.cid
                   GROUP BY b.vec_id),
            adc AS (SELECT vec_id FROM sc
                    QUALIFY row_number() OVER (ORDER BY adist, vec_id) <= 10),
            ex AS (SELECT a.vec_id,
                          round(${fold("list_transform(range(1, len(a.v)+1), i -> (a.v[CAST(i AS INT)] - q.v[CAST(i AS INT)]) * (a.v[CAST(i AS INT)] - q.v[CAST(i AS INT)]))")}, 6) AS d2
                   FROM nall a CROSS JOIN q
                   QUALIFY row_number() OVER (ORDER BY d2, vec_id) <= 10),
            ov AS (SELECT count(*) AS n_overlap FROM adc JOIN ex USING (vec_id))
          SELECT 10 AS k, n_overlap,
                 round(CAST(n_overlap AS DOUBLE) / 10.0, 6) AS recall
          FROM ov""",
    "dedup_embedding" ->
      s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c),
            assigned AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            na AS (SELECT n.vec_id, n.v, n.nrm, a.centroid_id
                   FROM n JOIN assigned a ON n.vec_id = a.vec_id)
          SELECT id_a, id_b, round(c, 6) AS cosine FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   $pairDot / (a.nrm * b.nrm) AS c
            FROM na a JOIN na b
              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
          WHERE c >= 0.45""",
    // the 48 hyperplane masks are the SAME plan-time constants the Spark
    // expression compiles in (shared generator — the two sides cannot
    // drift); dots are exact BIGINT micro-unit arithmetic, the verify is
    // the standard sequential-fold cosine
    "dedup_embedding_lsh" ->
      s"""WITH $srpCtes,
            cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                     FROM bands x JOIN bands y
                       ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
            n AS (${normed("SELECT vec_id, v FROM corpus")}),
            scored AS (SELECT id_a, id_b, $pairDot / (a.nrm * b.nrm) AS c
                       FROM cand JOIN n a ON a.vec_id = id_a
                                 JOIN n b ON b.vec_id = id_b)
          SELECT id_a, id_b, round(c, 6) AS cosine FROM scored WHERE c >= 0.9""",
    // same construction as dedup_embedding_lsh, candidates restricted to
    // the planted alignment (id, id+2^20) — truth and found both linear
    "dedup_lsh_recall" ->
      s"""WITH $srpCtes,
            cand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                            min(x.band) AS min_band
                     FROM bands x JOIN bands y
                       ON x.band = y.band AND x.bv = y.bv
                      AND y.vec_id = x.vec_id + 1048576
                     GROUP BY 1, 2),
            n AS (${normed("SELECT vec_id, v FROM corpus")}),
            pl AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                          $pairDot / (a.nrm * b.nrm) AS c
                   FROM n a JOIN n b ON b.vec_id = a.vec_id + 1048576),
            j AS (SELECT pl.c, cand.min_band
                  FROM pl LEFT JOIN cand
                    ON cand.id_a = pl.id_a AND cand.id_b = pl.id_b),
            agg AS (SELECT
                      CAST(sum(CASE WHEN c >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                      CAST(sum(CASE WHEN c >= 0.9 AND min_band <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                      CAST(sum(CASE WHEN c >= 0.9 AND min_band <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
                      CAST(sum(CASE WHEN c >= 0.9 AND min_band <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS f3
                    FROM j)
          SELECT CAST(k AS INT) AS n_bands, n_true,
                 CASE k WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END AS n_found,
                 round(CAST(CASE k WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END AS DOUBLE)
                       / n_true, 6) AS recall
          FROM agg CROSS JOIN range(1, 4) r(k)""",
    "sim_topk_cosine" ->
      s"""WITH n AS (${normed(vecs)}),
            q AS (SELECT v, nrm FROM n WHERE vec_id = 0)
          SELECT vec_id, cosine FROM (
            SELECT a.vec_id AS vec_id,
                   round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * q.v[CAST(i AS INT)])")} / (a.nrm * q.nrm), 6) AS cosine
            FROM n a CROSS JOIN q)
          QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10""",
    // the greedy unrolled: step i picks argmax(0.7·rel − 0.3·max-sim to
    // the i−1 already selected), ties to the lower id — the literal
    // weights (0.7, 0.3) match mmrRerank's verbatim params, never 1−λ
    "sim_mmr_rerank" -> {
      def step(i: Int) =
        s"""s$i AS (SELECT * FROM (
                SELECT c.vec_id, c.rel, max(p.sim) AS ms,
                       0.7*c.rel - 0.3*max(p.sim) AS sc
                FROM cand c JOIN p ON p.ia = c.vec_id
                     AND p.ib IN (SELECT vec_id FROM sel${i - 1})
                WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
                GROUP BY c.vec_id, c.rel)
              QUALIFY row_number() OVER (ORDER BY sc DESC, vec_id) = 1),
           sel$i AS (SELECT vec_id FROM sel${i - 1}
                     UNION ALL SELECT vec_id FROM s$i)"""
      val out = (1 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, vec_id, rel AS relevance, ms AS max_sim, round(sc, 6) AS mmr_score FROM s$i")
        .mkString("\n         UNION ALL ")
      s"""WITH n AS (${normed(vecs)}),
            q AS (SELECT v, nrm FROM n WHERE vec_id = 0),
            scored AS (SELECT b.vec_id, round($pairDot2 / (b.nrm * q.nrm), 6) AS rel
                       FROM n b CROSS JOIN q WHERE b.vec_id <> 0),
            cand AS (SELECT vec_id, rel FROM (
                      SELECT vec_id, rel,
                             row_number() OVER (ORDER BY rel DESC, vec_id) AS rn
                      FROM scored) WHERE rn <= 20),
            cv AS (SELECT c.vec_id, n.v, n.nrm FROM cand c JOIN n USING (vec_id)),
            p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                         round($pairDot / (a.nrm * b.nrm), 6) AS sim
                  FROM cv a JOIN cv b ON a.vec_id <> b.vec_id),
            s1 AS (SELECT * FROM (
                    SELECT vec_id, rel, CAST(0.0 AS DOUBLE) AS ms, 0.7*rel AS sc
                    FROM cand)
                   QUALIFY row_number() OVER (ORDER BY sc DESC, vec_id) = 1),
            sel1 AS (SELECT vec_id FROM s1),
            ${(2 to 5).map(step).mkString(",\n            ")}
          $out"""
    },
    // brute-force range scan — cluster pruning is lossless by the
    // triangle inequality, so the oracle never needs to see it
    "sim_range_search" ->
      s"""WITH n AS (${normed(vecs)}),
            q AS (SELECT v, nrm FROM n WHERE vec_id = 1)
          SELECT vec_id, cosine FROM (
            SELECT a.vec_id AS vec_id,
                   round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * q.v[CAST(i AS INT)])")} / (a.nrm * q.nrm), 6) AS cosine
            FROM n a CROSS JOIN q)
          WHERE cosine >= 0.25""",
    "sim_ann_ivf" ->
      s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c)
          SELECT vec_id, centroid_id, sim FROM scored
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1""",
    // the same blocking replayed: home assignment (rn=1), 2-probe query
    // side (rn<=2), equi-join on cluster, exact cosine, per-point top-5
    "sim_knn_graph" ->
      s"""$knnGraphCtes
          SELECT vec_id, nbr_id, cosine,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rank
          FROM cand
          QUALIFY rank <= 5""",
    // blocked-graph hits vs brute-force self-excluded top-5 for the
    // sampled points; explicit-zero rows kept via the left join
    "sim_knn_recall" ->
      s"""$knnGraphCtes,
            g AS (SELECT vec_id AS q_id, nbr_id FROM (
                    SELECT vec_id, nbr_id,
                           row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rank
                    FROM cand) WHERE rank <= 5 AND vec_id % 16 = 0),
            q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id % 16 = 0),
            ex AS (SELECT q_id, nbr_id FROM (
                     SELECT q.q_id, b.vec_id AS nbr_id,
                            row_number() OVER (PARTITION BY q.q_id
                              ORDER BY round($pairDot2 / (b.nrm * q.nrm), 6) DESC, b.vec_id) AS rank
                     FROM q JOIN n b ON b.vec_id <> q.q_id) WHERE rank <= 5),
            hits AS (SELECT ex.q_id, count(g.nbr_id) AS n_hit
                     FROM ex LEFT JOIN g ON g.q_id = ex.q_id AND g.nbr_id = ex.nbr_id
                     GROUP BY ex.q_id)
          SELECT q.q_id, coalesce(h.n_hit, 0) AS n_hit,
                 round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5, 6) AS recall
          FROM q LEFT JOIN hits h ON h.q_id = q.q_id""",
    // mutual edges + recursive closure + sizes; isolated points label
    // as themselves through the node seed
    "sim_knn_components" ->
      s"""${knnGraphCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
            g AS (SELECT vec_id, nbr_id FROM (
                    SELECT vec_id, nbr_id,
                           row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rank
                    FROM cand) WHERE rank <= 5),
            mu AS (SELECT x.vec_id AS a, x.nbr_id AS b
                   FROM g x JOIN g y ON x.vec_id = y.nbr_id AND x.nbr_id = y.vec_id
                   WHERE x.vec_id < x.nbr_id),
            sym AS (SELECT a, b FROM mu UNION SELECT b, a FROM mu),
            nodes AS (SELECT vec_id AS id FROM embeddings),
            walk(id, comp) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.id),
            lbl AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
          SELECT comp AS cluster, count(*) AS n_members FROM lbl GROUP BY comp""",
    // the NN-descent round replayed: the SAME base-graph CTEs, then
    // edges ∪ reversals ∪ two-hop (UNION dedups; two-hop can return to
    // self — filtered, exactly as the operator does), exact rescore,
    // per-point top-5
    "sim_knn_refine" ->
      s"""$knnGraphCtes,
            base AS (
              SELECT vec_id, nbr_id FROM (
                SELECT vec_id, nbr_id,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rank
                FROM cand) WHERE rank <= 5),
            edges AS (SELECT vec_id AS src, nbr_id AS dst FROM base),
            cset AS (
              SELECT src, dst FROM edges
              UNION SELECT dst, src FROM edges
              UNION SELECT e1.src, e2.dst FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
            cfil AS (SELECT src, dst FROM cset WHERE src <> dst),
            rescored AS (
              SELECT f.src AS vec_id, f.dst AS nbr_id,
                     round($pairDot / (a.nrm * b.nrm), 6) AS cosine
              FROM cfil f
              JOIN n a ON a.vec_id = f.src
              JOIN n b ON b.vec_id = f.dst)
          SELECT vec_id, nbr_id, cosine,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rank
          FROM rescored
          QUALIFY rank <= 5""",
    "sim_quantize" ->
      s"""WITH x AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
                     FROM embeddings),
            d AS (SELECT r.i AS dim, min(x.v[CAST(r.i AS INT)]) AS lo, max(x.v[CAST(r.i AS INT)]) AS hi
                  FROM x, unnest(range(1, len(x.v)+1)) AS r(i)
                  GROUP BY 1),
            dl AS (SELECT list(struct_pack(lo := lo, hi := hi) ORDER BY dim) AS st FROM d),
            codes AS (
              SELECT vec_id,
                     list_transform(range(1, len(v)+1), i ->
                       CASE WHEN dl.st[CAST(i AS INT)].hi = dl.st[CAST(i AS INT)].lo THEN 0
                            ELSE CAST(round((v[CAST(i AS INT)] - dl.st[CAST(i AS INT)].lo)
                                   / (dl.st[CAST(i AS INT)].hi - dl.st[CAST(i AS INT)].lo) * 255) AS INT)
                       END) AS cs
              FROM x CROSS JOIN dl)
          SELECT vec_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(cs, c -> CAST(c AS BIGINT))),
                   (a, b) -> (a*131 + b) % 2147483647) AS code_fp,
                 CAST(list_sum(cs) AS BIGINT) AS code_sum
          FROM codes""",
    "sim_kmeans_fit" ->
      s"""WITH n AS (${normed(vecs)}),
            c0 AS (SELECT CAST(vec_id AS INT) AS cid, v FROM n ORDER BY vec_id LIMIT 8),
            ${kmeansIter("c0", "c1", "1")},
            ${kmeansIter("c1", "c2", "2")}
          SELECT cid AS centroid_id, CAST(r.i - 1 AS INT) AS dim,
                 round(c2.v[CAST(r.i AS INT)], 6) AS m
          FROM c2, unnest(range(1, len(c2.v)+1)) AS r(i)""",
    // prefix-cosine shortlist (first 16 dims, same sequential fold) then
    // full-dim re-rank — both stages replayed term-for-term
    "sim_mrl_rerank" ->
      s"""WITH n AS (${normed(vecs)}),
            pn AS (SELECT vec_id, list_slice(v, 1, 16) AS pv,
                          sqrt(${fold("list_transform(list_slice(v, 1, 16), x -> x*x)")}) AS pnrm
                   FROM n),
            qp AS (SELECT pv, pnrm FROM pn WHERE vec_id = 0),
            sl AS (SELECT vec_id FROM (
                     SELECT a.vec_id,
                            round(${fold("list_transform(range(1, len(a.pv)+1), i -> a.pv[CAST(i AS INT)] * b.pv[CAST(i AS INT)])")} / (a.pnrm * b.pnrm), 6) AS pc
                     FROM pn a CROSS JOIN qp b)
                   QUALIFY row_number() OVER (ORDER BY pc DESC, vec_id) <= 50),
            q AS (SELECT v, nrm FROM n WHERE vec_id = 0)
          SELECT vec_id, cosine FROM (
            SELECT a.vec_id,
                   round($pairDot / (a.nrm * b.nrm), 6) AS cosine
            FROM n a JOIN sl USING (vec_id)
            CROSS JOIN (SELECT v, nrm FROM q) b)
          QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10""",
    "sim_ann_search" -> annSearchSql(qid = 0),
    // identical SEMANTICS to sim_ann_search (different query row): the
    // partitioned store changes the physical plan, never the answer
    "sim_ann_pruned" -> annSearchSql(qid = 1),
    // PRE-filter semantics: top-k of the label-filtered corpus within the
    // probed clusters — the filter narrows the candidate set, never the
    // probe route (centroids are index metadata, not corpus rows)
    "sim_ann_filtered" -> annSearchSql(qid = 1,
      corpusWhere = "n.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 3)"),
    // append-then-search ≡ ingest-everything-then-search
    "sim_ann_upsert" -> annSearchSql(qid = 1),
    // build-in-shards-then-merge ≡ ingest-everything-then-search: a merge
    // moves files between directories, never rows between clusters
    "sim_ann_merge" -> annSearchSql(qid = 1),
    // write+append+compact+search ≡ ingest-everything-then-search:
    // compaction is layout, never semantics
    "sim_ann_compact" -> annSearchSql(qid = 1),
    // delete is semantics (tombstones/purge are layout + timing): the
    // oracle is the same full-corpus IVF search minus the deleted ids
    "sim_ann_delete" -> annSearchSql(qid = 1, corpusWhere = "n.vec_id % 7 <> 3"),
    // drift + recluster ≡ trained-from-day-one: the oracle trains the
    // same two deterministic Lloyd's rounds the recluster runs
    // (kmeansAssigned = sim_kmeans_fit's CTEs + assignment), routes the
    // query to its 2 nearest TRAINED centroids, and ranks only those
    // clusters — the drifted ingest leaves no trace in the answer
    "sim_ann_recluster" ->
      s"""$kmeansAssigned,
            qa AS (SELECT cid FROM sc WHERE vec_id = 1
                   QUALIFY row_number() OVER (ORDER BY sim DESC, cid) <= 2),
            q AS (SELECT v, nrm FROM n WHERE vec_id = 1)
          SELECT vec_id, cosine FROM (
            SELECT a.vec_id,
                   round($pairDot / (a.nrm * b.nrm), 6) AS cosine
            FROM (SELECT x.vec_id, x.v, x.nrm, g.cid
                  FROM n x JOIN asg g ON x.vec_id = g.vec_id) a
            CROSS JOIN (SELECT v, nrm FROM q) b
            JOIN qa ON a.cid = qa.cid)
          QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10""",
    // the composed prep chain replayed from the SAME generated CTE
    // builders the standalone keys use: srpCtes → verified pairs →
    // recursive reachability components (min-id labels, the
    // dedup_components rule) → survivors → pqBaseFrom over the corpus →
    // per-label integer report
    "pipeline_embedding_prep" ->
      s"""WITH RECURSIVE $srpCtes,
            cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                     FROM bands x JOIN bands y
                       ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
            n AS (${normed("SELECT vec_id, v FROM corpus")}),
            p AS (SELECT id_a, id_b FROM (
                    SELECT id_a, id_b, $pairDot / (a.nrm * b.nrm) AS c
                    FROM cand JOIN n a ON a.vec_id = id_a
                              JOIN n b ON b.vec_id = id_b)
                  WHERE c >= 0.9),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
            drops AS (SELECT v AS vec_id FROM (
                        SELECT v, least(v, min(r)) AS comp FROM reach GROUP BY v)
                      WHERE comp <> v),
            surv AS (SELECT vec_id FROM corpus
                     WHERE vec_id NOT IN (SELECT vec_id FROM drops)),
            ${pqBaseFrom("SELECT vec_id, v FROM corpus")},
            cs AS (SELECT vec_id, CAST(sum(cid) AS BIGINT) AS code_sum
                   FROM bpe JOIN surv USING (vec_id) GROUP BY 1),
            rep AS (SELECT c.vec_id,
                           CASE WHEN c.vec_id >= 1048576
                                THEN c.vec_id - 1048576 ELSE c.vec_id END AS orig
                    FROM corpus c),
            lbl AS (SELECT vec_id AS orig, label FROM embeddings)
          SELECT l.label, count(*) AS n_corpus,
                 count(cs.code_sum) AS n_survivors,
                 CAST(sum(cs.code_sum) AS BIGINT) AS sum_code
          FROM rep JOIN lbl l ON rep.orig = l.orig
               LEFT JOIN cs ON cs.vec_id = rep.vec_id
          GROUP BY 1""",
    "sim_hybrid_search" ->
      s"""WITH n AS (${normed(vecs)}),
            kw AS (SELECT doc_id FROM documents
                   WHERE list_contains(string_split(text, ' '), 'merge')
                     AND list_contains(string_split(text, ' '), 'spark')),
            cand AS (SELECT n.vec_id, n.v, n.nrm FROM n JOIN kw ON n.vec_id = kw.doc_id),
            q AS (SELECT v, nrm FROM n WHERE vec_id = 0)
          SELECT vec_id, cosine FROM (
            SELECT a.vec_id,
                   round($pairDot / (a.nrm * b.nrm), 6) AS cosine
            FROM cand a CROSS JOIN q b)
          QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10""",
    "sim_ann_recall" ->
      s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c),
            assigned AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            na AS (SELECT n.vec_id, n.v, n.nrm, a.centroid_id
                   FROM n JOIN assigned a ON n.vec_id = a.vec_id),
            qs AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 3),
            qa AS (SELECT s.vec_id AS q_id, s.centroid_id FROM scored s
                   WHERE s.vec_id < 3
                   QUALIFY row_number() OVER (PARTITION BY s.vec_id
                                              ORDER BY s.sim DESC, s.centroid_id) <= 2),
            approx AS (
              SELECT q_id, vec_id FROM (
                SELECT b.q_id, a.vec_id,
                       round($pairDot / (a.nrm * b.nrm), 6) AS cosine
                FROM na a
                JOIN qa ON a.centroid_id = qa.centroid_id
                JOIN qs b ON b.q_id = qa.q_id)
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 10),
            exact AS (
              SELECT q_id, vec_id FROM (
                SELECT b.q_id, a.vec_id,
                       round($pairDot / (a.nrm * b.nrm), 6) AS cosine
                FROM n a CROSS JOIN qs b)
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 10)
          SELECT q.q_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
                 round(coalesce(h.n_hit, 0) * 1.0 / 10, 6) AS recall
          FROM (SELECT DISTINCT q_id FROM qs) q
          LEFT JOIN (SELECT q_id, count(*) AS n_hit
                     FROM exact JOIN approx USING (q_id, vec_id)
                     GROUP BY q_id) h USING (q_id)""",
    // sim_ann_recall's replay with the corpus side filtered to label=3
    // on BOTH rankings (exact and probed); centroids and queries stay
    // unfiltered — they are index metadata and callers, not corpus
    "sim_filtered_recall" ->
      s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c),
            assigned AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            fl AS (SELECT vec_id FROM embeddings WHERE label = 3),
            na AS (SELECT n.vec_id, n.v, n.nrm, a.centroid_id
                   FROM n JOIN assigned a ON n.vec_id = a.vec_id
                        JOIN fl ON n.vec_id = fl.vec_id),
            qs AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 3),
            qa AS (SELECT s.vec_id AS q_id, s.centroid_id FROM scored s
                   WHERE s.vec_id < 3
                   QUALIFY row_number() OVER (PARTITION BY s.vec_id
                                              ORDER BY s.sim DESC, s.centroid_id) <= 2),
            approx AS (
              SELECT q_id, vec_id FROM (
                SELECT b.q_id, a.vec_id,
                       round($pairDot / (a.nrm * b.nrm), 6) AS cosine
                FROM na a
                JOIN qa ON a.centroid_id = qa.centroid_id
                JOIN qs b ON b.q_id = qa.q_id)
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 10),
            exact AS (
              SELECT q_id, vec_id FROM (
                SELECT b.q_id, a.vec_id,
                       round($pairDot / (a.nrm * b.nrm), 6) AS cosine
                FROM n a JOIN fl ON a.vec_id = fl.vec_id
                CROSS JOIN qs b)
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 10)
          SELECT q.q_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
                 round(coalesce(h.n_hit, 0) * 1.0 / 10, 6) AS recall
          FROM (SELECT DISTINCT q_id FROM qs) q
          LEFT JOIN (SELECT q_id, count(*) AS n_hit
                     FROM exact JOIN approx USING (q_id, vec_id)
                     GROUP BY q_id) h USING (q_id)""",
    // the adaptive dial replayed per predicate: selectivity counts →
    // least(8, greatest(2, ceil(2·n/m))) — the same IEEE multiply/divide
    // the Spark driver computes — then the probe route ranks ≤ that
    // value; everything downstream is sim_filtered_recall's replay
    "sim_filtered_adaptive" -> {
      def block(name: String, pred: String) =
        s"""sel_$name AS (SELECT count(*) AS n,
                     sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS m FROM embeddings),
            np_$name AS (SELECT CAST(least(8, greatest(2,
                     CAST(ceil(2.0 * n / m) AS BIGINT))) AS INT) AS np FROM sel_$name),
            fl_$name AS (SELECT vec_id FROM embeddings WHERE $pred),
            na_$name AS (SELECT n.vec_id, n.v, n.nrm, a.centroid_id
                   FROM n JOIN assigned a ON n.vec_id = a.vec_id
                        JOIN fl_$name fl ON n.vec_id = fl.vec_id),
            qa_$name AS (SELECT s.vec_id AS q_id, s.centroid_id FROM scored s
                   WHERE s.vec_id < 3
                   QUALIFY row_number() OVER (PARTITION BY s.vec_id
                                              ORDER BY s.sim DESC, s.centroid_id)
                           <= (SELECT np FROM np_$name)),
            approx_$name AS (
              SELECT q_id, vec_id FROM (
                SELECT b.q_id, a.vec_id,
                       round($pairDot / (a.nrm * b.nrm), 6) AS cosine
                FROM na_$name a
                JOIN qa_$name qa ON a.centroid_id = qa.centroid_id
                JOIN qs b ON b.q_id = qa.q_id)
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 10),
            exact_$name AS (
              SELECT q_id, vec_id FROM (
                SELECT b.q_id, a.vec_id,
                       round($pairDot / (a.nrm * b.nrm), 6) AS cosine
                FROM n a JOIN fl_$name fl ON a.vec_id = fl.vec_id
                CROSS JOIN qs b)
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 10)"""
      def pick(name: String) =
        s"""SELECT '$name' AS pred, q.q_id,
                  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
                  round(coalesce(h.n_hit, 0) * 1.0 / 10, 6) AS recall,
                  (SELECT np FROM np_$name) AS n_probe
           FROM (SELECT DISTINCT q_id FROM qs) q
           LEFT JOIN (SELECT q_id, count(*) AS n_hit
                      FROM exact_$name JOIN approx_$name USING (q_id, vec_id)
                      GROUP BY q_id) h USING (q_id)"""
      s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c),
            assigned AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            qs AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 3),
            ${block("half", "label <= 4")},
            ${block("rare", "label = 3")}
          ${pick("half")}
          UNION ALL ${pick("rare")}"""
    },
    // replay codebook -> int8 encode -> dequantize -> rank against the
    // EXACT query vector; identical IEEE expression order throughout
    "sim_quantized_search" ->
      s"""WITH x AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
                     FROM embeddings),
            d AS (SELECT r.i AS dim, min(x.v[CAST(r.i AS INT)]) AS lo, max(x.v[CAST(r.i AS INT)]) AS hi
                  FROM x, unnest(range(1, len(x.v)+1)) AS r(i)
                  GROUP BY 1),
            dl AS (SELECT list(struct_pack(lo := lo, hi := hi) ORDER BY dim) AS st FROM d),
            codes AS (
              SELECT vec_id,
                     list_transform(range(1, len(v)+1), i ->
                       CASE WHEN dl.st[CAST(i AS INT)].hi = dl.st[CAST(i AS INT)].lo THEN 0
                            ELSE CAST(round((v[CAST(i AS INT)] - dl.st[CAST(i AS INT)].lo)
                                   / (dl.st[CAST(i AS INT)].hi - dl.st[CAST(i AS INT)].lo) * 255) AS INT)
                       END) AS cs
              FROM x CROSS JOIN dl),
            deq AS (
              SELECT vec_id,
                     list_transform(range(1, len(cs)+1), i ->
                       dl.st[CAST(i AS INT)].lo + CAST(cs[CAST(i AS INT)] AS DOUBLE) / 255.0
                         * (dl.st[CAST(i AS INT)].hi - dl.st[CAST(i AS INT)].lo)) AS v
              FROM codes CROSS JOIN dl),
            nd AS (SELECT vec_id, v, sqrt(${fold("list_transform(v, x -> x*x)")}) AS nrm FROM deq),
            q AS (SELECT v, nrm FROM (${normed(vecs)}) WHERE vec_id = 0)
          SELECT vec_id, cosine FROM (
            SELECT a.vec_id,
                   round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])")} / (a.nrm * b.nrm), 6) AS cosine
            FROM nd a CROSS JOIN q b)
          QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10""",
    // replay train -> assign, then the directed domination rule: drop x
    // iff a same-cluster y with cos(x,y) >= tau holds a stronger keep
    // claim (lower centroid-sim, id tiebreak) — SemDeDup's
    // keep-the-most-atypical rule
    "dedup_semantic" ->
      s"""$kmeansAssigned,
            na AS (SELECT n.vec_id, n.v, n.nrm, a.cid, a.sim
                   FROM n JOIN asg a ON n.vec_id = a.vec_id),
            dom AS (SELECT DISTINCT a.vec_id
                    FROM na a JOIN na b
                      ON a.cid = b.cid AND a.vec_id <> b.vec_id
                    WHERE $pairDot / (a.nrm * b.nrm) >= 0.45
                      AND (b.sim < a.sim OR (b.sim = a.sim AND b.vec_id < a.vec_id)))
          SELECT a.vec_id, a.cid AS centroid_id, a.sim AS centroid_sim
          FROM asg a ANTI JOIN dom d ON a.vec_id = d.vec_id""",
    // replay train -> assign, the intra-cluster τ pair scan, then the
    // recursive reachability closure (the dedup_components rule): each
    // τ-connected group keeps its (min sim, min id) member; unpaired
    // vectors keep themselves
    "dedup_semantic_components" ->
      s"""WITH RECURSIVE ${kmeansAssigned.stripPrefix("WITH ")},
            na AS (SELECT n.vec_id, n.v, n.nrm, a.cid, a.sim
                   FROM n JOIN asg a ON n.vec_id = a.vec_id),
            p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM na a JOIN na b
                    ON a.cid = b.cid AND a.vec_id < b.vec_id
                  WHERE $pairDot / (a.nrm * b.nrm) >= 0.45),
            e AS (SELECT id_a AS es, id_b AS ed FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach AS (SELECT es AS v, ed AS r FROM e
                      UNION SELECT reach.v, e.ed FROM reach JOIN e ON reach.r = e.es),
            comp AS (SELECT v AS vec_id, least(v, min(r)) AS comp FROM reach GROUP BY v),
            wc AS (SELECT a.vec_id, a.cid, a.sim, coalesce(c.comp, a.vec_id) AS comp
                   FROM asg a LEFT JOIN comp c ON a.vec_id = c.vec_id)
          SELECT vec_id, cid AS centroid_id, sim AS centroid_sim
          FROM wc
          QUALIFY row_number() OVER (PARTITION BY comp ORDER BY sim, vec_id) = 1""",
    "sim_cluster_stats" ->
      s"""$kmeansAssigned
          SELECT cid AS centroid_id, count(*) AS n,
                 round(avg(sim), 6) AS avg_sim, min(sim) AS min_sim
          FROM asg GROUP BY 1""",
    "ta_decontaminate_semantic" ->
      s"""WITH n AS (${normed(vecs)}),
            bench AS (SELECT vec_id AS bid, v, nrm FROM n WHERE vec_id % 97 = 0),
            corp AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 97 <> 0),
            scored AS (
              SELECT c.vec_id, b.bid,
                     round(${fold("list_transform(range(1, len(c.v)+1), i -> c.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])")} / (c.nrm * b.nrm), 6) AS sim
              FROM corp c CROSS JOIN bench b)
          SELECT vec_id, bid AS bench_id, sim AS cosine FROM (
            SELECT vec_id, bid, sim FROM scored
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bid) = 1)
          WHERE sim >= 0.35""",
    "sim_ann_batch" ->
      s"""WITH n AS (${normed(vecs)}),
            c AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 8),
            scored AS (
              SELECT a.vec_id, c.centroid_id,
                     round(${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])")} / (a.nrm * c.nrm), 6) AS sim
              FROM n a CROSS JOIN c),
            assigned AS (
              SELECT vec_id, centroid_id FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            na AS (SELECT n.vec_id, n.v, n.nrm, a.centroid_id
                   FROM n JOIN assigned a ON n.vec_id = a.vec_id),
            qs AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 3),
            qa AS (SELECT s.vec_id AS q_id, s.centroid_id FROM scored s
                   WHERE s.vec_id < 3
                   QUALIFY row_number() OVER (PARTITION BY s.vec_id
                                              ORDER BY s.sim DESC, s.centroid_id) <= 2)
          SELECT q_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM (
            SELECT b.q_id, a.vec_id,
                   round($pairDot / (a.nrm * b.nrm), 6) AS cosine
            FROM na a
            JOIN qa ON a.centroid_id = qa.centroid_id
            JOIN qs b ON b.q_id = qa.q_id)
          QUALIFY rank <= 5""",

    // per-dim micro-unit sums replayed exactly; the same division
    // association ((s/n)/1e6) so the doubles are bit-identical
    "sim_drift" ->
      """WITH e AS (SELECT vec_id % 2 = 0 AS old,
                           list_transform(embedding,
                             x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
                    FROM embeddings),
           u AS (SELECT old, CAST(r.i - 1 AS INT) AS dim, qv[CAST(r.i AS INT)] AS v
                 FROM e, unnest(range(1, len(qv)+1)) AS r(i)),
           g AS (SELECT dim,
                        CAST(count(*) FILTER (WHERE old) AS BIGINT) AS n_old,
                        CAST(count(*) FILTER (WHERE NOT old) AS BIGINT) AS n_new,
                        CAST(sum(CASE WHEN old THEN v END) AS BIGINT) AS so,
                        CAST(sum(CASE WHEN NOT old THEN v END) AS BIGINT) AS sn
                 FROM u GROUP BY 1)
         SELECT dim, n_old, n_new,
                round(CAST(so AS DOUBLE)/CAST(n_old AS DOUBLE)/1000000.0, 6) AS mean_old,
                round(CAST(sn AS DOUBLE)/CAST(n_new AS DOUBLE)/1000000.0, 6) AS mean_new,
                round(CAST(sn AS DOUBLE)/CAST(n_new AS DOUBLE)/1000000.0
                      - CAST(so AS DOUBLE)/CAST(n_old AS DOUBLE)/1000000.0, 6) AS shift
         FROM g""",

    "sim_threshold_sweep" ->
      s"""WITH e AS (SELECT vec_id, label,
                            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
            n AS (SELECT vec_id, label, v,
                         sqrt(${fold("list_transform(v, x -> x*x)")}) AS nrm
                  FROM e),
            p AS (SELECT floor(
                           ${fold("list_transform(range(1, len(a.v)+1), i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])")}
                           / (a.nrm * b.nrm) * 10) AS bucket
                  FROM n a JOIN n b
                    ON a.label = b.label AND a.vec_id < b.vec_id)
          SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_pairs,
                 round(CAST(bucket AS DOUBLE)/10.0, 1) AS tau_lo
          FROM p GROUP BY p.bucket""",

    "sim_norm_audit" ->
      s"""WITH q AS (SELECT label, list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
                     FROM embeddings),
            n AS (SELECT label, round(sqrt(CAST(
                    ${"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(qv, x -> x*x)), (a, x) -> a + x)"}
                    AS DOUBLE)) / 1000000.0, 2) AS norm
                  FROM q)
          SELECT label, norm, count(*) AS n_vecs FROM n GROUP BY 1, 2"""
  )
}
