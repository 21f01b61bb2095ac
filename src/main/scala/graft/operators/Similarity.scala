package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY.md §2.D).
  * Brute-force is the correctness baseline; `ivfAssign` is the scale
  * path: centroid assignment is a broadcast nested-loop over K rows
  * (map-side, no shuffle of the corpus), after which search touches only
  * one cluster — at 100 TB, partition-by-centroid turns ANN into a
  * pruned-partition scan.
  */
object Similarity {

  /** Cosine similarity between two double-array columns: element-order
    * sequential fold — deterministic and identical across engines. */
  def cosine(a: Column, b: Column): Column = {
    import graft.expressions.VectorExpressions.{dot, l2norm}
    dot(a, b) / (l2norm(a) * l2norm(b))
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** The vector of a single-row `query` frame, fetched by the ONE bounded
    * driver job that also enforces the single-row contract
    * (`limit(2).collect()`); `msg` is the caller's contract violation. */
  private def singleQuery(query: DataFrame, vecCol: String, msg: String): Seq[Double] = {
    val rows = query.select(asDouble(col(vecCol)).as("q_v")).limit(2).collect()
    require(rows.length == 1, msg)
    rows(0).getSeq[Double](0)
  }

  /** Brute-force top-k by cosine vs one query vector (scores rounded for
    * cross-engine-stable ordering; unique id tiebreak).
    *
    * The single-query contract is enforced by [[singleQuery]] (with
    * several query rows the alternative crossJoin would rank all queries'
    * scores in one combined top-k with no error; use [[topKBatch]] for
    * batched queries); the plan then delegates to the typed overload
    * below, so no broadcast join appears in it. */
  def topK(df: DataFrame, vecCol: String, idCol: String,
           query: DataFrame, k: Int): DataFrame = {
    topK(df, vecCol, idCol, singleQuery(query, vecCol,
      "topK expects exactly one query row; use ivfSearchBatch for batched queries"), k)
  }

  /** [[topK]] with an already-validated LOCAL query vector — the typed
    * fast path for hot retrieval loops: the query rides as a foldable
    * array literal, so the plan is a map-side projection + bounded top-k
    * with no eager guard job and no join of any kind. */
  def topK(df: DataFrame, vecCol: String, idCol: String,
           query: Seq[Double], k: Int): DataFrame = {
    require(query.nonEmpty, "topK: empty query vector")
    df.select(col(idCol),
        round(cosine(asDouble(col(vecCol)), typedlit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched brute-force top-k: one exact result set per query row —
    * [[topK]]'s multi-query form, and the ground truth [[ivfSearchBatch]]
    * is measured against (`sim_ann_recall`). Queries ride ONE broadcast;
    * scoring is map-side; the only shuffle is the per-query rank window
    * (Q×n scored rows — brute force is O(Q·n) by definition, which is why
    * it is the oracle-parity baseline, not the scale path). */
  def topKBatch(df: DataFrame, vecCol: String, idCol: String,
                queries: DataFrame, qIdCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(qIdCol).as("q_id"), asDouble(col(vecCol)).as("q_v")))
    df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .crossJoin(q)
      .select(col("q_id"), col(idCol), round(cosine(col("v"), col("q_v")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Measured recall@k of [[ivfSearchBatch]] against [[topKBatch]] ground
    * truth, per query — the number that justifies an nProbe setting
    * before committing a 100 TB corpus to it. Probing ALL K clusters is
    * exhaustive by construction (recall exactly 1.0 — spec'd), so recall
    * is monotone in nProbe and this query prices the dial. */
  def annRecall(df: DataFrame, vecCol: String, idCol: String,
                centroids: DataFrame, cIdCol: String,
                queries: DataFrame, qIdCol: String,
                k: Int, nProbe: Int): DataFrame = {
    val exact = topKBatch(df, vecCol, idCol, queries, qIdCol, k)
      .select(col("q_id"), col(idCol))
    val approx = ivfSearchBatch(df, vecCol, idCol, centroids, cIdCol,
        queries, qIdCol, k, nProbe)
      .select(col("q_id"), col(idCol))
    // both sides are k·Q rows — the approx side rides a broadcast so the
    // intersection never sort-merges two tiny frames
    val hits = exact.join(broadcast(approx), Seq("q_id", idCol), "left_semi")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_hit"))
    // every query gets a row: a probe set sharing NO ids with the exact
    // top-k is recall 0.0, not a silently missing row — dropping it would
    // overstate any averaged recall and break per-query lookups
    queries.select(col(qIdCol).as("q_id")).distinct()
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** Hybrid (predicate + vector) retrieval with an ADAPTIVE physical
    * plan. The caller's predicate already produced a candidate-id frame
    * (keyword match, metadata filter, ACL…); ranking those survivors
    * brute-force is right ONLY while the predicate is selective — an
    * unselective filter (half the corpus matches) silently degrades the
    * composition into a full brute-force rank. So the regime is picked by
    * a MEASURED survivor count (one cheap aggregate over ids the
    * predicate scan already computed, paid once per query):
    *  - `n <= bruteForceLimit`: exact [[topK]] over the semi-joined
    *    survivors — one map-side scan of a small set;
    *  - above it: IVF assign + probe over the survivors
    *    ([[ivfSearchAssigned]]), reading ~nProbe/K of the candidate mass;
    *    `nProbe` prices recall exactly as in [[ivfSearch]], and probing
    *    every centroid makes this regime exhaustive too (spec'd — the
    *    regimes then return identical rows).
    * `bruteForceLimit` defaults to 100k vectors ≈ one executor-core's
    * worth of dot products — tune to taste; the switch is a plan choice,
    * not a semantics choice, for any probe count covering the true top-k.
    */
  def hybridTopK(corpus: DataFrame, vecCol: String, idCol: String,
                 candidates: DataFrame, query: DataFrame, k: Int,
                 centroids: DataFrame, cIdCol: String, nProbe: Int,
                 bruteForceLimit: Long = 100000L): DataFrame = {
    hybridTopK(corpus, vecCol, idCol, candidates, singleQuery(query, vecCol,
        "hybridTopK expects exactly one query row; use ivfSearchBatch for batched queries"),
      k, centroids, cIdCol, nProbe, bruteForceLimit)
  }

  /** [[hybridTopK]] with an already-validated LOCAL query vector — the
    * typed fast path for hot serving loops (same convention as the
    * [[topK]]/[[ivfSearchAssigned]] typed overloads): no eager
    * single-row guard job; the only actions are the measured survivor
    * count the adaptive regime switch is FOR (one aggregate over ids
    * the predicate scan already computed) and, in the IVF regime, the
    * bounded probe route. */
  def hybridTopK(corpus: DataFrame, vecCol: String, idCol: String,
                 candidates: DataFrame, query: Seq[Double], k: Int,
                 centroids: DataFrame, cIdCol: String, nProbe: Int,
                 bruteForceLimit: Long): DataFrame = {
    require(query.nonEmpty, "hybridTopK: empty query vector")
    // materialize the DISTINCT survivor ids once (eager localCheckpoint):
    // the regime count and the semi-join then read the same id set, so the
    // caller's predicate scan runs exactly once, and duplicate candidate
    // rows (a doc matching two keywords) can't inflate the measured count
    // past bruteForceLimit when the distinct survivors are small
    val ids = candidates.select(col(idCol)).distinct().localCheckpoint()
    val survivors = corpus.join(ids, Seq(idCol), "left_semi")
    if (ids.count() <= bruteForceLimit)
      topK(survivors, vecCol, idCol, query, k)
    else
      ivfSearchAssigned(
        ivfAssign(survivors, vecCol, idCol, centroids, cIdCol, keepVec = true),
        idCol, centroids, cIdCol, vecCol, query, k, nProbe)
  }

  /** TWO-STAGE serving via DIMENSION TRUNCATION — the Matryoshka-style
    * recipe (nested-prefix embeddings trained so their first dims carry
    * most of the signal; arXiv:2205.13147 is the public reference):
    * stage 1 ranks every row on only the FIRST `dPrefix` dims (prefix
    * cosine — d/dPrefix less arithmetic per row) for a shortlist of
    * `nCand` candidates; stage 2 re-ranks ONLY the shortlist by
    * full-dim exact cosine — [[ProductQuant.searchRerank]]'s shape with
    * truncation instead of codes as the compressor, and the same
    * broadcast-semi-join stage 2 (the corpus never enters an exchange).
    *
    * Scale shape, honestly: computed in-plan the truncation saves
    * ARITHMETIC, not I/O — the scan still reads full arrays. The I/O
    * win at 100 TB comes from the storage discipline: materialize the
    * prefix as its OWN column (id, v_prefix, v) at ingest, and stage 1
    * column-prunes to v_prefix (reads dPrefix/d of the vector bytes)
    * while stage 2 fetches nCand full vectors by id — the
    * `AnnStore`/`BandStore.docs` bucket-routed-read discipline. Recall@k
    * is monotone in both dials (dPrefix, nCand) and exact once the true
    * top-k is inside the shortlist; `nCand = k` degenerates to prefix
    * ranking alone. */
  def truncatedRerank(df: DataFrame, vecCol: String, idCol: String,
                      query: Seq[Double], dPrefix: Int, k: Int,
                      nCand: Int): DataFrame = {
    require(nCand >= k, s"nCand=$nCand must be >= k=$k")
    require(dPrefix >= 1 && dPrefix <= query.length,
      s"dPrefix=$dPrefix must be in [1, ${query.length}]")
    val qPre = query.take(dPrefix)
    val shortlist = df.select(col(idCol),
        round(cosine(slice(asDouble(col(vecCol)), 1, dPrefix), typedlit(qPre)), 6).as("pc"))
      .orderBy(col("pc").desc, col(idCol))
      .limit(nCand)
    df.join(broadcast(shortlist.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol), round(cosine(asDouble(col(vecCol)), typedlit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Lloyd's k-means for IVF centroid training: deterministic init (first
    * k rows by id), then `iters` assign→mean rounds. Each round is one
    * broadcast assignment (map-side) + one shuffle of (cluster, dim)
    * partial sums — linear in corpus size, constant in k·dim, so training
    * on a 100 TB embedding table is iters × (scan + tiny shuffle).
    * Returns (centroid_id, vector).
    *
    * Each round's means are rounded to 6 dp, which makes training REPLAYABLE:
    * a double `avg` sums in partition order, so raw means drift by ~1 ulp
    * across partition counts, reruns, and engines — rounding collapses that
    * drift, so the trained centroids are rerun-stable and oracle-exact
    * (`sim_kmeans_fit`). The ≤5e-7 per-dim perturbation is noise next to
    * k-means' own approximation and does not move any assignment that
    * wasn't already a coin-flip. */
  def kmeansFit(df: DataFrame, vecCol: String, idCol: String,
                k: Int, iters: Int = 3): DataFrame = {
    val shim = org.apache.spark.sql.GraftShim
    // localCheckpoint per round: same iterative-fixpoint rule as
    // connectedComponents — without truncation each round's plan embeds
    // the previous round's whole assign+agg tree and planning cost
    // compounds with iters. The centroid frame is k rows — the
    // checkpoint is trivially cheap next to the corpus scan it guards.
    var centroids = df.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("int").as("centroid_id"), asDouble(col(vecCol)).as("c_v"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val assigned = ivfAssign(df, vecCol, idCol,
        centroids.withColumnRenamed("c_v", vecCol), "centroid_id", keepVec = true)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("centroid_id", "dim").agg(round(avg(col("x")), 6).as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("c_v"))
      // a centroid that won zero assignments this round keeps its previous
      // vector instead of silently vanishing — the caller asked for k
      // centroids and downstream nProbe/recall math assumes k
      val next = centroids.select(col("centroid_id"), col("c_v").as("__prev"))
        .join(means.withColumnRenamed("c_v", "__new"), Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__new"), col("__prev")).as("c_v"))
        .localCheckpoint()
      shim.unpersistCheckpoint(centroids)
      centroids = next
      i += 1
    }
    centroids
  }

  /** Mean cosine of each vector to its assigned centroid — the clustering
    * quality score used to validate training. */
  def assignmentQuality(df: DataFrame, vecCol: String, idCol: String,
                        centroids: DataFrame, cIdCol: String): Double =
    ivfAssign(df, vecCol, idCol, centroids, cIdCol)
      .agg(avg(col("sim"))).head().getDouble(0)

  /** Per-dimension (min, max) of an embedding column — the codebook for
    * scalar quantization. The n×dim explode aggregates with map-side
    * partial min/max, so the shuffle carries only partitions×dim rows. */
  def quantizeStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(asDouble(col(vecCol))).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))

  /** int8 scalar quantization: codes = round(255·(x−lo)/(hi−lo)) per
    * dimension — 4× less memory than float32, which is what lets a
    * RAM-resident ANN index hold 4× the corpus. The per-dim stats ride in
    * ONE broadcast row; encoding is a per-row projection, zero shuffle.
    * Constant dimensions code to 0. Deterministic arithmetic end to end
    * (exact min/max + one IEEE divide), so quantization is oracle-exact —
    * unlike k-means codebooks, whose averaged centroids are
    * partition-order-dependent. */
  def scalarQuantize(df: DataFrame, vecCol: String, idCol: String,
                     stats: DataFrame): DataFrame = {
    val packed = broadcast(stats
      .select(struct(col("dim"), col("lo"), col("hi")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("st")))
    df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .crossJoin(packed)
      .select(col(idCol),
        transform(col("v"), (x, i) => {
          val st = element_at(col("st"), i + 1)
          val lo = st.getField("lo")
          val hi = st.getField("hi")
          when(hi === lo, lit(0))
            .otherwise(round((x - lo) / (hi - lo) * 255).cast("int"))
        }).as("codes"))
  }

  /** Inverse of [[scalarQuantize]]: x̂ = lo + code/255·(hi−lo), per-dim
    * max error (hi−lo)/510. Distance math must run on dequantized values
    * — raw codes are all-positive with a per-dim offset, which wrecks
    * angular measures. */
  def dequantize(df: DataFrame, codesCol: String, idCol: String,
                 stats: DataFrame): DataFrame = {
    val packed = broadcast(stats
      .select(struct(col("dim"), col("lo"), col("hi")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("st")))
    df.crossJoin(packed)
      .select(col(idCol),
        transform(col(codesCol), (c, i) => {
          val st = element_at(col("st"), i + 1)
          st.getField("lo") +
            c.cast("double") / 255.0 * (st.getField("hi") - st.getField("lo"))
        }).as("v"))
  }

  /** Full IVF ANN search: assign the corpus to centroids (zero-shuffle
    * broadcast fold), route the query vector to its `nProbe` nearest
    * centroids, then rank ONLY those clusters — the plan never scores the
    * whole corpus against the query. `nProbe` is the recall/cost dial:
    * probing P of K clusters scans ~P/K of the corpus and recovers
    * neighbors that straddle a cluster boundary. The query-side ranking
    * crossJoins ONE row against K broadcast centroid rows — trivial by
    * construction. At scale, storing the corpus partitioned by centroid
    * turns the cluster filter into partition pruning. Includes the query
    * row itself when it is part of `df` (same convention as [[topK]]). */
  def ivfSearch(df: DataFrame, vecCol: String, idCol: String,
                centroids: DataFrame, cIdCol: String,
                query: DataFrame, k: Int, nProbe: Int = 1): DataFrame =
    ivfSearchAssigned(ivfAssign(df, vecCol, idCol, centroids, cIdCol, keepVec = true),
      idCol, centroids, cIdCol, vecCol, query, k, nProbe)

  /** [[ivfSearch]] over an ALREADY-ASSIGNED corpus — the entry point for a
    * prebuilt [[graft.sinks.AnnStore]]: `assigned` carries (idCol,
    * centroid_id, v).
    *
    * Probe routing is DRIVER-SIDE by design: ranking K centroids against
    * ONE query vector is a constant-size problem (one crossJoin of a row
    * with K broadcast rows), and collecting the nProbe winning ids lets
    * the cluster filter be a foldable `IN` predicate — on a
    * centroid-partitioned store that is STATIC partition pruning, the
    * planner lists only the probed directories before reading a byte.
    * (The join-based alternative needs dynamic partition pruning, whose
    * broadcast-reuse heuristics are planner-version-dependent; a
    * query-layer route of ≤ nProbe ints is how production vector stores
    * do it. The collect here is bounded by nProbe — it is routing
    * metadata, not data.) AnnStoreSpec proves the pruned scan.
    *
    * EAGER construction: this method runs two bounded driver jobs (the
    * fused single-row guard + query fetch — `limit(2).collect()` — and
    * the K-row probe route) when CALLED, not when the result is acted on
    * — probe routing binds to the corpus/centroids as of the call.
    * `assigned` must carry `centroid_id` and the vector as `v` — the
    * shape `ivfAssign(keepVec = true)` and `AnnStore.read` produce
    * (`vecCol` names the vector column of `centroids`/`query`, which
    * usually keep the original corpus name); enforced below. Hot paths
    * that already hold the query vector locally should call the typed
    * `Seq[Double]` overload — no eager job beyond the probe route. */
  def ivfSearchAssigned(assigned: DataFrame, idCol: String,
                        centroids: DataFrame, cIdCol: String, vecCol: String,
                        query: DataFrame, k: Int, nProbe: Int = 1): DataFrame = {
    // single-query contract: the result schema carries no query id, so a
    // multi-row `query` would silently select nProbe probes across ALL
    // queries combined
    ivfSearchAssigned(assigned, idCol, centroids, cIdCol, vecCol, singleQuery(query, vecCol,
        "ivfSearch expects exactly one query row; for batched queries carry a query id and rank per query"),
      k, nProbe)
  }

  /** [[ivfSearchAssigned]] with an already-validated LOCAL query vector —
    * the typed fast path (round-8 verdict #6): the only eager work is the
    * K-row probe route; the query rides every scoring expression as a
    * foldable array literal, so the candidate scan is a map-side
    * projection under the probe `IN` filter (static partition pruning on
    * an [[graft.sinks.AnnStore]]). */
  def ivfSearchAssigned(assigned: DataFrame, idCol: String,
                        centroids: DataFrame, cIdCol: String, vecCol: String,
                        query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    require(Seq(idCol, "centroid_id", "v").forall(assigned.columns.contains),
      s"`assigned` needs ($idCol, centroid_id, v) — the ivfAssign(keepVec=true) / AnnStore.read shape; got: ${assigned.columns.mkString(", ")}")
    require(query.nonEmpty, "ivfSearch: empty query vector")
    assigned
      .filter(col("centroid_id").isin(probeRoute(centroids, cIdCol, vecCol, query, nProbe): _*))
      .select(col(idCol), round(cosine(col("v"), typedlit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Metadata-FILTERED ANN search — the "filtered vector search" serving
    * primitive: top-k among the corpus rows satisfying `predicate`,
    * restricted to the query's `nProbe` nearest clusters. The predicate
    * is evaluated over columns STORED WITH the vectors (an
    * `ivfAssign(metaCols = …)` ingest carries them through the
    * zero-shuffle fold into the store's partition files), so this is
    * PRE-filtering: candidates are filtered before ranking, and the
    * result is the top-k OF the filtered set — never the (recall-broken)
    * post-filter of an unfiltered top-k, which returns < k rows the
    * moment any unfiltered winner fails the predicate.
    *
    * Plan shape at scale: on an [[graft.sinks.AnnStore]] the probe route
    * is a foldable `IN` (static partition pruning — only nProbe of K
    * directories are listed) and `predicate` lands in the SAME scan as a
    * pushed parquet filter (`PushedFilters` — spec-proven), so row
    * groups whose metadata statistics exclude the predicate are skipped
    * before a vector is decoded. Scoring stays a map-side projection;
    * the only data read is the probed clusters' predicate-surviving row
    * groups. Contrast [[hybridTopK]], which takes the predicate's
    * survivors as an EXTERNAL candidate-id frame (keyword scan, ACL
    * table…) and joins; this path is for predicates the store itself can
    * answer — no join of any kind appears in the plan.
    *
    * Recall caveat (the dial this family always prices): nProbe bounds
    * the clusters scanned BEFORE the filter, so as the predicate gets
    * more selective, fewer of the true filtered top-k live in the probed
    * clusters — production filtered-ANN raises nProbe with filter
    * selectivity. Measure with [[annRecall]] over the filtered corpus;
    * probing all K clusters is exact here exactly as in [[ivfSearch]]. */
  def filteredSearch(assigned: DataFrame, idCol: String,
                     centroids: DataFrame, cIdCol: String, vecCol: String,
                     predicate: Column, query: DataFrame, k: Int,
                     nProbe: Int): DataFrame = {
    filteredSearch(assigned, idCol, centroids, cIdCol, vecCol, predicate, singleQuery(query, vecCol,
        "filteredSearch expects exactly one query row; for batched queries carry a query id and rank per query"),
      k, nProbe)
  }

  /** [[filteredSearch]] with an already-validated LOCAL query vector —
    * the typed fast path: the only eager work is the K-row probe route. */
  def filteredSearch(assigned: DataFrame, idCol: String,
                     centroids: DataFrame, cIdCol: String, vecCol: String,
                     predicate: Column, query: Seq[Double], k: Int,
                     nProbe: Int): DataFrame = {
    require(Seq(idCol, "centroid_id", "v").forall(assigned.columns.contains),
      s"`assigned` needs ($idCol, centroid_id, v) — the ivfAssign(keepVec=true) / AnnStore.read shape; got: ${assigned.columns.mkString(", ")}")
    require(query.nonEmpty, "filteredSearch: empty query vector")
    assigned
      .filter(col("centroid_id").isin(probeRoute(centroids, cIdCol, vecCol, query, nProbe): _*))
      .filter(predicate)
      .select(col(idCol), round(cosine(col("v"), typedlit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The ADAPTIVE probe count for metadata-filtered ANN (round-14 verdict
    * item — [[hybridTopK]]'s measured-regime treatment applied to
    * [[filteredSearch]]'s recall caveat): nProbe bounds the clusters
    * scanned BEFORE the filter, so at selectivity s = m/n only ~s of each
    * probed cluster's mass survives — holding the SURVIVING candidate
    * mass at the unfiltered target means scaling the probe count by 1/s:
    * `min(K, max(base, ceil(base·n/m)))`. Every term is exact integer or
    * one IEEE multiply+divide, so an oracle replays the dial exactly.
    * Monotone: selectivity 1 → base (the unfiltered dial), s → 0 → all K
    * clusters (exhaustive, recall 1 by construction). */
  def adaptiveNProbe(total: Long, survivors: Long, baseNProbe: Int,
                     kCentroids: Int): Int = {
    require(survivors > 0,
      "adaptiveNProbe: the predicate matches no rows — a filtered search " +
        "over zero survivors has no meaningful probe count")
    require(total >= survivors && baseNProbe >= 1 && kCentroids >= 1,
      s"adaptiveNProbe: need total >= survivors >= 1, base >= 1, K >= 1; " +
        s"got total=$total survivors=$survivors base=$baseNProbe K=$kCentroids")
    math.min(kCentroids.toLong,
      math.max(baseNProbe.toLong,
        math.ceil(baseNProbe.toDouble * total / survivors).toLong)).toInt
  }

  /** [[filteredSearch]] with the probe count picked from MEASURED
    * selectivity: one cheap survivor-count aggregate (the predicate
    * evaluated map-side over a column-pruned scan — the only extra
    * action the dial costs; at 100 TB it reads the predicate columns'
    * bytes once, no vectors, no shuffle), then [[adaptiveNProbe]] scales
    * the base dial so recall on the FILTERED corpus tracks the
    * unfiltered target as selectivity drops — the production behavior
    * `sim_filtered_recall` prices manually. Same pre-filtering plan as
    * [[filteredSearch]]; the centroid count is bounded (K rows). */
  def filteredSearchAdaptive(assigned: DataFrame, idCol: String,
                             centroids: DataFrame, cIdCol: String,
                             vecCol: String, predicate: Column,
                             query: Seq[Double], k: Int,
                             baseNProbe: Int): DataFrame = {
    val c = assigned.agg(count(lit(1)).as("n"),
      sum(when(predicate, 1L).otherwise(0L)).as("m")).head()
    val (n, m) = (c.getLong(0), if (c.isNullAt(1)) 0L else c.getLong(1))
    val kCents = centroids.count().toInt
    val np = adaptiveNProbe(n, m, baseNProbe, kCents)
    filteredSearch(assigned, idCol, centroids, cIdCol, vecCol, predicate,
      query, k, np)
  }

  /** Driver-side probe ROUTE: the ids of the `nProbe` centroids nearest
    * the query (rounded cosine desc, id tiebreak — the same total order
    * every ivf consumer uses). Bounded routing metadata (≤ nProbe ids,
    * one K-row job), which is what lets the cluster filter be a FOLDABLE
    * `IN` — static partition pruning on a centroid-partitioned store
    * before a byte of corpus is read. Shared by the float serving path
    * ([[ivfSearchAssigned]]) and the PQ one
    * ([[ProductQuant.searchPruned]]). */
  def probeRoute(centroids: DataFrame, cIdCol: String, vecCol: String,
                 query: Seq[Double], nProbe: Int): Seq[Any] = {
    require(query.nonEmpty, "probeRoute: empty query vector")
    val probeIds = centroids
      .select(col(cIdCol).as("q_cid"),
        round(cosine(asDouble(col(vecCol)), typedlit(query)), 6).as("q_sim"))
      .orderBy(col("q_sim").desc, col("q_cid"))
      .limit(nProbe)
      .collect().map(_.get(0)).toIndexedSeq
    // an empty centroid frame would otherwise filter the corpus to nothing
    // and return a silently-empty result for every query
    require(probeIds.nonEmpty,
      "probeRoute: no centroids to probe — the centroid frame is empty")
    probeIds
  }

  /** Batched IVF ANN search: one top-k result set PER query row — the
    * batched form [[ivfSearch]]'s single-query guard points callers to.
    * `queries` carries (qIdCol, vecCol); the result carries (q_id, id,
    * cosine, rank ≤ k).
    *
    * Plan shape at scale: the corpus is assigned once (zero-shuffle
    * broadcast fold); query→centroid routing crossJoins each query row
    * with the K broadcast centroids (map-side, Q×K tiny rows) and ranks
    * per query id — no per-query Spark jobs, no driver loop. The
    * candidate join then shuffles corpus rows and probes on centroid_id:
    * total candidate volume is Σ_q (corpus mass of its nProbe clusters),
    * the same ~nProbe/K fraction per query as the single-query path. A
    * corpus vector reaches a given query at most once (its single
    * centroid matches at most one of the query's probes), so no dedup
    * pass is needed. Left unhinted: AQE broadcasts the probe side when Q
    * is small and shuffles both sides when Q is itself corpus-sized. */
  def ivfSearchBatch(df: DataFrame, vecCol: String, idCol: String,
                     centroids: DataFrame, cIdCol: String,
                     queries: DataFrame, qIdCol: String,
                     k: Int, nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(df, vecCol, idCol, centroids, cIdCol, keepVec = true)
    val c = broadcast(centroids.select(col(cIdCol).as("q_cid"), asDouble(col(vecCol)).as("c_v")))
    val probes = queries.select(col(qIdCol).as("q_id"), asDouble(col(vecCol)).as("q_v"))
      .crossJoin(c)
      .select(col("q_id"), col("q_v"), col("q_cid"),
        round(cosine(col("q_v"), col("c_v")), 6).as("q_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("q_sim").desc, col("q_cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_cid"), col("q_v"))
    assigned.join(probes, col("centroid_id") === col("q_cid"))
      .select(col("q_id"), col(idCol),
        round(cosine(col("v"), col("q_v")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** IVF assignment: nearest (by cosine) of the broadcast `centroids`
    * (id + vector). Deterministic tiebreak on rounded score then centroid
    * id. Returns corpus rows tagged with `centroid_id`.
    *
    * Zero-shuffle plan: the K centroids are packed into ONE row (a
    * cid-sorted array of (cid, vector, norm) structs), broadcast, and the
    * per-row argmax is a single `aggregate` fold over that array — the
    * corpus never enters an Exchange. (The alternative — crossJoin the K
    * centroid rows then `row_number` over a per-id window — shuffles n×K
    * rows to answer a map-side question; at K=4096 that is a 4096×
    * data-amplified exchange.) Fold order is cid-ascending with a strict
    * `>` improvement test, so ties keep the lowest cid — identical to
    * ordering by (sim DESC, centroid_id). */
  def ivfAssign(df: DataFrame, vecCol: String, idCol: String,
                centroids: DataFrame, cIdCol: String,
                keepVec: Boolean = false,
                metaCols: Seq[String] = Nil): DataFrame = {
    import graft.expressions.VectorExpressions.l2norm
    require(!metaCols.contains(vecCol) && !metaCols.contains(idCol),
      s"metaCols must not repeat the id/vector columns; got: ${metaCols.mkString(", ")}")
    val packed = broadcast(
      centroids
        .select(struct(col(cIdCol).as("cid"), asDouble(col(vecCol)).as("cv"),
          l2norm(asDouble(col(vecCol))).as("cn")).as("c"))
        .agg(array_sort(collect_list(col("c"))).as("cs")))
    // the best-centroid fold, fused into ONE codegen'd pass (round 20):
    // IvfBestAssign replicates the composed aggregate exactly — same
    // round6 scores, same strict-> update (Spark double ordering, so the
    // lowest cid wins ties and NaN behaves as greatest), dimension
    // mismatches skipped like DotProduct's NULL — and the NULL-vector
    // case pins to the fold's init struct (the composed aggregate never
    // returns NULL there; IvfNativeSpec pins all of it)
    val best = when(col("v").isNull || col("nrm").isNull,
      struct(lit(Double.NegativeInfinity).as("sim"),
        element_at(col("cs"), 1).getField("cid").as("cid")))
      .otherwise(graft.expressions.VectorExpressions
        .ivfBestAssign(col("v"), col("nrm"), col("cs")))
    // metaCols ride the SAME zero-shuffle fold as the vector: carrying
    // serving metadata (language, license, source…) into the assignment —
    // and from there into an AnnStore's partition files, where a filtered
    // probe pushes predicates on it into the pruned scan — costs no id
    // re-join at ingest, it is the same map-side projection
    val out = df.select(col(idCol) +: asDouble(col(vecCol)).as("v") +: metaCols.map(col): _*)
      .withColumn("nrm", l2norm(col("v")))
      .crossJoin(packed)
      .withColumn("b", best)
    val base = Seq(col(idCol), col("b.cid").as("centroid_id"), col("b.sim").as("sim"))
    // keepVec lets consumers that need the vector (bucketed near-dup,
    // k-means update) avoid re-joining the corpus by id — one less shuffle
    val kept = if (keepVec) base :+ col("v") else base
    out.select(kept ++ metaCols.map(col): _*)
  }

  /** Multi-probe IVF assignment: each corpus row exploded to its `nProbe`
    * nearest centroids (rounded cosine, lowest-cid ties — [[ivfAssign]]'s
    * exact ordering), as (id, probe_rank, centroid_id[, v]) rows.
    *
    * Zero-shuffle like [[ivfAssign]]: the K centroids broadcast as ONE
    * packed row, each row scores them in a map-side `transform`, an
    * explicit-comparator `array_sort` orders (sim DESC, cid ASC), and
    * `slice` keeps nProbe — the corpus never enters an Exchange and the
    * output is n·nProbe rows, NOT the n·K a crossJoin+window probe plan
    * ships ([[ivfSearchBatch]] pays that only because its query side is
    * dimension-sized; here the "queries" are the corpus itself). */
  def ivfProbes(df: DataFrame, vecCol: String, idCol: String,
                centroids: DataFrame, cIdCol: String, nProbe: Int,
                keepVec: Boolean = false): DataFrame = {
    import graft.expressions.VectorExpressions.l2norm
    require(nProbe >= 1, s"ivfProbes: nProbe must be >= 1, got $nProbe")
    val packed = broadcast(
      centroids
        .select(struct(col(cIdCol).as("cid"), asDouble(col(vecCol)).as("cv"),
          l2norm(asDouble(col(vecCol))).as("cn")).as("c"))
        .agg(array_sort(collect_list(col("c"))).as("cs")))
    // scored + comparator-sorted + sliced, fused into ONE codegen'd pass
    // (round 20): IvfProbeRanked replicates the composed transform +
    // array_sort((sim DESC via null-skipping whens, cid ASC)) + slice
    // chain exactly — same round6 scores, NULL sim on dimension mismatch
    // ordering by cid, rounded sims keep the ordering cross-engine-stable
    // exactly as in ivfAssign's fold. The NULL-vector case pins to what
    // the composed chain produced there: the first nProbe centroids in
    // cid order with NULL sims (IvfNativeSpec pins all of it)
    val ranked = when(col("v").isNull || col("nrm").isNull,
      transform(slice(col("cs"), 1, nProbe), c => struct(
        lit(null).cast("double").as("sim"), c.getField("cid").as("cid"))))
      .otherwise(graft.expressions.VectorExpressions
        .ivfProbeRanked(col("v"), col("nrm"), col("cs"), nProbe))
    val out = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .crossJoin(packed)
      .select(col(idCol), col("v"),
        posexplode(ranked).as(Seq("__p", "pr")))
      .select(col(idCol), (col("__p") + 1).as("probe_rank"),
        col("pr.cid").as("centroid_id"), col("v"))
    if (keepVec) out else out.drop("v")
  }

  /** kNN GRAPH — every corpus vector's k nearest neighbors by cosine,
    * with candidate generation BLOCKED by IVF clusters: the index side is
    * each vector under its HOME cluster ([[ivfAssign]]), the query side
    * probes its `nProbe` nearest clusters ([[ivfProbes]]), and candidates
    * are the equi-join of the two on cluster id — Σ per-point probed
    * cluster mass ≈ n·nProbe/K of the n² all-pairs grid, never a
    * cartesian. The graph is the primitive under SemDeDup-style semantic
    * dedup, graph clustering, and ANN-graph (HNSW/NSG) construction.
    *
    * Each (point, neighbor) candidate appears AT MOST ONCE — a neighbor
    * has exactly one home cluster — so no dedup stage is needed. Output:
    * (idCol, nbr_id, cosine, rank ≤ k), self-pairs excluded. Recall vs
    * exact brute force is the nProbe dial ([[annRecall]]'s economics);
    * probing all K clusters is exhaustive by construction (spec-proven
    * equal to brute-force kNN). At 100 TB the index side is the
    * centroid-partitioned [[graft.sinks.AnnStore]] and the join
    * co-locates on the store's layout. */
  def knnGraph(df: DataFrame, vecCol: String, idCol: String,
               centroids: DataFrame, cIdCol: String,
               k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"knnGraph: k must be >= 1, got $k")
    val index = ivfAssign(df, vecCol, idCol, centroids, cIdCol, keepVec = true)
      .select(col(idCol).as("nbr_id"), col("centroid_id"), col("v").as("n_v"))
    val probes = ivfProbes(df, vecCol, idCol, centroids, cIdCol, nProbe,
      keepVec = true)
    probes.join(index, Seq("centroid_id"))
      .filter(col(idCol) =!= col("nbr_id"))
      .select(col(idCol),
        col("nbr_id"), round(cosine(col("v"), col("n_v")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("cosine").desc, col("nbr_id"))))
      .filter(col("rank") <= k)
  }

  /** One NN-DESCENT refinement round over a kNN graph — the standard
    * recall-repair step after blocked construction (Dong et al.'s
    * NN-Descent insight, public since WWW'11: a neighbor's neighbor is
    * likely a neighbor): candidates = the graph's edges, their REVERSALS,
    * and all two-hop pairs; rescore exactly; keep top-k per point.
    *
    * Monotone by construction — every current neighbor stays a candidate,
    * so per-point recall never decreases, and refining an already-exact
    * graph is a fixed point (both spec-proven). Candidate volume is
    * n·k(k+2) rows before the distinct — k²-bounded per point, linear in
    * corpus size, never a cartesian; the rescore is two hash joins
    * against the vector table (id-keyed, co-partitionable with a stored
    * corpus at scale).
    *
    * `graph` must be (idCol, nbr_id, …) shaped — [[knnGraph]]'s output.
    * Repeated rounds converge like the public algorithm; each is one call. */
  def knnRefine(graph: DataFrame, df: DataFrame, vecCol: String,
                idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"knnRefine: k must be >= 1, got $k")
    require(graph.columns.contains(idCol) && graph.columns.contains("nbr_id"),
      s"knnRefine: graph needs ($idCol, nbr_id); got: ${graph.columns.mkString(", ")}")
    // pin the edge set ONCE: it is consumed three times (direct, reversed,
    // and both sides of the two-hop self-join) and Spark re-evaluates the
    // whole upstream graph plan per consumption otherwise (measured 3×
    // the graph build per refine). The checkpoint is two longs × n·k —
    // routing-metadata-sized, the same materialization rationale as
    // Components' label frame; it lives until the app releases blocks
    val edges = graph.select(col(idCol).as("src"), col("nbr_id").as("cand"))
      .localCheckpoint()
    val twoHop = edges.as("e1")
      .join(edges.as("e2"), col("e1.cand") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.cand").as("cand"))
    val cands = edges
      .unionByName(edges.select(col("cand").as("src"), col("src").as("cand")))
      .unionByName(twoHop)
      .filter(col("src") =!= col("cand"))
      .distinct()
    val v = df.select(col(idCol).as("__vid"), asDouble(col(vecCol)).as("__vv"))
    cands
      .join(v, col("src") === col("__vid")).withColumnRenamed("__vv", "sv").drop("__vid")
      .join(v, col("cand") === col("__vid")).withColumnRenamed("__vv", "cv").drop("__vid")
      .select(col("src").as(idCol), col("cand").as("nbr_id"),
        round(cosine(col("sv"), col("cv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("cosine").desc, col("nbr_id"))))
      .filter(col("rank") <= k)
  }

  /** Angular SAFETY PAD (radians) added to every cluster radius and
    * subtracted from the prune bound: covers the 6-dp cosine rounding
    * and double arithmetic wobble between the radius pass and the route.
    * Pruning stays LOSSLESS under the pad (a pruned cluster provably
    * holds no qualifying member); the only cost is the rare borderline
    * cluster scanned unnecessarily. */
  private val RangePadRad = 1e-3

  private def clampedAcos(c: Column): Column =
    acos(greatest(lit(-1.0d), least(lit(1.0d), c)))

  /** Per-cluster angular radius — max angle(centroid, member) over an
    * ivfAssign/AnnStore-shaped corpus (idCol, centroid_id, v): ONE
    * broadcast-join scan folding each member against its own centroid
    * row, aggregated to K bounded rows. In production this sidecar is
    * computed once at ingest and stored beside the centroids (same
    * K-row footprint); recomputing here is the cold build stage. */
  def clusterRadii(assigned: DataFrame, centroids: DataFrame,
                   cIdCol: String, vecCol: String): DataFrame = {
    require(Seq("centroid_id", "v").forall(assigned.columns.contains),
      s"`assigned` needs (centroid_id, v); got: ${assigned.columns.mkString(", ")}")
    val cents = broadcast(centroids.select(col(cIdCol).as("r_cid"),
      asDouble(col(vecCol)).as("c_v")))
    assigned.join(cents, col("centroid_id") === col("r_cid"))
      .groupBy(col("centroid_id"))
      .agg((max(clampedAcos(cosine(col("v"), col("c_v")))) + lit(RangePadRad))
        .as("radius"))
  }

  /** Driver-side RANGE route: ids of every cluster that could hold a
    * member with cosine >= minCosine, by the spherical triangle
    * inequality — angle(q, x) >= angle(q, c) − radius(c), so a cluster
    * is pruned only when even its best-possible member falls short.
    * LOSSLESS by construction (unlike nProbe's recall dial): the result
    * set is pruning-blind. K bounded rows collect (routing metadata,
    * the probeRoute discipline); may legitimately be EMPTY when the
    * threshold outruns every cluster. */
  def rangeRoute(centroids: DataFrame, cIdCol: String, vecCol: String,
                 radii: DataFrame, query: Seq[Double],
                 minCosine: Double): Seq[Any] = {
    require(query.nonEmpty, "rangeRoute: empty query vector")
    val routed = centroids
      .select(col(cIdCol).as("q_cid"),
        clampedAcos(cosine(asDouble(col(vecCol)), typedlit(query))).as("q_ang"))
      .join(radii, col("q_cid") === col("centroid_id"))
      .select(col("q_cid"), col("q_ang"), col("radius"))
      .collect()
    // pruned-to-EMPTY is a legitimate answer; routing over NO clusters is
    // a caller bug (empty centroid frame / empty store) — probeRoute's
    // raise-on-bad-input rule, not a silently-empty result
    require(routed.nonEmpty,
      "rangeRoute: no clusters to route — empty centroid frame or empty store")
    routed
      .filter { r =>
        val bestPossible = math.cos(math.max(0.0, r.getDouble(1) - r.getDouble(2)))
        bestPossible >= minCosine - 1e-9
      }
      .map(_.get(0)).toIndexedSeq
  }

  /** EXACT radius search: every corpus member with rounded cosine >=
    * minCosine — the range twin of [[ivfSearchAssigned]], and like it
    * never a whole-corpus scan: survivors of [[rangeRoute]] become a
    * foldable `IN` (static partition pruning on a centroid-partitioned
    * [[graft.sinks.AnnStore]]), then the exact filter decides
    * membership. Result is identical to brute force (spec-proven):
    * pruning is lossless, so correctness never depends on it. */
  def rangeSearch(assigned: DataFrame, idCol: String,
                  centroids: DataFrame, cIdCol: String, vecCol: String,
                  query: DataFrame, minCosine: Double): DataFrame = {
    rangeSearch(assigned, idCol, centroids, cIdCol, vecCol, singleQuery(query, vecCol,
      "rangeSearch expects exactly one query row; range-search batches per query id"), minCosine)
  }

  /** [[rangeSearch]] with an already-validated LOCAL query vector. */
  def rangeSearch(assigned: DataFrame, idCol: String,
                  centroids: DataFrame, cIdCol: String, vecCol: String,
                  query: Seq[Double], minCosine: Double): DataFrame = {
    require(Seq(idCol, "centroid_id", "v").forall(assigned.columns.contains),
      s"`assigned` needs ($idCol, centroid_id, v) — the ivfAssign(keepVec=true) / AnnStore.read shape; got: ${assigned.columns.mkString(", ")}")
    require(query.nonEmpty, "rangeSearch: empty query vector")
    val radii = clusterRadii(assigned, centroids, cIdCol, vecCol)
    val survivors = rangeRoute(centroids, cIdCol, vecCol, radii, query, minCosine)
    val clusterFilter =
      if (survivors.isEmpty) lit(false) else col("centroid_id").isin(survivors: _*)
    assigned.filter(clusterFilter)
      .select(col(idCol), round(cosine(col("v"), typedlit(query)), 6).as("cosine"))
      .filter(col("cosine") >= lit(minCosine))
  }

  /** MAXIMAL MARGINAL RELEVANCE rerank: from the exact top-`topN`
    * candidates by cosine, greedily select `k` results maximizing
    * `lambda·rel(d) − mu·max_{s∈S} sim(d, s)` — the diversity rerank
    * that keeps a retrieval page (or a curated training slice) from
    * filling with near-duplicates of the best hit.
    *
    * Plan shape: relevance scoring + top-N is the fully distributed
    * [[topK]] path (map-side cosine, TakeOrdered cut); the greedy
    * selection then runs on the DRIVER over the collected top-N rows —
    * a ROUTE-bounded collect (topN rows, a serving-side constant ≤ a
    * broadcast side), the same discipline as the ANN stores' probe
    * routes. The quadratic step is O(topN·k) driver flops over vectors
    * already paid for — never a distributed all-pairs. `lambda` and
    * `mu` are taken verbatim (NOT mu = 1−lambda: binary 1−0.7 ≠ the
    * literal 0.3 an engine replay would use, and the score comparison
    * must be bit-identical to the oracle's unrolled greedy).
    *
    * Determinism: relevance and pairwise similarities are 6dp-rounded
    * before any comparison (the repo-wide cosine rule); ties break to
    * the lower id. Output: `(rank, vec_id, relevance, max_sim,
    * mmr_score)`, one row per selected result in selection order. */
  def mmrRerank(df: DataFrame, vecCol: String, idCol: String,
                query: DataFrame, topN: Int, k: Int,
                lambda: Double, mu: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qv = singleQuery(query, vecCol, "mmrRerank expects exactly one query row")

    val cand = df
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("rel", round(cosine(col("v"), typedlit(qv)), 6))
      .orderBy(col("rel").desc, col("id"))
      .limit(topN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

    // Driver greedy — every arithmetic step mirrors the engine replay:
    // sequential-fold dot/norm (ascending dimension order), 6dp HALF_UP
    // rounding, (score DESC, id ASC) argmax.
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sim(a: Array[Double], b: Array[Double]): Double =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))

    val selected = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Double, Double, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    while (selected.length < k && chosen.length < cand.length) {
      val best = cand.iterator
        .filterNot { case (id, _, _) => chosen.exists(_._1 == id) }
        .map { case (id, v, rel) =>
          val ms = if (chosen.isEmpty) 0.0
            else chosen.iterator.map(s => sim(v, s._2)).max
          (id, v, rel, ms, lambda * rel - mu * ms)
        }
        .reduce { (a, b) =>
          if (b._5 > a._5 || (b._5 == a._5 && b._1 < a._1)) b else a
        }
      selected += ((selected.length + 1L, best._1, best._3, best._4, r6(best._5)))
      chosen += ((best._1, best._2))
    }
    selected.toSeq.toDF("rank", "vec_id", "relevance", "max_sim", "mmr_score")
  }
}
