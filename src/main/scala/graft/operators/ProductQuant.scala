package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the standard ANN memory compression
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
  * split each d-dim vector into `m` subvectors, k-means each subspace
  * independently, store each vector as `m` small code ids (here m bytes'
  * worth vs d floats — 64× smaller than the raw float column at
  * m=4/d=64), and rank queries against codes only via an
  * asymmetric-distance (ADC) lookup table. Complements `sim_quantize`'s
  * scalar int8 path (4×) with the codebook path real vector stores run.
  *
  * Scale design:
  *  - training: ONE corpus scan per Lloyd's iteration covers ALL m
  *    subspaces (codes fold map-side against the broadcast codebook; the
  *    only shuffle is (subspace, code, dim) partial means — m·k·dsub
  *    rows, constant in corpus size);
  *  - encoding: zero-shuffle broadcast fold per subspace (ivfAssign's
  *    plan shape), emitting one m-int array per row;
  *  - search: the query's per-(subspace, code) distance table is m·k
  *    TINY rows computed on the codebook, packed into ONE broadcast row;
  *    each corpus row folds its codes over the table map-side and a
  *    distributed partial top-k (orderBy+limit) returns k rows — the
  *    corpus is never shuffled and never touches a float vector.
  *
  * Determinism contract (same as [[Similarity.kmeansFit]]): init = first
  * k ids per subspace, assignment scores and per-dim means rounded to
  * 6 dp, ties broken by lowest code id, fold order ascending — the whole
  * train → encode → search chain replays exactly in SQL (DuckDB
  * `list_reduce` ≡ Spark `aggregate` left fold), so PQ codes and ADC
  * rankings are hash-exact cross-engine. */
object ProductQuant {

  import graft.expressions.VectorExpressions.dot

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Argmin code for subspace `j`: minimize |c|² − 2·x·c (equals the L2
    * argmin — |x|² is constant per row), rounded 6 dp, lowest cid on
    * ties. One fold over the broadcast codebook array, codegen'd.
    * A codebook with NO entries for the subspace would leave the fold's
    * `-1` init sentinel as the winner — a silently-wrong code that the
    * distance table downstream can't resolve — so it raises instead
    * (fused into the code expression; costs nothing on the good path). */
  private def argminCode(v: Column, cb: Column, j: Int, dsub: Int): Column = {
    val xs = slice(v, j * dsub + 1, dsub)
    val entries = filter(cb, e => e.getField("subspace") === j)
    val best = aggregate(entries,
      struct(lit(Double.PositiveInfinity).as("s"), lit(-1).as("cid")),
      (b, e) => {
        val s = round(e.getField("cn2") - lit(2.0) * dot(xs, e.getField("cv")), 6)
        when(s < b.getField("s"), struct(s.as("s"), e.getField("cid").as("cid")))
          .otherwise(b)
      }).getField("cid")
    coalesce(when(best === -1, raise_error(
      lit(s"ProductQuant: codebook has no entries for subspace $j — " +
        "m/dims disagree with the trained codebook"))), best)
  }

  /** All m·k codebook entries packed into ONE broadcast row, sorted by
    * (subspace, cid) so fold order is deterministic. */
  private def packed(codebook: DataFrame): DataFrame =
    broadcast(codebook
      .select(struct(col("subspace"), col("cid"), col("c_v").as("cv"),
        dot(col("c_v"), col("c_v")).as("cn2")).as("e"))
      .agg(array_sort(collect_list(col("e"))).as("cb")))

  /** Train m per-subspace codebooks: (subspace, cid, c_v). `dims` must be
    * divisible by `m`; `cid`s are the first-k row ids (kmeansFit's init
    * convention). One corpus scan per iteration covers all subspaces. */
  def train(df: DataFrame, vecCol: String, idCol: String,
            m: Int, k: Int, dims: Int, iters: Int = 2): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val dsub = dims / m
    val shim = org.apache.spark.sql.GraftShim
    // code ids are the first-k row ids (kmeansFit's convention) held as
    // int; an id past int range would WRAP and collide two init
    // centroids into one cid, silently shrinking the codebook — raise
    // instead (fused; the init frame is k rows, the guard costs nothing)
    val badId = col(idCol).isNull ||
      col(idCol) > Int.MaxValue.toLong || col(idCol) < Int.MinValue.toLong
    var codebook = df.orderBy(col(idCol)).limit(k)
      .select(coalesce(
        when(badId, raise_error(concat(
          lit("ProductQuant.train: init id outside int range: "),
          col(idCol).cast("string")))),
        col(idCol).cast("int")).as("cid"), asDouble(col(vecCol)).as("v"))
      .select(explode(sequence(lit(0), lit(m - 1))).as("subspace"),
        col("cid"), col("v"))
      .select(col("subspace"), col("cid"),
        slice(col("v"), col("subspace") * dsub + 1, lit(dsub)).as("c_v"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val cb = packed(codebook)
      val codes = df.select(asDouble(col(vecCol)).as("v")).crossJoin(cb)
        .select(col("v"),
          array((0 until m).map(j => argminCode(col("v"), col("cb"), j, dsub)): _*)
            .as("codes"))
      val means = codes
        .select(col("v"), posexplode(col("codes")).as(Seq("subspace", "cid")))
        .select(col("subspace"), col("cid"),
          posexplode(slice(col("v"), col("subspace") * dsub + 1, lit(dsub)))
            .as(Seq("dim", "x")))
        .groupBy("subspace", "cid", "dim").agg(round(avg(col("x")), 6).as("mn"))
        .groupBy("subspace", "cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          s => s.getField("mn")).as("c_v"))
      // a code winning zero vectors keeps its previous centroid — the
      // codebook stays exactly m×k (kmeansFit's coalesce rule)
      val next = codebook.select(col("subspace"), col("cid"), col("c_v").as("__prev"))
        .join(means.withColumnRenamed("c_v", "__new"), Seq("subspace", "cid"), "left")
        .select(col("subspace"), col("cid"),
          coalesce(col("__new"), col("__prev")).as("c_v"))
        .localCheckpoint()
      shim.unpersistCheckpoint(codebook)
      codebook = next
      i += 1
    }
    codebook
  }

  /** Encode every row as its m-code array: (idCol, codes). Zero shuffle —
    * one broadcast pass, all codegen'd: the m per-subspace
    * filter+aggregate folds of [[argminCode]] (interpreted higher-order
    * functions, m·k struct allocations per row) are fused into the ONE
    * native [[graft.expressions.PqEncodeCodes]] loop — same entry order,
    * same round-6 scores, same strict-< lowest-cid tie rule, so the codes
    * are value-identical (PqNativeSpec + the oracle prove it;
    * `train` keeps the catalyst [[argminCode]] untouched — its plan is
    * pinned). A null vector still fails loudly, as the `-1` sentinel
    * raise did. */
  def encode(df: DataFrame, vecCol: String, idCol: String,
             codebook: DataFrame, m: Int, dims: Int): DataFrame = {
    // same divisibility contract as train(): a floored dsub would
    // silently encode a TRUNCATED vector (trailing dims ignored)
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val dsub = dims / m
    df.select(col(idCol), asDouble(col(vecCol)).as("v")).crossJoin(packed(codebook))
      .select(col(idCol),
        coalesce(
          when(col("v").isNull,
            raise_error(lit("ProductQuant.encode: null vector"))),
          graft.expressions.PqExpressions.pqEncodeCodes(col("v"), col("cb"), m, dsub))
          .as("codes"))
  }

  /** ADC search: rank `codes` rows against a raw query vector using the
    * per-(subspace, code) distance table — the corpus side reads codes
    * ONLY (the float vectors can live in cold storage). Returns the k
    * (idCol, adist) rows with the smallest approximate squared L2
    * distance, ties by id. */
  def search(codes: DataFrame, idCol: String, codebook: DataFrame,
             query: Seq[Double], m: Int, dims: Int, k: Int): DataFrame = {
    require(query.length == dims, s"query has ${query.length} dims, expected $dims")
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val dsub = dims / m
    val q = array(query.map(lit): _*)
    // m·k-row distance table computed ON the codebook frame, packed and
    // broadcast exactly like the codebook itself
    val dtable = broadcast(codebook
      .select(struct(col("subspace"), col("cid"),
        round(aggregate(
          zip_with(slice(q, col("subspace") * dsub + 1, lit(dsub)), col("c_v"),
            (a, c) => (a - c) * (a - c)),
          lit(0.0), (acc, x) => acc + x), 6).as("pd")).as("e"))
      .agg(array_sort(collect_list(col("e"))).as("dt")))
    // a code with no (subspace, cid) row in the table (codes paired with
    // the wrong codebook, or a stray sentinel) must fail LOUDLY and
    // clearly — the native lookup throws the named error, like the
    // try_element_at + fused raise_error it replaces (zero cost while
    // every lookup resolves). The per-row per-code table scan
    // (interpreted `filter` over m·k entries inside a `transform`, then
    // an `aggregate` fold) is fused into ONE native binary-search loop
    // ([[graft.expressions.AdcSum]]) — j-ascending sum over the same
    // already-rounded pd doubles, so the sum is bit-identical; the final
    // round(·, 6) stays in catalyst. At 100 TB this expression IS the
    // query-time corpus scan.
    codes.crossJoin(dtable)
      .select(col(idCol),
        round(graft.expressions.PqExpressions.adcSum(col("codes"), col("dt")), 6)
          .as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** IVF+PQ SERVING over a centroid-tagged code frame — the composition
    * a production vector store runs at query time. `codes` carries
    * (idCol, centroid_id, codes), the [[graft.sinks.AnnStore.writePq]]
    * layout (or an in-memory assign⋈encode join): the query routes to
    * its `nProbe` nearest centroids driver-side
    * ([[Similarity.probeRoute]] — ≤ nProbe ids of routing metadata),
    * the cluster filter is a FOLDABLE `IN` (static partition pruning on
    * the store: the planner lists only the probed directories), and ADC
    * ranks the surviving codes against the query's broadcast distance
    * table. The query reads ~nProbe/K of the CODE files and never
    * touches a float corpus vector — compression and pruning compound.
    * Ranking is identical to filtering [[search]]'s input by the same
    * probe set (spec-proven against the unpruned `sim_ivfpq_search`
    * composition). */
  def searchPruned(codes: DataFrame, idCol: String, codebook: DataFrame,
                   centroids: DataFrame, cIdCol: String, vecCol: String,
                   query: Seq[Double], m: Int, dims: Int, k: Int,
                   nProbe: Int): DataFrame = {
    require(codes.columns.contains("centroid_id"),
      s"`codes` needs centroid_id — the AnnStore.writePq layout; got: ${codes.columns.mkString(", ")}")
    val probes = Similarity.probeRoute(centroids, cIdCol, vecCol, query, nProbe)
    search(codes.filter(col("centroid_id").isin(probes: _*)),
      idCol, codebook, query, m, dims, k)
  }

  /** TWO-STAGE serving — PQ shortlist, exact re-rank: the standard
    * production recipe for recovering the recall that quantization
    * costs. Stage 1 runs [[search]] over the codes for a SHORTLIST of
    * `nCand` ≥ k candidates (reading m bytes/row, floats stay cold);
    * stage 2 fetches ONLY the shortlist's float vectors and re-ranks
    * them by exact squared L2, returning the top `k` with exact
    * distances. The re-rank join broadcasts the ≤`nCand`-row shortlist
    * over the vector table (a map-side semi-join — the corpus never
    * enters an exchange); at store scale the fetch is the id-bucketed
    * pruned-read discipline (`BandStore.docs`/`AnnStore`), so stage 2
    * reads nCand vectors' bytes, not the corpus. Recall@k is monotone
    * in `nCand` and reaches exact search's once the true top-k is
    * inside the shortlist — the dial is priced by the `sim_pq_recall`
    * measurement; `nCand = k` degenerates to re-scoring ADC's own
    * answer. */
  def searchRerank(codes: DataFrame, vectors: DataFrame, idCol: String,
                   vecCol: String, codebook: DataFrame, query: Seq[Double],
                   m: Int, dims: Int, k: Int, nCand: Int): DataFrame = {
    require(nCand >= k, s"nCand=$nCand must be >= k=$k")
    require(query.length == dims, s"query has ${query.length} dims, expected $dims")
    val shortlist = search(codes, idCol, codebook, query, m, dims, nCand)
    val q = array(query.map(lit): _*)
    vectors.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .join(broadcast(shortlist.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol),
        round(aggregate(zip_with(col("v"), q, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 6).as("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(k)
  }
}
