package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over an undirected edge list — the
  * item-affinity questions a catalog/marketplace pipeline asks of the
  * co-purchase graph the reference's relational load implies (orders ×
  * listings, `Airbnb_Listings_ETL.py:76–81`): which items form cliques
  * (triangles), which items share neighborhoods (node Jaccard).
  *
  * Scale design (100 TB):
  *  - Input contract: DISTINCT undirected edges with `u < v` — one row
  *    per edge, never both directions, so every downstream cost is in
  *    terms of m = |E|, not 2m.
  *  - Triangle counting is the DEGREE-ORIENTED (compact-forward)
  *    algorithm: orient every edge from its lower-(degree, id) endpoint
  *    to the higher one, enumerate wedges at the LOW-degree apex, and
  *    close them against the oriented edge set. Out-degrees under this
  *    orientation are bounded by O(√m) on any graph (arboricity bound),
  *    so the wedge exchange is Σ outdeg² = O(m^1.5) worst-case instead
  *    of the Σ deg² of naive wedge enumeration — the difference between
  *    a feasible shuffle and a quadratic blow-up when the co-purchase
  *    graph has hub items (every bestseller is a hub). Every step is a
  *    keyed equi-join; there is no all-pairs stage anywhere.
  *  - Node Jaccard enumerates wedges (pairs of nodes at distance 2)
  *    grouped by the shared neighbor, so its exchange is Σ deg² of the
  *    input graph — callers feed it a support-thresholded edge set
  *    (see the `q_node_jaccard` query) exactly because the raw
  *    co-occurrence graph's hubs would dominate; the threshold is the
  *    documented knob, not a silent cap.
  */
object Graph {

  /** Result checkpoints handed to callers. `localCheckpoint()` pins
    * block-store blocks that `Dataset.unpersist` never releases (see
    * GraftShim.unpersistCheckpoint) and the operator cannot know when a
    * caller is done reading, so every RESULT pin is tracked here and
    * [[releaseResults]] frees them in bulk — `SparkEntry.clearMemos`
    * calls it between bench passes, tools call it between
    * measurement points. Without the registry each cold pass leaked one
    * m-row checkpoint until ContextCleaner GC happened to collect it. */
  private val resultPins =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def pinResult(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint()
    resultPins.add(p)
    p
  }

  /** Release every result checkpoint handed out since the last call.
    * Callers own the safety argument: no frame derived from a previous
    * result may still be read after this. */
  def releaseResults(): Unit = {
    var df = resultPins.poll()
    while (df != null) {
      try org.apache.spark.sql.GraftShim.unpersistCheckpoint(df)
      catch { case _: Throwable => () } // a stopped session: nothing to free
      df = resultPins.poll()
    }
  }

  /** Per-node triangle participation counts: `(n, n_tri)` for every node
    * in at least one triangle. Each triangle {a,b,c} contributes one to
    * all three members. Input: distinct `(u, v)` with `u < v`. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val tri = triangles(edges)
    tri.select(col("a").as("n"))
      .unionAll(tri.select(col("b").as("n")))
      .unionAll(tri.select(col("c").as("n")))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
  }

  /** Every triangle exactly once as `(a, b, c)`, canonicalized to
    * `a < b < c` by node id (so the output is orientation-independent
    * and an id-ordered SQL replay matches row for row).
    *
    * Regime choice (the measured-gate discipline of Components.run):
    * when the graph fits the broadcast budget (`broadcastCloseLimit`
    * edges), the EDGE-ITERATOR runs — out-adjacency broadcasts and each
    * edge intersects its endpoints' neighbor lists map-side, so the
    * Σ outdeg² wedge stream never materializes. Past the gate it
    * degrades to the keyed wedge-enumeration join — the plan that holds
    * at any scale; callers at true 100 TB edge counts pass 0 to force
    * it. The input is cached for its four scans (degrees ×2,
    * orientation, gate count) and released once the result is pinned;
    * the orientation itself is pinned for its wedge/adjacency/closing
    * readers. */
  def triangles(edges: DataFrame,
                broadcastCloseLimit: Long = 4000000L): DataFrame = {
    val shim = org.apache.spark.sql.GraftShim
    val e = edges.cache()
    val m = e.count()
    val small = m <= broadcastCloseLimit
    if (small) {
      // Degrees pin as a TINY checkpoint (|V| rows); orientation is then
      // two broadcast joins over the cached input — pure map-side, cheap
      // to recompute per consumer, so the m-row orientation itself is
      // never materialized.
      val deg = degreesOf(e).localCheckpoint()
      try pinResult(closeByIntersection(orientWith(e, deg, smallGraph = true)))
      finally { e.unpersist(); shim.unpersistCheckpoint(deg) }
    } else {
      // Large regime: the orientation (two keyed shuffle joins) is read
      // by both wedge legs and the closing probe — pin it once, the
      // Components per-round discipline (swap in reliable checkpoint()
      // for production runs).
      val oriented = orientWith(e, degreesOf(e), smallGraph = false)
        .localCheckpoint()
      try pinResult(closeByWedgeJoin(oriented))
      finally { e.unpersist(); shim.unpersistCheckpoint(oriented) }
    }
  }

  /** Degrees in the undirected graph (each edge counts both endpoints). */
  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))

  /** Orient low-(deg, id) -> high-(deg, id). Carries the destination's
    * rank key so wedge pairs can be ordered without re-joining degrees.
    * Under the small-graph gate the degree table (|V| rows — never more
    * than the edge set the gate already measured) broadcasts, making
    * both annotation joins map-side. */
  private def orientWith(edges: DataFrame, deg: DataFrame,
                         smallGraph: Boolean): DataFrame = {
    val bcast = (d: DataFrame) => if (smallGraph) broadcast(d) else d
    val du = bcast(deg.select(col("n").as("u"), col("deg").as("du")))
    val dv = bcast(deg.select(col("n").as("v"), col("deg").as("dv")))
    val uKey = struct(col("du").as("d"), col("u").as("i"))
    val vKey = struct(col("dv").as("d"), col("v").as("i"))
    edges.join(du, "u").join(dv, "v")
      .select(
        when(uKey < vKey, col("u")).otherwise(col("v")).as("src"),
        when(uKey < vKey, col("v")).otherwise(col("u")).as("dst"),
        when(uKey < vKey, vKey).otherwise(uKey).as("dkey"))
  }

  /** Small-graph regime: EDGE-ITERATOR with a broadcast adjacency. The
    * out-neighbor lists (total entries = m — the gate already measured
    * it) broadcast, each oriented edge (u, v) intersects N⁺(u) ∩ N⁺(v)
    * MAP-SIDE, and each survivor w closes exactly one triangle (w is the
    * orientation-max vertex: the other two edges of the triangle fail
    * the intersection, so nothing double-counts). The Σ outdeg² wedge
    * stream is never materialized — no exchange, no join rows, just a
    * per-edge O(outdeg(u)+outdeg(v)) hash intersection (measured: the
    * wedge-join plan's dominant stage disappears). */
  private def closeByIntersection(oriented: DataFrame): DataFrame = {
    val adj = oriented.groupBy("src").agg(collect_list(col("dst")).as("nbrs"))
    val empty = array().cast(
      org.apache.spark.sql.types.ArrayType(oriented.schema("dst").dataType))
    val srt = sort_array(array(col("src"), col("dst"), col("w")))
    oriented
      .join(broadcast(adj.select(col("src").as("u2"), col("nbrs").as("nu"))),
        col("src") === col("u2"), "left")
      .join(broadcast(adj.select(col("src").as("v2"), col("nbrs").as("nv"))),
        col("dst") === col("v2"), "left")
      .select(col("src"), col("dst"),
        explode(array_intersect(coalesce(col("nu"), empty),
          coalesce(col("nv"), empty))).as("w"))
      .select(element_at(srt, 1).as("a"), element_at(srt, 2).as("b"),
        element_at(srt, 3).as("c"))
  }

  /** Large-graph regime: the classic wedge enumeration — pairs of
    * out-neighbors at the low-degree apex (Σ outdeg² = O(m^1.5) rows,
    * the arboricity bound) closed against the oriented edge set with a
    * keyed shuffle join. Every stage is a keyed equi-join that
    * partitions cleanly at any scale; this is the plan that holds when
    * the adjacency no longer broadcasts. */
  private def closeByWedgeJoin(oriented: DataFrame): DataFrame = {
    // Wedges at the apex: unordered out-neighbor pairs, ordered by the
    // orientation rank key so the closing edge is probed ONCE per wedge.
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("dkey").as("bk"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("dkey").as("ck"))
    val wedges = e1.join(e2, Seq("src")).filter(col("bk") < col("ck"))
      .select(col("src").as("a"), col("b"), col("c"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val srt = sort_array(array(col("a"), col("b"), col("c")))
    wedges.join(closing, Seq("b", "c"))
      .select(element_at(srt, 1).as("a"), element_at(srt, 2).as("b"),
        element_at(srt, 3).as("c"))
  }

  /** INTEGER-EXACT PageRank over an undirected edge list: `(n, pr)`
    * after `iters` power iterations, every quantity a BIGINT.
    *
    * The float formulation is unreproducible across engines (sum order,
    * division rounding); here rank mass is an integer at `scale` and
    * the update is pure integer arithmetic with DETERMINISTIC floor
    * semantics — `contrib = pr div deg`, `pr' = floor((1−d)·scale) +
    * (dampNum · Σ contrib) div dampDen` — so any engine that replays
    * the same divisions gets the SAME bigints, hash-exact. (The floored
    * mass leak is bounded by |V|·deg per iteration — a rank analysis
    * tool cares about ordering and magnitude, which floor at scale 10⁹
    * perturbs ~10 orders below.)
    *
    * Scale shape: per iteration ONE keyed join of the degree-annotated
    * adjacency (pinned once, m rows) against the rank table and ONE
    * keyed aggregate — the rank table broadcasts under the node-count
    * gate (the Components.run measured-gate discipline), degrades to a
    * shuffle join past it; each iteration pins its result (the
    * Components fixpoint discipline) so plans never compound. */
  def pageRank(edges: DataFrame, iters: Int = 3,
               scale: Long = 1000000000L, dampNum: Long = 85L,
               dampDen: Long = 100L,
               broadcastNodesLimit: Long = 4000000L): DataFrame = {
    val shim = org.apache.spark.sql.GraftShim
    val adj = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val adjd = adj.join(deg, "src").localCheckpoint()
    val nNodes = deg.count() // deg is adjd's subtree; count is cheap post-pin
    val small = nNodes <= broadcastNodesLimit
    val base = lit(((dampDen - dampNum) * scale) / dampDen)
    var pr = adjd.select(col("src").as("n")).distinct()
      .withColumn("pr", lit(scale)).localCheckpoint()
    (1 to iters).foreach { _ =>
      val prSide = if (small) broadcast(pr) else pr
      val next = adjd.join(prSide, col("src") === col("n"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst").as("n"))
        .agg(sum(col("c")).cast("bigint").as("s"))
        .select(col("n"),
          (base + expr(s"($dampNum * s) div $dampDen")).cast("bigint").as("pr"))
        .localCheckpoint()
      shim.unpersistCheckpoint(pr)
      pr = next
    }
    // the final rank table is a RESULT pin — tracked for releaseResults,
    // not freed here (the caller hasn't read it yet)
    resultPins.add(pr)
    try pr finally shim.unpersistCheckpoint(adjd)
  }

  /** Neighborhood Jaccard similarity for every node pair at distance 2:
    * `(a, b, n_common, deg_a, deg_b, jaccard)` with `a < b`, where
    * `jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|`. Pairs sharing no
    * neighbor are (correctly) absent — their Jaccard is 0 and
    * enumerating them would be the all-pairs blow-up this construction
    * exists to avoid. The division is one double op over exact integer
    * counts, so it is bit-identical in any engine. */
  def nodeJaccard(edges: DataFrame): DataFrame = {
    val adj = edges.select(col("u").as("n"), col("v").as("nb"))
      .unionAll(edges.select(col("v").as("n"), col("u").as("nb")))
    val deg = adj.groupBy("n").agg(count(lit(1)).as("deg"))

    val x = adj.select(col("n").as("a"), col("nb"))
    val y = adj.select(col("n").as("b"), col("nb"))
    val common = x.join(y, Seq("nb")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))

    common
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        round(col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }
}
