package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Graph
import ScaleCurve.{endpointAlpha, timed}

/** Scale-curve evidence for the triangle family (`q_triangle_count`) —
  * two measurements, each enforced by `require`:
  *
  *  1. DISJOINT BLOW-UP: k id-shifted copies of the real sf0.01
  *     co-purchase graph. Triangles must scale EXACTLY ×k (disjoint
  *     copies share nothing — any deviation means the enumeration leaks
  *     across copies) and the wall must stay near-linear (α < 1.35 over
  *     ×1 → ×10).
  *
  *  2. HUB ROBUSTNESS: a pure star graph of degree h. Naive wedge
  *     enumeration at the hub is C(h, 2) ≈ h²/2 — the quadratic trap a
  *     bestseller item springs on a co-purchase graph. Under the
  *     low-(deg,id)→high orientation every star edge points AT the hub,
  *     so oriented wedge volume is ZERO; the tool recomputes both
  *     volumes from the degree tables (exact integers, no sampling) and
  *     requires oriented = 0 while naive ≥ h(h−1)/2, then times the
  *     full operator to pin the absolute cost.
  */
object ScaleCurveGraph {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    import spark.implicits._

    // real co-purchase edges at sf0.01 (the q_triangle_count derivation)
    val baskets = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
    val pairsCol = flatten(transform(col("ps"), (x, i) =>
      transform(
        slice(col("ps"), i + lit(2), greatest(size(col("ps")) - i - lit(1), lit(0))),
        y => struct(x.as("u"), y.as("v")))))
    val base = baskets.select(explode(pairsCol).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v")).distinct()
      .localCheckpoint()

    // Discarded warm-up: a full triangleCounts run on the base graph
    // BEFORE any timed point, so the ×1 measurement doesn't carry
    // JVM/codegen/scan warm-up. Without it the fit read α = −0.18
    // (×1 wall 4.57 s inflated vs ×10's 3.04 s/copy) — the α < 1.35
    // gate was being satisfied by warm-up noise, not by evidence of
    // near-linear scaling.
    Graph.triangleCounts(base).count()
    Graph.releaseResults()

    var pts = Vector[(Long, Long, Double)]() // (m, triangles, wall)
    val off = 10000000L
    Seq(1, 4, 10).foreach { f =>
      val copies = (0 until f).map(i =>
        base.select((col("u") + lit(i * off)).as("u"), (col("v") + lit(i * off)).as("v")))
      val e = copies.reduce(_ unionAll _).localCheckpoint()
      val m = e.count()
      // MIN of two timed runs per point: a single pass at these sizes is
      // scheduler-noise-bound (x4 has read slower than x10), and the min
      // is the least-contended observation of a deterministic compute
      val results = (1 to 2).map { _ =>
        val r = timed {
          val counts = Graph.triangleCounts(e)
          val row = counts.agg(count(lit(1)), sum(col("n_tri"))).head()
          (row.getLong(0), row.getLong(1) / 3) // 3 memberships per triangle
        }
        Graph.releaseResults()
        r
      }
      val ((nNodes, nTri), wall) = results.minBy(_._2)
      pts :+= ((m, nTri, wall))
      sc.emit(f"""{"op":"triangles","shape":"disjoint_x$f","edges":$m,"triangles":$nTri,"nodes_in_tri":$nNodes,"wall_sec":$wall%.2f}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(e)
    }
    val (m0, t0, w0) = pts.head
    val (m1, t1, w1) = pts.last
    require(t1 == 10 * t0 && pts(1)._2 == 4 * t0,
      s"disjoint copies must scale triangles exactly: got ${pts.map(_._2)}")
    // At sf0.01-derived sizes the broadcast edge-iterator's wall is
    // OVERHEAD-BOUND (plan + broadcast + JIT ≈ the whole wall; a ×10
    // graph can read FASTER than ×1), so a fitted α would claim
    // sub-linear scaling the compute doesn't have. Report the α only
    // when the ×10 point actually rises above the measurement floor
    // (w10 ≥ 2·w1); otherwise record the floor itself — the ×k-exact
    // TRIANGLE COUNTS above are the load-bearing scaling evidence, and
    // the wall gate only rejects super-linear blow-up.
    val alphaW = endpointAlpha(pts.map(p => (p._1, p._3)))
    val overheadBound = w1 < 2 * w0
    sc.emit(f"""{"op":"triangles","alpha_wall":$alphaW%.3f,"overhead_bound":$overheadBound,"fit_range":[$m0,$m1]}""")
    require(alphaW < 1.35,
      f"triangle wall read α=$alphaW%.3f over ×10 disjoint growth — super-linear")

    // hub robustness: pure star, naive wedges h²/2, oriented wedges 0
    Seq(2000, 20000).foreach { h =>
      val star = (1 to h).map(i => (i.toLong, (h + 1).toLong)).toDF("u", "v")
        .localCheckpoint()
      val deg = star.select(col("u").as("n")).unionAll(star.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val naive = deg.agg(sum(expr("deg * (deg - 1) div 2")).cast("long"))
        .as[Long].head()
      // oriented out-degree: the lower-(deg, id) endpoint owns the edge
      val du = deg.select(col("n").as("u"), col("deg").as("du"))
      val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
      val outdeg = star.join(du, "u").join(dv, "v")
        .select(when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("src"))
        .groupBy("src").agg(count(lit(1)).as("od"))
      val oriented = outdeg.agg(sum(expr("od * (od - 1) div 2")).cast("long"))
        .as[Long].head()
      val (nTri, wall) = timed(Graph.triangleCounts(star).count())
      require(oriented == 0L && naive >= h.toLong * (h - 1) / 2,
        s"star h=$h: oriented wedges $oriented (want 0), naive $naive")
      require(nTri == 0L, s"star graph has no triangles, got $nTri")
      sc.emit(f"""{"op":"triangles","shape":"star","hub_degree":$h,"naive_wedges":$naive,"oriented_wedges":$oriented,"wall_sec":$wall%.2f}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(star)
      Graph.releaseResults()
    }

  }
}
