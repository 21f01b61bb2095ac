package graft

import org.apache.spark.sql.functions._

/** Pins the round-20 native PQ serve-side expressions (PqEncodeCodes,
  * AdcSum) to the interpreted catalyst folds they replaced — fold order,
  * strict-< lowest-cid ties, and 6-dp HALF_UP rounding must reproduce
  * exactly, over the whole sf0.001 embeddings corpus. */
class PqNativeSpec extends SparkSpec {

  private val pq = graft.operators.ProductQuant
  private val (m, k, dims) = (4, 8, 64)
  private val dsub = dims / m

  private lazy val e = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val cb = pq.train(e, "embedding", "vec_id", m, k, dims, iters = 2)

  test("PqEncodeCodes reproduces the per-subspace argmin fold exactly") {
    val packed = broadcast(cb
      .select(struct(col("subspace"), col("cid"), col("c_v").as("cv"),
        graft.expressions.VectorExpressions.dot(col("c_v"), col("c_v")).as("cn2")).as("e"))
      .agg(array_sort(collect_list(col("e"))).as("cb")))
    val v = e.select(transform(col("embedding"), _.cast("double")).as("v"))
      .crossJoin(packed)
    def argminOld(j: Int) = {
      val xs = slice(col("v"), j * dsub + 1, dsub)
      val entries = filter(col("cb"), en => en.getField("subspace") === j)
      aggregate(entries,
        struct(lit(Double.PositiveInfinity).as("s"), lit(-1).as("cid")),
        (b, en) => {
          val s = round(en.getField("cn2") -
            lit(2.0) * graft.expressions.VectorExpressions.dot(xs, en.getField("cv")), 6)
          when(s < b.getField("s"), struct(s.as("s"), en.getField("cid").as("cid")))
            .otherwise(b)
        }).getField("cid")
    }
    val oldCodes = array((0 until m).map(argminOld): _*)
    val newCodes = graft.expressions.PqExpressions.pqEncodeCodes(col("v"), col("cb"), m, dsub)
    assert(v.filter(!(oldCodes === newCodes)).count() === 0L)
  }

  test("AdcSum reproduces the distance-table lookup fold exactly") {
    val qv = e.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
    val q = array(qv.map(lit): _*)
    val dtable = broadcast(cb
      .select(struct(col("subspace"), col("cid"),
        round(aggregate(
          zip_with(slice(q, col("subspace") * dsub + 1, lit(dsub)), col("c_v"),
            (a, c) => (a - c) * (a - c)),
          lit(0.0), (acc, x) => acc + x), 6).as("pd")).as("e"))
      .agg(array_sort(collect_list(col("e"))).as("dt")))
    val withDt = pq.encode(e, "embedding", "vec_id", cb, m, dims).crossJoin(dtable)
    val oldTerms = transform(col("codes"), (c, j) =>
      try_element_at(filter(col("dt"),
        en => en.getField("subspace") === j && en.getField("cid") === c), lit(1))
        .getField("pd"))
    val oldAdist = round(aggregate(oldTerms, lit(0.0), (a, x) => a + x), 6)
    val newAdist = round(graft.expressions.PqExpressions.adcSum(col("codes"), col("dt")), 6)
    assert(withDt.filter(!(oldAdist === newAdist)).count() === 0L)
  }

  test("search returns the same top-k as the r19 composition end-to-end") {
    val qv = e.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0)
    val codes = pq.encode(e, "embedding", "vec_id", cb, m, dims)
    val out = pq.search(codes, "vec_id", cb, qv, m, dims, k = 10).collect()
    assert(out.length === 10)
    // adist ascending, ties by id — the declared order contract
    val pairs = out.map(r => (r.getDouble(1), r.getLong(0)))
    assert(pairs.sameElements(pairs.sortBy(identity)))
  }
}
