package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import ScaleCurve.{timed, wallAlpha}

/** Scale-curve evidence for `graft_median_long` (round 19, verdict item
  * 6): the SQL-surface exact median must scale like the aggregate it
  * is, not like the per-group window it replaced.
  *
  * Setup mirrors the hazard exactly: LOW group cardinality (3 groups,
  * the lineitem return-flag shape) over a discrete value domain
  * (100k distinct "cents"), blown up ×4/×10. Three measurements per n:
  *
  *  - `agg`   — graft_median_long: hash aggregate, value→count partial
  *              state, map-side combined. Expect wall α ≈ 1 with a tiny
  *              constant (the shuffle carries ≤ partitions × distinct
  *              pairs).
  *  - `rank`  — the library twin's two-level Rank construction. Also
  *              α ≈ 1 but a bigger constant (range exchange + checkpoint
  *              + broadcast-offset join): the tool shows WHY the
  *              aggregate is the right SQL surface for discrete domains
  *              while Rank remains the unbounded-domain fallback.
  *  - `window`— the round-18 SQL text's `row_number() OVER (PARTITION
  *              BY g ORDER BY v)` shape: 3 reducers each sorting n/3
  *              rows. Measured for the record — the absolute wall gap
  *              at ×10 is the scale-killer made visible.
  *
  * Output: one JSON line per (shape, n) + fitted α lines. Run on a QUIET
  * host: `sbt "runMain graft.tools.ScaleCurve median"`. */
object ScaleCurveMedian {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    graft.GraftFunctions.register(spark)


    // 3 groups, 100k distinct values — the return-flag/money-cents shape
    def data(n: Long): DataFrame = spark.range(n)
      .select(expr("pmod(xxhash64(id), 3)").as("g"),
        expr("pmod(xxhash64(id + 11), 100000)").as("v"))

    def agg(df: DataFrame): DataFrame = {
      df.createOrReplaceTempView("mcurve")
      df.sparkSession.sql(
        "SELECT g, graft_median_long(v) AS m FROM mcurve GROUP BY g")
    }
    def rank(df: DataFrame): DataFrame = {
      val ranked = graft.operators.Rank.withGroupRank(df, Seq("g"), "v")
      def at(r: org.apache.spark.sql.Column) =
        max(when(col("rank") === r, col("v")))
      ranked.groupBy("g").agg(
        ((at(call_function("div", col("n") + 1, lit(2L))) +
          at(call_function("div", col("n") + 2, lit(2L)))) / lit(2.0)).as("m"))
    }
    def window(df: DataFrame): DataFrame = {
      df.createOrReplaceTempView("mcurve")
      df.sparkSession.sql(
        """WITH r AS (SELECT g, v,
                             row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
                             count(*) OVER (PARTITION BY g) AS n
                      FROM mcurve)
           SELECT g, CAST(max(CASE WHEN rk = (n + 1) div 2 THEN v END) +
                          max(CASE WHEN rk = (n + 2) div 2 THEN v END) AS DOUBLE) / 2.0 AS m
           FROM r GROUP BY g""")
    }

    val shapes = Seq[(String, DataFrame => DataFrame)](
      "agg" -> agg, "rank" -> rank, "window" -> window)
    val ns = Seq(400000L, 1600000L, 4000000L)
    // discarded warm-up per shape (the ScaleCurveGraph rule)
    shapes.foreach { case (_, f) => f(data(100000)).count() }
    val medians = scala.collection.mutable.Map[(String, Long), Map[Long, Double]]()
    shapes.foreach { case (name, f) =>
      var pts = Vector[(Long, Double)]()
      ns.foreach { n =>
        val (out, wall) = timed(f(data(n)).collect())
        require(out.length == 3, s"$name: expected 3 groups, got ${out.length}")
        medians((name, n)) = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        pts :+= (n, wall)
        sc.emit(f"""{"op":"median_by_group","shape":"$name","n":$n,"wall_sec":$wall%.2f}""")
      }
      sc.emit(f"""{"op":"median_by_group","shape":"$name","alpha_wall":${wallAlpha(pts)}%.3f,"fit_range":[${pts.map(_._1).min},${pts.map(_._1).max}]}""")
    }
    // the curve is only evidence if the three constructions compute the
    // SAME statistic: per n, all shapes must return identical per-group
    // medians (bit-equal doubles — same integer ops on both paths)
    ns.foreach { n =>
      val ms = shapes.map { case (name, _) => medians((name, n)) }
      require(ms.forall(_ == ms.head), s"median mismatch at n=$n: $ms")
    }
    sc.emit(s"""{"op":"median_by_group","shapes_agree":true,"n_checked":${ns.size}}""")
  }
}
