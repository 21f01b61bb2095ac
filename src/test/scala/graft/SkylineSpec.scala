package graft

import org.apache.spark.sql.functions._
import graft.operators.Skyline

/** The round-17 operator additions: skyline, interval overlap, Welch
  * t-test, n-gram novelty, drift, compaction — each proven against an
  * independent construction (brute force, external hand computation, or
  * a planted fixture), not just the shared DuckDB oracle. */
class SkylineSpec extends SparkSpec {
  import spark.implicits._

  private def bruteSkyline(rows: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    rows.filterNot { case (_, x, y) =>
      rows.exists { case (_, x2, y2) =>
        x2 <= x && y2 >= y && (x2 < x || y2 > y) }
    }.toSet

  test("two-phase skyline ≡ brute-force NOT EXISTS on tie/dup fixtures") {
    // shapes: frontier points, a dominated interior, an equal-price pair
    // (larger size wins, smaller pruned), exact duplicates (both kept),
    // a single globally-dominating point scenario via (1, 100)
    val fix = Seq(
      (1L, 1L, 100L), (2L, 2L, 90L), (3L, 3L, 95L), // 3 dominated by... x=2,y=90? no: 3 has y 95 > 90 — frontier
      (4L, 2L, 90L),                                // duplicate of 2 — same fate as 2
      (5L, 5L, 99L),                                // dominated by (1,100)
      (6L, 1L, 40L),                                // equal-x smaller-y: pruned by (1,100)
      (7L, 10L, 101L), (8L, 10L, 101L)              // dup frontier pair — both kept
    )
    val got = Skyline.pareto2d(
      fix.toDF("id", "x", "y").repartition(5), "x", "y")
      .select("id", "x", "y").as[(Long, Long, Long)].collect().toSet
    assert(got == bruteSkyline(fix))
  }

  test("anti-correlated skyline: whole table on the frontier, no data funnel") {
    // y = x: dominance needs x_A <= x_B ∧ y_A >= y_B with one strict,
    // which forces A = B — NOTHING is dominated, the worst case for any
    // prune-then-merge plan (the local sweep prunes zero rows). The
    // round-17 shape ran a Window.partitionBy() over ALL survivors here:
    // one task, n rows. The prefix-max construction must (a) still be
    // exact — every row survives — and (b) put only the P-row frontier-
    // top table through a single-partition exchange, never data rows.
    // Asserted from executed-plan METRICS, not plan-string reading.
    val n = 40000L
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // pin the 4-way exchanges: AQE would coalesce this deliberately tiny
    // fixture to one partition and fake the very funnel being ruled out
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.range(n).select(col("id").as("pk"),
        col("id").as("x"), col("id").as("y"))
      val got = Skyline.pareto2d(df.repartition(7), "x", "y")
      // collect() (not count()) so the metrics below come from THIS
      // QueryExecution — count() would execute a separate derived plan
      assert(got.collect().length == n) // exact: pareto2d can only drop rows
      val exchanges = got.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      def written(e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec): Long =
        e.metrics.collectFirst {
          case (k, m) if k.toLowerCase.contains("recordswritten") => m.value
        }.getOrElse(0L)
      val singles = exchanges.filter(_.outputPartitioning.numPartitions == 1)
      // the only single-partition flow is the per-partition tops table:
      // <= shuffle-partitions rows (4 here), never the n data rows
      singles.foreach { e =>
        assert(written(e) <= 64,
          s"single-partition exchange carried ${written(e)} rows — data funnel")
      }
      // and the data rows DID flow through multi-partition exchanges
      assert(exchanges.exists(e =>
        e.outputPartitioning.numPartitions > 1 && written(e) >= n))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q_skyline ≡ brute-force dominance on the real part table") {
    val p = q("q_skyline").select(col("p_partkey"),
      round(col("price") * 100).cast("long").as("x"), col("size").as("y"))
      .as[(Long, Long, Long)].collect().toSet
    val all = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long"),
        col("p_size").cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(p == bruteSkyline(all))
    assert(p.nonEmpty && p.size < all.size)
  }

  test("q_interval_overlap ≡ brute-force per-day concurrency") {
    val iv = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("ds"),
        (col("l_orderkey") % 30 + 1).cast("int").as("transit"))
      .as[(Long, java.sql.Date, Int)].collect()
    // brute force: for each supplier, count open intervals per event day
    // (interval open on [ds, ds+transit) — the -1 lands ON ds+transit)
    val bySup = iv.groupBy(_._1)
    val brute = bySup.map { case (sk, xs) =>
      val days = xs.flatMap(x => Seq(x._2.toLocalDate, x._2.toLocalDate.plusDays(x._3))).distinct
      val perDay = days.map { day =>
        day -> xs.count(x => !x._2.toLocalDate.isAfter(day) &&
          day.isBefore(x._2.toLocalDate.plusDays(x._3)))
      }
      val mx = perDay.map(_._2).max
      sk -> ((mx.toLong, perDay.filter(_._2 == mx).map(_._1).min))
    }
    val got = q("q_interval_overlap")
      .as[(Long, Long, java.sql.Date)].collect()
      .map(r => r._1 -> ((r._2, r._3.toLocalDate))).toMap
    assert(got == brute)
  }

  test("ana_ab_ttest matches an externally computed Welch t on a planted fixture") {
    // python: a=[1000,1200,1400,1600] b=[2000,2500,3000] cents
    //   mean_a=13.0$, mean_b=25.0$, t=-3.794733 (hand formula, no scipy)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val rows = Seq((true, 1000L), (true, 1200L), (true, 1400L), (true, 1600L),
      (false, 2000L), (false, 2500L), (false, 3000L)).toDF("va", "pc")
    val g = rows.agg(
      sum(when(col("va"), 1L)).cast("bigint").as("n_a"),
      sum(when(!col("va"), 1L)).cast("bigint").as("n_b"),
      sum(when(col("va"), dec(col("pc")))).as("sa"),
      sum(when(!col("va"), dec(col("pc")))).as("sb"),
      sum(when(col("va"), dec(col("pc")) * dec(col("pc")))).as("qa"),
      sum(when(!col("va"), dec(col("pc")) * dec(col("pc")))).as("qb"))
    val ma = dbl(col("sa")) / dbl(col("n_a"))
    val mb = dbl(col("sb")) / dbl(col("n_b"))
    val va = (dbl(col("qa")) - dbl(col("sa")) * dbl(col("sa")) / dbl(col("n_a"))) /
      (dbl(col("n_a")) - 1.0)
    val vb = (dbl(col("qb")) - dbl(col("sb")) * dbl(col("sb")) / dbl(col("n_b"))) /
      (dbl(col("n_b")) - 1.0)
    val r = g.select(round(ma / 100.0, 6), round(mb / 100.0, 6),
      round((ma - mb) / sqrt(va / dbl(col("n_a")) + vb / dbl(col("n_b"))), 6))
      .as[(Double, Double, Double)].head()
    assert(r == ((13.0, 25.0, -3.794733)))
  }

  test("ta_novelty: planted copies score 0, originals own their grams") {
    // the first doc (min doc_id) owns every gram it introduces; a later
    // doc repeating only earlier grams must score exactly 0
    val nov = q("ta_novelty").select("doc_id", "novelty")
      .as[(Long, Double)].collect().toMap
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val dup = texts.groupBy(_._2).values.filter(_.size > 1)
      .map(_.map(_._1).sorted).toSeq
    dup.foreach { ids =>
      ids.tail.foreach { later =>
        assert(nov.get(later).forall(_ == 0.0),
          s"doc $later is a copy of ${ids.head} but scored ${nov.get(later)}")
      }
    }
    // docs absent from the output have NO grams (< 3 tokens), so the
    // smallest PRESENT doc_id owns every gram it has
    val minDoc = nov.keys.min
    assert(nov(minDoc) == 1.0, "the first doc must own all of its grams")
  }

  test("sim_drift: identical slices drift zero; a planted shift is recovered") {
    val base = Seq.tabulate(8)(i => (i.toLong, Array.fill(4)(0.5f)))
    // even ids (old) at 0.5 everywhere; odd ids (new) at 0.5 + 0.25 on dim 2
    val shifted = base.map { case (id, v) =>
      val w = v.clone(); if (id % 2 == 1) w(2) = 0.75f; (id, w)
    }.toDF("vec_id", "embedding")
    val q = shifted.select((col("vec_id") % 2 === 0).as("old"),
      posexplode(graft.operators.RandomProjection.quantized(col("embedding"), 4))
        .as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(sum(when(col("old"), col("v"))).cast("bigint").as("so"),
        sum(when(!col("old"), col("v"))).cast("bigint").as("sn"),
        sum(when(col("old"), 1L)).cast("bigint").as("no"),
        sum(when(!col("old"), 1L)).cast("bigint").as("nn"))
      .select(col("dim"),
        round((col("sn").cast("double") / col("nn").cast("double")) / 1000000.0 -
          (col("so").cast("double") / col("no").cast("double")) / 1000000.0, 6).as("shift"))
      .as[(Int, Double)].collect().toMap
    assert(q(0) == 0.0 && q(1) == 0.0 && q(3) == 0.0)
    assert(q(2) == 0.25)
  }

  test("etl_orphan_repair: mass conservation — matched + quarantined = all, repaired = quarantined") {
    val m = q("etl_orphan_repair").as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val all = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("count(*)", "sum(CAST(round(l_quantity*100) AS BIGINT))")
      .as[(Long, Long)].head()
    assert(m("matched_v1")._1 + m("quarantined")._1 == all._1)
    assert(m("matched_v1")._2 + m("quarantined")._2 == all._2)
    // the late dim batch carries exactly the keys v1 lacked — every
    // orphan resolves
    assert(m("repaired") == m("quarantined"))
    assert(m("quarantined")._1 > 0, "fixture must actually quarantine something")
  }

  test("ta_code_score separates the planted code variants from prose") {
    val r = q("ta_code_score").select("doc_id", "is_code")
      .as[(Long, Boolean)].collect()
    val (planted, prose) = r.partition(_._1 % 7 == 0)
    assert(planted.nonEmpty && planted.forall(_._2),
      "every planted code-suffixed doc must flag")
    assert(prose.forall(!_._2), "no prose doc may flag")
  }

  test("stream_late_audit ≡ brute-force watermark replay") {
    val horizon = 3600L * 1000000000L
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "event_id", "ts")
      .as[(String, Long, Long)].collect()
    val brute = ev.groupBy(_._1).map { case (et, xs) =>
      var runMax = Long.MinValue
      var nLate = 0L; var maxL = 0L; var sumL = 0L
      xs.sortBy(_._2).foreach { case (_, _, ts) =>
        if (runMax != Long.MinValue && ts < runMax - horizon) {
          val l = runMax - horizon - ts
          nLate += 1; maxL = math.max(maxL, l); sumL += l
        }
        runMax = math.max(runMax, ts)
      }
      et -> ((xs.size.toLong, nLate, maxL, sumL))
    }
    val got = q("stream_late_audit")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == brute)
  }

  test("ana_seasonality: months cover the table and the n-weighted index averages to 1") {
    val r = q("ana_seasonality")
      .select("month", "n_orders", "seasonal_index")
      .as[(Long, Long, Double)].collect()
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(r.map(_._2).sum == total)
    val weighted = r.map(x => x._2 * x._3).sum / total
    assert(math.abs(weighted - 1.0) < 1e-3,
      s"n-weighted seasonal index $weighted must average to ~1")
  }

  test("sim_threshold_sweep: histogram mass equals the blocked pair count") {
    val nPairs = q("sim_threshold_sweep").agg(sum("n_pairs")).as[Long].head()
    val perLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .groupBy("label").count().as[(Int, Long)].collect()
    assert(nPairs == perLabel.map { case (_, n) => n * (n - 1) / 2 }.sum)
  }

  test("etl_pseudonymize: tokens are stable, joinable, and collision-audited") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    def tok = concat(lit("u"), lpad(graft.functions.TextFunctions
      .hash31(concat(col("c_name"), lit("graft_r17"))).cast("string"), 10, "0"))
    val a = cust.select(col("c_custkey").as("ka"), tok.as("t"))
    val b = cust.select(col("c_custkey").as("kb"), tok.as("t"))
    // joinability: the pseudonym join recovers exactly the name self-join
    val viaTok = a.join(b, "t").count()
    val viaName = cust.select(col("c_name").as("n"))
      .groupBy("n").count().selectExpr("sum(count * count)").as[Long].head()
    assert(viaTok == viaName)
    // the audit column must actually report collision-freedom here
    assert(q("etl_pseudonymize").select("collision_free")
      .as[Boolean].collect().forall(identity))
  }

  test("stream_gap_histogram mass = sum over users of (n_events - 1)") {
    val total = q("stream_gap_histogram").agg(sum("n_gaps")).as[Long].head()
    val expected = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id").count().selectExpr("sum(count - 1)").as[Long].head()
    assert(total == expected)
  }

  test("sim_norm_audit covers every vector exactly once") {
    val total = q("sim_norm_audit").agg(sum("n_vecs")).as[Long].head()
    assert(total == spark.read.parquet(s"$sf/embeddings.parquet").count())
  }

  test("ana_new_vs_returning: orders conserve and month one is all-new") {
    val r = q("ana_new_vs_returning")
      .select("month_index", "n_new", "n_returning")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(r.map(x => x._2 + x._3).sum == total)
    assert(r.head._3 == 0, "the first month can contain no returning customers")
    // every order in a customer's first month is "new": replay directly
    val expectNew = {
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .selectExpr("o_custkey", "year(o_orderdate)*12 + (month(o_orderdate)-1) AS mi")
        .as[(Long, Long)].collect()
      val fm = o.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }
      o.count { case (k, mi) => mi == fm(k) }
    }
    assert(r.map(_._2).sum == expectNew)
  }

  test("ta_vocab_coverage is monotone in k and bounded by 1") {
    val r = q("ta_vocab_coverage").select("k", "coverage", "vocab_used")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq == Seq(100L, 1000L, 10000L))
    assert(r.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    assert(r.forall(x => x._2 > 0 && x._2 <= 1.0))
    assert(r.forall(x => x._3 <= x._1), "vocab_used can't exceed k")
  }

  test("etl_compact_files: 64 fragments collapse to measured-target file count, losslessly") {
    val before = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey").as[Long].collect().toSet
    val out = q("etl_compact_files")
    val after = out.select("o_orderkey").as[Long].collect().toSet
    assert(after == before, "compaction lost or invented rows")
    // the compacted store itself: few files (orders at sf0.001 is far
    // below one 4 MB target file), never the 64 fragments
    val dirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      .toArray.map(_.toString).filter(_.contains("graft_compact_files"))
    assert(dirs.nonEmpty)
    // newest by mtime — stale graft_compact_files dirs from earlier JVMs linger
    val n = graft.sinks.Compact.dataFileCount(spark,
      dirs.maxBy(p => new java.io.File(p).lastModified) + "/orders")
    assert(n >= 1 && n <= 4, s"expected a handful of compacted files, got $n")
  }
}
