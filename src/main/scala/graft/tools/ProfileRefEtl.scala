package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level wall-clock breakdown of `pipeline_reference_etl` — the
  * guide-§1 "where does the time actually go" probe behind the round-19
  * optimization notes. Re-runs the key's exact composition with a timer
  * around each stage (the stages come from EtlQueries; this tool exists
  * so the breakdown is reproducible, not remembered). Run:
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileRefEtl /root/testdata/sf0.1"` */
object ProfileRefEtl {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/customer.parquet").limit(1).collect()
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    import graft.etl.ReferencePipeline
    val scratch = java.nio.file.Files.createTempDirectory("graft_profile_ref").toString
    val out = scratch + "/out"
    val csvBase = scratch + "/csv"
    (1 to 2).foreach { pass =>
      println(s"[profile] ---- pass $pass ----")
      Seq(out, csvBase).foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      // same planted-work construction as the query
      def moneyStr(v: org.apache.spark.sql.Column) = {
        val dec = v.cast("decimal(18,2)").cast("string")
        concat(lit("$"),
          when(v >= 1000,
            concat(dec.substr(lit(1), length(dec) - lit(6)), lit(","),
              dec.substr(length(dec) - lit(5), lit(6))))
            .otherwise(dec))
      }
      def table(n: String) = spark.read.parquet(s"$d/$n.parquet")
      val base = table("customer")
        .join(table("nation"), col("c_nationkey") === col("n_nationkey"))
      def widen(df: org.apache.spark.sql.DataFrame,
                price: org.apache.spark.sql.Column,
                beds: org.apache.spark.sql.Column) =
        df.select(
          col("c_custkey").as("id"),
          when(col("c_custkey") % 37 === 0, lit(null)).otherwise(col("c_name")).as("name"),
          moneyStr(price).as("price"),
          concat(lpad((col("c_custkey") * 7 % 1000).cast("string"), 5, "0"),
            lit("-"), lpad((col("c_custkey") % 97).cast("string"), 4, "0")).as("zipcode"),
          col("n_name").as("state"),
          beds.as("beds"),
          (col("c_custkey") + 100000).as("host_id"),
          col("c_mktsegment").as("about"),
          (col("c_custkey") % 7 + 1).as("listings_count"))
      val b1 = widen(base, col("c_acctbal"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_custkey") % 4 + 1))
      val batch1 = b1.unionAll(b1.filter(col("id") % 11 === 0))
      val batch2 = widen(base.filter(col("c_custkey") % 3 === 0),
        col("c_acctbal") * 2, col("c_custkey") % 4 + 2)
      timed("csv writes") {
        graft.etl.Concurrent.awaitAll(2)(Seq(
          () => batch1.write.option("header", "true").mode("overwrite").csv(s"$csvBase/b1"),
          () => batch2.write.option("header", "true").mode("overwrite").csv(s"$csvBase/b2")))
      }
      val cfg = ReferencePipeline.Config(
        key = "id",
        moneyCols = Seq("price"),
        truncateCols = Map("zipcode" -> 5),
        valueMaps = Map("state" -> Map(
          "UNITED STATES" -> "US", "UNITED KINGDOM" -> "UK")),
        requiredCols = Seq("name"),
        fillMinusOne = Seq("beds"),
        tableSchema = Map(
          "host_info" -> Seq("name", "host_id"),
          "hotel_location" -> Seq("state", "zipcode"),
          "hotel_facilities" -> Seq("beds"),
          "price_info" -> Seq("price"),
          "host_metrics" -> Seq("listings_count")),
        docFlat = Seq("id", "name"),
        docNested = ("host_desc", Seq("host_id", "about")))
      val r1 = timed("csv read 1 (infer)") { graft.sources.Tables.csv(spark, s"$csvBase/b1") }
      timed("run 1") { ReferencePipeline.run(spark, r1, cfg, out) }
      val r2 = timed("csv read 2 (infer)") { graft.sources.Tables.csv(spark, s"$csvBase/b2") }
      timed("run 2") { ReferencePipeline.run(spark, r2, cfg, out) }
      val rv = table("orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0,
          concat(lit("id"), col("o_custkey").cast("string")))
          .otherwise(col("o_custkey").cast("string")).as("listing_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("rdate"),
        col("o_orderpriority").as("comments"))
      val rvA = rv.filter(col("o_orderkey") % 2 === 0)
        .unionAll(rv.filter(col("o_orderkey") % 26 === 0))
      val rvB = rv.filter(col("o_orderkey") % 2 =!= 0 || col("o_orderkey") % 6 === 0)
      timed("reviews A") {
        ReferencePipeline.loadReviews(spark, rvA, s"$out/reviews_store",
          "listing_id", Seq("rdate", "comments"))
      }
      timed("reviews B") {
        ReferencePipeline.loadReviews(spark, rvB, s"$out/reviews_store",
          "listing_id", Seq("rdate", "comments"))
      }
      timed("stats") {
        def rb(name: String) = spark.read.parquet(s"$out/$name")
        def stat(tbl: String, st: String, v: org.apache.spark.sql.Column,
                 src: org.apache.spark.sql.DataFrame) =
          src.agg(v.cast("bigint").as("value"))
            .select(lit(tbl).as("tbl"), lit(st).as("stat"), col("value"))
        val host = rb("host_info"); val loc = rb("hotel_location")
        val fac = rb("hotel_facilities"); val price = rb("price_info")
        val met = rb("host_metrics"); val docs = rb("documents_store")
        val rev = rb("reviews_store")
        Seq(
          stat("host_info", "n_rows", count(lit(1)), host),
          stat("host_info", "n_hosts", countDistinct(col("host_id")), host),
          stat("hotel_location", "n_rows", count(lit(1)), loc),
          stat("hotel_location", "n_distinct_zip", countDistinct(col("zipcode")), loc),
          stat("hotel_location", "n_mapped",
            sum(when(col("state").isin("US", "UK"), 1L).otherwise(0L)), loc),
          stat("hotel_facilities", "n_rows", count(lit(1)), fac),
          stat("hotel_facilities", "sum_beds", sum(col("beds")), fac),
          stat("hotel_facilities", "n_filled",
            sum(when(col("beds") === -1, 1L).otherwise(0L)), fac),
          stat("price_info", "n_rows", count(lit(1)), price),
          stat("price_info", "sum_cents", sum((col("price") * 100).cast("long")), price),
          stat("host_metrics", "n_rows", count(lit(1)), met),
          stat("host_metrics", "sum_listings", sum(col("listings_count")), met),
          stat("documents_store", "n_rows", count(lit(1)), docs),
          stat("documents_store", "n_hosts",
            countDistinct(col("host_desc.host_id")), docs),
          stat("reviews_store", "n_listings", count(lit(1)), rev),
          stat("reviews_store", "n_reviews", sum(size(col("reviews"))), rev)
        ).reduce(_ unionAll _).count()
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    spark.stop()
  }
}
