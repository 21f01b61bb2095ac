package graft.tools

import org.apache.spark.sql.functions._
import graft.etl.ReferencePipeline
import graft.etl.ReferencePipeline.Config
import graft.operators.Similarity

/** Live drive: the full reference workflow over a listings-shaped wide
  * table synthesized from testdata (CSV extract included), plus k-means
  * IVF training on the real embeddings. */
object PipelineSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    val tmp = java.nio.file.Files.createTempDirectory("pipesmoke").toString

    // listings-shaped wide table from customer⋈nation, through a real CSV
    // extract hop (the reference's entry format)
    val wide = spark.read.parquet(s"$dir/customer.parquet")
      .join(spark.read.parquet(s"$dir/nation.parquet"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        concat(lit("$"), col("c_acctbal").cast("decimal(18,2)").cast("string")).as("price"),
        concat(col("c_custkey").cast("string"), lit("-xyz")).as("zipcode"),
        col("n_name").as("state"), col("c_nationkey").cast("long").as("beds"),
        col("c_custkey").as("host_id"), col("c_mktsegment").as("about"))
    wide.write.option("header", "true").mode("overwrite").csv(s"$tmp/listings_csv")
    val extracted = graft.sources.Tables.csv(spark, s"$tmp/listings_csv")
    println(s"extracted=${extracted.count()}")

    val cfg = Config("id", Seq("price"), Map("zipcode" -> 5),
      Map("state" -> Map("NATION_0" -> "N0")), Seq("name"), Seq("beds"),
      Map("location_info" -> Seq("state", "zipcode"), "price_info" -> Seq("price"),
        "facility_info" -> Seq("beds")),
      Seq("id", "name"), ("host_desc", Seq("host_id", "about")))
    val out = ReferencePipeline.run(spark, extracted, cfg, s"$tmp/out")
    out.toSeq.sortBy(_._1).foreach { case (n, df) => println(s"table=$n rows=${df.count()}") }
    println("price_info_sample=" + spark.read.parquet(s"$tmp/out/price_info")
      .orderBy("id").limit(1).collect().mkString)

    // k-means IVF training on real embeddings
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val stub = e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid")
    val q0 = Similarity.assignmentQuality(e, "embedding", "vec_id", stub, "cid")
    val trained = Similarity.kmeansFit(e, "embedding", "vec_id", k = 8, iters = 2)
      .withColumnRenamed("c_v", "embedding")
    val q1 = Similarity.assignmentQuality(e, "embedding", "vec_id", trained, "centroid_id")
    println(f"ivf_quality stub=$q0%.4f trained=$q1%.4f improved=${q1 > q0}")
    spark.stop()
  }
}
