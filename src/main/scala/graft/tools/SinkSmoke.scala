package graft.tools

import org.apache.spark.sql.functions._
import graft.sinks.ParquetSink

/** Live drive of the ParquetSink surface: partitioned write, pruned read,
  * repeated upsert (including a second upsert over existing state). */
object SinkSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    val out = java.nio.file.Files.createTempDirectory("sinksmoke").toString

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    ParquetSink.writePartitioned(docs, s"$out/docs", Seq("lang"))
    println("partition_dirs=" + new java.io.File(s"$out/docs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.mkString(","))
    val pruned = spark.read.parquet(s"$out/docs").filter(col("lang") === "en")
    println("pruned_plan_has_partfilter=" +
      pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(lang"))
    println(s"pruned_count=${pruned.count()} direct=${docs.filter(col("lang") === "en").count()}")

    // upsert twice over live state
    ParquetSink.upsertInto(spark, s"$out/t", docs.select("doc_id", "lang", "n_chars"), "doc_id", Seq("lang"))
    val upd = docs.select("doc_id", "lang", "n_chars").filter(col("doc_id") < 10)
      .withColumn("n_chars", lit(-1L))
    ParquetSink.upsertInto(spark, s"$out/t", upd, "doc_id", Seq("lang"))
    val after = spark.read.parquet(s"$out/t")
    println(s"upsert_total=${after.count()} updated=${after.filter(col("n_chars") === -1).count()}")
    spark.stop()
  }
}
