package graft.tools

import org.apache.spark.sql.functions._

/** Incremental-SCD2 scale evidence: time `Scd2.mergeHistory` of a small
  * batch into a prebuilt history vs a full-feed rebuild, at growing batch
  * fractions. The 100 TB claim under test: merge cost tracks the BATCH
  * (affected keys' versions + anti-join passthrough), not the table — a
  * per-DAG-run load must not pay the unbounded feed again each run. Also
  * prints the merged plan so the broadcast of the batch key set (existing
  * history never shuffled) is visible. */
object ProfileScd2 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    val feed = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
    val k = ("o_custkey", "o_orderdate", "o_orderkey")
    spark.range(100000).selectExpr("sum(id)").collect()
    time("full rebuild (baseline)") {
      graft.etl.Scd2.history(feed, k._1, k._2, k._3, Seq("o_orderpriority")).count()
    }
    // history materialized once (parquet, as a real table would be), then
    // batches of shrinking recency merged in
    val hroot = java.nio.file.Files.createTempDirectory("graft_scd2")
    val hdir = hroot.toString + "/h"
    try {
      for (cutoff <- Seq("2001-07-01", "2001-01-01", "1999-01-01")) {
        val cut = lit(cutoff).cast("timestamp")
        graft.etl.Scd2.history(feed.filter(col("o_orderdate") < cut),
          k._1, k._2, k._3, Seq("o_orderpriority"))
          .write.mode("overwrite").parquet(hdir)
        val existing = spark.read.parquet(hdir)
        val batch = feed.filter(col("o_orderdate") >= cut)
        val nb = batch.count()
        time(f"mergeHistory(batch>=$cutoff, $nb batch rows)") {
          graft.etl.Scd2.mergeHistory(existing, batch,
            k._1, k._2, k._3, Seq("o_orderpriority")).count()
        }
      }
      val cut = lit("2001-07-01").cast("timestamp")
      graft.etl.Scd2.history(feed.filter(col("o_orderdate") < cut),
        k._1, k._2, k._3, Seq("o_orderpriority"))
        .write.mode("overwrite").parquet(hdir)
      graft.etl.Scd2.mergeHistory(spark.read.parquet(hdir),
        feed.filter(col("o_orderdate") >= cut),
        k._1, k._2, k._3, Seq("o_orderpriority")).explain("formatted")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(hroot.toFile)
    spark.stop()
  }
}
