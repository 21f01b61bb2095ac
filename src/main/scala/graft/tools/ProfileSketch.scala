package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.HashExpressions
import graft.functions.TextFunctions

/** Per-expression profiling of the minhash sketch chain
  * ([[graft.operators.Dedup.minhashed]]) — the stage ProfileBandStore
  * showed dominates the BandStore lifecycle keys (~1.5-1.8 s per sketch
  * pass at sf0.1). Times each cumulative prefix of the chain through the
  * noop sink (guide §1.4: computes every column, no sink cost), median
  * of 3 after one warm pass, so the deltas attribute cost to the
  * individual expressions: shingle hashing vs k-min signature vs band
  * keys vs cache materialization.
  */
object ProfileSketch {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    val par = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 =!= 0).repartition(par)
      .select(col("doc_id"), col("text")).localCheckpoint()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[prof] $label: ${ts(1)}%.3f s (${ts.map(t => f"$t%.2f").mkString("/")})")
    }

    val hs = HashExpressions.shingleHashes31Native(col("text"), 3).as("hs")
    val sig = HashExpressions.minhashSigNative(col("hs"), 128).as("sig")

    time("baseline: checkpoint scan count")(docs.count(): Unit)
    time("1 shingle hashes (noop)")(noop(docs.select(col("doc_id"), hs)))
    time("2 + minhash sig k=128 (noop)")(
      noop(docs.select(col("doc_id"), hs).withColumn("sig", sig)))
    time("3 + lshBands 16x8 (noop)")(
      noop(docs.select(col("doc_id"), hs).withColumn("sig", sig)
        .withColumn("bands", TextFunctions.lshBands(col("sig"), 128, 8))))
    time("3b sig+bands only, hs dropped (noop)")(
      noop(docs.select(col("doc_id"), hs).withColumn("sig", sig)
        .withColumn("bands", TextFunctions.lshBands(col("sig"), 128, 8))
        .drop("hs")))
    val full = graft.operators.Dedup.minhashed(docs, "text", "doc_id", 128, 8, 3)
      .filter(size(col("hs")) > 0)
    time("4 full minhashed (noop)")(noop(full))
    time("5 full minhashed cache+count+unpersist") {
      val m = full.cache(); m.count(); m.unpersist(); ()
    }
    spark.stop()
  }
}
