package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sinks.BandStore

/** Stage-level profiling for the BandStore lifecycle keys (round-19
  * verdict item 5: "commit ... a stage breakdown showing where the
  * remaining cost sits (sketch vs writes)"). Replays dedup_band_store's
  * exact composition with per-stage timing, then apportions `write`
  * itself into sketch-compute vs the two table writes.
  */
object ProfileBandStore {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val root = java.nio.file.Files.createTempDirectory("profband").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val par = spark.sparkContext.defaultParallelism
    val hist = docs.filter(col("doc_id") % 3 =!= 0).repartition(par)
    val batch = docs.filter(col("doc_id") % 3 === 0).repartition(par)

    // --- apportion write(): sketch compute vs table writes ---
    val m = Dedup.minhashed(hist.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", 128, 8, 3).filter(size(col("hs")) > 0).cache()
    time("sketch even-half (cache count)")(m.count())
    m.unpersist(); ()
    val mAll = Dedup.minhashed(hist, "text", "doc_id", 128, 8, 3)
      .filter(size(col("hs")) > 0).cache()
    time("sketch full hist (cache count)")(mAll.count())
    mAll.unpersist(); ()
    val mb = Dedup.minhashed(batch, "text", "doc_id", 128, 8, 3)
      .filter(size(col("hs")) > 0).cache()
    time("sketch batch (cache count)")(mb.count())
    mb.unpersist(); ()

    // --- dedup_band_store's exact lifecycle, stage by stage ---
    val path = root + "/index"
    time("write (even half)")(BandStore.write(
      hist.filter(col("doc_id") % 2 === 0), "text", "doc_id", path, buckets = 16))
    time("append (odd half)")(BandStore.append(
      hist.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", path))
    time("compact")(BandStore.compact(spark, path))
    val out = time("probe")(BandStore.probe(
      spark, path, batch, "text", "doc_id", threshold = 0.8))
    println(s"[prof] probe rows: ${out.count()}")

    // --- dedup_band_delete's extra stages ---
    val pathDel = root + "/index_del"
    time("del: write (full hist)")(BandStore.write(
      hist, "text", "doc_id", pathDel, buckets = 16))
    time("del: delete")(BandStore.delete(
      hist.filter(col("doc_id") % 5 === 1).select("doc_id"), "doc_id", pathDel))
    time("del: purge")(BandStore.purge(spark, pathDel))
    val outDel = time("del: probe")(BandStore.probe(
      spark, pathDel, batch, "text", "doc_id", threshold = 0.8))
    println(s"[prof] del probe rows: ${outDel.count()}")

    // --- dedup_band_rebucket's extra stage ---
    val pathRb = root + "/index_rb"
    time("rb: write (full hist, 4 buckets)")(BandStore.write(
      hist, "text", "doc_id", pathRb, buckets = 4))
    time("rb: rebucket 4->16")(BandStore.rebucket(spark, pathRb, newBuckets = 16))
    val outRb = time("rb: probe")(BandStore.probe(
      spark, pathRb, batch, "text", "doc_id", threshold = 0.8))
    println(s"[prof] rb probe rows: ${outRb.count()}")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
