package graft.tools

import org.apache.spark.sql.functions._

/** Stage-by-stage wall-clock breakdown of `mm_image_dedup` — the bench's
  * most expensive key after round 10 made its fixpoint converge (the sf0.1
  * gradient corpus chains ~60k images into one hamming component, so
  * `Components.run` pays ~22 pointer-jumping rounds). Run:
  * `sbt "runMain graft.tools.ProfileImageDedup [sfDir]"`. */
object ProfileImageDedup {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val m = graft.multimodal.Multimodal
    val docs = graft.sources.Tables.table(spark, d, "documents")
    val hashed = timed("synth+decode+dhash") {
      val h = m.dHash(m.synthesizePngs(docs, "doc_id",
        parallelism = spark.sparkContext.defaultParallelism)).toDF().cache()
      h.count(); h
    }
    val reps = timed("exact collapse") {
      val r = hashed.groupBy("phash").agg(min(col("doc_id")).as("rep")).cache()
      r.count(); r
    }
    val pairs = timed("hamming pairs") {
      val p = graft.operators.Dedup.hammingPairs64(
        reps.select(col("phash"), col("rep").as("doc_id")), "phash", "doc_id",
        maxHamming = 2).cache()
      println(s"[prof]   pairs=${p.count()}  reps=${reps.count()}")
      p
    }
    val r = timed("components fixpoint") {
      graft.operators.Components.run(pairs.select("id_a", "id_b"), "id_a", "id_b")
    }
    println(s"[prof]   rounds=${r.rounds} converged=${r.converged}")
    timed("manifest join") {
      val repCanon = reps
        .join(r.labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
        .select(col("phash"), coalesce(col("comp"), col("rep")).as("canon"))
      val n = hashed.join(repCanon, Seq("phash"))
        .select(col("doc_id"), col("canon").as("canon_id"),
          (col("doc_id") === col("canon")).as("is_canon")).count()
      println(s"[prof]   manifest rows=$n")
    }
    spark.stop()
  }
}
