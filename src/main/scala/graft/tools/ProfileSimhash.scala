package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Where dedup_simhash_pairs' time goes (guide §1): the wide-simhash
  * sketch (per-token interpreted hash60 inside a transform HOF) vs the
  * 45-chunk-key candidate join + verify. Median of 3 after warm, noop. */
object ProfileSimhash {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      f
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[prof] $label: ${ts(1)}%.3f s (${ts.map(t => f"$t%.2f").mkString("/")})")
    }
    time("baseline: text scan (noop)")(noop(docs))
    time("simhashedWide sketch (noop)")(
      noop(graft.operators.Dedup.simhashedWide(docs, "text", "doc_id")))
    val wide = graft.operators.Dedup.simhashedWide(docs, "text", "doc_id")
      .localCheckpoint()
    time("candidates+verify from pinned sketch") {
      graft.operators.Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 8,
        sketchParallelism = 32).count(): Unit
    }
    println(s"[prof] wide rows: ${wide.count()}")
    spark.stop()
  }
}
