package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level profiling for the components/keep-representatives path:
  * how much of the wall time is the pair pipeline vs the fixpoint rounds. */
object ProfileComponents {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    spark.range(100000).selectExpr("sum(id)").collect()
    val pairs = time("pairs (ngramJaccardPairs)")(
      graft.operators.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        blockCol = "lang", threshold = 0.8,
        sketchParallelism = spark.sparkContext.defaultParallelism))
    println(s"[prof] n_pairs = ${pairs.count()}")
    val labels = time("connectedComponents fixpoint")(
      graft.operators.Components.connectedComponents(pairs, "id_a", "id_b"))
    time("labels count")(labels.count())
    val kept = time("keepRepresentatives anti-join")(
      graft.operators.Components.keepRepresentatives(docs, "doc_id", pairs, "id_a", "id_b")
        .groupBy("lang").agg(count(lit(1)).as("n_kept")))
    time("kept count")(kept.count())
    spark.stop()
  }
}
