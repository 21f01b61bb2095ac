package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Per-stage cost of the IVF assignment folds (guide §1): how much of
  * the assignment-side keys is the interpreted per-row aggregate /
  * transform over the broadcast centroid array vs the scan itself.
  * Median of 3 after a warm pass, noop sink. */
object ProfileIvf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    val e = spark.read.parquet(s"$dir/embeddings.parquet").localCheckpoint()
    val cents = e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "cid")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      f
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[prof] $label: ${ts(1)}%.3f s (${ts.map(t => f"$t%.2f").mkString("/")})")
    }

    import graft.expressions.VectorExpressions.l2norm
    time("baseline: v + nrm projection (noop)")(
      noop(e.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("nrm", l2norm(col("v")))))
    time("ivfAssign (noop)")(
      noop(Similarity.ivfAssign(e, "embedding", "vec_id", cents, "cid")))
    time("ivfProbes nProbe=2 (noop)")(
      noop(Similarity.ivfProbes(e, "embedding", "vec_id", cents, "cid", 2)))
    spark.stop()
  }
}
