package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.{HashExpressions, VectorExpressions}
import graft.operators.RandomProjection

/** Per-row cost of the native expressions the corpus ops lean on. Each
  * probe runs the public column function over the cached generated
  * documents or embeddings and subtracts a baseline that reads the same
  * cached input without the kernel. */
object Kernels {
  private val Reps = 3
  /** `dot` is too cheap to time once a row; its probe calls it this often. */
  private val DotCalls = 16

  def probe(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = cached(spark.read.parquet(s"$dir/documents.parquet").select(col("text"),
      HashExpressions.shingleHashes31Native(col("text"), 5).as("hs"))
      .withColumn("sig", HashExpressions.minhashSigNative(col("hs"), 128)))
    val vecs = cached(spark.read.parquet(s"$dir/embeddings.parquet")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", VectorExpressions.l2norm(col("v")))
      .withColumn("q", RandomProjection.quantized(col("v"), 64)))
    val cents = spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 16)
      .select(struct(col("vec_id").as("cid"), transform(col("embedding"), _.cast("double")).as("cv"),
        lit(1.0).as("cn")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cs")).head().get(0)
    val queries = (1 to DotCalls).map(q => typedLit(Seq.tabulate(64)(i => if ((i + q) % 2 == 0) 0.125 else -0.125)))
    val masks = RandomProjection.signMasks(48, 64)
    val centsCol = typedLit(cents.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]].toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))))
      .cast("array<struct<cid:bigint,cv:array<double>,cn:double>>")
    val probes = Seq(
      ("token_hashes60_pair", docs, col("text"), HashExpressions.tokenHashes60PairNative(col("text"))),
      ("minhash_sig", docs, col("hs"), HashExpressions.minhashSigNative(col("hs"), 128)),
      ("lsh_band_keys", docs, col("sig"), HashExpressions.lshBandKeysNative(col("sig"), 128, 8)),
      ("srp_band_values", vecs, col("q"), VectorExpressions.srpBandValues(col("q"), masks, 64, 16)),
      ("ivf_best_assign", vecs, col("v"), VectorExpressions.ivfBestAssign(col("v"), col("nrm"), centsCol)),
      ("dot", vecs, col("v"), queries.map(VectorExpressions.dot(col("v"), _)).reduce(_ + _)))
    val out = probes.map { case (name, df, in, kernel) =>
      val calls = if (name == "dot") DotCalls else 1
      val rows = df.count()
      s"expressions.${name}_ns_per_row" -> (time(df, kernel) - time(df, in)) / rows / calls
    }.toMap
    docs.unpersist(); vecs.unpersist()
    out
  }

  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** Fastest of [[Reps]] wall times, in nanoseconds, of hashing `c` over
    * every row of `df`; the fastest is the one least disturbed. */
  private def time(df: DataFrame, c: Column): Double = ((1 to Reps).map { _ =>
    val t0 = System.nanoTime()
    df.select(xxhash64(c).cast("decimal(38,0)").as("h")).agg(sum(col("h"))).head()
    (System.nanoTime() - t0).toDouble
  }).min
}
