package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.ComposedTwins.hash60b

/** Pins the round-20 fused token-hash expression (TokenHashes60Pair) to
  * the composed chains it replaced: per half,
  * `transform(split(text, " "), hash60 / hash60b)` — same limit=-1
  * split semantics (leading/inner/trailing empties kept, empty text =
  * one empty token), same 60-bit md5-hex-prefix integers, and the same
  * end-to-end simhash sketches. */
class TokenHashes60Spec extends SparkSpec {
  import spark.implicits._

  private val he = graft.expressions.HashExpressions

  private lazy val edge = Seq(
    (1L, ""), (2L, "one"), (3L, "a b"), (4L, "a  b"), (5L, " a b "),
    (6L, "héllo wörld déjà"), (7L, "x x x"), (8L, "   "),
    (9L, "trailing space "), (10L, " leading")
  ).toDF("doc_id", "text")

  private def corpus = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("pair expression equals the two composed transform(split, hash60*) chains") {
    for (df <- Seq(edge, corpus)) {
      val pair = he.tokenHashes60PairNative(col("text"))
      val mism = df.select(
          when(col("text").isNull,
            pair.isNull && transform(tokens(col("text")), hash60(_)).isNull)
            .otherwise(
              pair.getField("lo") === transform(tokens(col("text")), hash60(_)) &&
              pair.getField("hi") === transform(tokens(col("text")), hash60b(_)))
            .as("eq"))
        .filter(!col("eq") || col("eq").isNull).count()
      assert(mism === 0L)
    }
  }

  test("simhashed / simhashedWide outputs are unchanged end to end") {
    val docs = corpus
    val gotN = graft.operators.Dedup.simhashed(docs, "text", "doc_id")
    val wantN = docs.select(col("doc_id"),
      graft.expressions.VectorExpressions.simhash60Native(
        transform(tokens(col("text")), hash60(_))).as("simhash"),
      size(tokens(col("text"))).as("n_tokens"))
    assert(gotN.exceptAll(wantN).count() + wantN.exceptAll(gotN).count() === 0L)
    val gotW = graft.operators.Dedup.simhashedWide(docs, "text", "doc_id")
    val wantW = docs.select(col("doc_id"),
      graft.expressions.VectorExpressions.simhash60Native(
        transform(tokens(col("text")), hash60(_))).as("sh_lo"),
      graft.expressions.VectorExpressions.simhash60Native(
        transform(tokens(col("text")), hash60b(_))).as("sh_hi"))
    assert(gotW.exceptAll(wantW).count() + wantW.exceptAll(gotW).count() === 0L)
  }

  test("the pair digest is evaluated once in simhashedWide's plan") {
    val plan = graft.operators.Dedup.simhashedWide(corpus, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert("tokenhashes60pair".r.findAllIn(plan.toLowerCase).size === 1, plan.take(2000))
  }
}
