package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.HashExpressions
import graft.functions.TextFunctions

/** Pins the round-20 native LSH band-key expression (LshBandKeys) to the
  * composed catalyst chain it replaced — per band,
  * `md5(concat_ws("#", element_at(sig,·).cast(string)...))` must
  * reproduce exactly: same decimal rendering of every slot, concat_ws's
  * null-skip rule (null slots contribute nothing and leave no separator),
  * the all-null/NULL-signature constant (every band = md5 of the empty
  * string), and lowercase 32-hex output. Band keys are the LSH join keys
  * of every minhash consumer, so byte equality here IS pair-set equality
  * downstream. */
class LshBandKeysSpec extends SparkSpec {

  import spark.implicits._

  /** The composed catalyst form [[TextFunctions.lshBands]] replaced —
    * kept here, its only use, as the equivalence baseline. */
  private def lshBandsComposed(sig: Column, k: Int, rowsPerBand: Int): Column = {
    require(k % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide k=$k (trailing minhashes would be dropped)")
    array((0 until k / rowsPerBand).map { b =>
      md5(concat_ws("#",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1).cast("string")): _*))
    }: _*)
  }

  test("native band keys == composed over the corpus sketch chain") {
    // the real production shape: shingle hashes -> k=128 signature ->
    // 16 bands, INCLUDING short/empty texts (all-null signatures)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val staged = docs.select(col("doc_id"),
        HashExpressions.shingleHashes31Native(col("text"), 3).as("hs"))
      .withColumn("sig", HashExpressions.minhashSigNative(col("hs"), 128))
    val mismatches = staged.filter(
      !(TextFunctions.lshBands(col("sig"), 128, 8) ===
        lshBandsComposed(col("sig"), 128, 8))).count()
    assert(mismatches === 0L)
  }

  test("native band keys match composed on adversarial signatures") {
    // constructed signatures the minhash chain never emits but the
    // expression contract must still honor: negatives, extremes, zero,
    // MIXED null slots (null-skip changes separator placement), all-null
    val k = 8
    val rows: Seq[Seq[java.lang.Long]] = Seq(
      Seq[java.lang.Long](0L, 1L, -1L, Long.MaxValue, Long.MinValue, 42L, -7L, 10L),
      Seq[java.lang.Long](null, 5L, null, 6L, null, null, 7L, null),
      Seq[java.lang.Long](null, null, null, null, null, null, null, null),
      Seq[java.lang.Long](2147483646L, 0L, 0L, 0L, 1L, 1L, 1L, 1L)
    )
    val df = rows.map(Tuple1(_)).toDF("sig")
    // rowsPerBand 4 -> 2 bands, and rowsPerBand 8 -> 1 band
    Seq(4, 8).foreach { r =>
      val bad = df.filter(
        !(TextFunctions.lshBands(col("sig"), k, r) ===
          lshBandsComposed(col("sig"), k, r))).count()
      assert(bad === 0L, s"rowsPerBand=$r")
    }
  }

  test("NULL signature pins to the composed constant (md5 of empty string)") {
    val df = Seq(Tuple1(null: Seq[java.lang.Long])).toDF("sig")
    val got = df.select(TextFunctions.lshBands(col("sig"), 16, 8))
      .head().getSeq[String](0)
    val want = df.select(lshBandsComposed(col("sig"), 16, 8))
      .head().getSeq[String](0)
    assert(got === want)
    assert(got === Seq.fill(2)("d41d8cd98f00b204e9800998ecf8427e"))
  }
}
