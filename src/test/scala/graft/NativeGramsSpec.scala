package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Pins the round-20 fused native gram expressions to the HOF chains
  * they replaced (value identity per field, including multi-byte UTF-8
  * word stepping, repeated/empty words, and hash-order ties) over edge
  * rows that exercise every branch, the two merge-intersect counts to
  * `size(array_intersect)` over every pair of those rows, and the
  * rewritten ngram-Jaccard and containment cores to the
  * array_intersect/array_union forms they replaced over the corpus. */
class NativeGramsSpec extends SparkSpec {
  import spark.implicits._

  private val he = graft.expressions.HashExpressions

  private lazy val edge = Seq(
    (1L, ""), (2L, "one"), (3L, "a b"), (4L, "a b c"),
    (5L, "a  b c "), (6L, " a b c"), (7L, "a_b c d e"),
    (8L, "héllo wörld déjà vu encore une fois"),
    (9L, "x x x x x x"), (10L, "a b c a b c a b c"),
    (11L, "the quick brown fox jumps over the lazy dog the quick brown")
  ).toDF("doc_id", "text")

  private def mismatches(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): Long =
    edge.select(when(a.isNull && b.isNull, lit(true)).otherwise(a === b).as("eq"))
      .filter(!col("eq") || col("eq").isNull).count()

  test("hashOrderedGrams equals the array_sort(transform(array_distinct(wordNgrams)))) chain") {
    for (n <- Seq(2, 3)) {
      assert(mismatches(
        he.hashOrderedGramsNative(col("text"), n),
        array_sort(transform(array_distinct(wordNgrams(col("text"), n)),
          e => struct(he.md5prefix31(e).as("h"), e.as("g"))))) === 0L, s"n=$n")
    }
  }

  test("wordNgramHashes31 equals the distinct hash31 set, sorted") {
    for (n <- Seq(2, 3)) {
      assert(mismatches(
        he.wordNgramHashes31Native(col("text"), n),
        array_sort(array_distinct(transform(array_distinct(wordNgrams(col("text"), n)),
          hash31(_))))) === 0L, s"n=$n")
    }
  }

  test("sortedDistinctNgrams equals array_sort(array_distinct(wordNgrams))") {
    for (n <- Seq(2, 3)) {
      assert(mismatches(
        he.sortedDistinctNgramsNative(col("text"), n),
        array_sort(array_distinct(wordNgrams(col("text"), n)))) === 0L, s"n=$n")
    }
  }

  test("merge-intersect counts equal size(array_intersect) over every edge-row pair") {
    val g = edge.select(col("doc_id"),
      he.hashOrderedGramsNative(col("text"), 3).as("gs"),
      he.sortedDistinctNgramsNative(col("text"), 3).as("ls"))
    val pairs = g.select(col("gs").as("a1"), col("ls").as("b1"))
      .crossJoin(g.select(col("gs").as("a2"), col("ls").as("b2")))
    assert(pairs.filter(
      he.hashOrderedIntersectCount(col("a1"), col("a2")) =!=
        size(array_intersect(transform(col("a1"), _.getField("g")),
          transform(col("a2"), _.getField("g")))).cast("long")).count() === 0L)
    assert(pairs.filter(
      he.sortedStringIntersectCount(col("b1"), col("b2")) =!=
        size(array_intersect(col("b1"), col("b2"))).cast("long")).count() === 0L)
  }

  test("hash-keyed candidates + merge-intersect verify reproduces the r19 string-keyed core") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val t = 0.8
    // shipped path
    val now = graft.operators.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        blockCol = "lang", threshold = t)
      .select("block", "id_a", "id_b", "jaccard")
    // r19 form, reconstructed: string gram arrays, prefix join on the
    // gram string, array_intersect/array_union verify
    val g = docs.select(col("doc_id").as("id"), col("lang").as("block"),
        transform(
          array_sort(transform(array_distinct(wordNgrams(col("text"), 3)),
            e => struct(he.md5prefix31(e).as("h"), e.as("g")))),
          s => s.getField("g")).as("grams"))
      .withColumn("sz", size(col("grams")))
      .filter(col("sz") > 0)
    val pref = g.withColumn("plen",
        (col("sz") - ceil(col("sz") * t) + 1).cast("int"))
      .select(col("id"), col("block"), col("sz"),
        explode(slice(col("grams"), lit(1), greatest(col("plen"), lit(1)))).as("gram"))
    val cand = pref.select(col("block"), col("gram"), col("id").as("id_a"), col("sz").as("na"))
      .join(pref.select(col("block"), col("gram"), col("id").as("id_b"), col("sz").as("nb")),
        Seq("block", "gram"))
      .filter(col("id_a") < col("id_b") &&
        col("na") >= col("nb") * t && col("nb") >= col("na") * t)
      .select("block", "id_a", "id_b").distinct()
    val old = cand
      .join(g.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(g.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        jaccard(col("g_a"), col("g_b")).as("j"))
      .filter(col("j") >= t)
      .select(col("block"), col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
    assert(now.exceptAll(old).count() + old.exceptAll(now).count() === 0L)
  }

  test("native containment core reproduces the composed gram-frame + array_intersect verify") {
    // end-to-end over the real corpus: the shipped containmentPairs
    // (sortedDistinctNgramsNative grams + sortedStringIntersectCount
    // verify) must emit exactly the pair set of the composed r19 form
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val t = 0.8
    val probe = docs.select((col("doc_id") * 1000L).as("cid"), col("lang"),
      col("text"))
    val now = graft.operators.Dedup.containmentPairs(
        probe, "text", "cid", docs, "text", "doc_id", "lang", t)
      .select("block", "id_p", "id_x", "containment")
    // composed r19 gram frames feeding the SAME candidate stage, with the
    // composed array_intersect verify
    def gOld(df: org.apache.spark.sql.DataFrame, tc: String, ic: String) =
      df.select(col(ic).as("id"), col("lang").as("block"),
          array_sort(array_distinct(wordNgrams(col(tc), 3))).as("grams"))
        .withColumn("sz", size(col("grams")))
        .filter(col("sz") > 0)
    val p = gOld(probe, "text", "cid")
    val ix = gOld(docs, "text", "doc_id")
    val cands = graft.operators.Dedup.containmentCandidates(p, ix, t)
    val old = cands
      .join(p.select(col("id").as("id_p"), col("grams").as("g_p")), Seq("id_p"))
      .join(ix.select(col("id").as("id_x"), col("grams").as("g_x")), Seq("id_x"))
      .select(col("block"), col("id_p"), col("id_x"),
        (size(array_intersect(col("g_p"), col("g_x"))).cast("double") /
          size(col("g_p")).cast("double")).as("c"))
      .filter(col("c") >= t)
      .select(col("block"), col("id_p"), col("id_x"), round(col("c"), 6).as("containment"))
    assert(now.exceptAll(old).count() + old.exceptAll(now).count() === 0L)
  }
}
