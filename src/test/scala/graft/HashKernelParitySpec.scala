package graft

import java.security.MessageDigest

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.expressions.{HashExpressions => he, HashUtil, Md5}
import graft.functions.TextFunctions

/** Generated-input parity for the hash kernels: the in-house [[Md5]]
  * against `java.security.MessageDigest`, and every `HashUtil` kernel
  * against a plain-Scala reference built on `MessageDigest` and the
  * documented constructions, under each expression-evaluation path Spark
  * can take (generated or interpreted projections, whole-stage codegen on
  * or off). Inputs are drawn by scalacheck from fixed seeds, so a failure
  * reproduces: text mixing ASCII, 2-, 3- and 4-byte UTF-8 and runs of
  * spaces; long arrays as `UnsafeArrayData` (read in place) and as
  * `GenericArrayData` (the `ArrayData` loop), with null elements and
  * empty arrays. */
class HashKernelParitySpec extends SparkSpec {

  private val P = 2147483647L

  private def md5(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("MD5").digest(b)
  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def hex(d: Array[Byte]): String = d.map(x => f"${x & 0xff}%02x").mkString
  private def prefix31(s: String): Long = {
    val d = md5(utf8(s))
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % P
  }

  /** `gen` drawn once from `seed`. */
  private def draw[T](gen: Gen[T], seed: Long): T = gen.pureApply(Gen.Parameters.default, Seed(seed))

  test("Md5 equals MessageDigest at every length 0..200, at random offsets, and over several blocks") {
    // every padding case: one block below 56 bytes, two from 56 to 119, three from 120
    for (len <- 0 to 200) {
      val cases = draw(Gen.listOfN(4, Gen.zip(Gen.choose(0, 70), Gen.choose(0, 9),
        Gen.listOfN(len, Gen.choose(-128, 127).map(_.toByte)))), len.toLong)
      for ((off, pad, body) <- cases) {
        val msg = body.toArray
        val buf = Array.fill[Byte](off)(7) ++ msg ++ Array.fill[Byte](pad)(9)
        val want = md5(msg)
        val out = Array.fill[Byte](20)(-1)
        Md5.digest(buf, off, len, out, 3)
        assert(out.slice(3, 19).sameElements(want), s"len=$len off=$off")
        assert(out.take(3).forall(_ == -1) && out.drop(19).forall(_ == -1), s"len=$len wrote outside")
        val be = ((want(0) & 0xffL) << 24) | ((want(1) & 0xffL) << 16) |
          ((want(2) & 0xffL) << 8) | (want(3) & 0xffL)
        assert(Md5.prefix32(buf, off, len) === be, s"len=$len off=$off")
      }
    }
    val longer = Prop.forAll(Gen.choose(0, 3000).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127)))) { xs =>
      val msg = xs.map(_.toByte).toArray
      val out = new Array[Byte](16)
      Md5.digest(msg, 0, msg.length, out, 0)
      out.sameElements(md5(msg))
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(Seed(12L)), longer)
    assert(result.passed, result.status.toString)
    // a range outside the array fails instead of reading past it
    intercept[IndexOutOfBoundsException](Md5.prefix32(new Array[Byte](8), 4, 5))
    intercept[IndexOutOfBoundsException](Md5.prefix32(new Array[Byte](8), -1, 2))
    // the sign masks keep their md5 derivation
    val masks = graft.operators.RandomProjection.signMasks(48, 16)
    val want = (0 until 48).map { b =>
      (0 until 16).foldLeft(0L)((m, d) => if ((md5(utf8(s"${b}_$d"))(3) & 1) == 1) m | (1L << d) else m)
    }
    assert(masks === want)
  }

  // ---- references ----

  private def codePointShingles(s: String, n: Int): Seq[String] = {
    val cps = s.codePoints().toArray
    (0 to cps.length - n).map(i => new String(cps, i, n))
  }
  private def wordGrams(s: String, n: Int): Seq[String] =
    s.split(" ", -1).toSeq.sliding(n).filter(_.size == n).map(_.mkString("_")).toSeq
  private def sortedSet(hs: Seq[Long]): Seq[Long] = hs.distinct.sorted
  private def unsignedCompare(a: String, b: String): Int = {
    val (x, y) = (utf8(a), utf8(b))
    java.util.Arrays.compareUnsigned(x, y)
  }
  private def hashOrdered(s: String, n: Int): Seq[(Long, String)] =
    wordGrams(s, n).distinct.map(g => (prefix31(g), g)).sortWith { case ((h1, g1), (h2, g2)) =>
      if (h1 != h2) h1 < h2 else unsignedCompare(g1, g2) < 0
    }
  private val A = TextFunctions.MinhashA
  private val B = TextFunctions.MinhashB
  private def minhash(hs: Seq[Long], k: Int): Seq[Any] =
    if (hs.isEmpty) Seq.fill[Any](k)(null)
    else (0 until k).map(j => hs.map(h => (A(j) * h + B(j)) % P).min)
  private def tokenPair(s: String): (Seq[Long], Seq[Long]) = {
    val hs = s.split(" ", -1).toSeq.map(t => hex(md5(utf8(t))))
    (hs.map(h => java.lang.Long.parseLong(h.substring(0, 15), 16)),
      hs.map(h => java.lang.Long.parseLong(h.substring(15, 30), 16)))
  }
  private def bandKeys(sig: Seq[Option[Long]], rowsPerBand: Int): Seq[String] =
    sig.grouped(rowsPerBand).map(b => hex(md5(utf8(b.flatten.map(_.toString).mkString("#"))))).toSeq
  private def agree(a: Seq[Option[Long]], b: Seq[Option[Long]]): Long =
    a.zip(b).count { case (x, y) => x.isDefined && x == y }.toLong
  private def intersect(a: Seq[Long], b: Seq[Long]): Long = a.toSet.intersect(b.toSet).size.toLong

  // ---- generated inputs ----

  private val piece = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "c", "ab", "ba"), 3 -> Gen.const(" "), 1 -> Gen.const("  "),
    1 -> Gen.oneOf("é", "ö", "ß"), 1 -> Gen.oneOf("日", "本語"), 1 -> Gen.const("😀"))
  private val text: Gen[Option[String]] = Gen.frequency(
    12 -> Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, piece)).map(p => Some(p.mkString)),
    1 -> Gen.const(None))
  private val slot: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(0L, 5L), 4 -> Gen.choose(0L, P - 1), 1 -> Gen.choose(-1000L, -1L),
    1 -> Gen.const(Long.MinValue))
  private val K = 8
  private def sig(nulls: Boolean): Gen[Seq[Option[Long]]] =
    Gen.listOfN(K, if (nulls) Gen.frequency(5 -> slot.map(Some(_)), 1 -> Gen.const(None))
    else slot.map(Some(_)))
  private val sortedHashes: Gen[Seq[Long]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 15L))).map(_.distinct.sorted)

  private case class In(id: Int, text: Option[String], sa: Seq[Option[Long]], sb: Seq[Option[Long]],
                        ha: Seq[Long], hb: Seq[Long])

  private val inputs: Seq[In] = draw(Gen.listOfN(300, for {
    t <- text; nulls <- Gen.frequency(3 -> false, 1 -> true)
    sa <- sig(nulls); sb <- Gen.frequency(3 -> sig(nulls), 1 -> Gen.const(sa))
    ha <- sortedHashes; hb <- sortedHashes
  } yield (t, sa, sb, ha, hb)), 2026L).zipWithIndex.map { case ((t, sa, sb, ha, hb), i) =>
    In(i, t, sa, sb, ha, hb) }

  private val configs = for {
    mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"); wholeStage <- Seq("true", "false")
  } yield (mode, wholeStage)

  /** Runs `f` under each evaluation path. */
  private def underEachPath(f: String => Unit): Unit =
    for ((mode, wholeStage) <- configs) {
      val saved = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try f(s"factoryMode=$mode wholeStage=$wholeStage")
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  test("every rewritten kernel equals its reference under each codegen mode, on unsafe and generic arrays") {
    import spark.implicits._
    // an RDD source, so the optimizer cannot fold the projection into a local relation
    val df = spark.sparkContext.parallelize(inputs.map(i => (i.id, i.text, i.sa, i.sb, i.ha, i.hb)), 3)
      .toDF("id", "text", "sa", "sb", "ha", "hb")
    // `transform` is interpreted and hands its consumer a GenericArrayData
    def generic(c: Column): Column = transform(c, x => x)
    val t = col("text")
    val exprs = Seq(
      he.md5prefix31(t), he.shingleHashes31Native(t, 3), he.shingleHashes31Native(t, 1),
      he.wordNgramHashes31Native(t, 2), he.wordNgramHashes31Native(t, 1),
      he.hashOrderedGramsNative(t, 2), he.tokenHashes60PairNative(t),
      he.minhashSigNative(col("ha"), K), he.minhashSigNative(generic(col("ha")), K),
      he.minhashSigNative(he.shingleHashes31Native(t, 3), K),
      he.lshBandKeysNative(col("sa"), K, 2), he.lshBandKeysNative(generic(col("sa")), K, 4),
      he.positionalAgree(col("sa"), col("sb")), he.positionalAgree(generic(col("sa")), col("sb")),
      he.positionalAgree(col("sa"), generic(col("sb"))),
      he.sortedIntersectCount(col("ha"), col("hb")), he.sortedIntersectCount(generic(col("ha")), col("hb")))
    val byId = inputs.map(i => i.id -> i).toMap
    def longs(r: Row, i: Int): Seq[Long] = r.getSeq[Long](i)
    underEachPath { path =>
      val rows = df.select(col("id") +: exprs.zipWithIndex.map { case (e, i) => e.as(s"e$i") }: _*).collect()
      assert(rows.length === inputs.size, path)
      for (r <- rows) {
        val in = byId(r.getInt(0))
        val where = s"$path id=${in.id} input=$in"
        in.text match {
          case None => ((1 to 7) :+ 10).foreach(i => assert(r.isNullAt(i), where))
          case Some(s) =>
            assert(r.getLong(1) === prefix31(s), where)
            assert(longs(r, 2) === sortedSet(codePointShingles(s, 3).map(prefix31)), where)
            assert(longs(r, 3) === sortedSet(codePointShingles(s, 1).map(prefix31)), where)
            assert(longs(r, 4) === sortedSet(wordGrams(s, 2).map(prefix31)), where)
            assert(longs(r, 5) === sortedSet(wordGrams(s, 1).map(prefix31)), where)
            assert(r.getSeq[Row](6).map(g => (g.getLong(0), g.getString(1))) === hashOrdered(s, 2), where)
            val pair = r.getStruct(7)
            assert((longs(pair, 0), longs(pair, 1)) === tokenPair(s), where)
            assert(r.getSeq[Any](10) === minhash(sortedSet(codePointShingles(s, 3).map(prefix31)), K), where)
        }
        assert(r.getSeq[Any](8) === minhash(in.ha, K), where)
        assert(r.getSeq[Any](9) === minhash(in.ha, K), where)
        assert(r.getSeq[String](11) === bandKeys(in.sa, 2), where)
        assert(r.getSeq[String](12) === bandKeys(in.sa, 4), where)
        (13 to 15).foreach(i => assert(r.getLong(i) === agree(in.sa, in.sb), s"$where e${i - 1}"))
        (16 to 17).foreach(i => assert(r.getLong(i) === intersect(in.ha, in.hb), s"$where e${i - 1}"))
      }
    }
  }

  test("in-place reads agree with the ArrayData loop on every array form") {
    def unsafe(xs: Seq[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    def generic(xs: Seq[Option[Long]]): ArrayData = new GenericArrayData(xs.map(_.orNull[Any]).toArray)
    def unsafeWithNulls(xs: Seq[Option[Long]]): ArrayData = {
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
        Array[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)))
      proj(org.apache.spark.sql.catalyst.InternalRow(generic(xs))).getArray(0)
    }
    // 0..200 slots crosses the 64-slot null-bitmap word boundaries
    val pairs = draw(Gen.listOfN(300, Gen.choose(0, 200).flatMap { n =>
      Gen.zip(Gen.listOfN(n, Gen.choose(0L, 3L)), Gen.listOfN(n, Gen.choose(0L, 3L)),
        Gen.choose(-1, n - 1))
    }), 7L)
    for ((xs, ys, nullAt) <- pairs) {
      val a = xs.map(Some(_))
      val b = ys.zipWithIndex.map { case (y, i) => if (i == nullAt) None else Some(y) }
      val want = agree(a, b)
      for (ua <- Seq(unsafe(xs), generic(a), unsafeWithNulls(a));
           ub <- Seq(generic(b), unsafeWithNulls(b)) ++ (if (nullAt < 0) Seq(unsafe(ys)) else Nil)) {
        assert(HashUtil.positionalAgree(ua, ub) === want, s"${ua.getClass} ${ub.getClass} nullAt=$nullAt")
      }
      val (sx, sy) = (xs.distinct.sorted, ys.distinct.sorted)
      for (ua <- Seq(unsafe(sx), generic(sx.map(Some(_)))); ub <- Seq(unsafe(sy), generic(sy.map(Some(_)))))
        assert(HashUtil.sortedIntersect(ua, ub) === intersect(sx, sy))
    }
    assert(HashUtil.positionalAgree(unsafe(Nil), unsafe(Seq(1L))) === 0L)
    assert(HashUtil.sortedIntersect(unsafe(Nil), generic(Nil)) === 0L)
    // the signature of an empty hash set stays all-null
    val empty = HashUtil.minhashSig(unsafe(Nil), K)
    assert((0 until K).forall(empty.isNullAt))
  }
}
