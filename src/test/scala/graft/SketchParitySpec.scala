package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.HashExpressions
import graft.functions.TextFunctions

/** EXTERNAL parity fixtures for the sketch family (round-16 verdict: the
  * BpeSpec discipline, extended to minhash/simhash/fingerprint).
  *
  * Every expected value below is a PINNED LITERAL computed by an
  * INDEPENDENT implementation — Python 3 `hashlib.md5` plus a direct
  * transcription of the documented public constructions (md5-prefix-31
  * shingle hashing; `(a·h + b) mod (2³¹−1)` universal minhash;
  * majority-bit simhash over md5-prefix-60 token hashes; the rolling
  * polynomial fingerprint) — sharing NO code, language, or hash library
  * with the Scala/Catalyst production path. A subtle divergence in the
  * digest slicing, modulus folding, UTF-8 stepping, rotation, or
  * parameter tables cannot pass here AND in the self-referential specs:
  * the constants freeze today's wire-visible behavior byte for byte.
  *
  * Regenerate (only if the scheme deliberately changes) with:
  * {{{
  * python3 - <<'PY'
  * import hashlib
  * P = 2**31 - 1
  * def md5p31(s):
  *     b = hashlib.md5(s.encode('utf-8')).digest()
  *     return ((b[0]<<24)|(b[1]<<16)|(b[2]<<8)|b[3]) % P
  * # shingles step CODE POINTS; dedup + ascending sort
  * # sig[j] = min((A[j]*h + B[j]) % P) over the shingle hashes
  * # hash60 = int(md5hex[0:15],16); hash60b = int(md5hex[15:30],16)
  * # simhash bit b set iff 2*count(bit b) >= n tokens
  * # fingerprint: acc = (acc*131 + ord(w[0])*31 + len(w)) % P per word
  * PY
  * }}}
  */
class SketchParitySpec extends SparkSpec {
  import spark.implicits._

  private val s1 = "the quick brown fox jumps over the lazy dog"
  private val s2 = "abcabcabc" // repeated shingles — exercises the dedup
  private val s3 = "héllo wörld ünïcode" // multi-byte UTF-8 stepping

  // --- pinned external vectors (Python hashlib.md5; see scaladoc) ---
  private val S1_HS = Seq(23062746L, 114822832L, 135459151L, 155613492L, 156537014L, 217976563L, 264514670L, 268579874L, 283750867L, 323629889L, 346435743L, 359473699L, 390334033L, 463741778L, 488915457L, 545953571L, 731238896L, 759234899L, 836921465L, 890626443L, 927762237L, 944170796L, 980113710L, 1071646224L, 1094738407L, 1122188451L, 1137153888L, 1316990369L, 1456299310L, 1472870907L, 1514692591L, 1561076034L, 1635911711L, 1843576713L, 1852218631L, 1905678982L, 1916979271L, 2074710090L, 2082326806L)
  private val S2_HS = Seq(268521625L, 384630116L, 911125389L)
  private val S3_HS = Seq(422148788L, 530788263L, 585244543L, 659127887L, 690830400L, 760379568L, 833221552L, 843163247L, 1147617467L, 1560222841L, 1762430495L, 1763078575L, 1789840903L, 1818798190L, 1868330031L, 1885526643L, 1962001961L)
  private val S1_SIG128 = Seq(16247776L, 14200691L, 76584782L, 43109385L, 142805119L, 14408452L, 21100915L, 3513172L, 51134012L, 87746299L, 20986721L, 16524974L, 27001220L, 6014646L, 73131720L, 15677327L, 4642925L, 41210786L, 175886143L, 107760595L, 25135488L, 143289998L, 26193170L, 48537046L, 55976632L, 7745670L, 49709494L, 49494551L, 81894235L, 108583366L, 31871407L, 20914741L, 117724400L, 43302333L, 61163008L, 85264559L, 6755289L, 227642143L, 103735473L, 76106009L, 8866243L, 48893838L, 83283761L, 181176744L, 63185686L, 48225455L, 58265879L, 46609729L, 60944719L, 94985234L, 111853044L, 133170936L, 6655738L, 50429999L, 4789386L, 60452088L, 94494047L, 33690144L, 45878251L, 5573320L, 14226419L, 217448034L, 34642906L, 1891465L, 31323693L, 21572414L, 198082007L, 41253363L, 13376278L, 11190444L, 66301460L, 72545992L, 97802868L, 98814706L, 33639837L, 6143886L, 13688493L, 95531843L, 112519771L, 56089230L, 61263354L, 31305358L, 17531760L, 13401814L, 14359117L, 27946590L, 64927544L, 68498066L, 140302598L, 15835921L, 293343852L, 14209085L, 7060039L, 200834196L, 27700938L, 54590705L, 2396296L, 36375308L, 44027637L, 59180539L, 61808223L, 40943659L, 28867447L, 979767L, 34120136L, 106405789L, 53223176L, 27296613L, 264544822L, 54190838L, 1044697L, 31275225L, 55218856L, 13649567L, 50791305L, 15704814L, 6826044L, 68864975L, 49767667L, 2521L, 90251888L, 19909920L, 2484299L, 65463236L, 27921430L, 54339414L, 15964502L, 27260443L)
  private val S2_SIG16 = Seq(1058445418L, 1382331690L, 159217974L, 966460623L, 365591626L, 459795574L, 115307456L, 686757475L, 721920485L, 1090362172L, 64171491L, 1287964823L, 1089474586L, 617327176L, 305317342L, 639638968L)
  private val S3_SIG16 = Seq(78365628L, 375229460L, 257064770L, 83187912L, 86563876L, 144703683L, 175951385L, 38683969L, 27422702L, 3577125L, 7254100L, 285301055L, 311080058L, 290146314L, 44321428L, 11303948L)

  /** The composed form of the native `SimHash60`: bit b is set iff
    * tokens with bit b set are the (weak) majority. */
  private def simhash60(tokenHashes: Column): Column = {
    val n = size(tokenHashes)
    (0 until 60).map { b =>
      val cnt = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(lit(1L)))
      when(cnt * 2 >= n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  private def shingles(s: String): Seq[Long] =
    Seq(s).toDF("t")
      .select(HashExpressions.shingleHashes31Native(col("t"), 3).as("hs"))
      .as[Seq[Long]].head()

  private def sig(s: String, k: Int): Seq[Long] =
    Seq(s).toDF("t")
      .select(HashExpressions.minhashSigNative(
        HashExpressions.shingleHashes31Native(col("t"), 3), k).as("sig"))
      .as[Seq[Long]].head()

  test("shingle-hash-31 matches the external Python md5 vectors (ASCII, dup, multibyte)") {
    assert(shingles(s1) == S1_HS)
    assert(shingles(s2) == S2_HS) // 7 positions collapse to 3 distinct
    assert(shingles(s3) == S3_HS) // code-point stepping, not byte stepping
  }

  test("minhash signature matches the external vectors at k=128 and k=16") {
    // k=128 covers BOTH parameter regimes: the 16 hand-picked (A,B)
    // pairs and the 112 generated ones — a drifted constant table or a
    // changed Mersenne fold shows up as a wrong min somewhere in 128
    assert(sig(s1, 128) == S1_SIG128)
    assert(sig(s2, 16) == S2_SIG16)
    assert(sig(s3, 16) == S3_SIG16)
  }

  test("hash60 / hash60b / simhash60 match the external vectors") {
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "the",
      "lazy", "dog")
    val th = toks.toDF("w").select(TextFunctions.hash60(col("w")).as("h"))
      .as[Long].collect().toSeq
    assert(th == Seq(647465868329588333L, 134887290390610550L,
      504200503016324522L, 196290446655796844L, 385417869210022485L,
      267781288633574213L, 647465868329588333L, 72026031632204466L,
      30822519473747098L))
    val hb = Seq("the").toDF("w")
      .select(ComposedTwins.hash60b(col("w"))).as[Long].head()
    assert(hb == 809251451210892099L)
    // simhash over the tokenized sentence: one row, the production fold
    val sh = Seq(s1).toDF("t")
      .select(simhash60(
        transform(TextFunctions.tokens(col("t")), w => TextFunctions.hash60(w))))
      .as[Long].head()
    assert(sh == 71287727808099948L)
  }

  test("rolling fingerprint matches the external vectors (incl. empty token)") {
    val fps = Seq(s1, "a  b").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).as[Long].collect().toSeq
    // "a  b" splits to ("a", "", "b") — the empty middle token contributes
    // ascii(NULL-safe 0)*31 + len 0; the pin freezes that edge too
    assert(fps == Seq(343277538L, 51623327L))
  }
}
