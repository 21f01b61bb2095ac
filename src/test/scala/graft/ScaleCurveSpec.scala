package graft

import org.apache.spark.sql.SparkSession
import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ScaleCurve

/** The scale-curve runner's shared pieces: both α fits recover the
  * exponent of a pure power law, the least-squares fit keeps its floors,
  * and family lookup rejects what it cannot run before any session
  * exists. */
class ScaleCurveSpec extends AnyFunSuite {

  private val ns = Seq(5000L, 20000L, 50000L)
  private def power(k: Int, c: Double): Seq[(Long, Double)] =
    ns.map(n => (n, c * math.pow(n.toDouble, k)))

  test("endpoint and least-squares α recover k on (n, c·n^k)") {
    for (k <- Seq(1, 2); c <- Seq(1.0, 3.5)) {
      val pts = power(k, c)
      assert(ScaleCurve.endpointAlpha(pts) === k.toDouble +- 1e-12)
      assert(ScaleCurve.endpointAlpha(pts.map { case (n, y) => (n, math.round(y)) }) ===
        k.toDouble +- 1e-12)
      assert(ScaleCurve.wallAlpha(pts) === k.toDouble +- 1e-12)
      assert(ScaleCurve.countAlpha(pts.map { case (n, y) => (n, math.round(y)) }) ===
        k.toDouble +- 1e-12)
    }
  }

  test("least-squares α floors walls at 1 ms and counts at 1") {
    val walls = Seq((100L, 0.0), (1000L, 1e-4), (10000L, 0.01))
    assert(ScaleCurve.wallAlpha(walls) ===
      ScaleCurve.wallAlpha(Seq((100L, 1e-3), (1000L, 1e-3), (10000L, 0.01))))
    assert(ScaleCurve.wallAlpha(walls) === 0.5 +- 1e-12)
    val counts = Seq((100L, 0L), (1000L, 1L), (10000L, 100L))
    assert(ScaleCurve.countAlpha(counts) ===
      ScaleCurve.countAlpha(Seq((100L, 1L), (1000L, 1L), (10000L, 100L))))
    assert(ScaleCurve.countAlpha(counts) === 1.0 +- 1e-12)
  }

  test("an unknown or missing family fails, names every family, builds no session") {
    val before = SparkSession.getDefaultSession
    val names = ScaleCurve.families.map(_._1)
    assert(names.size === 15 && names.distinct === names)
    for (args <- Seq(Nil, Seq("nope"), Seq("band", "bloom"))) {
      val usage = ScaleCurve.family(args).swap.getOrElse(fail(s"$args was accepted"))
      names.foreach(n => assert(usage.contains(n), s"usage omits $n"))
    }
    assert(ScaleCurve.family(Seq("dedup")).isRight)
    assert(SparkSession.getDefaultSession === before)
  }
}
