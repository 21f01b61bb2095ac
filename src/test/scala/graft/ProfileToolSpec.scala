package graft

import org.apache.spark.sql.SparkSession
import graft.tools.Profile

/** `graft.tools.Profile` reads the real key: a cold `dedup_band_store`
  * pass shows the store lifecycle's own methods launching the
  * construction-phase jobs, every job the listener saw lands in exactly
  * one method row, and an unknown key fails before any session exists.
  * (`ProfileSpec` covers `graft.etl.Profile`, the data-profiling
  * operator.) */
class ProfileToolSpec extends SparkSpec {

  private lazy val profiled = Profile.run(spark, sf, Seq("dedup_band_store"))

  test("dedup_band_store: construction rows name BandStore write, append, compact and probe") {
    val (phases, _) = profiled
    assert(phases.map(p => (p.key, p.name)) ===
      Seq(("dedup_band_store", "construction"), ("dedup_band_store", "count")))
    val built = phases.head.methods.map(_.method)
    for (m <- Seq("write", "append", "compact", "probe"))
      assert(built.exists(_.split(" via ").contains(s"sinks.BandStore.$m")),
        s"no BandStore.$m row in $built")
    assert(phases(1).jobs.nonEmpty, "the count phase ran no job")
    phases.foreach(p => assert(p.wallS > 0 && p.driverS >= 0 && p.driverS <= p.wallS))
  }

  test("per-method job counts sum to the listener's job total") {
    val (phases, total) = profiled
    assert(total > 0)
    assert(phases.flatMap(_.methods).map(_.jobs).sum === total)
    phases.foreach(p => assert(p.methods.map(_.jobs).sum === p.jobs.size))
  }

  test("a call site's innermost engine frame, via its entry point, closure suffixes stripped") {
    val site = Seq(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)",
      "graft.sinks.BandStore$.$anonfun$writeSketched$2$adapted(BandStore.scala:10)",
      "graft.sinks.BandStore$.writeSketched(BandStore.scala:12)",
      "graft.sinks.PartitionSwap$.withWriterLock(PartitionSwap.scala:30)",
      "graft.sinks.BandStore$.append(BandStore.scala:40)",
      "graft.queries.TextQueries$.$anonfun$defs$7(TextQueries.scala:154)",
      "graft.tools.Profile$.run(Profile.scala:150)").mkString("\n")
    assert(Profile.engineFrame(site) ===
      Some("sinks.BandStore.writeSketched via sinks.BandStore.append"))
    assert(Profile.engineFrame(site.linesIterator.drop(4).mkString("\n")) ===
      Some("sinks.BandStore.append"))
    assert(Profile.engineFrame(Seq(
      "graft.sinks.PartitionSwap$.swapRewrite(PartitionSwap.scala:90)",
      "graft.sinks.BandStore$.$anonfun$compact$1(BandStore.scala:300)",
      "graft.etl.Concurrent$$anon$1.call(Concurrent.scala:40)").mkString("\n")) ===
      Some("sinks.PartitionSwap.swapRewrite via sinks.BandStore.compact"))
    assert(Profile.engineFrame(
      "graft.tools.Profile$.$anonfun$run$3(Profile.scala:1)\njava.lang.Thread.run(Thread.java:840)") === None)
  }

  test("an unknown key fails, naming it, before any session is built") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](
      Profile.main(Array(sf, "dedup_band_store", "no_such_key")))
    assert(e.getMessage.contains("no_such_key") && !e.getMessage.contains("dedup_band_store"))
    assert(SparkSession.getDefaultSession === before)
  }
}
