package graftbench

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {
  private val engine = new File("../src/main/scala")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) scalaFiles(f) else Seq(f))
      .filter(_.getName.endsWith(".scala"))

  test("every graft/<module>/ source file maps to a module") {
    val dirs = new File(engine, "graft").listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty, s"no engine sources under ${engine.getCanonicalPath}")
    assert(dirs.sorted == Modules.All.sorted, "a graft/<module>/ directory is missing from Modules.All")
    for (d <- dirs; f <- scalaFiles(new File(engine, s"graft/$d"))) {
      val rel = engine.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/')
      assert(Modules.ofSourceFile(rel).contains(d), rel)
      // a job's module comes from the class on its call site, so the
      // file's package must name the same module
      val pkg = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .find(_.startsWith("package ")).map(_.stripPrefix("package ").trim)
      assert(pkg.flatMap(p => Modules.ofClass(s"$p.X")).contains(d), s"$rel declares package $pkg")
    }
  }

  test("the attributed and unexercised modules are modules") {
    assert((Modules.Attributed ++ Modules.NotExercised).forall(Modules.All.contains))
  }

  test("a call site is attributed to its innermost engine frame") {
    val stack = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)",
      "graft.sinks.ParquetSink$.swapWriteWith(ParquetSink.scala:113)",
      "graft.etl.ReferencePipeline$.$anonfun$run$2(ReferencePipeline.scala:77)",
      "graftbench.Listings.load(Listings.scala:76)").mkString("\n")
    assert(Modules.ofCallSite(stack) == "sinks")
    assert(Modules.ofCallSite("graft.SparkEntry$.prepareShared(SparkEntry.scala:78)") == "graft")
    assert(Modules.ofCallSite("graftbench.Fingerprint$.of(Fingerprint.scala:31)") == Modules.Bench)
  }
}
