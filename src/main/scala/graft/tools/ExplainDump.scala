package graft.tools

/** Dump `.explain("formatted")` of named SparkEntry queries to files —
  * the evidence trail behind plans/r19/<key>_{before,after}.txt: the
  * optimization rounds' plan-diff claims ("2 Exchange → 1",
  * "SortMergeJoin → BroadcastHashJoin") must be checkable against
  * committed artifacts, not prose. The dumped plan is the EXECUTED plan
  * (the query runs once first so AQE finalizes), matching what the
  * bench actually measures.
  *
  * Run: `sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <key...>"`
  * — writes `<outDir>/<key><suffix>.txt` per key.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainDump <sfDir> <outDir> <suffix> <key...>")
    val Array(dir, outDir, suffix) = args.take(3)
    val keys = args.drop(3).toSeq
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.count() // finalize AQE so the dumped plan is the executed one
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
        formatted.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
