package graft.tools

/** Plan audit: for every SparkEntry query, count exchanges (shuffles),
  * broadcast joins, and scan-level pushdown/pruning, so plan regressions
  * are visible as data — and a GATE, not just a report: any
  * `CartesianProduct` in an executed plan exits nonzero (round-16
  * verdict: the "zero cartesians" claim rested on a human reading the
  * audit, and the old `bcast` column even folded BroadcastNestedLoop in
  * with the hash joins). `CartesianProduct` and
  * `BroadcastNestedLoopJoin` now have their own columns: a BNLJ is a
  * bounded broadcast of a small side (legitimate for non-equi joins —
  * every occurrence still prints, so growth is visible), a
  * CartesianProduct is the unbounded blow-up no query here may plan.
  *
  * With a `planDir`, the same pass also writes each key's formatted
  * executed plan to `<planDir>/<key>.txt`, so a before/after plan diff
  * covers every key.
  * Run: `sbt "runMain graft.tools.ExplainAudit /root/testdata/sf0.01 [planDir]"`. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val planDir = args.lift(1).map(java.nio.file.Paths.get(_))
    val spark = graft.Session.local()
    planDir.foreach(java.nio.file.Files.createDirectories(_))
    val cartesianKeys = scala.collection.mutable.ListBuffer[String]()
    val errorKeys = scala.collection.mutable.ListBuffer[String]()
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.count() // finalize AQE so the audited plan is the executed one
        val plan = df.queryExecution.executedPlan.toString
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        planDir.foreach(d => java.nio.file.Files.write(
          d.resolve(s"$name.txt"), formatted.getBytes("UTF-8")))
        def c(p: String) = p.r.findAllIn(plan).length
        val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(formatted)
          .count(!_.contains("[]"))
        val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(formatted).toSeq
        val widest = readSchemas.map(s => s.count(_ == ',') + 1).maxOption.getOrElse(0)
        // codegen spans: formatted explain annotates "[codegen id : n]"
        // (the tree string loses the markers under AQE wrapping)
        val wsc = "codegen id : (\\d+)".r.findAllMatchIn(formatted).map(_.group(1)).toSet.size
        val cart = c("CartesianProduct")
        if (cart > 0) cartesianKeys += name
        f"$name%-22s exch=${c("Exchange")}%2d bcast=${c("BroadcastHashJoin")}%2d bnlj=${c("BroadcastNestedLoopJoin")}%2d cart=$cart%2d smj=${c("SortMergeJoin")}%2d wsc=$wsc%2d pushedF=$pushed%2d maxReadCols=$widest%2d"
      } catch { case e: Throwable =>
        errorKeys += name
        f"$name%-22s ERROR ${e.getMessage.take(60)}"
      }
    }
    rows.foreach(r => println("[audit] " + r))
    spark.stop()
    // the gate: an errored key is also a failure — an audit that can't
    // plan a query must not read as "zero cartesians" for it
    if (cartesianKeys.nonEmpty || errorKeys.nonEmpty) {
      if (cartesianKeys.nonEmpty)
        System.err.println("[audit] CARTESIAN PRODUCT in: " + cartesianKeys.mkString(", "))
      if (errorKeys.nonEmpty)
        System.err.println("[audit] ERRORED keys: " + errorKeys.mkString(", "))
      sys.exit(1)
    }
    println("[audit] gate: zero CartesianProduct across " + rows.size + " keys")
  }
}
