package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The graft benchmark. One JVM, `local[cores]`, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --fingerprints <file> --tables <dir> --out <dir> [--pin <file>]
  * }}}
  *
  * The generated tables do not depend on the seed, so they are written to
  * `--tables` once and reused by later runs of the same generator.
  *
  * The scratch root is `java.io.tmpdir`, which the launcher creates and
  * deletes; the session's local dir and warehouse live under it too.
  * Prints the metrics by name, then one JSON line as the last line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fingerprints: String, tables: String, out: String, pin: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fingerprints"), need("tables"), need("out"), m.get("pin"))
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def session(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      // full call-site stacks, so a job's innermost engine frame is on it
      .config("spark.callstack.depth", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val root = new File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    val cores = Runtime.getRuntime.availableProcessors()
    println(s"scratch_root $root")
    println(s"not exercised: ${Modules.NotExercised.mkString(", ")} (no workload calls into them)")

    val t0 = System.nanoTime()
    val spark = session(root, cores)
    val sessionS = secondsSince(t0)
    val input = args.tables
    val g0 = System.nanoTime()
    Data.ensure(spark, input, s"$root/tables.tmp")
    println(f"input_tables $input: ${Data.bytes(input, Data.Names: _*)}%d B, ready in ${secondsSince(g0)}%.3f s")
    val p0 = System.nanoTime()
    SparkEntry.prepareShared(spark, input)
    val prepareS = secondsSince(p0)

    val pinned = if (args.pin.isDefined) Map.empty[String, Fingerprint] else readPins(args.fingerprints)
    val workload: Workload = args.workload match {
      case "corpus_dedup_search" => new Workloads.Corpus(spark, input, pinned)
      case "listings_etl" => new Workloads.Etl(spark, root, args.seed)
    }
    val harness = new Harness(spark, workload, root, cores, args.seed, args.trace)
    val result = try {
      val w0 = System.nanoTime()
      harness.warmUp()
      val warmupS = secondsSince(w0)
      harness.measure(args.seconds, minRounds = if (args.trace || args.pin.isDefined) 2 else 1)
      val setup = Map("setup.session_s" -> sessionS, "setup.prepare_s" -> prepareS,
        "setup.warmup_s" -> warmupS)
      args.pin match {
        case Some(path) => pin(workload, path); None
        case None =>
          val layers = if (args.trace) {
            harness.trace.write(s"${args.out}/spans-${args.workload}-${args.seed}.jsonl")
            setup ++ harness.layerMetrics() ++ Kernels.probe(spark, input)
          } else Map.empty[String, Double]
          Some(harness.report(sessionS + prepareS + warmupS, layers))
      }
    } finally spark.stop()
    result.foreach(println)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def readPins(path: String): Map[String, Fingerprint] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> Fingerprint.parse(v) }.toMap

  /** Writes the fingerprints the ops read, refusing any op that read more
    * than one across rounds: such an op cannot be checked by a pin. */
  private def pin(w: Workload, path: String): Unit = w match {
    case r: Workloads.Corpus =>
      val unstable = r.seen.filter(_._2.size != 1)
      require(unstable.isEmpty, s"ops with unstable fingerprints: ${unstable.mkString("; ")}")
      val w = new java.io.PrintWriter(path, "UTF-8")
      try {
        w.println(s"# op\trows:hash — Fingerprint.of over ${Data.DocRows} documents and ${Data.VecRows} embeddings, table seed ${Data.TableSeed}")
        r.seen.toSeq.sortBy(_._1).foreach { case (k, v) => w.println(s"$k\t${v.head}") }
      } finally w.close()
      println(s"pinned ${r.seen.size} fingerprints to $path")
    case _ => throw new IllegalArgumentException(s"${w.name} checks against its model, not pins")
  }
}

/** One timed op: its wall and process CPU seconds, the JVM's GC and JIT
  * compiler seconds during it, whether it failed, and, after it, the bytes kept per input
  * byte and the heap in use after a full GC. */
final case class Sample(op: String, round: Int, traced: Boolean, seconds: Double, cpuS: Double,
                        gcS: Double, jitS: Double, failed: Boolean, storeRatio: Double, heapMb: Double)

/** Runs a workload's rounds, times each op from outside, and turns the
  * samples into metrics. Made after set-up has prepared the shared stores. */
final class Harness(spark: SparkSession, w: Workload, root: String,
                    cores: Int, seed: Long, traced: Boolean) {
  private val rng = new scala.util.Random(seed)
  val trace = new Trace(traced)
  private val probe = new Probe
  private val memory = ManagementFactory.getMemoryMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = { var t = 0L; gcs.forEach(g => t += math.max(0L, g.getCollectionTime)); t }
  private val jit = ManagementFactory.getCompilationMXBean
  private val localDir = new File(s"$root/spark-local")
  /** Bytes under the scratch root, less Spark's shuffle and block files. */
  private def underRoot: Long = Files.bytesUnder(new File(root)) - Files.bytesUnder(localDir)
  /** What set-up left there (the prepared stores), which no op reads. */
  private val setupBytes = underRoot

  val samples = ArrayBuffer.empty[Sample]
  private var opIndex = 0

  /** One untimed round: codegen, JIT and lazy set-up happen here. */
  def warmUp(): Unit = runRound(-1)

  /** Whole rounds until `seconds` have passed, so every op is measured
    * equally often. A traced run traces every other run of each op (the
    * second, fourth, ...), so every op is traced from the second round on
    * and tracing overhead is measured on untraced runs of the same op in
    * the same run. */
  def measure(seconds: Double, minRounds: Int): Unit = {
    val t0 = System.nanoTime()
    var round = 0
    while (round < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      runRound(round)
      round += 1
    }
  }

  private def runRound(round: Int): Unit =
    rng.shuffle(w.ops).foreach(op => runOp(op, round, traced && round >= 0 && round % 2 == 1))

  private def runOp(op: String, round: Int, tracedOp: Boolean): Unit = {
    w.before(op)
    if (tracedOp) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    trace.op = if (tracedOp) opIndex else -1
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime
    val t0 = System.nanoTime()
    val error = try {
      if (tracedOp) trace.span("op")(w.op(op, trace)) else w.op(op, Trace.Off)
    } catch { case e: Throwable => Some(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    if (tracedOp) {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
    }
    val checked = error.orElse(
      try w.after(op) catch { case e: Throwable => Some(s"$op check threw ${e.getMessage}") })
    checked.foreach(e => println(s"FAILED round $round: ${e.take(500)}"))
    spark.catalog.clearCache()
    System.gc()
    val heapMb = memory.getHeapMemoryUsage.getUsed / 1048576.0
    // what the ops keep: the input they were given, what they wrote
    val kept = w.inputOutsideRoot + underRoot - setupBytes
    println(f"op $round%d $op $seconds%.3f s cpu $cpuS%.3f s jit $jitS%.3f s kept/input ${kept.toDouble / w.inputBytes}%.3f heap $heapMb%.1f MB")
    if (round >= 0)
      samples += Sample(op, round, tracedOp, seconds, cpuS, gcS, jitS, checked.isDefined,
        kept.toDouble / math.max(1L, w.inputBytes), heapMb)
    opIndex += 1
  }

  /** The end-to-end metrics, as the result line. */
  def report(setupS: Double, layers: Map[String, Double]): String = {
    val timed = samples.filterNot(_.traced).toSeq
    val lat = timed.map(_.seconds).sorted
    val n = lat.size
    // the highest percentile with at least ten samples above it, but never
    // below p90: a run of fewer than 100 ops reports its p90, interpolated
    // between the two nearest samples, which a single slow op moves less
    // than taking the nearest one
    val tailP = math.max(0.9, 1.0 - 10.0 / n)
    println(f"op_tail_s is p${100 * tailP}%.1f of $n samples")
    val failed = timed.count(_.failed)
    val e2e = Seq(
      "setup_s" -> ("s", setupS),
      // each op's median, combined over ops by geometric mean, so the figure
      // neither jumps between ops of different cost nor rests on one op
      "op_p50_s" -> ("s", perOp(timed, _.seconds)),
      "op_tail_s" -> ("s", Stats.percentile(lat, tailP)),
      "ops_per_s" -> ("1/s", n / lat.sum),
      "cpu_s_per_op" -> ("s", timed.map(_.cpuS).sum / n),
      "ok_ratio" -> ("ratio", (n - failed).toDouble / n),
      "store_bytes_per_input_byte" -> ("ratio", perOp(timed, _.storeRatio)),
      // an op's median, as what an op leaves can take a moment to be freed
      "live_heap_mb" -> ("MB", timed.groupBy(_.op).values.map(ss => Stats.median(ss.map(_.heapMb))).max))
    println(f"workload ${w.name}: $n timed ops in ${timed.map(_.round).distinct.size} rounds, $failed failed")
    timed.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ss) =>
      println(f"  op $op%-28s median ${Stats.median(ss.map(_.seconds))}%.3f s over ${ss.size}")
    }
    e2e.foreach { case (k, (u, v)) => println(f"  $k%-28s $v%.6f $u") }
    val metrics =
      if (layers.isEmpty) e2e.map { case (k, (u, v)) => k -> (v, u) }
      else layers.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, Layers.unit(k)) }
    if (layers.nonEmpty) metrics.foreach { case (k, (v, u)) => println(f"  $k%-44s $v%.6f $u") }
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $n, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  /** Each op's median of `f`, combined over ops by geometric mean. */
  private def perOp(ss: Seq[Sample], f: Sample => Double): Double =
    Stats.geomean(ss.groupBy(_.op).values.map(s => Stats.median(s.map(f))).toSeq)

  /** Per-layer metrics from the traced rounds, per timed op unless a ratio. */
  def layerMetrics(): Map[String, Double] = {
    val tracedOps = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val nOps = math.max(1, tracedOps.size).toDouble
    // spans use System.nanoTime, Spark events epoch milliseconds
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def toNs(ms: Long) = ms * 1000000L + offsetNs
    val spans = trace.spans
    val jobs = probe.jobs.toSeq.map(j => j -> trace.at(toNs(j.startMs))).filter(_._2 >= 0)
    println("  jobs by module: " + jobs.groupBy(_._1.module).map { case (m, js) => s"$m ${js.size}" }.mkString(", "))
    val plans = probe.plans.toSeq.filter(p => trace.at(toNs(p.startMs)) >= 0)
    val jobIntervals = jobs.map { case (j, s) => (s, toNs(j.startMs), toNs(j.endMs)) }
    val self = trace.selfTimes(jobIntervals)
    def spanSum(names: Set[String]) =
      spans.indices.filter(i => names(spans(i).name)).map(i => spans(i).end - spans(i).start).sum / 1e9
    def selfSum(names: Set[String]) =
      spans.indices.filter(i => names(spans(i).name)).map(self).sum / 1e9
    def inside(names: Set[String]) = jobs.filter { case (_, s) => names(spans(s).name) }
    val construct = Set("queries.construct", "sources.csv")
    val exec = Set("exec", "etl.run", "etl.load_reviews")
    val js = jobs.map(_._1)
    val jobWall = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    val cpu = js.map(_.cpuNs).sum / 1e9
    val opWall = spanSum(Set("op"))
    val outB = js.map(_.outputB).sum.toDouble
    val perModule = Modules.Attributed.flatMap { m =>
      val mj = js.filter(_.module == m)
      val mWall = mj.map(j => (j.endMs - j.startMs) / 1e3).sum
      val mCpu = mj.map(_.cpuNs).sum / 1e9
      println(f"  $m%-10s jobs ${mj.size}%5d  job_s ${mWall / nOps}%.4f  task_cpu_s ${mCpu / nOps}%.4f (per op)")
      Seq(s"$m.jobs" -> mj.size / nOps, s"$m.job_pct" -> pct(mWall, jobWall), s"$m.cpu_pct" -> pct(mCpu, cpu))
    }
    Seq("queries.construct", "sources.csv", "etl.run", "etl.load_reviews").foreach { s =>
      println(f"  span $s%-18s ${spanSum(Set(s)) / nOps}%.4f s/op  self ${selfSum(Set(s)) / nOps}%.4f s/op  jobs ${inside(Set(s)).size / nOps}%.2f/op")
    }
    // per op name, so the comparison is between the same ops
    val overhead = Stats.mean(tracedOps.groupBy(_.op).toSeq.flatMap { case (op, ts) =>
      val us = untraced.filter(_.op == op)
      if (us.isEmpty) None else Some(Stats.mean(ts.map(_.seconds).toSeq) - Stats.mean(us.map(_.seconds).toSeq))
    })
    (perModule ++ Seq(
      "op.construct_s" -> spanSum(construct) / nOps,
      "op.construct_self_s" -> selfSum(construct) / nOps,
      "op.construct_jobs" -> inside(construct).size / nOps,
      "op.exec_s" -> spanSum(exec) / nOps,
      "op.exec_self_s" -> selfSum(exec) / nOps,
      "op.self_s" -> selfSum(Set("op")) / nOps,
      "catalyst.plan_s" -> plans.map(_.planMs).sum / 1e3 / nOps,
      "catalyst.plans" -> plans.size / nOps,
      "exec.s" -> jobWall / nOps,
      "exec.jobs" -> js.size / nOps,
      "exec.stages" -> js.map(_.stages).sum / nOps,
      "exec.tasks" -> js.map(_.tasks).sum / nOps,
      "exec.task_cpu_s" -> cpu / nOps,
      "exec.task_wait_s" -> js.map(_.waitMs).sum / 1e3 / nOps,
      "exec.core_util" -> cpu / math.max(1e-9, opWall * cores),
      "exec.shuffle_write_b" -> js.map(_.shuffleWriteB).sum / nOps,
      "exec.shuffle_read_b" -> js.map(_.shuffleReadB).sum / nOps,
      "exec.spill_b" -> js.map(_.spillB).sum / nOps,
      "exec.gc_s" -> tracedOps.map(_.gcS).sum / nOps,
      "jvm.jit_s" -> tracedOps.map(_.jitS).sum / nOps,
      "exec.input_b" -> js.map(_.inputB).sum / nOps,
      "sinks.output_b" -> outB / nOps,
      "sinks.output_files" -> js.map(_.outputFiles).sum / nOps,
      "sinks.rewrite_ratio" -> outB / math.max(1.0, js.map(_.inputB).sum.toDouble),
      "trace.overhead_s" -> overhead)).toMap
  }

  private def pct(part: Double, whole: Double) = if (whole <= 0) 0.0 else 100.0 * part / whole
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double = math.exp(mean(xs.map(math.log)))
  /** Linear interpolation between the closest ranks of sorted `xs`. */
  def percentile(sorted: Seq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Layers {
  def unit(name: String): String =
    if (name.endsWith("_ns_per_row")) "ns"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_b")) "B"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("_ratio") || name.endsWith("_util")) "ratio"
    else "count"
}
