package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where a query key's time goes, read from the engine as it runs the
  * real key. Each listed key gets one cold pass, the one `Bench` times:
  * cached frames and Scratch memos are dropped, then the key's frame is
  * built (the construction phase, where eager writes, stores and
  * inference run) and counted (the count phase). Every Spark job of the
  * pass is attributed to the engine method that launched it: the
  * innermost `graft.` frame of its call site, or, for an adaptive-execution
  * job submitted from Spark's own threads, that of the SQL execution it
  * belongs to. The method is printed with the engine entry point the
  * query called, so a shared helper reads as `sinks.BandStore.params via
  * sinks.BandStore.append`; a job with no engine frame (the count action
  * itself) reads `(action)`. Per key and phase it prints one
  * `[profile]` line per method (jobs, summed job wall seconds, task CPU
  * seconds) and one phase line (wall seconds, jobs, and driver-only
  * seconds: wall minus the union of the phase's job intervals). List a
  * key twice to profile it twice.
  *
  * Unrelated to [[graft.etl.Profile]], the data-profiling operator.
  *
  * Run: `sbt "runMain graft.tools.Profile /root/testdata/sf0.1 pipeline_reference_etl"`. */
object Profile {

  /** One Spark job: the engine method that launched it, its wall interval
    * in epoch milliseconds and its tasks' CPU nanoseconds. */
  final class Job(val method: String, val startMs: Long) {
    var endMs: Long = startMs
    var cpuNs = 0L
  }

  /** Per-method totals within one phase. */
  final case class MethodRow(method: String, jobs: Int, jobS: Double, cpuS: Double)

  /** One phase of one key's pass: its wall seconds and the jobs it ran. */
  final case class Phase(key: String, name: String, wallS: Double, jobs: Seq[Job]) {

    /** Phase wall minus the union of its job intervals. */
    def driverS: Double = {
      val busyMs = jobs.map(j => (j.startMs, j.endMs)).sorted
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
        }._1
      math.max(0.0, wallS - busyMs / 1e3)
    }

    /** One row per launching method, most job seconds first. */
    def methods: Seq[MethodRow] =
      jobs.groupBy(_.method).toSeq.map { case (m, js) =>
        MethodRow(m, js.size, js.map(j => j.endMs - j.startMs).sum / 1e3, js.map(_.cpuNs).sum / 1e9)
      }.sortBy(r => (-r.jobS, r.method))

    def lines: Seq[String] =
      methods.map(r => f"[profile] $key $name%-12s ${r.method}%-72s jobs=${r.jobs}%4d job_s=${r.jobS}%8.2f cpu_s=${r.cpuS}%8.2f") :+
        f"[profile] $key $name%-12s ${"(phase)"}%-72s jobs=${jobs.size}%4d wall_s=$wallS%7.2f driver_s=$driverS%7.2f"
  }

  /** The launching method of a long-form call site: its innermost engine
    * frame (a `graft.` frame outside this profiler's `graft.tools`), and,
    * when it differs, ` via ` the entry point: the outermost engine frame
    * below the query definitions in `graft.queries`, passing over
    * `etl.Concurrent`'s thread plumbing. Frames are
    * package-relative `class.method` with closure and inner-class
    * suffixes stripped: `graft.sinks.BandStore$.$anonfun$write$2(...)` is
    * `sinks.BandStore.write`. */
  def engineFrame(callSite: String): Option[String] = {
    val frames = callSite.linesIterator.map(_.trim.takeWhile(_ != '(')).collect {
      case f if f.startsWith("graft.") && !f.startsWith("graft.tools.") &&
          f.lastIndexOf('.') > "graft.".length =>
        val cls = f.substring("graft.".length, f.lastIndexOf('.')).takeWhile(_ != '$')
        val raw = f.substring(f.lastIndexOf('.') + 1)
        val method = raw.stripPrefix("$anonfun$").takeWhile(_ != '$')
        s"$cls.${if (method.isEmpty) raw else method}"
    }.toSeq
    val entry = frames.takeWhile(!_.startsWith("queries."))
      .filterNot(_.startsWith("etl.Concurrent.")).lastOption
    frames.headOption.map(m => entry.filter(_ != m).fold(m)(e => s"$m via $e"))
  }

  private final class Listener extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    private val stageJob = mutable.Map.empty[Int, Job]
    private val running = mutable.Map.empty[Int, Job]
    private val executions = mutable.Map.empty[Long, Option[String]]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { executions(s.executionId) = engineFrame(s.details) }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong).flatten)
      val own = e.stageInfos.headOption.flatMap(s => engineFrame(s.details))
      val job = new Job(own.orElse(execution).getOrElse("(action)"), e.time)
      running(e.jobId) = job
      e.stageInfos.foreach(s => stageJob(s.stageId) = job)
      jobs += job
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics))
        j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
    }

    def seen: Int = synchronized(jobs.size)
    def since(mark: Int): Seq[Job] = synchronized(jobs.drop(mark).toSeq)
  }

  /** Fails, naming them, on keys `SparkEntry` does not define. */
  def requireKnown(keys: Seq[String]): Unit = {
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <key>...")
    val keys = args.toSeq.tail
    requireKnown(keys)
    val spark = graft.Session.local()
    try run(spark, args.head, keys)._1.foreach(_.lines.foreach(println))
    finally spark.stop()
  }

  /** One cold pass per key, in order: each key's construction and count
    * phases, and the total number of jobs the listener saw. */
  def run(spark: SparkSession, sfDir: String, keys: Seq[String]): (Seq[Phase], Int) = {
    requireKnown(keys)
    // call sites keep 20 frames by default, too few to reach a store's entry point
    val depth = sys.props.get("spark.callstack.depth")
    sys.props("spark.callstack.depth") = "200"
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    def phase[T](key: String, name: String)(f: => T): (T, Phase) = {
      GraftShim.drainListenerBus(spark)
      val mark = listener.seen
      val (r, wallS) = ScaleCurve.timed(f)
      GraftShim.drainListenerBus(spark)
      (r, Phase(key, name, wallS, listener.since(mark)))
    }
    try {
      val phases = keys.flatMap { key =>
        spark.catalog.clearCache()
        graft.SparkEntry.clearMemos()
        System.gc()
        val (df, built) = phase(key, "construction")(graft.SparkEntry.queries(key)(spark, sfDir))
        val (_, counted) = phase(key, "count")(df.count())
        Seq(built, counted)
      }
      (phases, listener.seen)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      depth.fold(sys.props.remove("spark.callstack.depth"))(sys.props.put("spark.callstack.depth", _))
    }
  }
}
