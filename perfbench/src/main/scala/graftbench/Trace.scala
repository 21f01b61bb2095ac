package graftbench

import scala.collection.mutable.ArrayBuffer

/** The engine's modules, named after the `graft/<module>/` source
  * directories, and the rule that attributes a Spark job to one of them. */
object Modules {
  val All: Seq[String] = Seq("etl", "expressions", "functions", "multimodal", "operators",
    "queries", "sinks", "sources", "streaming", "tools")
  /** Modules that launch jobs, so a job's call site can name them. */
  val Attributed: Seq[String] = Seq("sources", "queries", "etl", "operators", "functions", "sinks")
  /** Modules no workload calls into. */
  val NotExercised: Seq[String] = Seq("streaming", "multimodal")
  /** Jobs the benchmark itself launches (the fingerprint, the store checks). */
  val Bench = "bench"

  /** `graft.<module>.X` -> module; other engine classes (`graft.SparkEntry`) -> "graft". */
  def ofClass(cls: String): Option[String] = cls.split('.').toList match {
    case "graft" :: m :: _ :: _ if All.contains(m) => Some(m)
    case "graft" :: _ :: Nil => Some("graft")
    case _ => None
  }

  /** Module of a source file path relative to `src/main/scala`. */
  def ofSourceFile(rel: String): Option[String] = rel.split('/').toList match {
    case "graft" :: m :: _ :: _ if All.contains(m) => Some(m)
    case _ => None
  }

  /** A job's module: the innermost engine frame of its call-site stack
    * (Spark's `StageInfo.details`), or [[Bench]] when no engine frame is on it. */
  def ofCallSite(longForm: String): String =
    longForm.linesIterator.map(_.trim.takeWhile(_ != '(')).map { frame =>
      // drop the method name: "graft.sinks.ParquetSink$.upsertInto" -> class
      val cls = frame.substring(0, math.max(0, frame.lastIndexOf('.')))
      if (cls.startsWith("graft.")) ofClass(cls.stripSuffix("$").takeWhile(_ != '$')) else None
    }.collectFirst { case Some(m) => m }.getOrElse(Bench)
}

/** One timed interval: its name, the op it belongs to (-1 outside ops),
  * the index of the span that encloses it (-1 at the root), and its
  * `System.nanoTime` bounds. */
final case class Span(name: String, op: Int, parent: Int, start: Long, end: Long)

object Trace {
  val Off = new Trace(false)
}

/** Spans around the benchmark's own calls into the engine, kept in memory
  * and written out when the run ends. A disabled trace records nothing. */
final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val i = spans.size
      spans += Span(name, op, open.headOption.getOrElse(-1), System.nanoTime(), -1L)
      open = i :: open
      try body
      finally {
        spans(i) = spans(i).copy(end = System.nanoTime())
        open = open.tail
      }
    }

  /** Self time of each span: its duration minus the part of it that its
    * children (spans, or the `extra` intervals such as Spark jobs that
    * started inside it) cover. */
  def selfTimes(extra: Seq[(Int, Long, Long)]): Map[Int, Long] = {
    val children = (spans.indices.filter(spans(_).parent >= 0)
      .map(i => (spans(i).parent, spans(i).start, spans(i).end)) ++ extra)
      .groupBy(_._1)
    spans.indices.map { i =>
      val s = spans(i)
      val covered = union(children.getOrElse(i, Nil).map { case (_, a, b) =>
        (math.max(a, s.start), math.min(b, s.end)) }.filter { case (a, b) => b > a })
      i -> (s.end - s.start - covered)
    }.toMap
  }

  /** The innermost span open at time `t`, or -1. */
  def at(t: Long): Int = {
    var best = -1
    var i = 0
    while (i < spans.size) {
      val s = spans(i)
      if (s.start <= t && t <= s.end) best = i
      i += 1
    }
    best
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.zipWithIndex.foreach { case (s, i) =>
      w.println(s"""{"id":$i,"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
