package graft.queries

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one owner of query-layer state and its lifetime. Every entry is
  * keyed by (application, sf dir, name), so a restarted session starts
  * fresh; entries of a dead session are unreachable until [[clear]] or
  * JVM exit. Three lifetimes:
  *
  *  - '''memo''': a shared stage built once per key (atomic
  *    `computeIfAbsent`: concurrent callers share one build) and held
  *    until [[clear]], which runs the entry's own release action (free
  *    checkpoint blocks, delete a store dir, drop a table);
  *  - '''lifecycle dir''': one reusable dir per key, handed out EMPTY on
  *    every call — a cold write→…→search key rebuilds from scratch each
  *    run while disk holds at most one copy; [[clear]] empties it too;
  *  - '''kept dir''': an ingest-time fixture written once per key and
  *    kept until JVM exit; [[clear]] does not touch it.
  *
  * Every dir is a fresh temp dir under `java.io.tmpdir`, deleted by one
  * JVM-exit sweep. [[clear]] is for single-threaded callers: it must not
  * race a query still reading a memo or a lifecycle dir.
  *
  * [[used]] records the memo tags and kept dirs read since the last
  * [[clear]] (lifecycle dirs are per-call, so not recorded): Bench clears
  * before every timed pass and labels each key from what the pass read. */
private[graft] object Scratch {
  private final class Memo(val value: Any, val release: () => Unit)

  /** One shared stage a call read: a memo tag (`memo = true`) or a kept
    * dir name. */
  final case class Use(memo: Boolean, tag: String)

  private val memos = new ConcurrentHashMap[String, Memo]()
  private val lifecycles = new ConcurrentHashMap[String, File]()
  private val keptDirs = new ConcurrentHashMap[String, String]()
  private val live = ConcurrentHashMap.newKeySet[File]()
  private val uses = ConcurrentHashMap.newKeySet[Use]()
  private lazy val exitSweep: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => live.forEach(drop)))

  private def key(s: SparkSession, d: String, name: String) =
    s.sparkContext.applicationId + "|" + d + "|" + name

  private def tempDir(name: String): File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_" + name).toFile
    exitSweep
    live.add(dir)
    dir
  }

  private def drop(dir: File): Unit = { FileUtils.deleteQuietly(dir); live.remove(dir); () }

  private def empty(dir: File): Unit =
    Option(dir.listFiles()).foreach(_.foreach(FileUtils.deleteQuietly))

  /** A fresh temp dir filled by `write`; dropped again if `write` throws. */
  private def written(name: String)(write: String => Unit): File = {
    val dir = tempDir(name)
    try write(dir.getPath) catch { case e: Throwable => drop(dir); throw e }
    dir
  }

  /** The memo `tag` for (app, sf dir), built on first use; [[clear]]
    * calls `release` on it. */
  def memo[T](s: SparkSession, d: String, tag: String)(build: => T)(release: T => Unit): T = {
    uses.add(Use(memo = true, tag))
    memos.computeIfAbsent(key(s, d, tag), _ => {
      val v = build
      new Memo(v, () => release(v))
    }).value.asInstanceOf[T]
  }

  /** A memo that is a store dir: `write` fills a fresh temp dir once per
    * key; [[clear]] deletes it. Returns the dir. */
  def memoDir(s: SparkSession, d: String, tag: String)(write: String => Unit): String =
    memo(s, d, tag)(written(tag)(write))(drop).getPath

  /** The lifecycle dir `name` for (app, sf dir), emptied before it is
    * returned. */
  def lifecycle(s: SparkSession, d: String, name: String): String = {
    val dir = lifecycles.computeIfAbsent(key(s, d, name), _ => tempDir(name))
    empty(dir)
    dir.getPath
  }

  /** The kept dir `name` for (app, sf dir): `write` fills it on first
    * use only. Returns the dir. */
  def kept(s: SparkSession, d: String, name: String)(write: String => Unit): String = {
    uses.add(Use(memo = false, name))
    keptDirs.computeIfAbsent(key(s, d, name), _ => written(name)(write).getPath)
  }

  /** The memo tags and kept-dir names read since the last [[clear]]. */
  def used: Set[Use] = uses.asScala.toSet

  /** Release and forget every memo, empty every lifecycle dir and the
    * [[used]] record; kept dirs stay. */
  def clear(): Unit = {
    memos.values.forEach(_.release())
    memos.clear()
    lifecycles.values.forEach(empty)
    uses.clear()
  }
}
