package graft.queries

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

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
  * race a query still reading a memo or a lifecycle dir. */
private[graft] object Scratch {
  private final class Memo(val value: Any, val release: () => Unit)

  private val memos = new ConcurrentHashMap[String, Memo]()
  private val lifecycles = new ConcurrentHashMap[String, File]()
  private val keptDirs = new ConcurrentHashMap[String, String]()
  private val live = ConcurrentHashMap.newKeySet[File]()
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
  def memo[T](s: SparkSession, d: String, tag: String)(build: => T)(release: T => Unit): T =
    memos.computeIfAbsent(key(s, d, tag), _ => {
      val v = build
      new Memo(v, () => release(v))
    }).value.asInstanceOf[T]

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
  def kept(s: SparkSession, d: String, name: String)(write: String => Unit): String =
    keptDirs.computeIfAbsent(key(s, d, name), _ => written(name)(write).getPath)

  /** Release and forget every memo and empty every lifecycle dir; kept
    * dirs stay. */
  def clear(): Unit = {
    memos.values.forEach(_.release())
    memos.clear()
    lifecycles.values.forEach(empty)
  }
}
