package graft.etl

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** Run INDEPENDENT Spark actions from a small driver-side pool
  * (optimization guide §2.6: actions are only sequential because the
  * driver calls them sequentially — Spark's scheduler happily runs
  * several jobs at once, so the next store write's tasks back-fill the
  * executors a finishing write's commit tail leaves idle).
  *
  * Scope: actions must be independent — no shared sink path, no writer
  * fence between them, no ordering contract. The callers here overlap
  * sibling STORE WRITES fed by one cached upstream (the five reference
  * tables + the document projection; the two bucketed join sides).
  * Per-job time is unchanged; only the dead air between jobs goes.
  * FIFO scheduling (Spark's default) keeps the earlier job's tasks
  * first, which is exactly the back-fill behavior wanted.
  *
  * A few jobs in flight is plenty (enough to hide each job's
  * driver-side commit/plan tail, not so many that tiny local jobs fight
  * for task slots). Results come back in input order. On the pooled
  * path every action runs to completion before awaitAll returns or
  * throws; if any failed, the first failure (in input order) is rethrown
  * with every later one attached via `addSuppressed`, so no error is
  * silently dropped. The sequential path (`parallelism == 1` or a single
  * action) runs in input order and stops at the first failure. */
object Concurrent {

  /** How long cleanup waits for in-flight actions after an interrupt. */
  private val drainSeconds = 60L

  def awaitAll[T](parallelism: Int)(actions: Seq[() => T]): Seq[T] = {
    require(parallelism >= 1, "parallelism must be >= 1")
    if (actions.size <= 1 || parallelism == 1) actions.map(_.apply())
    else {
      val pool = Executors.newFixedThreadPool(math.min(parallelism, actions.size))
      try {
        val tasks = actions.map(a => new Callable[T] { def call(): T = a() })
        // invokeAll waits for every task, so each outcome below is final
        val outcomes = pool.invokeAll(tasks.asJava).asScala.toSeq.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(cause(e)) }
        }
        val failures = outcomes.collect { case Left(t) => t }
        failures.headOption.foreach { first =>
          failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        }
        outcomes.collect { case Right(v) => v }
      } finally {
        // on the interrupt path invokeAll returns with actions still in
        // flight: cancel them and wait, so no action outlives awaitAll
        pool.shutdownNow()
        pool.awaitTermination(drainSeconds, TimeUnit.SECONDS)
        ()
      }
    }
  }

  /** The action's own exception, or the wrapper when it carries none. */
  private[graft] def cause(e: ExecutionException): Throwable =
    Option(e.getCause).getOrElse(e)
}
