package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.etl.Concurrent — the §2.6 overlap helper behind the round-19
  * sink-job overlaps (ReferencePipeline, BandStore, bucketedTables,
  * sim_ann_merge). The contract the callers rely on: every action runs
  * exactly once, completion of awaitAll means ALL actions completed
  * (the commit markers / promote renames that follow it must see every
  * write landed), results come back in input order, and a failing
  * action fails the whole batch with the original exception — every
  * other failure attached as suppressed, none dropped. */
class ConcurrentSpec extends AnyFunSuite {

  test("runs every action exactly once and returns only after all complete") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val n = 17
    graft.etl.Concurrent.awaitAll(3)((0 until n).map(i => () => {
      Thread.sleep((i % 3) * 5L)
      hits.merge(i, 1, (a: Integer, b: Integer) => a + b); ()
    }))
    assert(hits.size() === n)
    (0 until n).foreach(i => assert(hits.get(i) === 1, s"action $i ran ${hits.get(i)}x"))
  }

  test("actually overlaps: two blocking actions release each other") {
    // each action waits on the OTHER having started — deadlocks unless
    // both are genuinely in flight at once (10 s guard via the barrier
    // timeout, converted to a test failure)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    graft.etl.Concurrent.awaitAll(2)(Seq(
      () => { barrier.await(10, java.util.concurrent.TimeUnit.SECONDS); () },
      () => { barrier.await(10, java.util.concurrent.TimeUnit.SECONDS); () }))
  }

  test("first failure propagates as the original exception after all actions finish") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => { ran.incrementAndGet(); () },
        () => throw new IllegalStateException("boom"),
        () => { ran.incrementAndGet(); () }))
    }
    assert(e.getMessage === "boom")
    // invokeAll waits for every task, so the non-failing actions still ran
    assert(ran.get() === 2)
  }

  test("parallelism 1 and single-action batches take the plain sequential path") {
    var order = List.empty[Int]
    graft.etl.Concurrent.awaitAll(1)(Seq(() => order ::= 1, () => order ::= 2))
    assert(order === List(2, 1))
    graft.etl.Concurrent.awaitAll(4)(Seq(() => order ::= 3))
    assert(order.head === 3)
  }

  test("results come back in input order, whatever order actions finish in") {
    // earlier actions sleep longer, so completion order is reversed
    val out = graft.etl.Concurrent.awaitAll(3)((0 until 6).map(i => () => {
      Thread.sleep((6 - i) * 10L)
      s"r$i"
    }))
    assert(out === (0 until 6).map(i => s"r$i"))
  }

  test("every failure surfaces: the first rethrown, the rest suppressed on it") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => throw new IllegalStateException("first"),
        () => { ran.incrementAndGet(); () },
        () => throw new IllegalArgumentException("second"),
        () => throw new UnsupportedOperationException("third")))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSet === Set("second", "third"))
    assert(ran.get() === 1)
  }

  test("an ExecutionException without a cause is rethrown itself") {
    val bare = new java.util.concurrent.ExecutionException("no cause", null)
    assert(graft.etl.Concurrent.cause(bare) eq bare)
    val boom = new IllegalStateException("boom")
    assert(graft.etl.Concurrent.cause(
      new java.util.concurrent.ExecutionException(boom)) eq boom)
  }
}
