package graft

import java.io.File
import graft.queries.Scratch

/** The three [[Scratch]] lifetimes, driven through `SparkEntry`: a memo is
  * built once per (app, sf dir) and `clearMemos` releases it, deleting
  * its store dir; `clearMemos` empties every lifecycle dir and leaves the
  * kept dirs alone; a lifecycle key holds one store copy however often
  * it runs; the `used` record names what a pass read, the labels Bench
  * reads. A lookup whose build fails the test proves an entry is live
  * without rebuilding it. */
class ScratchSpec extends SparkSpec {
  private def files(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.sorted

  test("clearMemos deletes memo stores and empties lifecycle dirs; kept dirs survive") {
    val upsert = Scratch.lifecycle(spark, sf, "ann_upsert")
    SparkEntry.prepareShared(spark, sf)
    Seq("dedup_minhash_lsh", "sim_ann_pruned", "sim_ivfpq_search", "sim_ann_upsert",
      "etl_jsonl_roundtrip", "q_triangle_count").foreach(k => q(k).count())
    val lsh = q("dedup_minhash_lsh")
    assert(q("dedup_minhash_lsh") eq lsh, "a second memo call returns the same frame")
    val ann = Scratch.memoDir(spark, sf, "ann")(_ => fail("ANN store rebuilt"))
    val pq = Scratch.memoDir(spark, sf, "pq")(_ => fail("PQ store rebuilt"))
    def edges = Scratch.kept(spark, sf, "copurchase1")(_ => fail("edge store rebuilt"))
    def jsonl = Scratch.kept(spark, sf, "jsonl")(_ => fail("jsonl fixture rebuilt"))
    val (edgePath, jsonlPath) = (edges, jsonl)
    val triangles = q("q_triangle_count").count()
    assert(files(upsert).contains("store"))
    assert(Seq(ann, pq, edgePath, jsonlPath).forall(new File(_).isDirectory))

    SparkEntry.clearMemos()
    assert(!new File(ann).exists && !new File(pq).exists, "memo store dirs deleted")
    assert(files(upsert) === Nil, "lifecycle dir emptied")
    assert(new File(edgePath).isDirectory && new File(jsonlPath).isDirectory)
    assert(q("q_triangle_count").count() === triangles)
    assert(edges === edgePath && jsonl === jsonlPath, "kept dirs are not rebuilt")
    assert(!(q("dedup_minhash_lsh") eq lsh), "the memo rebuilds after a clear")
  }

  test("a lifecycle key keeps one store copy however often it runs") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    for ((key, name, store) <- Seq(("stream_replay_merge", "replay", "docs"),
        ("dedup_band_store", "band_store", "index"))) {
      def tempDirs = tmp.list().count(_.startsWith("graft_" + name))
      val dir = Scratch.lifecycle(spark, sf, name)
      val before = tempDirs
      // (row count, dir listing) after each run: the second run replaced
      // the first run's store instead of adding a copy next to it
      val runs = (1 to 2).map(_ => (q(key).count(), files(dir)))
      assert(runs.distinct.size === 1, key)
      assert(runs.head._2.contains(store), key)
      assert(tempDirs === before, s"$key created a temp dir of its own")
    }
  }

  test("the used record names the memos and kept dirs a pass read; a clear empties it") {
    SparkEntry.prepareShared(spark, sf)
    def used(key: String): Set[Scratch.Use] = {
      SparkEntry.clearMemos()
      q(key).count()
      Scratch.used
    }
    for (key <- Seq("dedup_minhash_lsh", "dedup_components", "sim_ann_pruned",
        "sim_ivfpq_search", "q_bucketed_join"))
      assert(used(key).exists(_.memo), s"$key reads a memo")
    for (key <- Seq("q_triangle_count", "etl_jsonl_roundtrip")) {
      val u = used(key)
      assert(u.nonEmpty && !u.exists(_.memo), s"$key reads a kept dir only: $u")
    }
    for (key <- Seq("dedup_band_store", "dedup_exact_docs"))
      assert(used(key) === Set.empty, s"$key reads no shared stage")
    SparkEntry.clearMemos()
    assert(Scratch.used === Set.empty)
  }
}
