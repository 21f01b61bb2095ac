package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, Similarity}

/** Empty- and degenerate-input behavior: every operator must return a
  * well-formed empty (or identity) result, never throw — at 100 TB an
  * empty partition-slice, a filter that matches nothing, or a corpus
  * with no near-dups are everyday inputs, not corner cases. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")

  test("dedup family yields empty results on an empty corpus") {
    assert(Dedup.exact(noDocs, "text", "doc_id").isEmpty)
    assert(Dedup.minhashNearDups(noDocs, "text", "doc_id", 0.8).isEmpty)
    assert(Dedup.ngramJaccardPairs(noDocs, "text", "doc_id", "text", 0.8).isEmpty)
    assert(Dedup.simhashNearDups(noDocs, "text", "doc_id").isEmpty)
  }

  test("components on an empty pair graph converges immediately; keepRepresentatives is identity") {
    val r = Components.run(noPairs, "id_a", "id_b")
    assert(r.converged && r.labels.isEmpty)
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val kept = Components.keepRepresentatives(docs, "doc_id", noPairs, "id_a", "id_b")
    assert(kept.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")),
      "no pairs -> every doc is its own representative")
  }

  test("docs below the shingle/ngram size produce no pairs, not NaN pairs") {
    val tiny = Seq((1L, "ab"), (2L, "ab"), (3L, "x y")).toDF("doc_id", "text")
    // all texts shorter than 3 chars / 3 words: no shingles or grams exist
    assert(Dedup.minhashNearDups(tiny, "text", "doc_id", 0.8).isEmpty)
    assert(Dedup.ngramJaccardPairs(tiny, "text", "doc_id", "text", 0.8).isEmpty)
  }

  test("packing and chunking handle empty frames and single-token docs") {
    val emptyPack = graft.etl.Packing.withPackId(
      Seq.empty[(String, Long, Long)].toDF("g", "id", "tk"), "tk", 100, Seq("g"), "id")
    assert(emptyPack.isEmpty && emptyPack.columns.contains("pack_id"))
    val one = graft.etl.Chunking.chunkWindows(
      Seq((1L, "solo")).toDF("doc_id", "text"), "text", "doc_id", 32, 24)
      .as[(Long, Int, Int, String)].collect()
    assert(one.length === 1 && one.head._3 === 1, "single-token doc = one 1-token chunk")
    assert(graft.etl.Chunking.chunkWindows(noDocs, "text", "doc_id", 32, 24).isEmpty)
  }

  test("scd2 on an empty feed returns an empty well-formed history") {
    val feed = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("k", "t", "tb", "attr")
    val h = graft.etl.Scd2.history(feed, "k", "t", "tb", Seq("attr"))
    assert(h.isEmpty && Seq("valid_from", "valid_to", "is_current")
      .forall(h.columns.contains))
  }

  test("decontaminate with an empty benchmark or empty corpus flags nothing") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(graft.operators.Decontaminate.overlap(docs, noDocs, "text", "doc_id", 3).isEmpty)
    assert(graft.operators.Decontaminate.overlap(noDocs, docs, "text", "doc_id", 3).isEmpty)
  }

  test("streaming-dedup banding of an empty or sub-shingle corpus is empty") {
    assert(graft.streaming.StreamDedup.banded(noDocs, "text", "doc_id").isEmpty)
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(graft.streaming.StreamDedup.banded(tiny, "text", "doc_id").isEmpty)
  }

  test("similarity search over an empty corpus returns empty top-k") {
    val noVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "vec")
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "vec")
    assert(Similarity.topK(noVecs, "vec", "vec_id", q, 5).isEmpty)
    val cents = Seq((0, Seq(1.0, 0.0))).toDF("centroid_id", "vec")
    assert(Similarity.ivfSearch(noVecs, "vec", "vec_id", cents, "centroid_id", q, 5).isEmpty)
    assert(Similarity.ivfSearchBatch(noVecs, "vec", "vec_id", cents, "centroid_id",
      q, "vec_id", 5).isEmpty)
  }

  test("validation gate fails closed on an empty table, never NULL") {
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val got = graft.etl.Validate.run(empty, Seq(
        graft.etl.Validate.completeness("v_complete", col("v")),
        graft.etl.Validate.uniqueness("id_unique", col("id"))))
      .select($"check", $"passed").as[(String, Boolean)].collect().toMap
    assert(got === Map("v_complete" -> false, "id_unique" -> false),
      "a gate must not load an empty/broken extract because passed was NULL")
  }

  test("chunking emits no chunks for null or empty text") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "real text here"))
      .toDF("doc_id", "text")
    val got = graft.etl.Chunking.chunkWindows(docs, "text", "doc_id", 32, 24)
      .select("doc_id").as[Long].collect().toSeq
    assert(got === Seq(3L), "null/empty docs must not produce phantom chunk identities")
  }

  test("asof rejects a payload column that already exists on the left") {
    val left = Seq((1L, "k", 10L, 5.0)).toDF("id", "k", "t", "price")
    val right = Seq(("k", 9L, 7.0)).toDF("k", "t", "price")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.asof(left, right, "k", "t", Seq("price"))
    }
    assert(e.getMessage.contains("price"))
  }

  test("kmeansFit returns exactly k centroids even when a centroid wins nothing") {
    // first two init rows are identical vectors: the duplicate centroid
    // loses every tie and would previously vanish from the codebook
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(0.1, 0.9)), (4L, Seq(0.9, 0.1))
    ).toDF("vec_id", "vec")
    val cents = Similarity.kmeansFit(vecs, "vec", "vec_id", k = 2, iters = 2)
    assert(cents.count() === 2, "empty clusters must keep their previous centroid")
  }

  test("topK rejects a multi-row query frame like ivfSearch") {
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "vec")
    intercept[IllegalArgumentException] {
      Similarity.topK(corpus, "vec", "vec_id", corpus, k = 2)
    }
  }

  test("containment join is empty when either side is empty or sub-gram") {
    val short = Seq((1L, "a b", "en")).toDF("id", "t", "lang") // < n tokens: no grams
    val docs = Seq((2L, "x y z w v", "en")).toDF("id", "t", "lang")
    val empty = Seq.empty[(Long, String, String)].toDF("id", "t", "lang")
    assert(Dedup.containmentPairs(empty, "t", "id", docs, "t", "id", "lang", 0.8).isEmpty)
    assert(Dedup.containmentPairs(docs, "t", "id", empty, "t", "id", "lang", 0.8).isEmpty)
    assert(Dedup.containmentPairs(short, "t", "id", docs, "t", "id", "lang", 0.8).isEmpty)
  }

  test("semanticDedup on an empty assignment returns an empty well-formed frame") {
    val none = Seq.empty[(Long, Int, Double, Seq[Double])]
      .toDF("vec_id", "centroid_id", "sim", "v")
    val out = Dedup.semanticDedup(none, "vec_id", 0.9)
    assert(out.isEmpty && out.columns.toSeq ===
      Seq("vec_id", "centroid_id", "centroid_sim"))
  }

  test("CDC ops treat empty sides as identity / no-op") {
    val base = Seq((1L, "x")).toDF("k", "v")
    val noLog = Seq.empty[(Long, Long, String, String)].toDF("k", "seq", "op", "v")
    assert(graft.etl.Cdc.applyLog(base, noLog, Seq("k"), "seq", "op", Seq("v"))
      .as[(Long, String)].collect().toSeq === Seq((1L, "x")),
      "empty log leaves the base untouched")
    val noBase = Seq.empty[(Long, String)].toDF("k", "v")
    val log = Seq((5L, 1L, "I", "new")).toDF("k", "seq", "op", "v")
    assert(graft.etl.Cdc.applyLog(noBase, log, Seq("k"), "seq", "op", Seq("v"))
      .as[(Long, String)].collect().toSeq === Seq((5L, "new")),
      "insert into an empty base materializes the key")
    assert(graft.etl.Cdc.snapshotDiff(noBase, noBase, Seq("k"), Seq("v")).isEmpty)
    val added = graft.etl.Cdc.snapshotDiff(noBase, base, Seq("k"), Seq("v"))
    assert(added.select($"k", $"change").as[(Long, String)].collect().toSeq ===
      Seq((1L, "added")), "diff against an empty old snapshot is all adds")
  }

  test("doc merge with an empty updates (or base) side passes the other through") {
    val docs = Seq((1L, "a", Seq((10L, "x")))).toDF("id", "name", "reviews")
    val none = Seq.empty[(Long, String, Seq[(Long, String)])].toDF("id", "name", "reviews")
    val viaEmptyUpd = graft.sinks.DocStoreSink.mergeDocs(docs, none, "id", "reviews")
      .as[(Long, String, Seq[(Long, String)])].collect()
    assert(viaEmptyUpd.toSeq === Seq((1L, "a", Seq((10L, "x")))))
    val viaEmptyBase = graft.sinks.DocStoreSink.mergeDocs(none, docs, "id", "reviews")
      .as[(Long, String, Seq[(Long, String)])].collect()
    assert(viaEmptyBase.toSeq === Seq((1L, "a", Seq((10L, "x")))))
  }

  test("round-11 operators on empty input: empty output, never a crash") {
    val noKeyed = Seq.empty[(String, Long)].toDF("g", "id")
    assert(graft.etl.Sampling.reservoirByGroup(noKeyed, Seq("g"), "id", 4).isEmpty,
      "empty reservoir input")
    val noVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    assert(graft.operators.RandomProjection
      .rpLshPairs(noVecs, "v", "vec_id", dims = 64, threshold = 0.9).isEmpty,
      "empty SRP corpus")
    assert(graft.operators.HeavyKeys
      .heavyKeys(Seq.empty[Long].toDF("key"), "key", 5).isEmpty,
      "empty heavy-keys input")
    // single-row group: reservoir keeps it at rank 1
    val one = Seq(("g", 7L)).toDF("g", "id")
    assert(graft.etl.Sampling.reservoirByGroup(one, Seq("g"), "id", 4)
      .as[(String, Int, Long)].collect().toSeq === Seq(("g", 1, 7L)))
    // all-null keys: heavyKeys sees n=0 and returns nothing
    assert(graft.operators.HeavyKeys
      .heavyKeys(Seq(Option.empty[Long], Option.empty[Long]).toDF("key"), "key", 3)
      .isEmpty, "null-only input has no heavy hitters")
  }

  test("round-12 operators on empty and degenerate input") {
    // empty corpus: boilerplate removal returns no rows, never a crash
    assert(Dedup.removeBoilerplateLines(noDocs, "text", "doc_id", minDocs = 2)
      .isEmpty, "empty line-dedup input")
    // a single doc can never cross a minDocs >= 2 threshold: identity
    val one = Seq((1L, "a\nb\na")).toDF("doc_id", "text")
    val r = Dedup.removeBoilerplateLines(one, "text", "doc_id", minDocs = 2)
      .as[(Long, Int, Long, String)].collect()
    assert(r.toSeq === Seq((1L, 3, 0L, "a\nb\na")),
      "within-doc repeats don't count toward the distinct-doc threshold")
    // epoch shuffle on an empty frame / nShards = 1
    val noIds = Seq.empty[Long].toDF("doc_id")
    assert(graft.etl.Sampling.epochShuffle(noIds, "doc_id", "s", 4).isEmpty)
    val three = Seq(5L, 9L, 2L).toDF("doc_id")
    val shuffled = graft.etl.Sampling.epochShuffle(three, "doc_id", "s", 1)
      .as[(Long, Long, Long)].collect()
    assert(shuffled.map(_._2).toSet === Set(0L), "one shard holds everything")
    assert(shuffled.map(_._3).sorted.toSeq === Seq(1L, 2L, 3L), "dense positions")
    // compact on a store with nothing fragmented: idempotent no-op
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_cp").toFile
    try {
      val path = dir.toString + "/store"
      Seq((1L, 0L), (2L, 1L)).toDF("vec_id", "centroid_id")
        .write.partitionBy("centroid_id").parquet(path)
      assert(graft.sinks.AnnStore.compact(spark, path) === Seq.empty,
        "single-file clusters have nothing to compact")
      // deletes on a tombstone-free store: readLive == read (no mask
      // join), purge is a no-op, delete of an empty batch stays empty
      assert(graft.sinks.AnnStore.tombstones(spark, path).isEmpty)
      assert(graft.sinks.AnnStore.readLive(spark, path, "vec_id")
        .select("vec_id").as[Long].collect().toSet === Set(1L, 2L))
      assert(graft.sinks.AnnStore.purge(spark, path, "vec_id") === Seq.empty)
      graft.sinks.AnnStore.delete(noIds.withColumnRenamed("doc_id", "vec_id"),
        "vec_id", path)
      assert(graft.sinks.AnnStore.purge(spark, path, "vec_id") === Seq.empty,
        "an empty tombstone batch purges to nothing")
      assert(graft.sinks.AnnStore.tombstones(spark, path).isEmpty,
        "purge clears even an all-noop sidecar")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
    // video/set-dedup degenerate inputs: empty corpus and empty element
    // sets produce empty well-formed frames, never a crash
    assert(graft.multimodal.Multimodal.frameHashes(
      graft.multimodal.Multimodal.synthesizeVideos(noDocs, "doc_id"),
      stride = 2).isEmpty, "empty video corpus")
    val noSets = Seq.empty[(Long, Seq[String])].toDF("id", "elems")
    assert(Dedup.setJaccardPairs(noSets, "elems", "id", 0.5).isEmpty)
    val singleton = Seq((1L, Seq("a"))).toDF("id", "elems")
    assert(Dedup.setJaccardPairs(singleton, "elems", "id", 0.5).isEmpty,
      "one set pairs with nothing")
  }
}
