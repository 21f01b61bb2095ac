package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamDedup

/** Batch/stream parity for online near-dup dedup: feeding the corpus
  * through the band-keyed stateful candidate stage + stream-static exact
  * verify yields EXACTLY the batch `minhashNearDups` pair set (same k,
  * bands, shingles, τ) — across multiple micro-batches, including pairs
  * whose two docs arrive in the same batch and pairs spanning batches. */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private val tau = 0.8
  private val K = 32
  private val RPB = 4

  private def corpus = spark.read.parquet(s"$sf/documents.parquet")
    .select($"doc_id", $"text")

  private def batchPairs = Dedup.minhashNearDups(corpus, "text", "doc_id",
    threshold = tau, k = K, rowsPerBand = RPB)
    .as[(Long, Long, Double)].collect().toSet

  test("streamed pair set equals the batch operator's, across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = corpus.as[(Long, String)].collect().sortBy(_._1)
    assert(docs.length > 10)
    val ms = MemoryStream[(Long, String)]
    val banded = StreamDedup.banded(
      ms.toDF.toDF("doc_id", "text"), "text", "doc_id", k = K, rowsPerBand = RPB)
    val cands = StreamDedup.candidates(banded, tau)
    val sketch = Dedup.minhashed(corpus, "text", "doc_id", k = K, rowsPerBand = RPB)
      .filter(size($"hs") > 0).select($"doc_id", $"hs")
    val verified = StreamDedup.verify(cands.toDF, sketch, "doc_id", tau)
    val q = verified.writeStream.format("memory").queryName("sdn_out")
      .outputMode("append").start()
    try {
      // three micro-batches in arrival (= id) order: pairs form both
      // within a batch and across batches
      val thirds = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
      thirds.foreach { chunk => ms.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("sdn_out")
        .as[(Long, Long, Double)].collect().toSet // set = at-least-once dedup
      assert(streamed === batchPairs)
      assert(streamed.nonEmpty, "corpus should contain near-dups")
    } finally q.stop()
  }

  test("verify against the persisted BandStore sketch table equals the inline sketch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the online path and the daily-batch probe share ONE store: the
    // stream sketches under the store's pinned params and verifies
    // against its docs/ table — no second sketch pipeline to drift
    val path = java.nio.file.Files.createTempDirectory("graft_sdn_store")
      .toString + "/index"
    graft.sinks.BandStore.write(corpus, "text", "doc_id", path,
      k = K, rowsPerBand = RPB, buckets = 8)
    val p = graft.sinks.BandStore.params(spark, path)
    val docs = corpus.as[(Long, String)].collect().sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val banded = StreamDedup.banded(
      ms.toDF.toDF("doc_id", "text"), "text", "doc_id",
      k = p.k, rowsPerBand = p.rowsPerBand, shingleN = p.shingleN)
    val cands = StreamDedup.candidates(banded, tau)
    val sketch = graft.sinks.BandStore.sketchTable(spark, path, "doc_id")
    // the sketch table is exactly the verify join's static side
    assert(sketch.columns.toSeq === Seq("doc_id", "hs"))
    val verified = StreamDedup.verify(cands.toDF, sketch, "doc_id", tau)
    val q = verified.writeStream.format("memory").queryName("sdn_store_out")
      .outputMode("append").start()
    try {
      val thirds = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
      thirds.foreach { chunk => ms.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("sdn_store_out")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed === batchPairs)
      assert(streamed.nonEmpty, "corpus should contain near-dups")
    } finally q.stop()
  }

  test("stateTtl: pairs within the horizon still match the batch operator") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    // event time advances one minute per doc: the whole corpus spans far
    // less than the one-day TTL, so nothing ages out and exact batch
    // parity must survive the timeout plumbing
    val t0 = 1700000000000L
    val stamped = docs.zipWithIndex.map { case ((id, tx), i) =>
      (id, tx, new java.sql.Timestamp(t0 + i * 60000L))
    }
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val banded = StreamDedup.banded(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "doc_id",
      k = K, rowsPerBand = RPB, tsCol = Some("ts"))
      .withWatermark("ts", "0 seconds")
    val cands = StreamDedup.candidates(banded, tau,
      stateTtl = Some(java.time.Duration.ofDays(1)))
    val sketch = Dedup.minhashed(corpus, "text", "doc_id", k = K, rowsPerBand = RPB)
      .filter(size($"hs") > 0).select($"doc_id", $"hs")
    val verified = StreamDedup.verify(cands.toDF, sketch, "doc_id", tau)
    val q = verified.writeStream.format("memory").queryName("sdn_ttl_parity")
      .outputMode("append").start()
    try {
      val thirds = stamped.grouped(math.max(1, stamped.length / 3 + 1)).toSeq
      thirds.foreach { chunk => ms.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("sdn_ttl_parity")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed === batchPairs)
      assert(streamed.nonEmpty, "corpus should contain near-dups")
    } finally q.stop()
  }

  test("stateTtl: an idle band's state is dropped once the watermark passes its horizon") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val byId = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val (aId, bId, _) = batchPairs.head // a verified near-dup pair from the corpus
    val cId = byId.keys.max + 1000 // fresh id for an exact copy of B
    def at(h: Double) = new java.sql.Timestamp(1700000000000L + (h * 3600000L).toLong)
    val filler = (n: Long) =>
      (byId.keys.max + n, s"completely unrelated filler text number $n with enough distinct shingles to sketch")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val banded = StreamDedup.banded(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "doc_id",
      k = K, rowsPerBand = RPB, tsCol = Some("ts"))
      .withWatermark("ts", "0 seconds")
    val cands = StreamDedup.candidates(banded, tau,
      stateTtl = Some(java.time.Duration.ofHours(1)))
    val q = cands.toDF.writeStream.format("memory").queryName("sdn_ttl_evict")
      .outputMode("append").start()
    try {
      // batch 1: A arrives at t0 — its band buckets hold A with a t0+1h horizon
      ms.addData(Seq((aId, byId(aId), at(0)))); q.processAllAvailable()
      // batch 2: unrelated doc at t0+2h — advances the watermark past A's horizon
      ms.addData(Seq((filler(1)._1, filler(1)._2, at(2)))); q.processAllAvailable()
      // batch 3: another unrelated doc — A's bands see no data this trigger,
      // their timeout fires, the buckets are removed
      ms.addData(Seq((filler(2)._1, filler(2)._2, at(3)))); q.processAllAvailable()
      // eviction lands in whichever micro-batch the advanced watermark
      // triggered (processAllAvailable may run several) — sum the metric
      val removed = q.recentProgress
        .flatMap(_.stateOperators.headOption).map(_.numRowsRemoved).sum
      assert(removed > 0, "A's expired band buckets should have been evicted")
      // batch 4: B (near-dup of A) + C (exact copy of B) arrive inside the
      // horizon — B~C must still pair; B~A must NOT (A's state is gone)
      ms.addData(Seq((bId, byId(bId), at(3.5)), (cId, byId(bId), at(3.5))))
      q.processAllAvailable()
      val emitted = spark.table("sdn_ttl_evict").as[(Long, Long)].collect().toSet
      assert(emitted.contains((math.min(bId, cId), math.max(bId, cId))),
        "in-horizon near-dups must still pair")
      assert(!emitted.exists(p => p._1 == aId || p._2 == aId),
        "no pair may reach back past the TTL horizon")
    } finally q.stop()
  }

  test("a capped bucket stops admitting state but never emits a wrong pair") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val banded = StreamDedup.banded(
      ms.toDF.toDF("doc_id", "text"), "text", "doc_id", k = K, rowsPerBand = RPB)
    // cap of 1: each band bucket remembers only the first doc it saw
    val cands = StreamDedup.candidates(banded, tau, maxPerBucket = 1)
    val q = cands.toDF.writeStream.format("memory").queryName("sdn_cap")
      .outputMode("append").start()
    try {
      val docs = corpus.as[(Long, String)].collect().sortBy(_._1)
      ms.addData(docs.toSeq); q.processAllAvailable()
      val emitted = spark.table("sdn_cap").as[(Long, Long)].collect().toSet
      // every emitted candidate must still be a real band collision from
      // the batch generator (cap loses recall, never soundness)
      val m = Dedup.minhashed(corpus, "text", "doc_id", k = K, rowsPerBand = RPB)
        .filter(size($"hs") > 0)
      val batchCands = Dedup.minhashBandCandidates(m, "doc_id", tau)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(emitted.subsetOf(batchCands))
    } finally q.stop()
  }
}
