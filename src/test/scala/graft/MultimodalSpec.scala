package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal
    .withPayload(spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id")
    .select(col("doc_id").as("id"), col("payload"),
      col("meta.byte_len"), col("meta.width"), col("meta.height"))
    .as[Multimodal.MediaRow]

  test("payload round-trips the text bytes; metadata is in range") {
    val bad = Multimodal.withPayload(spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id")
      .filter(decode(col("payload"), "UTF-8") =!= col("text") ||
        col("meta.width") < 64 || col("meta.width") >= 1024 ||
        col("meta.height") < 64 || col("meta.height") >= 1024)
    assert(bad.isEmpty)
  }

  test("decode is deterministic across batch sizes and runs") {
    val f1 = Multimodal.decodeFeatures(media, batchSize = 7).orderBy("id").collect()
    val f2 = Multimodal.decodeFeatures(media, batchSize = 64).orderBy("id").collect()
    assert(f1.length === spark.read.parquet(s"$sf/documents.parquet").count())
    assert(f1.map(_.feature.toSeq).toSeq === f2.map(_.feature.toSeq).toSeq)
  }

  test("codec and sketch stages fan a one-split input out to the session's parallelism") {
    val par = spark.sparkContext.defaultParallelism
    val oneSplit = spark.read.parquet(s"$sf/documents.parquet").coalesce(1)
    assert(oneSplit.rdd.getNumPartitions === 1)
    assert(Multimodal.synthesizePngs(oneSplit, "doc_id").rdd.getNumPartitions === par)
    val plan = graft.operators.Dedup.simhashNearDups(oneSplit, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"RoundRobinPartitioning($par)"), plan)
  }

  test("resize to an image's own dimensions is the identity; downsize samples exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val pngs = Multimodal.synthesizePngs(docs, "doc_id")
    // per-id dims: w = 4 + id%13, h = 4 + id%11 — resize each to ITSELF
    val orig = Multimodal.decodePngs(pngs).collect().sortBy(_.doc_id)
    orig.foreach { o =>
      val one = pngs.filter($"doc_id" === o.doc_id)
      val same = Multimodal.decodePngs(
        Multimodal.resizePngs(one, o.width, o.height)).head()
      assert(same === o, s"identity resize changed doc ${o.doc_id}")
    }
    // fixed-target downsize: every output is exactly 8x6 with floor sampling
    val resized = Multimodal.decodePngs(Multimodal.resizePngs(pngs, 8, 6))
      .collect().sortBy(_.doc_id)
    assert(resized.forall(r => r.width === 8 && r.height === 6))
    val expected = orig.map { o =>
      val id = o.doc_id
      val (w, h) = (4 + (id % 13).toInt, 4 + (id % 11).toInt)
      (0 until 6).flatMap(y => (0 until 8).map(x =>
        (id * 31 + (y * h / 6) * 7 + (x * w / 8) * 13) % 256)).sum
    }
    assert(resized.map(_.sum_gray).toSeq === expected.map(_.toLong).toSeq)
  }

  test("frame sampling decodes only the sampled frames and matches full decode") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val vids = Multimodal.synthesizeVideos(docs, "doc_id")
    val all = Multimodal.sampleFrames(vids, stride = 1).collect()
    val sampled = Multimodal.sampleFrames(vids, stride = 2, batchSize = 3).collect()
    // stride=2 keeps exactly the even frames of the full decode
    val expect = all.filter(_.frame_idx % 2 == 0).sortBy(f => (f.doc_id, f.frame_idx)).toSeq
    assert(sampled.sortBy(f => (f.doc_id, f.frame_idx)).toSeq === expect)
    // frame counts: 3 + id%5 per video, ceil(n/2) sampled
    val n = all.groupBy(_.doc_id).view.mapValues(_.length).toMap
    assert(n.forall { case (id, c) => c === 3 + (id % 5).toInt })
    assert(sampled.groupBy(_.doc_id).forall { case (id, fs) => fs.length === (n(id) + 1) / 2 })
    // frame 0 equals the still-image decode (same pixel formula at f=0)
    val stills = Multimodal.decodePngs(Multimodal.synthesizePngs(docs, "doc_id"))
      .collect().map(s => s.doc_id -> s.sum_gray).toMap
    all.filter(_.frame_idx == 0).foreach(f => assert(f.sum_gray === stills(f.doc_id)))
  }

  test("WAV codec round-trips 16-bit PCM samples losslessly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val decoded = Multimodal.decodeWavs(
      Multimodal.synthesizeWavs(docs, "doc_id"), batchSize = 7).collect().sortBy(_.doc_id)
    assert(decoded.length === 20)
    decoded.foreach { a =>
      val n = 100 + (a.doc_id % 50).toInt
      assert(a.n_samples === n && a.sample_rate === 8000)
      val expect = (0 until n).map(i =>
        math.abs((((a.doc_id * 31 + i * 13) % 65536 + 65536) % 65536) - 32768)).sum
      assert(a.sum_abs === expect, s"doc ${a.doc_id}: lossy round-trip")
    }
  }

  test("javax.imageio decodes real PNG bytes back to the encoded pixels") {
    val ids = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id")
    val decoded = Multimodal.decodePngs(Multimodal.synthesizePngs(ids, "doc_id"))
      .as[(Long, Int, Int, Long)].collect().toSeq.sortBy(_._1)
    assert(decoded.nonEmpty)
    decoded.foreach { case (id, w, h, sum) =>
      assert(w === 4 + (id % 13).toInt && h === 4 + (id % 11).toInt)
      val expected = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + y * 7 + x * 13) % 256).sum
      assert(sum === expected, s"pixel sum mismatch for id=$id")
    }
  }

  test("dHash matches the arithmetic formula; identical images hash identically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val hashed = Multimodal.dHash(Multimodal.synthesizePngs(docs, "doc_id"))
      .collect().sortBy(_.doc_id)
    hashed.foreach { r =>
      val id = r.doc_id
      val (w, h) = (4 + (id % 13).toInt, 4 + (id % 11).toInt)
      def px(x: Int, y: Int) = ((id * 31 + (y * h / 8) * 7 + (x * w / 9) * 13) % 256).toInt
      var expect = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (px(x + 1, y) > px(x, y)) expect |= 1L << (y * 8 + x)
      assert(r.phash === expect, s"dHash mismatch for id=$id")
    }
    // the same image under two ids produces the same hash -> hamming 0
    val twin = Multimodal.synthesizePngs(spark.range(1).select(lit(7L).as("doc_id")), "doc_id")
      .collect().head.payload
    val two = Seq(Multimodal.ImagePayload(1L, twin), Multimodal.ImagePayload(2L, twin)).toDS()
    val hs = Multimodal.dHash(two).collect()
    assert(hs.map(_.phash).distinct.length === 1)
  }

  test("audioFingerprint matches the arithmetic formula") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val fps = Multimodal.audioFingerprint(Multimodal.synthesizeWavs(docs, "doc_id"))
      .collect().sortBy(_.doc_id)
    assert(fps.length === 50)
    fps.foreach { r =>
      val id = r.doc_id
      val n = 100 + (id % 50).toInt
      val s = (0 until n).map(i => math.abs(((id * 31 + i * 13) % 65536).toInt - 32768))
      val e = (0 until 65).map(f => s.slice(f * n / 65, (f + 1) * n / 65).map(_.toLong).sum)
      var expect = 0L
      for (f <- 0 until 64) if (e(f + 1) > e(f)) expect |= 1L << f
      assert(r.afp === expect, s"fingerprint mismatch for id=$id")
    }
  }

  test("hammingPairs64 over representatives equals brute force") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val hashed = Multimodal.dHash(Multimodal.synthesizePngs(docs, "doc_id")).toDF()
    val reps = hashed.groupBy("phash").agg(min($"doc_id").as("doc_id"))
    val got = graft.operators.Dedup.hammingPairs64(reps, "phash", "doc_id", maxHamming = 6)
      .as[(Long, Long, Int)].collect().toSet
    val local = reps.as[(Long, Long)].collect()
    val brute = (for {
      (ha, ia) <- local; (hb, ib) <- local if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (ia, ib, d)).toSet
    assert(got === brute, "chunk-join pairs must be complete and exact vs brute force")
    assert(brute.nonEmpty, "the synthetic corpus must actually contain near-dup images")
  }

  test("frameHashes: frame 0 equals the still dHash; sampling covers every stride-th frame") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(30)
    val vids = Multimodal.synthesizeVideos(docs, "doc_id")
    val fh = Multimodal.frameHashes(vids, stride = 2).collect()
    // frame 0 adds extra = 0 to the pixel formula — it IS the still image,
    // so its keyframe hash must equal dHash of the synthesized PNG
    val stills = Multimodal.dHash(Multimodal.synthesizePngs(docs, "doc_id"))
      .collect().map(h => h.doc_id -> h.phash).toMap
    val zeroFrames = fh.filter(_.frame_idx == 0)
    assert(zeroFrames.nonEmpty)
    zeroFrames.foreach(f => assert(f.fhash === stills(f.doc_id),
      s"doc ${f.doc_id}: frame-0 hash must equal the still dHash"))
    // every 2nd frame sampled: ceil(n_frames/2) hashes per video, and each
    // sampled hash agrees with the stride-1 full decode
    val counts = fh.groupBy(_.doc_id).view.mapValues(_.length).toMap
    vids.collect().foreach(v =>
      assert(counts(v.doc_id) === (v.n_frames + 1) / 2, s"doc ${v.doc_id}"))
    val all = Multimodal.frameHashes(vids, stride = 1).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f.fhash).toMap
    fh.foreach(f => assert(all((f.doc_id, f.frame_idx)) === f.fhash))
  }

  test("frameDeltas matches the per-pixel formula and covers frames 1..n-1") {
    val deltas = Multimodal.frameDeltas(
      Multimodal.synthesizeVideos(
        spark.range(1, 8).select($"id".as("doc_id")), "doc_id"))
      .collect().groupBy(_.doc_id)
    (1L to 7L).foreach { id =>
      val n = 3 + (id % 5).toInt
      val w = 4 + (id % 13).toInt
      val h = 4 + (id % 11).toInt
      def pix(f: Int, x: Int, y: Int): Long =
        java.lang.Math.floorMod(id * 31 + f * 17L + y * 7 + x * 13, 256L)
      val expected = (1 until n).map { f =>
        f -> (for (y <- 0 until h; x <- 0 until w)
          yield math.abs(pix(f, x, y) - pix(f - 1, x, y))).sum
      }.toMap
      val got = deltas(id).map(r => r.frame_idx -> r.delta_energy).toMap
      assert(got === expected, s"doc $id: deltas must replay the pixel formula")
      assert(!got.contains(0), "frame 0 is the opening keyframe, no delta row")
    }
  }

  test("decodeFeatures routes image payloads through the real codec") {
    val png = Multimodal.synthesizePngs(
      spark.range(5).select($"id".as("doc_id")), "doc_id")
      .map(p => Multimodal.MediaRow(p.doc_id, p.payload, p.payload.length, -1, -1))
    val feats = Multimodal.decodeFeatures(png).collect().sortBy(_.id)
    feats.foreach { f =>
      // real decode: width/height come from the image, not the meta stub
      assert(f.width === 4 + (f.id % 13).toInt && f.height === 4 + (f.id % 11).toInt)
      assert(f.feature(0) === f.width.toFloat && f.feature(1) === f.height.toFloat)
    }
  }
}
