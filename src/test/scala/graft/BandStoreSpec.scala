package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sinks.BandStore

/** The persisted LSH band index's claims:
  *  1. probe over the store is value-identical to the self-contained
  *     `minhashNearDupsAgainst` (which re-sketches the history);
  *  2. the probe's candidate scan PRUNES — it reads only the batch's
  *     colliding band buckets, and the history never enters a shuffle;
  *  3. append and compact are layout, never semantics (the AnnStore
  *     lifecycle discipline on the band tables).
  */
class BandStoreSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def history = docs.filter($"doc_id" % 3 =!= 0)
  private def batch = docs.filter($"doc_id" % 3 === 0)

  private val storeDirs = scala.collection.mutable.ListBuffer[java.io.File]()

  override def afterAll(): Unit =
    storeDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  private def newPath(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bandspec").toFile
    storeDirs += dir
    dir.toString + "/index"
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet

  /** `f`'s result and the start events of the Spark jobs it launched. */
  private def jobsDuring[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      (out, jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("probe equals the self-contained minhashNearDupsAgainst exactly") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path)
    val fromStore = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val selfContained = pairs(Dedup.minhashNearDupsAgainst(
      history, batch, "text", "doc_id", threshold = 0.8))
    assert(fromStore === selfContained)
    assert(fromStore.nonEmpty, "fixture must exercise real cross-set near-dups")
  }

  test("writes are bucket-aligned: files per bucket bounded by write slots, not upstream tasks") {
    // round 15: without the pre-write bucket alignment every upstream
    // task holding rows of bucket b commits its own file into b (files =
    // tasks × buckets — the fragmentation `ScaleCurve store` measured at
    // ~4k files); aligned, a write commits at most ⌈par/buckets⌉ files
    // per bucket no matter how the input was partitioned
    val path = newPath()
    val buckets = 16
    val slots = (spark.sparkContext.defaultParallelism + buckets - 1) / buckets
    BandStore.write(history.repartition(24), "text", "doc_id", path,
      buckets = buckets)
    def perBucket(sub: String): Seq[Int] =
      Option(new java.io.File(path, sub).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    Seq("bands", "docs").foreach { sub =>
      val counts = perBucket(sub)
      assert(counts.nonEmpty && counts.max <= slots,
        s"$sub: ${counts.max} files in one bucket after a single write " +
          s"(bound $slots) — the 24-task input leaked into the layout")
    }
    // and an append adds at most another slot's worth per bucket
    BandStore.append(batch, "text", "doc_id", path)
    Seq("bands", "docs").foreach { sub =>
      assert(perBucket(sub).max <= 2 * slots, s"$sub: append broke the bound")
    }
  }

  test("append: indexing history in two batches equals one-shot write") {
    val path = newPath()
    BandStore.write(history.filter($"doc_id" % 2 === 0), "text", "doc_id", path)
    BandStore.append(history.filter($"doc_id" % 2 =!= 0), "text", "doc_id", path)
    val appended = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val oneShot = {
      val p2 = newPath()
      BandStore.write(history, "text", "doc_id", p2)
      pairs(BandStore.probe(spark, p2, batch, "text", "doc_id", 0.8))
    }
    assert(appended === oneShot)
  }

  test("append queues behind a LIVE compact and serializes: nothing lost, nothing doubled") {
    // round-15 verdict item: a production ingest with a maintenance
    // daemon wants append-vs-compact to serialize, not fail the batch.
    // Run a real compact in another thread, wait until its fence is up,
    // then append with a bounded wait — the append queues, lands after
    // the swap completes, and the final store holds every doc exactly
    // once.
    val path = newPath()
    val half = history.filter($"doc_id" % 2 === 0)
    BandStore.write(half, "text", "doc_id", path)
    BandStore.append(history.filter($"doc_id" % 2 =!= 0), "text", "doc_id", path)
    val expected = history.select("doc_id").as[Long].collect().toSet ++
      batch.select("doc_id").as[Long].collect().toSet
    @volatile var compactErr: Throwable = null
    val th = new Thread(() =>
      try { BandStore.compact(spark, path); () }
      catch { case t: Throwable => compactErr = t })
    th.start()
    // bias the interleaving: only append once the maintenance fence is up
    // (if compact finishes first, the append proceeds unqueued — the end
    // state assertion still holds either way)
    val deadline = System.currentTimeMillis + 10000
    while (!new java.io.File(path + ".lock").exists() &&
      System.currentTimeMillis < deadline) Thread.sleep(5)
    BandStore.append(batch, "text", "doc_id", path, fenceWaitMs = 60000L)
    th.join(60000)
    assert(!th.isAlive, "compact thread must finish")
    assert(compactErr === null, s"compact must not fail: $compactErr")
    val got = BandStore.sketchTable(spark, path, "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(got.size === got.distinct.size, "no doc row may double")
    assert(got.toSet === expected, "no doc row may be lost")
    assert(!new java.io.File(path + ".lock").exists(),
      "both writers must release the fence")
    // and the serialized store still probes correctly (semantics, not
    // just row counts): same pairs as a one-shot index of everything
    val p2 = newPath()
    BandStore.write(history.unionByName(batch), "text", "doc_id", p2)
    val probeBatch = docs.filter($"doc_id" % 7 === 0)
    assert(pairs(BandStore.probe(spark, path, probeBatch, "text", "doc_id", 0.8))
      === pairs(BandStore.probe(spark, p2, probeBatch, "text", "doc_id", 0.8)))
  }

  test("append queued behind a LIVE rebucket sketches under the NEW layout") {
    // the params-reread-inside-the-fence claim, exercised against the one
    // maintenance op that CHANGES the layout: an append that resolved the
    // store's bucket count before queueing would land its rows bucketed
    // under the superseded function — silently unreachable by the
    // post-rebucket probe route. The append must observe the layout that
    // is live when its fence turn comes.
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 32)
    @volatile var rebucketErr: Throwable = null
    val th = new Thread(() =>
      try BandStore.rebucket(spark, path, 8)
      catch { case t: Throwable => rebucketErr = t })
    th.start()
    val deadline = System.currentTimeMillis + 10000
    while (!new java.io.File(path + ".lock").exists() &&
      System.currentTimeMillis < deadline) Thread.sleep(5)
    BandStore.append(batch, "text", "doc_id", path, fenceWaitMs = 60000L)
    th.join(60000)
    assert(!th.isAlive && rebucketErr == null, s"rebucket must finish: $rebucketErr")
    assert(BandStore.params(spark, path).buckets === 8)
    // every appended row must be addressable under the new layout: the
    // batch probed against itself through the store finds its own docs
    val self = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val p2 = newPath()
    BandStore.write(history, "text", "doc_id", p2, buckets = 8)
    BandStore.append(batch, "text", "doc_id", p2)
    assert(self === pairs(BandStore.probe(spark, p2, batch, "text", "doc_id", 0.8)),
      "append landed under a superseded bucket layout")
    // and no bucket id outside [0, 8) survives anywhere in the tree
    Seq("bands", "docs").foreach { sub =>
      val stray = Option(new java.io.File(path, sub).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(_.getName.stripPrefix("bucket=").toInt).filter(b => b < 0 || b >= 8)
      assert(stray.isEmpty, s"$sub: stray buckets ${stray.mkString(",")}")
    }
  }

  test("probe's candidate scan prunes to the batch's colliding buckets; batch side broadcasts") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 16)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = BandStore.params(spark, path)
      // a SMALL batch (3 docs): its band keys cover few of the 16 buckets,
      // so the pruning is observable (a corpus-wide batch would legally
      // touch every bucket)
      val mb = Dedup.minhashed(batch.limit(3), "text", "doc_id",
          p.k, p.rowsPerBand, p.shingleN)
        .filter(size($"hs") > 0).cache()
      try {
        val plausible = BandStore.plausibleCandidates(spark, path, mb, "doc_id", 0.8, p)
        plausible.collect()
        val scans = plausible.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("graft_bandspec")) => f
        }
        assert(scans.nonEmpty, "expected a parquet scan of the band index")
        val scan = scans.head
        assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
          s"bucket route should plan as a partition filter, scan:\n$scan")
        val bandsRoot = new java.io.File(path, "bands")
        val totalDirs = bandsRoot.listFiles().count(_.getName.startsWith("bucket="))
        val nProbed = mb.select(explode($"bands").as("band"))
          .select(pmod(xxhash64($"band"), lit(p.buckets))).distinct().count()
        assert(nProbed < totalDirs,
          s"fixture: 3 docs' bands must not cover all $totalDirs buckets")
        val readFiles = scan.metrics("numFiles").value
        val perBucket = bandsRoot.listFiles()
          .filter(_.getName.startsWith("bucket="))
          .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sorted.reverse
        assert(readFiles <= perBucket.take(nProbed.toInt).sum,
          s"scan should read at most the $nProbed probed buckets' files, read $readFiles")
        // the history side must never shuffle: the one join in the plan is
        // a broadcast of the batch bands over the pruned scan
        val plan = plausible.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"batch bands should broadcast over the scanned index:\n$plan")
      } finally { mb.unpersist(); () }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("compact collapses fragmented buckets, untouched partitions byte-identical, probe unchanged") {
    val path = newPath()
    // three slices fragment their target buckets
    BandStore.write(history.filter($"doc_id" % 3 === 1), "text", "doc_id", path, buckets = 8)
    BandStore.append(history.filter($"doc_id" % 9 === 2), "text", "doc_id", path)
    BandStore.append(history.filter($"doc_id" % 9 === 5), "text", "doc_id", path)
    BandStore.append(history.filter($"doc_id" % 9 === 8), "text", "doc_id", path)
    def state(table: String): Map[String, Map[String, String]] = {
      val root = new java.io.File(path, table)
      root.listFiles().filter(_.getName.startsWith("bucket=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
      }.toMap
    }
    val beforeBands = state("bands")
    val beforeProbe = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    // .toSeq first: collecting ("bands", n) pairs straight off the Map
    // would rebuild a Map keyed by the literal "bands" and keep ONE entry
    val fragmented = beforeBands.toSeq.collect {
      case (d, fs) if fs.size > 1 => ("bands", d.stripPrefix("bucket=").toLong)
    }.toSet ++ state("docs").toSeq.collect {
      case (d, fs) if fs.size > 1 => ("docs", d.stripPrefix("bucket=").toLong)
    }.toSet
    assert(fragmented.nonEmpty, "appends should have fragmented some bucket")
    val compacted = BandStore.compact(spark, path)
    assert(compacted.toSet === fragmented,
      s"exactly the >1-file buckets must compact: $compacted vs $fragmented")
    val afterBands = state("bands")
    compacted.filter(_._1 == "bands").foreach { case (_, b) =>
      assert(afterBands(s"bucket=$b").size === 1,
        s"bands bucket $b should hold ONE file after compact")
    }
    (beforeBands.keySet -- compacted.collect { case ("bands", b) => s"bucket=$b" })
      .foreach { d =>
        assert(afterBands(d) === beforeBands(d),
          s"untouched bands $d files must stay byte-identical")
      }
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
      === beforeProbe, "compaction must never change probe results")
    assert(BandStore.compact(spark, path) === Seq.empty, "idempotent")
  }

  test("mid-compact probes serve the last committed generation (parked bucket); recover heals") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 8)
    val before = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    // simulate an in-flight (or crashed) swap: one bands/ bucket parked
    // with no live twin — round-14: the probe resolves the parked dir as
    // that bucket's last committed generation and answers EXACTLY as the
    // healthy store does, never partially, never with an error
    val bandsRoot = new java.io.File(path, "bands")
    val victim = bandsRoot.listFiles().filter(_.getName.startsWith("bucket=")).head
    val oldRoot = new java.io.File(path, "bands.swap_old")
    assert(oldRoot.mkdirs())
    assert(victim.renameTo(new java.io.File(oldRoot, victim.getName)))
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before,
      "a probe during the parked window must serve the old generation exactly")
    // crash recovery unchanged
    BandStore.recover(spark, path)
    assert(!oldRoot.exists(), "recover must clear the scratch root")
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before)
  }

  test("delete masks a dup source everywhere; purge reclaims it; untouched buckets byte-identical") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 16)
    val before = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    assert(before.nonEmpty)
    val victim = before.head._1 // a history doc serving as a dup source
    BandStore.delete(Seq(victim).toDF("doc_id"), "doc_id", path)
    // the takedown is visible IMMEDIATELY, before any rewrite: probe ≡
    // the self-contained operator over history-minus-victim
    val expected = pairs(Dedup.minhashNearDupsAgainst(
      history.filter($"doc_id" =!= victim), batch, "text", "doc_id", threshold = 0.8))
    val masked = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    assert(masked === expected)
    assert(masked === before.filterNot(_._1 == victim))
    // the streaming verify side masks through the same sidecar
    assert(BandStore.sketchTable(spark, path, "doc_id")
      .filter($"doc_id" === victim).count() === 0)
    def state(table: String): Map[String, Map[String, String]] = {
      val root = new java.io.File(path, table)
      root.listFiles().filter(_.getName.startsWith("bucket=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
      }.toMap
    }
    val beforePurge = Map("bands" -> state("bands"), "docs" -> state("docs"))
    val rewritten = BandStore.purge(spark, path)
    assert(rewritten.nonEmpty)
    assert(BandStore.tombstones(spark, path).isEmpty, "sidecar drops last")
    // physically gone from BOTH tables
    assert(spark.read.parquet(s"$path/bands").filter($"doc_id" === victim).count() === 0)
    assert(spark.read.parquet(s"$path/docs").filter($"doc_id" === victim).count() === 0)
    // the doc had 16 band rows but they share band-hash buckets; every
    // bucket NOT rewritten must be byte-identical (purge touches exactly
    // the victim's buckets)
    Seq("bands", "docs").foreach { table =>
      val touched = rewritten.collect { case (`table`, b) => s"bucket=$b" }.toSet
      (beforePurge(table).keySet -- touched).foreach { d =>
        assert(state(table)(d) === beforePurge(table)(d),
          s"untouched $table $d must stay byte-identical through purge")
      }
    }
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === expected,
      "purge is physical reclamation, never a semantics change")
    assert(BandStore.purge(spark, path) === Seq.empty, "idempotent")
  }

  test("delete raises on a null id; an unknown id masks nothing and purges nothing it shouldn't") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 8)
    val before = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    // the raise surfaces as SparkException from a task or
    // SparkRuntimeException when evaluated locally — assert the message
    val e = intercept[Exception] {
      BandStore.delete(Seq[Option[Long]](None).toDF("doc_id"), "doc_id", path)
    }
    assert(e.getMessage.contains("null doc_id"), e.getMessage)
    // an id the store never held: delete records it, probe is unchanged,
    // purge rewrites only the docs-side derived route's existing buckets
    val ghost = 99999999L
    BandStore.delete(Seq(ghost).toDF("doc_id"), "doc_id", path)
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before)
    val rewritten = BandStore.purge(spark, path)
    assert(rewritten.forall(_._1 == "docs"),
      s"a ghost id must not route any bands/ rewrite: $rewritten")
    assert(BandStore.tombstones(spark, path).isEmpty)
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before)
  }

  test("streaming ingest: micro-batched appends ≡ one-shot write; replays cost bytes, never pairs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = newPath()
    // initialize with half the history (params pin here), stream the rest
    BandStore.write(history.filter($"doc_id" % 2 === 0), "text", "doc_id", path,
      buckets = 8)
    val rest = history.filter($"doc_id" % 2 =!= 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      BandStore.ingest(path, "text", "doc_id")
    val q = ms.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch(sink).start()
    try {
      rest.grouped(math.max(1, rest.length / 3 + 1))
        .foreach { chunk => ms.addData(chunk.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val oneShot = {
      val p2 = newPath()
      BandStore.write(history, "text", "doc_id", p2, buckets = 8)
      pairs(BandStore.probe(spark, p2, batch, "text", "doc_id", 0.8))
    }
    assert(streamed === oneShot)
    assert(streamed.nonEmpty)
    // REDELIVERY: foreachBatch replays a micro-batch after a crash — the
    // same rows append again, and probe must not care
    sink(rest.take(20).toSeq.toDF("doc_id", "text"), 99L)
    assert(spark.read.parquet(s"$path/docs").count() >
      spark.read.parquet(s"$path/docs").distinct().count(),
      "fixture: the replay must actually land duplicate rows")
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === oneShot,
      "probe is duplicate-blind — the set contract")
    // compact canonicalizes the replayed bytes away
    BandStore.compact(spark, path)
    Seq("bands", "docs").foreach { tbl =>
      val df = spark.read.parquet(s"$path/$tbl")
      assert(df.count() === df.distinct().count(),
        s"$tbl must hold no duplicate rows after compact")
    }
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === oneShot)
  }

  test("rebucket is pure layout: probe parity, route bound re-pinned, tombstones travel") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 4)
    val before = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    assert(before.nonEmpty)
    // pending tombstones are store state — they must survive the swap
    val victim = before.head._1
    BandStore.delete(Seq(victim).toDF("doc_id"), "doc_id", path)
    val masked = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    BandStore.rebucket(spark, path, 16)
    val p = BandStore.params(spark, path)
    assert(p.buckets === 16, "the route bound re-pins")
    assert((p.k, p.rowsPerBand, p.shingleN) === ((128, 8, 3)),
      "sketch parameters never change — signatures are not re-derived")
    val bandDirs = new java.io.File(path, "bands").listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(bandDirs > 4, s"16-bucket layout should spread past the old 4, got $bandDirs")
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === masked,
      "rebucket must change neither probe results nor pending deletes")
    // the lifecycle keeps composing under the new layout
    assert(BandStore.purge(spark, path).nonEmpty)
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === masked)
    assert(BandStore.append(batch.limit(0), "text", "doc_id", path) === (()))
  }

  test("a crashed rebucket: reads serve the parked generation; recover restores without the marker, promotes with it") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 4)
    val before = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val live = new java.io.File(path)
    // window 1: crashed AFTER parking the store, tmp tree incomplete (no
    // _params commit marker) — round-14: probes resolve the parked
    // PREVIOUS generation (params, bands, docs, tombstones all from the
    // same tree) and answer exactly as before; recover restores it
    val oldRoot = new java.io.File(path + ".rebucket_old")
    val tmpRoot = new java.io.File(path + ".rebucket_tmp")
    assert(live.renameTo(oldRoot))
    assert(new java.io.File(tmpRoot, "bands").mkdirs())
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before,
      "mid-rebucket probes serve the parked previous generation")
    BandStore.recover(spark, path)
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before)
    // window 2: crashed BETWEEN the two renames with a COMMITTED tmp tree
    // (its _params/_SUCCESS exists) — recover promotes the new tree
    assert(live.renameTo(tmpRoot))
    BandStore.recover(spark, path)
    assert(live.exists() && !tmpRoot.exists() && !oldRoot.exists())
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before)
    // window 3: live root beside leftover scratch — a COMMITTED tmp tree
    // (its _params marker present) and a stale park, each missing its
    // bands/ table: with a live root neither may be promoted or restored;
    // recover drops both and the data is untouched
    Seq(tmpRoot, oldRoot).foreach { copy =>
      org.apache.commons.io.FileUtils.copyDirectory(live, copy)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy, "bands"))
    }
    BandStore.recover(spark, path)
    assert(!tmpRoot.exists() && !oldRoot.exists())
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === before,
      "leftover scratch beside a live root must never replace it")
  }

  test("mid-rebucket probes keep masking the parked generation's tombstones") {
    // data and tombstones must resolve to the SAME generation: the parked
    // old tree still holds its pending tombstones, and serving its bands
    // without its sidecar would resurrect a deleted dup source
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 8)
    val before = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    assert(before.nonEmpty)
    val victim = before.head._1
    BandStore.delete(Seq(victim).toDF("doc_id"), "doc_id", path)
    val masked = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    assert(masked === before.filterNot(_._1 == victim))
    // park the whole store as rebucket would mid-swap
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".rebucket_old")))
    assert(BandStore.tombstones(spark, path).isDefined,
      "the parked generation's sidecar must resolve with it")
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === masked,
      "the old generation's tombstones must mask its data while parked")
    assert(BandStore.sketchTable(spark, path, "doc_id")
      .filter($"doc_id" === victim).count() === 0)
    BandStore.recover(spark, path)
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === masked)
  }

  test("purge of a doubly-crashed store keeps the bucket parked under the parked generation") {
    // a per-bucket swap crashes with a bands/ bucket parked (its scratch
    // sits inside the store root), then a rebucket crashes with the whole
    // root parked; purge must restore the generation BEFORE the bucket,
    // or its own swap clears the bucket's park and the rows are lost
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 8)
    val victim = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)).head._1
    BandStore.delete(Seq(victim).toDF("doc_id"), "doc_id", path)
    val masked = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val kept = spark.read.parquet(s"$path/bands").filter($"doc_id" =!= victim).count()
    val bucket = new java.io.File(path, "bands").listFiles()
      .filter(_.getName.startsWith("bucket=")).head
    val park = new java.io.File(path, "bands.swap_old")
    assert(park.mkdirs() && bucket.renameTo(new java.io.File(park, bucket.getName)))
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".rebucket_old")))
    assert(BandStore.purge(spark, path).nonEmpty)
    assert(spark.read.parquet(s"$path/bands").count() === kept,
      "every band row but the victim's must survive the purge")
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8)) === masked)
  }

  test("append and probe pin the store's sketch parameters, not the caller's") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, k = 16, rowsPerBand = 4, buckets = 8)
    val p = BandStore.params(spark, path)
    assert(p === BandStore.Params(16, 4, 3, 8))
    // a probe under the stored k=16 family must equal the self-contained
    // operator under the SAME parameters — the store decides, silently
    // probing under the default k=128 would report garbage
    val fromStore = pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
    val selfContained = pairs(Dedup.minhashNearDupsAgainst(
      history, batch, "text", "doc_id", threshold = 0.8, k = 16, rowsPerBand = 4))
    assert(fromStore === selfContained)
  }

  test("merge: shard indexes consolidate by file moves — probe = one-shot index, src gone, tombstones travel") {
    val dst = newPath()
    val src = newPath()
    BandStore.write(history.filter($"doc_id" % 2 === 0), "text", "doc_id", dst)
    BandStore.write(history.filter($"doc_id" % 2 =!= 0), "text", "doc_id", src)
    // a pending src-side takedown must still mask after the merge
    val victim = history.filter($"doc_id" % 2 =!= 0)
      .select("doc_id").as[Long].head()
    BandStore.delete(Seq(victim).toDF("doc_id"), "doc_id", src)
    val moved = BandStore.merge(spark, src, dst)
    assert(moved.nonEmpty)
    assert(!new java.io.File(src).exists(), "src root must drop after the merge")
    val merged = pairs(BandStore.probe(spark, dst, batch, "text", "doc_id", 0.8))
    val oneShot = {
      val p2 = newPath()
      BandStore.write(history.filter($"doc_id" =!= victim), "text", "doc_id", p2)
      pairs(BandStore.probe(spark, p2, batch, "text", "doc_id", 0.8))
    }
    assert(merged === oneShot,
      "shard-then-merge must equal one-shot indexing minus the tombstoned doc")
    assert(merged.nonEmpty)
    assert(!merged.exists(_._1 == victim), "src's tombstone must mask in the merged store")
  }

  test("merge: mismatched pinned params raise; self-merge raises") {
    val dst = newPath()
    val src = newPath()
    BandStore.write(history.filter($"doc_id" % 2 === 0), "text", "doc_id", dst)
    // same corpus, different hash family (k) — a silent merge would miss
    // every cross-shard pair
    BandStore.write(history.filter($"doc_id" % 2 =!= 0), "text", "doc_id", src,
      k = 16, rowsPerBand = 4)
    val e = intercept[IllegalArgumentException] { BandStore.merge(spark, src, dst) }
    assert(e.getMessage.contains("params differ"))
    val e2 = intercept[IllegalArgumentException] { BandStore.merge(spark, dst, dst) }
    assert(e2.getMessage.contains("same store"))
  }

  test("writer fence: a held fence blocks append/ingest/delete too — lost-row races are loud") {
    // round-13 advice: an append racing compact/purge/rebucket could
    // commit part files into a bucket dir the swap parks and deletes, and
    // a delete racing purge's sidecar drop would be discarded unapplied.
    // Round 15: batch-class writers queue with a bounded wait first —
    // tiny bounds here so the timeout path (wait, then the same loud
    // raise) is what's exercised; maintenance ops stay fail-fast
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path)
    assert(new java.io.File(path + ".lock").createNewFile(),
      "fixture: simulate a running maintenance op's fence")
    Seq(
      () => BandStore.append(batch, "text", "doc_id", path, fenceWaitMs = 300L),
      () => BandStore.ingest(path, "text", "doc_id", fenceWaitMs = 300L)(batch, 0L),
      () => BandStore.delete(Seq(3L).toDF("doc_id"), "doc_id", path,
        fenceWaitMs = 300L),
      () => { BandStore.compact(spark, path); () },
      () => { BandStore.purge(spark, path); () },
      () => BandStore.rebucket(spark, path, 8)
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("writer fence"), e.getMessage)
    }
    assert(BandStore.breakLock(spark, path), "breakLock clears a stale fence")
    BandStore.append(batch, "text", "doc_id", path)
    assert(!new java.io.File(path + ".lock").exists(),
      "append must release the fence when it completes")
    // and the appended rows are served: the fence changed failure mode,
    // not semantics
    assert(pairs(BandStore.probe(spark, path, batch, "text", "doc_id", 0.8))
      .exists(p => p._1 == p._2 || p._3 == 1.0),
      "post-append probe sees the appended batch as history")
  }

  test("params reads its sidecar in one Spark job") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path)
    val (p, jobs) = jobsDuring(BandStore.params(spark, path))
    assert(jobs.size === 1, "no footer inference, one head()")
    assert(p === BandStore.Params(128, 8, 3, 64))
  }

  test("tombstones and delete type the sidecar from a footer, with no inference job") {
    val path = newPath()
    BandStore.write(history, "text", "doc_id", path, buckets = 8)
    // schema inference runs as a job outside any SQL execution; the
    // delete's own tombstone write runs inside one
    def inference(jobs: Seq[SparkListenerJobStart]) =
      jobs.count(j => j.properties == null ||
        j.properties.getProperty("spark.sql.execution.id") == null)
    // INT ids against the store's BIGINT id column: the cast still applies
    val (_, deleteJobs) = jobsDuring(
      BandStore.delete(Seq(1, 2).toDF("doc_id"), "doc_id", path))
    assert(deleteJobs.nonEmpty, "the tombstone write is a job")
    assert(inference(deleteJobs) === 0, "delete types its ids without an inference job")
    val (ts, readJobs) = jobsDuring(BandStore.tombstones(spark, path))
    assert(readJobs.isEmpty, "tombstones builds its frame without any job")
    assert(ts.get.schema("doc_id").dataType === history.schema("doc_id").dataType)
    assert(ts.get.as[Long].collect().toSet === Set(1L, 2L))
  }
}
