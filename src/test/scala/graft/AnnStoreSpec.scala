package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sinks.AnnStore

/** The centroid-partitioned ANN store's two claims:
  *  1. search over the store is value-identical to search over the raw
  *     corpus (parquet round-trips doubles exactly);
  *  2. the probe plan PRUNES — it reads only the probed clusters'
  *     partitions, not the whole store (the ~K/nProbe I/O reduction that
  *     makes IVF pay at 100 TB).
  */
class AnnStoreSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private def corpus = spark.read.parquet(s"$sf/embeddings.parquet")
  private def cents = corpus.filter($"vec_id" < 8).withColumnRenamed("vec_id", "cid")

  private val storeDirs = scala.collection.mutable.ListBuffer[java.io.File]()

  // each store is a full embeddings copy — don't leave them in /tmp
  override def afterAll(): Unit =
    storeDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  private def buildStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    AnnStore.write(
      Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid", keepVec = true),
      path)
    path
  }

  private def storeScan(df: org.apache.spark.sql.DataFrame, path: String) =
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("graft_annspec")) => f
    }

  test("writes are cluster-aligned: at most one file per cluster per write") {
    // round 15: the pre-write repartition on centroid_id bounds files to
    // one per cluster per write (was tasks × clusters — `ScaleCurve store`
    // measured ~500 files for a 16-cluster store from a 32-task assign)
    val path = buildStore()
    def perCluster(): Seq[Int] =
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
        .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(perCluster().nonEmpty && perCluster().max <= 1,
      s"one write must leave at most one file per cluster; got ${perCluster().max}")
    AnnStore.append(
      Similarity.ivfAssign(corpus.limit(50).repartition(8), "embedding",
        "vec_id", cents, "cid", keepVec = true), path)
    assert(perCluster().max <= 2,
      s"write + append must leave at most two files per cluster; got ${perCluster().max}")
  }

  test("store search matches raw-corpus ivfSearch exactly") {
    val path = buildStore()
    val query = corpus.filter($"vec_id" === 1)
    val fromStore = Similarity.ivfSearchAssigned(AnnStore.read(spark, path), "vec_id",
      cents, "cid", "embedding", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    val fromRaw = Similarity.ivfSearch(corpus, "embedding", "vec_id",
      cents, "cid", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(fromStore === fromRaw)
  }

  test("static centroid filter prunes to that cluster's partition only") {
    val path = buildStore()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off: the executed plan is the scan itself, so its numFiles
      // metric is the one the action populated
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val totalFiles = AnnStore.read(spark, path).inputFiles.length
      val one = AnnStore.read(spark, path).filter($"centroid_id" === 3)
      // collect(), not count(): count() builds its OWN QueryExecution, so
      // the metrics inspected below would belong to a plan that never ran
      one.collect()
      val scans = storeScan(one, path)
      assert(scans.nonEmpty, "expected a parquet scan of the store")
      assert(scans.head.partitionFilters.nonEmpty,
        "centroid_id filter should plan as a partition filter")
      val read = scans.head.metrics("numFiles").value
      // exactly the files under the one probed directory
      val dirFiles = new java.io.File(path, "centroid_id=3")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(read === dirFiles, s"filter should prune to one directory")
      assert(read < totalFiles, s"filter should prune: read $read of $totalFiles files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("append: post-append search equals full ingest, pruning contract intact") {
    // base written first, a batch appended against the SAME centroids:
    // untouched partitions' files must not be rewritten, and the
    // post-append probe must still plan a static partition filter
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    def assign(part: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(part, "embedding", "vec_id", cents, "cid", keepVec = true)
    AnnStore.write(assign(corpus.filter($"vec_id" >= 100)), path)
    // record per-partition file sets before the append
    def filesIn(cid: Long): Set[String] = {
      val f = new java.io.File(path, s"centroid_id=$cid")
      if (f.exists()) f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      else Set.empty
    }
    val before = (0L until 8L).map(c => c -> filesIn(c)).toMap
    AnnStore.append(assign(corpus.filter($"vec_id" < 100)), path)
    val after = (0L until 8L).map(c => c -> filesIn(c)).toMap
    (0L until 8L).foreach { c =>
      assert(before(c).subsetOf(after(c)),
        s"append must never rewrite or drop partition $c's existing files")
    }
    assert((0L until 8L).exists(c => after(c).size > before(c).size),
      "the appended batch should have landed somewhere")
    val query = corpus.filter($"vec_id" === 1)
    val fromStore = Similarity.ivfSearchAssigned(AnnStore.read(spark, path),
        "vec_id", cents, "cid", "embedding", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    val fromRaw = Similarity.ivfSearch(corpus, "embedding", "vec_id",
        cents, "cid", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(fromStore === fromRaw,
      "append-then-search must equal having ingested everything up front")
  }

  test("PQ store search matches the in-memory IVF+PQ composition exactly") {
    val pq = graft.operators.ProductQuant
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/pqstore"
    val cb = pq.train(corpus, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      .localCheckpoint()
    val codes = pq.encode(corpus, "embedding", "vec_id", cb, m = 4, dims = 64)
    val assigned = Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid")
    AnnStore.writePq(assigned, codes, "vec_id", path)
    val qv = corpus.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double"))).head().getSeq[Double](0)
    val fromStore = pq.searchPruned(AnnStore.read(spark, path), "vec_id", cb,
        cents, "cid", "embedding", qv, m = 4, dims = 64, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    // the unpruned composition sim_ivfpq_search runs: route, semi-join
    // survivors, ADC — must rank identically to the store path
    val probe = Similarity.topK(cents, "embedding", "cid", qv, k = 2)
      .select($"cid").as[Long].collect().toIndexedSeq
    val survivors = assigned.filter($"centroid_id".isin(probe: _*)).select("vec_id")
    val inMem = pq.search(codes.join(survivors, Seq("vec_id"), "left_semi"),
        "vec_id", cb, qv, m = 4, dims = 64, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(fromStore === inMem)
  }

  test("PQ store probe reads only the probed clusters' code files") {
    val pq = graft.operators.ProductQuant
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/pqstore"
    val cb = pq.train(corpus, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      .localCheckpoint()
    val codes = pq.encode(corpus, "embedding", "vec_id", cb, m = 4, dims = 64)
    AnnStore.writePq(
      Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid"),
      codes, "vec_id", path)
    val qv = corpus.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double"))).head().getSeq[Double](0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val res = pq.searchPruned(AnnStore.read(spark, path), "vec_id", cb,
        cents, "cid", "embedding", qv, m = 4, dims = 64, k = 10, nProbe = 2)
      res.collect()
      val scans = storeScan(res, path)
      assert(scans.nonEmpty, "expected a parquet scan of the PQ store")
      assert(scans.head.partitionFilters.exists(_.toString.contains("centroid_id")),
        "probe route should plan as a partition filter on the code store")
      val totalFiles = AnnStore.read(spark, path).inputFiles.length
      val read = scans.head.metrics("numFiles").value
      val perDir = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("centroid_id="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")))
        .sorted.reverse
      assert(read <= perDir.take(2).sum,
        s"probe scan should read only 2 clusters' code files: read $read of $totalFiles")
      assert(read < totalFiles,
        s"probe scan should prune: read $read of $totalFiles code files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("probe search prunes the store scan to the nProbe probed clusters") {
    val path = buildStore()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so the executed plan (and its scan metrics) are inspectable
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val res = Similarity.ivfSearchAssigned(AnnStore.read(spark, path), "vec_id",
        cents, "cid", "embedding", corpus.filter($"vec_id" === 1), k = 10, nProbe = 2)
      res.collect() // execute THIS dataset's plan (see note above)
      val scans = storeScan(res, path)
      assert(scans.nonEmpty, "expected a parquet scan of the store")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.toString.contains("centroid_id")),
        s"probe route should plan as a partition filter, scan:\n$scan")
      val totalFiles = AnnStore.read(spark, path).inputFiles.length
      val read = scan.metrics("numFiles").value
      // exactly the files under the 2 probed clusters' directories: every
      // directory holds ≥1 file, so reading ≤ (files of the 2 largest
      // dirs) while still returning the right answer proves the route
      val perDir = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("centroid_id="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")))
        .sorted.reverse
      assert(read <= perDir.take(2).sum,
        s"probe scan should read only 2 clusters' files: read $read of $totalFiles")
      assert(read < totalFiles,
        s"probe scan should read only probed clusters: read $read of $totalFiles files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  // --- compaction: the third of the store lifecycle -----------------------

  private def dirState(path: String, cid: Long): Map[String, String] = {
    // (file name -> md5 of bytes): the byte-identity evidence for the
    // untouched-partition claim
    val d = new java.io.File(path, s"centroid_id=$cid")
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    }.toMap
  }

  private def fileCount(path: String, cid: Long): Int = {
    val d = new java.io.File(path, s"centroid_id=$cid")
    if (!d.exists()) 0
    else d.listFiles().count(_.getName.endsWith(".parquet"))
  }

  test("compact: fragmented clusters collapse to one file, search identical, untouched partitions byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    def assign(part: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(part, "embedding", "vec_id", cents, "cid", keepVec = true)
    // the ingest steady state compact exists for: a base write + 3 appends
    AnnStore.write(assign(corpus.filter($"vec_id" >= 100)), path)
    AnnStore.append(assign(corpus.filter($"vec_id" < 40)), path)
    AnnStore.append(assign(corpus.filter($"vec_id" >= 40 && $"vec_id" < 75)), path)
    AnnStore.append(assign(corpus.filter($"vec_id" >= 75 && $"vec_id" < 100)), path)
    val cids = (0L until 8L)
    val before = cids.map(c => c -> dirState(path, c)).toMap
    val fragmented = cids.filter(c => fileCount(path, c) > 1)
    assert(fragmented.nonEmpty, "appends should have fragmented some cluster")
    val query = corpus.filter($"vec_id" === 1)
    def search() = Similarity.ivfSearchAssigned(AnnStore.read(spark, path),
        "vec_id", cents, "cid", "embedding", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    def allRows() = AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
    val searchBefore = search()
    val rowsBefore = allRows()
    val compacted = AnnStore.compact(spark, path)
    assert(compacted === fragmented.sorted,
      s"exactly the >1-file clusters must compact: $compacted vs $fragmented")
    compacted.foreach { c =>
      assert(fileCount(path, c) === 1, s"cluster $c should hold ONE file after compact")
    }
    (cids.toSet -- compacted.toSet).foreach { c =>
      assert(dirState(path, c) === before(c),
        s"untouched cluster $c's files must stay byte-identical")
    }
    assert(search() === searchBefore, "compaction must never change search results")
    assert(allRows() === rowsBefore, "compaction must never change the stored rows")
    // idempotent: a compact store has nothing to compact
    assert(AnnStore.compact(spark, path) === Seq.empty)
    // no scratch dirs left behind
    assert(!new java.io.File(path + ".swap_tmp").exists())
    assert(!new java.io.File(path + ".swap_old").exists())
  }

  test("compact on the PQ code store preserves ADC ranking") {
    val pq = graft.operators.ProductQuant
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/pqstore"
    val cb = pq.train(corpus, "embedding", "vec_id", m = 4, k = 8, dims = 64, iters = 2)
      .localCheckpoint()
    val codes = pq.encode(corpus, "embedding", "vec_id", cb, m = 4, dims = 64)
    val assigned = Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid")
    def slice(lo: Long, hi: Long) =
      assigned.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select($"vec_id", $"centroid_id").join(codes, Seq("vec_id"))
    // fragment the code store the way a code ingest would: base + appends
    AnnStore.writePq(assigned.filter($"vec_id" >= 100), codes, "vec_id", path)
    AnnStore.append(slice(0, 50), path)
    AnnStore.append(slice(50, 100), path)
    val qv = corpus.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double"))).head().getSeq[Double](0)
    def searchPq() = pq.searchPruned(AnnStore.read(spark, path), "vec_id", cb,
        cents, "cid", "embedding", qv, m = 4, dims = 64, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    val beforeSearch = searchPq()
    val filesBefore = AnnStore.read(spark, path).inputFiles.length
    val compacted = AnnStore.compact(spark, path)
    assert(compacted.nonEmpty, "the appended code store should have fragmented clusters")
    assert(AnnStore.read(spark, path).inputFiles.length < filesBefore,
      "compaction should reduce the code-file count")
    assert(searchPq() === beforeSearch, "ADC ranking must survive compaction")
  }

  // --- deletes: the fourth of the store lifecycle --------------------------

  test("delete masks via tombstones without touching data files; purge reclaims exactly the affected clusters") {
    val path = buildStore()
    val cids = (0L until 8L)
    val stateAtWrite = cids.map(c => c -> dirState(path, c)).toMap
    val deleted = corpus.filter(pmod($"vec_id", lit(7)) === 3).select("vec_id")
    val deletedIds = deleted.as[Long].collect().toSet
    val query = corpus.filter($"vec_id" === 1)
    def searchOver(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearchAssigned(df, "vec_id", cents, "cid", "embedding",
        query, k = 10, nProbe = 2).as[(Long, Double)].collect().toSeq

    AnnStore.delete(deleted, "vec_id", path)
    // delete is O(deleted ids): every data file is byte-identical after it
    cids.foreach(c => assert(dirState(path, c) === stateAtWrite(c),
      s"delete must not touch cluster $c's data files"))
    // read still sees the rows; readLive masks exactly the tombstoned set
    val rawIds = AnnStore.read(spark, path).select("vec_id").as[Long].collect().toSet
    val liveIds = AnnStore.readLive(spark, path, "vec_id").select("vec_id").as[Long].collect().toSet
    assert(rawIds.intersect(deletedIds) === deletedIds)
    assert(liveIds === rawIds -- deletedIds)
    val maskedSearch = searchOver(AnnStore.readLive(spark, path, "vec_id"))
    assert(maskedSearch.forall(r => !deletedIds.contains(r._1)),
      "a masked search must never serve a deleted row")

    // which clusters actually hold tombstoned rows (purge's rewrite set)
    val affected = AnnStore.read(spark, path)
      .filter($"vec_id".isin(deletedIds.toSeq: _*))
      .select($"centroid_id".cast("long")).distinct().as[Long].collect().toSet
    val purged = AnnStore.purge(spark, path, "vec_id")
    assert(purged.toSet === affected, "purge must rewrite exactly the affected clusters")
    (cids.toSet -- affected).foreach(c => assert(dirState(path, c) === stateAtWrite(c),
      s"cluster $c holds no tombstoned row and must stay byte-identical"))
    // the sidecar is gone: readLive == read, and the rows are physically gone
    assert(AnnStore.tombstones(spark, path).isEmpty)
    assert(AnnStore.read(spark, path).select("vec_id").as[Long].collect().toSet
      === rawIds -- deletedIds)
    // masked (pre-purge) and purged serving are the same semantics
    assert(searchOver(AnnStore.readLive(spark, path, "vec_id")) === maskedSearch,
      "tombstone masking and physical purge must serve identical results")
    // idempotent: nothing pending
    assert(AnnStore.purge(spark, path, "vec_id") === Seq.empty)
    // no scratch dirs left behind
    assert(!new java.io.File(path + ".swap_tmp").exists())
    assert(!new java.io.File(path + ".swap_old").exists())
  }

  test("mid-swap reads serve the last committed generation (parked cluster); recover heals") {
    val path = buildStore()
    val rowsBefore = AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
    // simulate an IN-FLIGHT (or crashed) swap: cluster 3 parked in
    // .swap_old, no replacement promoted yet — round-14: the reader must
    // resolve the parked dir as cluster 3's last committed generation
    // and serve the COMPLETE pre-swap store, never a partial one, never
    // an error
    val oldRoot = new java.io.File(path + ".swap_old")
    assert(oldRoot.mkdirs())
    val victim = new java.io.File(path, "centroid_id=3")
    assert(victim.exists(), "fixture: cluster 3 must exist")
    assert(victim.renameTo(new java.io.File(oldRoot, "centroid_id=3")))
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === rowsBefore,
      "a read during the parked window must serve the old generation exactly")
    // readLive serves the same resolved view (and still masks tombstones)
    assert(AnnStore.readLive(spark, path, "vec_id")
      .select($"vec_id").as[Long].collect().toSet === rowsBefore.map(_._1))
    // ...and search over the resolved view still answers (probe route
    // touching the parked cluster included)
    val q = corpus.filter($"vec_id" === 3)
    val got = Similarity.ivfSearchAssigned(AnnStore.read(spark, path), "vec_id",
      cents, "cid", "embedding", q, k = 5, nProbe = 8).count()
    assert(got === 5)
    // crash recovery unchanged: recover restores the parked cluster
    AnnStore.recover(spark, path)
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === rowsBefore, "recovery must restore the parked cluster exactly")
    assert(!oldRoot.exists(), "recover must clear the scratch root")
    // a mid-swap crash AFTER tmp promotion (live twin exists) is readable:
    // the parked dir is the superseded copy, not missing data
    val old2 = new java.io.File(path + ".swap_old"); assert(old2.mkdirs())
    assert(new java.io.File(old2, "centroid_id=3").mkdirs())
    assert(AnnStore.read(spark, path).count() > 0,
      "a parked cluster WITH a live twin must not block reads")
    AnnStore.recover(spark, path)
  }

  test("append waits out a held fence and lands when it frees — the bounded queue") {
    // round-15 verdict item: the batch-class writer no longer fails on a
    // maintenance-held fence; it polls until the holder releases (or its
    // bound passes — the timeout path is exercised in the fence test
    // below). Deterministic: hold the fence by hand, watch the append
    // queue, release, watch it land.
    val path = buildStore()
    val before = AnnStore.read(spark, path).count()
    val batch = Similarity.ivfAssign(corpus.limit(5), "embedding", "vec_id",
      cents, "cid", keepVec = true)
    assert(new java.io.File(path + ".lock").createNewFile())
    @volatile var done = false
    @volatile var err: Throwable = null
    val th = new Thread(() =>
      try { AnnStore.append(batch, path, fenceWaitMs = 30000L); done = true }
      catch { case t: Throwable => err = t })
    th.start()
    Thread.sleep(700)
    assert(!done && err == null, "append must QUEUE while the fence is held")
    assert(new java.io.File(path + ".lock").delete())
    th.join(30000)
    assert(err === null, s"queued append must succeed once the fence frees: $err")
    assert(done)
    assert(AnnStore.read(spark, path).count() === before + 5,
      "the queued batch must land exactly once")
    assert(!new java.io.File(path + ".lock").exists(),
      "the queued writer must release its own fence")
  }

  test("writer fence: a held fence blocks compact/purge/recluster; breakLock clears; ops release it") {
    val path = buildStore()
    assert(new java.io.File(path + ".lock").createNewFile(),
      "fixture: simulate another writer's fence")
    Seq(
      () => AnnStore.compact(spark, path),
      () => AnnStore.purge(spark, path, "vec_id"),
      () => AnnStore.recluster(spark, path, "vec_id", k = 8),
      // round-13 advice: append/delete are fenced too — an append racing
      // a swap would land rows in a dir the swap deletes; a delete racing
      // purge would be discarded unapplied. Round 15: they QUEUE with a
      // bounded wait first — pass a tiny bound so the timeout path (wait
      // out the deadline, then the same loud raise) is what's exercised
      () => AnnStore.append(
        Similarity.ivfAssign(corpus.limit(1), "embedding", "vec_id", cents,
          "cid", keepVec = true), path, fenceWaitMs = 300L),
      () => AnnStore.delete(Seq(7L).toDF("vec_id"), "vec_id", path,
        fenceWaitMs = 300L)
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("writer fence"), e.getMessage)
    }
    assert(AnnStore.breakLock(spark, path), "breakLock clears a stale fence")
    assert(AnnStore.compact(spark, path) === Seq.empty,
      "after breakLock the writer proceeds (fresh store: nothing fragmented)")
    assert(!new java.io.File(path + ".lock").exists(),
      "the fence must release when the op completes")
  }

  test("recluster: drifted store retrains, rows preserved, quality recovered, search = trained-from-day-one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    // planted drift: the whole corpus ingested against TWO centroids
    val bad = corpus.filter($"vec_id" < 2).withColumnRenamed("vec_id", "cid")
    AnnStore.write(
      Similarity.ivfAssign(corpus, "embedding", "vec_id", bad, "cid", keepVec = true), path)
    // a deleted row must not survive the recluster rewrite
    AnnStore.delete(Seq(41L).toDF("vec_id"), "vec_id", path)
    val qualityBefore = AnnStore.read(spark, path).agg(avg($"sim")).head().getDouble(0)
    val cents = AnnStore.recluster(spark, path, "vec_id", k = 8, iters = 2)
    val store = AnnStore.read(spark, path)
    val qualityAfter = store.agg(avg($"sim")).head().getDouble(0)
    assert(qualityAfter > qualityBefore,
      s"recluster must recover assignment quality: $qualityBefore -> $qualityAfter")
    assert(store.select($"centroid_id".cast("long")).distinct().count() === 8,
      "the drifted 2-cluster layout must become the trained k=8 layout")
    assert(store.select("vec_id").as[Long].collect().toSet
      === corpus.select("vec_id").as[Long].collect().toSet - 41L,
      "every live row survives, the tombstoned one is gone")
    assert(AnnStore.tombstones(spark, path).isEmpty,
      "the sidecar swaps away with the old tree — recluster subsumes purge")
    // returned centroids === persisted sidecar === a from-scratch fit on
    // the live corpus (the store holds exactly the live rows)
    def centSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"centroid_id".cast("int"), $"c_v").as[(Int, Seq[Double])]
        .collect().toSet
    assert(centSet(AnnStore.centroids(spark, path)) === centSet(cents))
    val direct = Similarity.kmeansFit(
      corpus.filter($"vec_id" =!= 41L), "embedding", "vec_id", k = 8, iters = 2)
    assert(centSet(cents) === centSet(direct),
      "recluster trains the same deterministic Lloyd's as a from-scratch fit")
    // the answer carries no trace of the drifted ingest
    val query = corpus.filter($"vec_id" === 1)
    val fromStore = Similarity.ivfSearchAssigned(store, "vec_id",
      cents.withColumnRenamed("c_v", "embedding"), "centroid_id", "embedding",
      query, k = 10, nProbe = 2).as[(Long, Double)].collect().toSeq
    val fromScratch = Similarity.ivfSearch(corpus.filter($"vec_id" =!= 41L),
      "embedding", "vec_id", direct.withColumnRenamed("c_v", "embedding"),
      "centroid_id", query, k = 10, nProbe = 2).as[(Long, Double)].collect().toSeq
    assert(fromStore === fromScratch)
  }

  test("recluster preserves ingested metadata columns — filtered probes survive the rewrite") {
    // round-13 advice: recluster used to rebuild from only (id, v), so
    // metadata carried in by ivfAssign(metaCols=...) — the very column a
    // filteredSearch predicate pushes into the pruned scan — was deleted
    // with the old tree, unrecoverably
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    val tagged = corpus.withColumn("lang",
      when($"vec_id" % 3 === 0, "en").otherwise("de"))
    AnnStore.write(
      Similarity.ivfAssign(tagged, "embedding", "vec_id", cents, "cid",
        keepVec = true, metaCols = Seq("lang")), path)
    val langBefore = AnnStore.read(spark, path)
      .select($"vec_id", $"lang").as[(Long, String)].collect().toMap
    val newCents = AnnStore.recluster(spark, path, "vec_id", k = 8, iters = 2)
    val store = AnnStore.read(spark, path)
    assert(store.columns.contains("lang"),
      "recluster must carry non-derived columns into the new layout")
    assert(store.select($"vec_id", $"lang").as[(Long, String)].collect().toMap
      === langBefore, "metadata values must survive the rewrite unchanged")
    // the filtered serving path still works against the reclustered store
    val query = corpus.filter($"vec_id" === 1)
    val got = Similarity.filteredSearch(store, "vec_id",
      newCents.withColumnRenamed("c_v", "embedding"), "centroid_id", "embedding",
      $"lang" === "en", query, k = 5, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    val brute = Similarity.topK(
      tagged.filter($"lang" === "en"), "embedding", "vec_id", query, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(got === brute,
      "all-cluster filtered probe over the reclustered store must equal brute force over the filtered corpus")
  }

  test("reads survive EVERY cluster being parked at once (live side empty)") {
    // the extreme of the mid-swap window: a maintenance op that targets
    // all K clusters crashes after parking the last one — the resolved
    // read has no live partition dirs at all and must assemble the whole
    // store from the parked generation
    val path = buildStore()
    val rowsBefore = AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
    val oldRoot = new java.io.File(path + ".swap_old")
    assert(oldRoot.mkdirs())
    new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).foreach { d =>
        assert(d.renameTo(new java.io.File(oldRoot, d.getName)))
      }
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === rowsBefore, "an all-parked store must still serve its committed generation")
    AnnStore.recover(spark, path)
    assert(AnnStore.read(spark, path).count() === rowsBefore.size)
  }

  test("recluster crash windows: the marker decides promote vs restore; reads serve the committed generation in between") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    AnnStore.write(
      Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid", keepVec = true), path)
    AnnStore.recluster(spark, path, "vec_id", k = 8, iters = 2)
    val committed = AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
    // window: dst renamed away, scratch tree FULLY committed (it carries
    // the _centroids marker) -> a reader serves the committed scratch
    // tree (no previous generation survives in this state); recover
    // promotes it. (A reclustered store root IS a committed scratch
    // tree, so renaming it simulates the window.)
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".recluster_tmp")))
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === committed, "round-14: the committed generation is served, never an error")
    AnnStore.recover(spark, path)
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === committed, "a committed scratch tree must be promoted")
    assert(!new java.io.File(path + ".recluster_tmp").exists())
    // window: dst parked in .recluster_old, scratch UNCOMMITTED (no
    // marker) — the live recluster's actual mid-swap state: readers
    // serve the parked PREVIOUS generation (centroids sidecar included),
    // recovery restores it and drops the partial tree
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".recluster_old")))
    assert(new java.io.File(path + ".recluster_tmp", "centroid_id=0").mkdirs())
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === committed, "mid-recluster reads serve the parked previous generation")
    assert(AnnStore.centroids(spark, path).count() === 8,
      "the served generation's centroid sidecar resolves with it")
    AnnStore.recover(spark, path)
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === committed, "an uncommitted scratch tree must be abandoned, the original restored")
    assert(!new java.io.File(path + ".recluster_tmp").exists()
      && !new java.io.File(path + ".recluster_old").exists())
    // window: live root beside leftover scratch — a COMMITTED scratch
    // tree (marker present) missing a cluster, and a stale park missing
    // another: with a live root neither may be promoted or restored;
    // recover drops both and the data is untouched
    Seq(".recluster_tmp" -> "centroid_id=0", ".recluster_old" -> "centroid_id=1")
      .foreach { case (suffix, dropped) =>
        val copy = new java.io.File(path + suffix)
        org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(path), copy)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy, dropped))
      }
    AnnStore.recover(spark, path)
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === committed, "leftover scratch beside a live root must never replace it")
    assert(!new java.io.File(path + ".recluster_tmp").exists()
      && !new java.io.File(path + ".recluster_old").exists())
  }

  test("mid-recluster reads keep masking the old generation's tombstones") {
    // data and tombstones must resolve to the SAME generation: the
    // parked old tree still holds pre-recluster tombstones, and serving
    // its data without its sidecar would resurrect a deleted row
    val path = buildStore()
    AnnStore.delete(Seq(41L).toDF("vec_id"), "vec_id", path)
    assert(!AnnStore.readLive(spark, path, "vec_id")
      .select($"vec_id").as[Long].collect().toSet.contains(41L))
    // park the whole store as recluster would mid-swap
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".recluster_old")))
    val live = AnnStore.readLive(spark, path, "vec_id")
      .select($"vec_id").as[Long].collect().toSet
    assert(!live.contains(41L),
      "the old generation's tombstones must mask its data while parked")
    assert(live.nonEmpty)
    AnnStore.recover(spark, path)
  }

  test("doubly-crashed store: parked per-cluster swap under a parked recluster_old still serves every cluster") {
    // round-15 ADVICE: a per-cluster swap crashes first (cluster parked
    // beside the then-live root), THEN a whole-store recluster parks the
    // generation itself. The sibling scratch dir does NOT travel with the
    // rename, so the resolved read must probe the ORIGINAL base's
    // scratch while serving `.recluster_old` — or those clusters are
    // silently absent.
    val path = buildStore()
    val rowsBefore = AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
    val oldRoot = new java.io.File(path + ".swap_old")
    assert(oldRoot.mkdirs())
    assert(new java.io.File(path, "centroid_id=3")
      .renameTo(new java.io.File(oldRoot, "centroid_id=3")))
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".recluster_old")))
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === rowsBefore,
      "the original base's sibling scratch must resolve with the parked generation")
    // recover heals both layers: restore the generation, then the cluster
    AnnStore.recover(spark, path)
    assert(AnnStore.read(spark, path)
      .select($"vec_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      === rowsBefore)
    assert(!new java.io.File(path + ".swap_old").exists()
      && !new java.io.File(path + ".recluster_old").exists())
  }

  test("delete canonicalizes tombstone id types: INT and BIGINT batches land as one schema") {
    val path = buildStore()
    // first batch arrives typed INT, second BIGINT — without the cast the
    // sidecar holds mixed-schema parquet and the next read can fail/widen
    AnnStore.delete(Seq(3, 5).toDF("vec_id").select($"vec_id".cast("int").as("vec_id")),
      "vec_id", path)
    AnnStore.delete(Seq(7L).toDF("vec_id"), "vec_id", path)
    val ts = AnnStore.tombstones(spark, path).get
    assert(ts.schema("vec_id").dataType ===
      AnnStore.read(spark, path).schema("vec_id").dataType,
      "tombstone id type must be the store's id type")
    assert(ts.as[Long].collect().toSet === Set(3L, 5L, 7L))
    val live = AnnStore.readLive(spark, path, "vec_id")
      .select($"vec_id").as[Long].collect().toSet
    assert(!live.exists(Set(3L, 5L, 7L)), "both batches' ids must mask")
    // a delete against a column the store doesn't carry raises up front
    val e = intercept[IllegalArgumentException] {
      AnnStore.delete(Seq(1L).toDF("nope"), "nope", path)
    }
    assert(e.getMessage.contains("no column"))
  }

  test("purging every row of a cluster removes its directory; unknown-id deletes are no-ops") {
    val path = buildStore()
    val store = AnnStore.read(spark, path)
    // fully tombstone one cluster + delete an id that was never ingested
    val victim = store.select($"centroid_id".cast("long")).as[Long].head()
    val victimIds = store.filter($"centroid_id" === victim)
      .select("vec_id").as[Long].collect().toSet
    AnnStore.delete(store.filter($"centroid_id" === victim).select("vec_id"), "vec_id", path)
    AnnStore.delete(Seq(999999999L).toDF("vec_id"), "vec_id", path)
    val purged = AnnStore.purge(spark, path, "vec_id")
    assert(purged === Seq(victim), "only the victim cluster holds tombstoned rows")
    assert(!new java.io.File(path, s"centroid_id=$victim").exists(),
      "a fully-purged cluster's directory must disappear, not linger empty")
    val left = AnnStore.readLive(spark, path, "vec_id").select("vec_id").as[Long].collect().toSet
    assert(left.intersect(victimIds) === Set.empty)
    assert(left.nonEmpty, "other clusters survive")
    // the unknown id's tombstone purged away with the batch: sidecar clear
    assert(AnnStore.tombstones(spark, path).isEmpty)
  }

  // ---- merge (shard consolidation) ----

  private def buildShard(pred: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    AnnStore.write(
      Similarity.ivfAssign(corpus.filter(pred), "embedding", "vec_id", cents, "cid",
        keepVec = true),
      path)
    path
  }

  test("merge: shard-built stores consolidate by file moves — search = full ingest, dst files untouched, src gone") {
    val dst = buildShard(pmod($"vec_id", lit(2)) === 0)
    val src = buildShard(pmod($"vec_id", lit(2)) === 1)
    def filesIn(path: String, cid: Long): Set[String] = {
      val f = new java.io.File(path, s"centroid_id=$cid")
      if (f.exists()) f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      else Set.empty
    }
    val dstBefore = (0L until 8L).map(c => c -> filesIn(dst, c)).toMap
    val srcFiles = (0L until 8L).map(c => filesIn(src, c)).reduce(_ ++ _)
    val moved = AnnStore.merge(spark, src, dst)
    assert(moved.nonEmpty)
    assert(!new java.io.File(src).exists(), "src root must drop after the merge")
    val dstAfter = (0L until 8L).map(c => c -> filesIn(dst, c)).toMap
    (0L until 8L).foreach { c =>
      assert(dstBefore(c).subsetOf(dstAfter(c)),
        s"merge must never rewrite or drop dst partition $c's existing files")
    }
    assert(srcFiles.subsetOf(dstAfter.values.reduce(_ ++ _)),
      "every src file must now live under dst (by its original name)")
    val query = corpus.filter($"vec_id" === 1)
    val merged = Similarity.ivfSearchAssigned(AnnStore.read(spark, dst), "vec_id",
      cents, "cid", "embedding", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    val full = Similarity.ivfSearch(corpus, "embedding", "vec_id",
      cents, "cid", query, k = 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(merged === full,
      "build-in-shards-then-merge must equal having ingested everything up front")
  }

  test("merge: src's pending tombstones travel — the merged store still masks them") {
    val dst = buildShard(pmod($"vec_id", lit(2)) === 0)
    val src = buildShard(pmod($"vec_id", lit(2)) === 1)
    val victim = AnnStore.read(spark, src).select("vec_id").as[Long].head()
    AnnStore.delete(Seq(victim).toDF("vec_id"), "vec_id", src)
    AnnStore.merge(spark, src, dst)
    val live = AnnStore.readLive(spark, dst, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(!live.contains(victim), "src's tombstone must mask in the merged store")
    assert(live.nonEmpty)
  }

  test("merge: a crashed merge re-runs to completion (files are never lost or duplicated)") {
    val dst = buildShard(pmod($"vec_id", lit(2)) === 0)
    val src = buildShard(pmod($"vec_id", lit(2)) === 1)
    val total = AnnStore.read(spark, src).count() + AnnStore.read(spark, dst).count()
    // simulate a crash mid-merge: one src cluster's files already moved
    val srcCluster = new java.io.File(src).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id=")).head
    val dstCluster = new java.io.File(dst, srcCluster.getName)
    dstCluster.mkdirs()
    srcCluster.listFiles().filter(_.isFile).foreach { f =>
      assert(f.renameTo(new java.io.File(dstCluster, f.getName)))
    }
    AnnStore.merge(spark, src, dst)
    assert(!new java.io.File(src).exists())
    assert(AnnStore.read(spark, dst).count() === total,
      "re-run must complete the move without losing or duplicating rows")
  }

  test("merge: mismatched _centroids sidecars raise; mismatched data schemas raise; self-merge raises") {
    val dst = buildShard(pmod($"vec_id", lit(2)) === 0)
    val src = buildShard(pmod($"vec_id", lit(2)) === 1)
    Seq((0L, Seq(1.0, 2.0))).toDF("centroid_id", "c_v")
      .write.parquet(dst + "/_centroids")
    Seq((0L, Seq(9.0, 9.0))).toDF("centroid_id", "c_v")
      .write.parquet(src + "/_centroids")
    val e1 = intercept[IllegalArgumentException] { AnnStore.merge(spark, src, dst) }
    assert(e1.getMessage.contains("_centroids"))
    val e2 = intercept[IllegalArgumentException] { AnnStore.merge(spark, dst, dst) }
    assert(e2.getMessage.contains("same store"))
    // a shard whose data schema drifted (no `sim` column) must not merge
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val drifted = dir.toString + "/store"
    AnnStore.write(
      Similarity.ivfAssign(corpus.filter(pmod($"vec_id", lit(2)) === 1), "embedding",
        "vec_id", cents, "cid", keepVec = true).drop("sim"),
      drifted)
    val e3 = intercept[IllegalArgumentException] { AnnStore.merge(spark, drifted, dst) }
    assert(e3.getMessage.contains("schema mismatch"))
  }

  test("merge: either store's held writer fence blocks it") {
    val dst = buildShard(pmod($"vec_id", lit(2)) === 0)
    val src = buildShard(pmod($"vec_id", lit(2)) === 1)
    new java.io.File(src + ".lock").createNewFile()
    val e = intercept[IllegalStateException] { AnnStore.merge(spark, src, dst) }
    assert(e.getMessage.contains("writer fence"))
    assert(AnnStore.breakLock(spark, src))
    // dst's fence blocks too, and merge still completes after clearing
    new java.io.File(dst + ".lock").createNewFile()
    intercept[IllegalStateException] { AnnStore.merge(spark, src, dst) }
    assert(AnnStore.breakLock(spark, dst))
    AnnStore.merge(spark, src, dst)
    assert(!new java.io.File(src).exists())
  }

  // ---- filtered search (metadata predicate pushed into the pruned scan) ----

  test("filteredSearch: pre-filter semantics, predicate pushed beside the partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec").toFile
    storeDirs += dir
    val path = dir.toString + "/store"
    // label rides ivfAssign's zero-shuffle fold into the partition files
    AnnStore.write(
      Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid",
        keepVec = true, metaCols = Seq("label")),
      path)
    assert(AnnStore.read(spark, path).columns.contains("label"))
    val qv = corpus.filter($"vec_id" === 1)
      .select(transform($"embedding", _.cast("double")))
      .as[Seq[Double]].head()
    val filtered = Similarity.filteredSearch(AnnStore.read(spark, path), "vec_id",
      cents, "cid", "embedding", $"label" === 3, qv, k = 10, nProbe = 2)
    filtered.collect()
    // plan: the label predicate must reach the parquet scan as a pushed
    // filter, ALONGSIDE the static probe partition filter — the only
    // bytes read are the probed clusters' predicate-surviving row groups
    val scans = storeScan(filtered, path)
    assert(scans.nonEmpty, "expected a parquet scan of the store")
    assert(scans.head.partitionFilters.nonEmpty,
      "probe route should plan as a partition filter")
    assert(scans.head.metadata("PushedFilters").contains("label"),
      s"label predicate should push into the scan: ${scans.head.metadata("PushedFilters")}")
    // semantics: top-k OF the filtered set within the probed clusters —
    // replayed via the unfiltered assignment + an explicit filter…
    val probe = Similarity.probeRoute(cents, "cid", "embedding", qv, nProbe = 2)
    val expected = Similarity.ivfAssign(corpus, "embedding", "vec_id", cents, "cid",
        keepVec = true, metaCols = Seq("label"))
      .filter($"centroid_id".isin(probe: _*) && $"label" === 3)
      .select($"vec_id", org.apache.spark.sql.functions.round(
        Similarity.cosine($"v", typedlit(qv)), 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    val got = filtered.as[(Long, Double)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // …and every survivor genuinely carries the label (pre-filter, so the
    // result can be DEEPER than any post-filter of the unfiltered top-k)
    val labels = AnnStore.read(spark, path)
      .filter($"vec_id".isin(got.map(_._1): _*))
      .select("label").distinct().as[Int].collect().toSet
    assert(labels === Set(3))
    val postFilter = Similarity.ivfSearchAssigned(AnnStore.read(spark, path), "vec_id",
        cents, "cid", "embedding", qv, k = 10, nProbe = 2)
      .join(AnnStore.read(spark, path).filter($"label" === 3).select("vec_id"), "vec_id")
      .count()
    assert(postFilter <= got.size,
      "post-filtering an unfiltered top-k can only lose rows vs pre-filtering")
  }

  test("adaptiveNProbe: monotone in selectivity, clamped to [base, K]") {
    assert(Similarity.adaptiveNProbe(1000, 1000, 2, 32) === 2,
      "selectivity 1 keeps the unfiltered dial")
    assert(Similarity.adaptiveNProbe(1000, 100, 2, 32) === 20,
      "selectivity 1/10 scales the probed mass by 10")
    assert(Similarity.adaptiveNProbe(1000, 10, 2, 32) === 32,
      "a very rare predicate clamps to all K clusters (exhaustive)")
    assert(Similarity.adaptiveNProbe(1000, 999, 2, 32) === 3, "ceil, never floor")
    intercept[IllegalArgumentException](Similarity.adaptiveNProbe(1000, 0, 2, 32))
  }

  test("filteredSearchAdaptive: filtered recall@10 stays >= the unfiltered target as selectivity drops") {
    // K=32 trained centroids: the base dial (nProbe=2) probes 1/16 of
    // the corpus, so a selective predicate genuinely starves a
    // fixed-dial filtered search — the failure mode the measured dial
    // exists to close
    val cents32 = Similarity.kmeansFit(corpus, "embedding", "vec_id", k = 32, iters = 2)
      .withColumnRenamed("c_v", "embedding")
    val assigned = Similarity.ivfAssign(corpus, "embedding", "vec_id",
      cents32, "centroid_id", keepVec = true, metaCols = Seq("label"))
      .localCheckpoint()
    val queryIds = Seq(11L, 23L, 37L, 41L, 53L)
    def qv(id: Long) = corpus.filter($"vec_id" === id)
      .select(transform($"embedding", _.cast("double"))).as[Seq[Double]].head()
    def recallOf(got: Seq[Long], pred: org.apache.spark.sql.Column, q: Seq[Double]): Double = {
      val truth = Similarity.topK(corpus.filter(pred), "embedding", "vec_id", q, 10)
        .select($"vec_id").as[Long].collect().toSet
      got.count(truth) / 10.0
    }
    // the unfiltered target the dial must hold: measured recall@10 of
    // the base nProbe=2 search over the whole corpus
    val queries = corpus.filter($"vec_id".isin(queryIds: _*))
    val unfilteredTarget = Similarity.annRecall(corpus, "embedding", "vec_id",
        cents32, "centroid_id", queries, "vec_id", k = 10, nProbe = 2)
      .agg(avg($"recall")).head().getDouble(0)
    assert(unfilteredTarget > 0.5 && unfilteredTarget < 1.0,
      s"fixture must make nProbe=2 lossy but usable, got $unfilteredTarget")
    // two planted selectivities: ~9% (one label) and ~3% (label ∩ id slice)
    for (pred <- Seq($"label" === 3, $"label" === 3 && $"vec_id" % 3 === 0)) {
      val recalls = queryIds.map { id =>
        val got = Similarity.filteredSearchAdaptive(assigned, "vec_id",
            cents32, "centroid_id", "embedding", pred, qv(id), k = 10,
            baseNProbe = 2)
          .select($"vec_id").as[Long].collect().toSeq
        recallOf(got, pred, qv(id))
      }
      val adaptive = recalls.sum / recalls.size
      assert(adaptive >= unfilteredTarget,
        s"adaptive filtered recall $adaptive must hold the unfiltered target $unfilteredTarget for $pred")
      // the fixed base dial over the same filtered corpus can only match
      // or trail — the gap is what the measured dial closes
      val fixedRecalls = queryIds.map { id =>
        val got = Similarity.filteredSearch(assigned, "vec_id", cents32,
            "centroid_id", "embedding", pred, qv(id), k = 10, nProbe = 2)
          .select($"vec_id").as[Long].collect().toSeq
        recallOf(got, pred, qv(id))
      }
      assert(fixedRecalls.sum / fixedRecalls.size <= adaptive,
        "the fixed dial must never beat the adaptive one on its own corpus")
    }
  }
}
