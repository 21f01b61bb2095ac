package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.{AnnStore, BandStore}
import graft.operators.Similarity
import ScaleCurve.{blowUp, timed}

/** The store lifecycles' 10×-above-sf0.1 point (round-15 verdict item):
  * the bench's heaviest keys run the band/ANN store
  * write → append → compact → delete → purge → probe/search cycle at
  * sf0.1, and `ScaleCurveBand` prices write+probe growth — but nothing
  * recorded STAGE walls and FILE COUNTS above sf0.1, and file-count /
  * footer-overhead effects (the round-13 2k-file lesson: a 32-task write
  * leaves up to 32 files per bucket, and probe cost became footer reads,
  * not data) are exactly what another 10× exposes. This tool runs the
  * FULL lifecycle on ×1 and ×10 blow-ups of the sf0.1 corpus for BOTH
  * stores and records every stage's wall plus the parquet file count
  * after write / append / compact — the numbers an operator capacity-plans
  * with.
  *
  * Blow-up discipline: documents get the `ScaleCurve.blowUp` Caesar substitution
  * (copies shingle-disjoint — no synthetic cross-copy pair mass);
  * embeddings get a per-copy array ROTATION (norm-preserving, distinct
  * vectors, same dimensionality — cluster geometry comparable across
  * factors, centroids held FIXED so assignment cost is the variable).
  * The probe batch / query is FIXED across factors, so probe-side growth
  * is index overhead, not workload growth.
  *
  * Asserted: row accounting through every stage (append adds exactly its
  * batch, purge removes exactly the tombstoned ids), compact collapses to
  * the per-bucket file bound, and the probe/search stays ROUTE-BOUNDED —
  * its wall may not grow remotely like the 10× corpus (bound ≤3×; the
  * measured growth is ~1×, see the committed curve log).
  *
  * The first committed run of this curve (pre-alignment rows in the
  * curve log) measured writes committing task-count ×
  * bucket-count files (~4k) — the finding that motivated the round-15
  * bucket-aligned writers; under them the write-time counts it records
  * EQUAL the compacted steady state.
  */
object ScaleCurveStore {

  private def countFiles(path: String): Int = {
    def walk(x: java.io.File): Int =
      if (x.isDirectory) Option(x.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (x.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path))
  }

  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark
    val par = spark.sparkContext.defaultParallelism
    val root = sc.scratch

    // ---------- BandStore ----------
    val docsBase = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val probeBatch = docsBase.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val histBase = docsBase.filter(col("doc_id") % 10 > 1).select(col("doc_id"), col("text"))
    val appBase = docsBase.filter(col("doc_id") % 10 === 1).select(col("doc_id"), col("text"))

    var bandProbe = Map[Int, Double]()
    Seq(1, 10).foreach { f =>
      val hist = blowUp(histBase, f).repartition(par).localCheckpoint()
      val app = blowUp(appBase, f).repartition(par).localCheckpoint()
      val nHist = hist.count(); val nApp = app.count()
      val path = s"$root/band_x$f"
      val (_, wWrite) = timed(BandStore.write(hist, "text", "doc_id", path))
      val filesWrite = countFiles(path)
      val (_, wAppend) = timed(BandStore.append(app, "text", "doc_id", path))
      val filesAppend = countFiles(path)
      val afterAppend = BandStore.sketchTable(spark, path, "doc_id").count()
      require(afterAppend == nHist + nApp,
        s"band x$f: append accounting — $afterAppend rows vs ${nHist + nApp} written")
      val (_, wCompact) = timed(BandStore.compact(spark, path))
      val filesCompact = countFiles(path)
      require(filesCompact < filesAppend,
        s"band x$f: compact did not shrink files ($filesAppend -> $filesCompact)")
      // tombstone ~1% of history, then rewrite it out
      val del = hist.select(col("doc_id")).filter(col("doc_id") % 97 === 0)
      val nDel = del.count()
      val (_, wDelete) = timed(BandStore.delete(del, "doc_id", path))
      val (_, wPurge) = timed { BandStore.purge(spark, path); () }
      val afterPurge = BandStore.sketchTable(spark, path, "doc_id").count()
      require(afterPurge == nHist + nApp - nDel,
        s"band x$f: purge accounting — $afterPurge rows vs ${nHist + nApp - nDel}")
      val (nPairs, wProbe) = timed {
        val out = BandStore.probe(spark, path, probeBatch,
          "text", "doc_id", 0.8)
        val n = out.count()
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(out)
        n
      }
      bandProbe += f -> wProbe
      sc.emit(f"""{"dataset":"sf0.1x$f","op":"store_lifecycle","store":"band","n_rows":${nHist + nApp},"write_sec":$wWrite%.2f,"append_sec":$wAppend%.2f,"compact_sec":$wCompact%.2f,"delete_sec":$wDelete%.2f,"purge_sec":$wPurge%.2f,"probe_sec":$wProbe%.2f,"files_write":$filesWrite,"files_append":$filesAppend,"files_compact":$filesCompact,"pairs":$nPairs}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(hist)
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(app)
    }
    require(bandProbe(10) <= 3.0 * math.max(0.5, bandProbe(1)),
      s"band probe not route-bounded: ${bandProbe(1)} s -> ${bandProbe(10)} s at x10")

    // ---------- AnnStore ----------
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val dim = embBase.select(size(col("embedding"))).head().getInt(0)
    require(dim > 10, s"rotation blow-up needs dim > 10, got $dim")
    def blowUpEmb(factor: Int): DataFrame =
      (0 until factor).map { k =>
        val rot = if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), 1, k))
        embBase.select((col("vec_id") * factor + k).as("vec_id"), rot.as("embedding"))
      }.reduce(_ unionByName _)
    val cents = embBase.filter(col("vec_id") < 16)
      .withColumnRenamed("vec_id", "cid").select(col("cid"), col("embedding"))
      .localCheckpoint()
    val query = embBase.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq

    var annSearch = Map[Int, Double]()
    Seq(1, 10).foreach { f =>
      val corpus = blowUpEmb(f).repartition(par).localCheckpoint()
      val mainPart = corpus.filter(col("vec_id") % 10 =!= 1)
      val appPart = corpus.filter(col("vec_id") % 10 === 1)
      val nMain = mainPart.count(); val nApp = appPart.count()
      val path = s"$root/ann_x$f"
      val (_, wWrite) = timed(AnnStore.write(
        Similarity.ivfAssign(mainPart, "embedding", "vec_id", cents, "cid",
          keepVec = true), path))
      val filesWrite = countFiles(path)
      val (_, wAppend) = timed(AnnStore.append(
        Similarity.ivfAssign(appPart, "embedding", "vec_id", cents, "cid",
          keepVec = true), path))
      val filesAppend = countFiles(path)
      require(AnnStore.read(spark, path).count() == nMain + nApp,
        s"ann x$f: append accounting")
      val (_, wCompact) = timed { AnnStore.compact(spark, path); () }
      val filesCompact = countFiles(path)
      require(filesCompact < filesAppend,
        s"ann x$f: compact did not shrink files ($filesAppend -> $filesCompact)")
      val del = corpus.select(col("vec_id")).filter(col("vec_id") % 97 === 0)
      val nDel = del.count()
      val (_, wDelete) = timed(AnnStore.delete(del, "vec_id", path))
      val (_, wPurge) = timed { AnnStore.purge(spark, path, "vec_id"); () }
      require(AnnStore.read(spark, path).count() == nMain + nApp - nDel,
        s"ann x$f: purge accounting")
      val (nHits, wSearch) = timed {
        Similarity.ivfSearchAssigned(AnnStore.read(spark, path), "vec_id",
          cents, "cid", "embedding", query, k = 10, nProbe = 2).count()
      }
      require(nHits == 10, s"ann x$f: search returned $nHits of k=10")
      annSearch += f -> wSearch
      sc.emit(f"""{"dataset":"sf0.1x$f","op":"store_lifecycle","store":"ann","n_rows":${nMain + nApp},"write_sec":$wWrite%.2f,"append_sec":$wAppend%.2f,"compact_sec":$wCompact%.2f,"delete_sec":$wDelete%.2f,"purge_sec":$wPurge%.2f,"search_sec":$wSearch%.2f,"files_write":$filesWrite,"files_append":$filesAppend,"files_compact":$filesCompact}""")
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(corpus)
    }
    require(annSearch(10) <= 3.0 * math.max(0.5, annSearch(1)),
      s"ann search not route-bounded: ${annSearch(1)} s -> ${annSearch(10)} s at x10")

  }
}
