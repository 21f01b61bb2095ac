package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup}
import graft.functions.TextFunctions.canonicalizeUrl

/** Seeded-random property tests for the invariants with the widest blast
  * radius: the two connected-components regimes must agree on ANY graph,
  * key packing must invert on ANY in-range input, and URL
  * canonicalization must be idempotent (a canonical form that keeps
  * moving is not canonical). Seeds are fixed — failures reproduce. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("fast-path and distributed components agree on random graphs (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      // random edges over sparse ids (collisions, self-loops, dups likely)
      val edges = (0 until n).map { _ =>
        (rnd.nextInt(25).toLong * 7, rnd.nextInt(25).toLong * 7)
      }.toDF("id_a", "id_b")
      val fast = Components.run(edges, "id_a", "id_b")
      val dist = Components.run(edges, "id_a", "id_b", smallGraphLimit = 0)
      assert(fast.converged && fast.rounds === 0)
      assert(dist.converged)
      val f = fast.labels.as[(Long, Long)].collect().toSet
      val g = dist.labels.as[(Long, Long)].collect().toSet
      assert(f === g, s"seed=$seed: regimes disagree")
      // comp is a member of its own component and the minimum label
      val byComp = f.groupBy(_._2)
      byComp.foreach { case (c, members) =>
        assert(members.map(_._1).min === c, s"seed=$seed comp=$c is not the min member")
      }
    }
  }

  test("packChunkKey inverts on 10k random in-range inputs incl. the boundaries") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 10000).map { _ =>
      (math.abs(rnd.nextLong()) % Dedup.ChunkKeyMaxDoc, rnd.nextInt(1 << 20).toLong)
    } ++ Seq((0L, 0L), (Dedup.ChunkKeyMaxDoc, Dedup.ChunkKeyMaxIdx),
      (Dedup.ChunkKeyMaxDoc, 0L), (0L, Dedup.ChunkKeyMaxIdx))
    val df = cases.toDF("doc", "idx")
    val bad = df.select(Dedup.packChunkKey($"doc", $"idx").as("k"), $"doc", $"idx")
      .filter(Dedup.chunkKeyDoc($"k") =!= $"doc" || Dedup.chunkKeyIdx($"k") =!= $"idx")
    assert(bad.isEmpty, "pack/unpack must invert on every in-range input")
    // and keys are unique across all distinct inputs
    val dfd = df.distinct()
    assert(dfd.select(Dedup.packChunkKey($"doc", $"idx")).distinct().count() === dfd.count())
  }

  test("canonicalizeUrl is idempotent over randomized URL shapes") {
    val rnd = new scala.util.Random(7)
    val schemes = Seq("http://", "https://", "HTTP://", "")
    val hosts = Seq("www.Ex.com", "ex.com", "WWW.EX.COM", "wwwx.org", "a.b.c.de",
      "www.www.Ex.com")
    val paths = Seq("", "/p", "/P/Q/", "/p?utm=1&x=2", "/p#frag", "/?y=3", "/p/?q#f",
      "/p//", "/p///")
    val urls = (0 until 500).map { _ =>
      schemes(rnd.nextInt(schemes.length)) +
        hosts(rnd.nextInt(hosts.length)) +
        paths(rnd.nextInt(paths.length))
    }.toDF("url")
    val bad = urls.select(canonicalizeUrl($"url").as("c1"))
      .select($"c1", canonicalizeUrl($"c1").as("c2"))
      .filter($"c1" =!= $"c2")
    assert(bad.isEmpty,
      "canonical form must be a fixpoint: " + bad.collect().take(3).mkString(", "))
  }

  test("reservoir equals the naive hash-rank window on random grouped data (5 seeds)") {
    import org.apache.spark.sql.expressions.Window
    import graft.etl.Sampling
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 200 + rnd.nextInt(300)
      val k = 1 + rnd.nextInt(8)
      // dup ids within groups likely; group count varies per seed
      val rows = (0 until n).map { _ =>
        (s"g${rnd.nextInt(1 + rnd.nextInt(6))}", rnd.nextInt(80).toLong)
      }.toDF("g", "id")
      val got = Sampling.reservoirByGroup(rows, Seq("g"), "id", k)
        .collect().map(_.toString).sorted.toSeq
      val w = Window.partitionBy($"g").orderBy(Sampling.reservoirKey($"id"))
      val naive = rows.distinct()
        .withColumn("sample_rank", row_number().over(w))
        .filter($"sample_rank" <= k)
        .select($"g", $"sample_rank", $"id")
        .collect().map(_.toString).sorted.toSeq
      assert(got === naive, s"seed=$seed k=$k: bounded-state and window disagree")
    }
  }

  test("SRP-LSH: random same-length vectors — reported pairs are always sound (3 seeds)") {
    import graft.operators.RandomProjection
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val dims = 64
      val vecs = (0 until 60).map { i =>
        (i.toLong, Seq.fill(dims)(rnd.nextDouble() * 2 - 1))
      }
      val df = vecs.toDF("vec_id", "v")
      val tau = 0.3 // low threshold: random pairs can land above it
      val got = RandomProjection.rpLshPairs(df, "v", "vec_id", dims, tau)
        .as[(Long, Long, Double)].collect()
      val byId = vecs.toMap
      def cos(a: Seq[Double], b: Seq[Double]) = {
        val d = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      got.foreach { case (a, b, c) =>
        assert(a < b, s"seed=$seed: pair order violated")
        val truth = cos(byId(a), byId(b))
        assert(truth >= tau && math.abs(truth - c) < 1e-5,
          s"seed=$seed: unsound pair ($a,$b) at $c, truth $truth")
      }
    }
  }

  test("removeBoilerplateLines is identity when no line crosses the threshold (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 13)
      // per-doc UNIQUE lines (salted by doc id) -> no line can reach any
      // minDocs >= 2, so reconstruction must reproduce every doc exactly,
      // whatever the line count, ordering, or embedded empty lines
      val docs = (1L to 20L).map { id =>
        val n = 1 + rnd.nextInt(6)
        val lines = (0 until n).map { j =>
          if (rnd.nextInt(4) == 0) "" else s"doc$id line$j ${rnd.nextInt(100)}"
        }
        (id, lines.mkString("\n"))
      }.toDF("doc_id", "text")
      val out = Dedup.removeBoilerplateLines(docs, "text", "doc_id", minDocs = 2)
        .select($"doc_id", $"n_removed", $"clean_text")
        .as[(Long, Long, String)].collect()
      val orig = docs.as[(Long, String)].collect().toMap
      out.foreach { case (id, removed, clean) =>
        assert(removed === 0L, s"seed=$seed doc=$id: unique lines must all survive")
        assert(clean === orig(id), s"seed=$seed doc=$id: reconstruction must be exact")
      }
      assert(out.length === orig.size)
    }
  }

  test("epochShuffle is a bijection onto dense shard positions for random id sets (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 29)
      val ids = (0 until 200).map(_ => rnd.nextInt(100000).toLong).distinct
      val out = graft.etl.Sampling.epochShuffle(
          ids.toDF("doc_id"), "doc_id", s"seed-$seed", 1 + rnd.nextInt(7))
        .as[(Long, Long, Long)].collect()
      assert(out.map(_._1).toSet === ids.toSet, s"seed=$seed: every id addressed once")
      out.groupBy(_._2).foreach { case (shard, rows) =>
        assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
          s"seed=$seed shard=$shard: positions must be dense 1..n")
      }
    }
  }

  test("setJaccardPairs equals brute force on random set families at any partitioning (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 53)
      // small element universe => real overlap structure at every threshold
      val universe = ('a' to 'j').map(_.toString)
      val fams = (0 until 40).map { i =>
        (i.toLong, rnd.shuffle(universe).take(1 + rnd.nextInt(6)))
      }
      val tau = Seq(0.3, 0.5, 0.8)(rnd.nextInt(3))
      val brute = (for {
        (ia, sa) <- fams.map { case (i, s) => (i, s.toSet) }
        (ib, sb) <- fams.map { case (i, s) => (i, s.toSet) } if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= tau
      } yield (ia, ib, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      for (parts <- Seq(1, 7)) {
        val got = Dedup.setJaccardPairs(
            fams.toDF("id", "elems").repartition(parts), "elems", "id", tau)
          .as[(Long, Long, Double)].collect().toSet
        assert(got === brute, s"seed=$seed tau=$tau parts=$parts")
      }
    }
  }
}
