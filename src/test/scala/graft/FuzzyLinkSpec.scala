package graft

import org.apache.spark.sql.functions._
import graft.etl.FuzzyLink

class FuzzyLinkSpec extends SparkSpec {
  import spark.implicits._

  private def levRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // every ed<=1 relation shape: substitution (kitten/kitten->bitten),
  // deletion/insertion (kitten/kittn, kitten/kittens), first/last-char
  // edits, a distance-2 pair that must NOT link (mitten->bitten is 1 but
  // bottle/battle vs bottles/battles chains), and exact duplicates (same
  // name twice — distinct() must keep them out of the pair set)
  private val names = Seq(
    "kitten", "bitten", "kittn", "kittens", "itten", "kitter",
    "mitten", "mittens", "bottle", "battle", "bottles", "cat", "at",
    "cart", "dog", "dog", "xyzzy").toDF("name")

  test("deletion-neighborhood linkage equals brute-force all-pairs at ed <= 1") {
    val got = FuzzyLink.editNeighbors(names, "name")
      .as[(String, String, Int)].collect().toSet
    val distinct = names.as[String].collect().distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b
      d = levRef(a, b) if d <= 1
    } yield (a, b, d)).toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture must produce pairs")
    // the fixture must exercise substitution, deletion AND insertion
    // pairings (length-equal and length±1) or the soundness claim is
    // untested
    assert(want.exists { case (a, b, _) => a.length == b.length })
    assert(want.exists { case (a, b, _) => a.length != b.length })
  }

  test("distance-2 names never link; identical names never self-pair") {
    val got = FuzzyLink.editNeighbors(names, "name")
      .as[(String, String, Int)].collect()
    got.foreach { case (a, b, d) =>
      assert(a < b, s"pair order: $a !< $b")
      assert(d == levRef(a, b) && d <= 1, s"($a,$b,$d)")
    }
    // bottle/battles is ed 2 — blocking may or may not candidate it, the
    // verify must kill it either way
    assert(!got.exists(p => p._1 == "battle" && p._2 == "bottles"))
    assert(got.count(p => p._1 == "dog" || p._2 == "dog") == 0,
      "duplicate 'dog' rows must not manufacture a self-pair")
  }

  test("nulls are dropped, not linked") {
    val withNull = names.unionByName(Seq(Option.empty[String]).toDF("name"))
    val got = FuzzyLink.editNeighbors(withNull, "name")
      .as[(String, String, Int)].collect().toSet
    val base = FuzzyLink.editNeighbors(names, "name")
      .as[(String, String, Int)].collect().toSet
    assert(got === base)
  }

  test("maxDist = 2 equals brute-force all-pairs at ed <= 2") {
    // the fixture's distance-2 shapes (battle/bottles, kitten/bitter-ish
    // chains, double indels like cat/cart vs at) must now LINK, and
    // distance-3 must not; every ed<=2 relation shape is covered:
    // two substitutions, two deletions, deletion+substitution,
    // insertion+substitution, and the length-difference-2 pair (cat/at
    // is 1; "at"/"cart" is 2 — both lengths present)
    val got = FuzzyLink.editNeighbors(names, "name", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    val distinct = names.as[String].collect().distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b
      d = levRef(a, b) if d <= 2
    } yield (a, b, d)).toSet
    assert(got === want)
    assert(want.exists(_._3 == 2), "fixture must produce distance-2 pairs")
    assert(want.exists { case (a, b, d) => d == 2 && (a.length - b.length).abs == 2 },
      "fixture must cover the double-indel (length ± 2) shape")
  }

  test("maxDist > 2 raises rather than silently under-recalling") {
    val e = intercept[IllegalArgumentException](
      FuzzyLink.editNeighbors(names, "name", maxDist = 3))
    assert(e.getMessage.contains("deletion neighborhood"))
  }

  test("the plan blocks on variants — no cartesian between name sides") {
    val plan = FuzzyLink.editNeighbors(names, "name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  // ---- segment-pigeonhole blocking (the long-name path) ----

  test("segment blocking equals brute force at d = 1, 2 and 3") {
    val distinct = names.as[String].collect().distinct
    for (d <- 1 to 3) {
      val got = FuzzyLink.editNeighborsSeg(names, "name", maxDist = d)
        .as[(String, String, Int)].collect().toSet
      val want = (for {
        a <- distinct; b <- distinct if a < b
        dd = levRef(a, b) if dd <= d
      } yield (a, b, dd)).toSet
      assert(got === want, s"d=$d")
      assert(want.exists(_._3 == d), s"fixture must produce distance-$d pairs")
    }
  }

  test("segment blocking matches the deletion neighborhood on long names") {
    // titles at the length where the d=2 deletion neighborhood is ~|s|²/2
    // variants per name: planted single/double typos INSIDE a ~120-char
    // body, plus edits at the very first and very last character (the
    // boundary segments), plus a distance-3 decoy that must NOT link
    val body = ("the quick brown fox jumps over the lazy dog while " +
      "carefully counting all of its fourteen thousand parquet files ")
    assert(body.length > 100)
    val long = Seq(
      body + "alpha",
      body + "alphb",                        // sub in the tail segment
      body + "alp",                          // 2 deletions at the end
      "X" + body.drop(1) + "alpha",          // sub at position 0
      body.patch(40, "Q", 1) + "alpha",      // sub mid-body
      body.patch(40, "", 2) + "alpha",       // 2 deletions mid-body
      body.patch(3, "ZZZ", 3) + "alpha"      // distance-3 decoy
    ).toDF("name")
    val distinct = long.as[String].collect().distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b
      dd = levRef(a, b) if dd <= 2
    } yield (a, b, dd)).toSet
    val seg = FuzzyLink.editNeighborsSeg(long, "name", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    val neigh = FuzzyLink.editNeighbors(long, "name", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    assert(seg === want, "segment path diverged from brute force")
    assert(neigh === want, "neighborhood path diverged from brute force")
    assert(want.nonEmpty && want.exists(_._3 == 2))
  }

  test("segment blocking handles names shorter than d+1 segments") {
    // zero-length segments (|s| <= d) must stay correct: "a"/"b" at d=2,
    // empty-adjacent shapes, plus the tiny-to-short boundary
    val tiny = Seq("a", "b", "ab", "abc", "abcde", "x", "xy").toDF("name")
    val distinct = tiny.as[String].collect().distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b
      dd = levRef(a, b) if dd <= 2
    } yield (a, b, dd)).toSet
    val got = FuzzyLink.editNeighborsSeg(tiny, "name", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    assert(got === want)
  }

  test("segment blocking: random cross-check against brute force") {
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "abc"
    val rand = Seq.fill(120)(
      (0 until (1 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(3))).mkString)
      .toDF("name")
    val distinct = rand.as[String].collect().distinct
    for (d <- 1 to 2) {
      val want = (for {
        a <- distinct; b <- distinct if a < b
        dd = levRef(a, b) if dd <= d
      } yield (a, b, dd)).toSet
      val seg = FuzzyLink.editNeighborsSeg(rand, "name", d)
        .as[(String, String, Int)].collect().toSet
      val neigh = FuzzyLink.editNeighbors(rand, "name", d)
        .as[(String, String, Int)].collect().toSet
      assert(seg === want, s"seg d=$d")
      assert(neigh === want, s"neighborhood d=$d")
    }
  }

  test("segment blocking rejects out-of-range maxDist; plan has no cartesian") {
    intercept[IllegalArgumentException](
      FuzzyLink.editNeighborsSeg(names, "name", maxDist = 0))
    intercept[IllegalArgumentException](
      FuzzyLink.editNeighborsSeg(names, "name", maxDist = 5))
    val plan = FuzzyLink.editNeighborsSeg(names, "name", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  // ---- cross-table fuzzy join ----

  test("editJoin equals brute-force cross levenshtein, both schemes, d = 1 and 2") {
    val left = Seq("kitten", "bottle", "dog", "xyzzy", "cart").toDF("ln")
    val right = Seq("bitten", "kitten", "bottles", "dgo", "cat", "zzz")
      .toDF("rn")
    val ls = left.as[String].collect().distinct
    val rs = right.as[String].collect().distinct
    for (d <- 1 to 2; seg <- Seq(false, true)) {
      val got = FuzzyLink.editJoin(left, "ln", right, "rn", d, seg)
        .as[(String, String, Int)].collect().toSet
      val want = (for {
        a <- ls; b <- rs
        dd = levRef(a, b) if dd <= d
      } yield (a, b, dd)).toSet
      assert(got === want, s"d=$d seg=$seg")
      // ordered roles: left names stay on the left
      got.foreach { case (a, b, _) =>
        assert(ls.contains(a) && rs.contains(b))
      }
    }
    // exact matches ARE links (kitten-kitten at distance 0)
    val d1 = FuzzyLink.editJoin(left, "ln", right, "rn", 1)
      .as[(String, String, Int)].collect().toSet
    assert(d1.contains(("kitten", "kitten", 0)))
    assert(d1.contains(("kitten", "bitten", 1)))
  }

  test("editJoin plans without a cartesian; bounds enforced per scheme") {
    val left = Seq("abc").toDF("ln"); val right = Seq("abd").toDF("rn")
    val plan = FuzzyLink.editJoin(left, "ln", right, "rn", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    intercept[IllegalArgumentException](
      FuzzyLink.editJoin(left, "ln", right, "rn", 3))
    intercept[IllegalArgumentException](
      FuzzyLink.editJoin(left, "ln", right, "rn", 5, segmentBlocking = true))
  }

  // ---- id-level fuzzy record dedup ----

  /** Brute-force reference: union-find over all record pairs whose names
    * are within `d` (equal names included), min-id root per cluster. */
  private def bruteClusters(recs: Seq[(Long, String)], d: Int): Map[Long, (Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    recs.foreach { case (id, _) => parent(id) = id }
    for {
      (ia, na) <- recs; (ib, nb) <- recs
      if ia < ib && na != null && nb != null && levRef(na, nb) <= d
    } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    recs.groupBy { case (id, _) => find(id) }
      .map { case (root, members) => (root, (root, members.size.toLong)) }
  }

  private val fuzzyRecs: Seq[(Long, String)] = Seq(
    (10L, "kitten"), (11L, "bitten"), (12L, "kittn"),   // one typo cluster
    (20L, "bottle"), (21L, "battle"),                   // another
    (30L, "dog"), (31L, "dog"), (32L, "dog"),           // exact-name group
    (40L, "xyzzy"),                                     // singleton
    (50L, null), (51L, null)                            // null names
  )

  test("fuzzyDedup keeps exactly the brute-force min-id survivor per cluster") {
    val df = fuzzyRecs.toDF("id", "name")
    val got = FuzzyLink.fuzzyDedup(df, "id", "name")
      .as[(Long, String, Long)].collect()
      .map { case (id, _, n) => (id, n) }.toMap
    val want = bruteClusters(fuzzyRecs, 1)
      .map { case (root, (_, size)) =>
        val isNull = fuzzyRecs.find(_._1 == root).get._2 == null
        (root, if (isNull) 1L else size)
      }
    assert(got === want)
    // the planted structure: kitten-cluster survivor 10 with 3 members,
    // bottle 20 with 2, dog 30 with 3, xyzzy singleton, two null singletons
    assert(got(10L) == 3L && got(20L) == 2L && got(30L) == 3L && got(40L) == 1L)
    assert(got(50L) == 1L && got(51L) == 1L, "null names survive as singletons")
    assert(got.size == 6)
  }

  test("fuzzyDedup carries the surviving record's full row") {
    val df = fuzzyRecs.toDF("id", "name")
      .withColumn("payload", concat(lit("p"), col("id")))
    val got = FuzzyLink.fuzzyDedup(df, "id", "name")
      .select("id", "payload").as[(Long, String)].collect().toMap
    got.foreach { case (id, p) => assert(p == s"p$id") }
    assert(got.keySet === Set(10L, 20L, 30L, 40L, 50L, 51L))
  }

  test("fuzzyDedup agrees between the driver fast path and the distributed fixpoint") {
    val df = fuzzyRecs.toDF("id", "name")
    val fast = FuzzyLink.fuzzyDedup(df, "id", "name")
      .select("id", "n_members").as[(Long, Long)].collect().toSet
    val dist = FuzzyLink.fuzzyDedup(df, "id", "name", smallGraphLimit = 0L)
      .select("id", "n_members").as[(Long, Long)].collect().toSet
    assert(fast === dist)
  }

  test("goldenRecord: per-field majority with deterministic ties; nulls ignored") {
    // kitten-cluster (ids 10,11,12): brand B wins 2-1; size ties 5 vs 7
    // one vote each -> smaller (5) wins; dog group (30,31,32): brand all
    // null -> null survives; xyzzy singleton keeps its own values; null
    // names (50,51) are their own entities
    val df = Seq(
      (10L, "kitten", "B", Option(7)),
      (11L, "bitten", "B", Option(5)),
      (12L, "kittn", "A", Option.empty[Int]),
      (30L, "dog", null, Option(3)),
      (31L, "dog", null, Option(3)),
      (32L, "dog", null, Option(9)),
      (40L, "xyzzy", "Z", Option(1)),
      (50L, null, "Q", Option(2)),
      (51L, null, null, Option.empty[Int])
    ).toDF("id", "name", "brand", "size")
    val got = FuzzyLink.goldenRecord(df, "id", "name", Seq("brand", "size"))
      .as[(Long, Long, String, Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) === ((3L, "B", Some(5))),
      "majority brand B; size tie 5-vs-7 breaks to the smaller")
    assert(got(30L) === ((3L, null, Some(3))), "all-null field stays null")
    assert(got(40L) === ((1L, "Z", Some(1))))
    assert(got(50L) === ((1L, "Q", Some(2))))
    assert(got(51L) === ((1L, null, None)))
    assert(got.size === 5)
  }
}
