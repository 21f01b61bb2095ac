package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.etl.FuzzyLink
import ScaleCurve.{endpointAlpha, timed}

/** Scale-curve evidence for the deletion-neighborhood blocking behind
  * `etl_fuzzy_link` (d = 1, supplier names) and `etl_fuzzy_link2`
  * (d = 2, part names) — the scale-curve discipline every candidate
  * generator in this repo carries: candidate-pair volume, verified-pair
  * volume, and wall as the name corpus blows up ×1/×4/×10.
  *
  * Blow-up discipline (the edit-distance analog of the Caesar trick):
  * copy k prefixes every name with a (2d+1)-char tag (the copy letter
  * repeated). Pairwise tag distance is 2d+1, and one deletion per side
  * lowers edit distance by at most 2, so after d deletions on each side
  * cross-copy strings still differ — NO cross-copy pair can share a
  * ≤d-deletion variant, cross-copy candidate mass is structurally zero —
  * while within-copy edit structure is preserved exactly (a shared
  * prefix shifts no distances). True candidate and pair mass therefore
  * scales exactly ×k; a fitted α near 1 means the blocking scales with
  * the corpus, α → 2 would mean it degenerated toward all-pairs.
  */
object ScaleCurveFuzzy {
  def run(sc: ScaleCurve.Run): Unit = {
    val spark = sc.spark

    // (maxDist, table, column, op label) — each key priced on ITS corpus
    Seq((1, "supplier", "s_name", "fuzzy_link"),
        (2, "part", "p_name", "fuzzy_link2")).foreach {
      case (d, table, column, op) =>
        val base = spark.read.parquet(s"/root/testdata/sf0.1/$table.parquet")
          .select(col(column).as("name"))
        val tagLen = 2 * d + 1
        def blowUp(factor: Int): DataFrame = {
          require(factor <= 26, s"factor $factor > 26 exhausts the tag alphabet")
          (0 until factor).map { k =>
            val tag = ('a' + k).toChar.toString * tagLen
            base.select(concat(lit(tag), col("name")).as("name"))
          }.reduce(_ unionByName _)
        }
        var candPts = Vector[(Long, Double)]()
        var cands = Map[Int, Long](); var pairsM = Map[Int, Long]()
        Seq(1, 4, 10).foreach { f =>
          val names = blowUp(f).localCheckpoint()
          val n = names.select(countDistinct(col("name"))).head().getLong(0)
          val (nCand, candSec) = timed(
            FuzzyLink.candidatePairs(names, "name", d).count())
          val (nPairs, wallSec) = timed(
            FuzzyLink.editNeighbors(names, "name", d).count())
          cands += f -> nCand; pairsM += f -> nPairs
          candPts :+= ((n, nCand.toDouble))
          sc.emit(f"""{"dataset":"sf0.1x$f","op":"$op","max_dist":$d,"n_names":$n,"candidates":$nCand,"pairs":$nPairs,"cand_sec":$candSec%.2f,"wall_sec":$wallSec%.2f}""")
          org.apache.spark.sql.GraftShim.unpersistCheckpoint(names)
        }
        // cross-copy candidates are structurally impossible, so both
        // volumes must be EXACTLY ×k — stronger than a fitted bound
        Seq(4, 10).foreach { f =>
          require(cands(f) == cands(1) * f,
            s"$op candidates not exactly x$f: ${cands(f)} vs ${cands(1)} * $f — cross-copy leakage")
          require(pairsM(f) == pairsM(1) * f,
            s"$op pairs not exactly x$f: ${pairsM(f)} vs ${pairsM(1)} * $f")
        }
        sc.emit(f"""{"op":"$op","alpha_candidates":${endpointAlpha(candPts)}%.3f,"mass_exact_xk":true,"fit_range":[${candPts.head._1},${candPts.last._1}]}""")
    }
    // ---- cross-table fuzzy JOIN under the same blow-up discipline:
    // both sides tag-prefixed per copy (tag distance 2d+1 > 2d keeps
    // cross-copy candidate mass structurally zero), right side = left
    // names with one planted substitution at position 10, so every
    // right name links to exactly its own left original (dist 1) and
    // the link count must be EXACTLY n_names ×k
    locally {
      val d = 1
      val tagLen = 2 * d + 1
      val base = spark.read.parquet("/root/testdata/sf0.1/supplier.parquet")
        .select(col("s_name").as("name")).distinct()
      val feedBase = base.select(concat(substring(col("name"), 1, 9),
        lit("z"), substring(col("name"), 11, 100)).as("name"))
      def blow(df: DataFrame, f: Int): DataFrame =
        (0 until f).map { k =>
          val tag = ('a' + k).toChar.toString * tagLen
          df.select(concat(lit(tag), col("name")).as("name"))
        }.reduce(_ unionByName _)
      var links = Map[Int, Long]()
      Seq(1, 4, 10).foreach { f =>
        val l = blow(base, f).localCheckpoint()
        val r = blow(feedBase, f).localCheckpoint()
        val (n, wallSec) = timed(
          FuzzyLink.editJoin(l, "name", r, "name", d).count())
        links += f -> n
        sc.emit(f"""{"dataset":"sf0.1x$f","op":"fuzzy_join","max_dist":$d,"n_left":${1000 * f},"links":$n,"wall_sec":$wallSec%.2f}""")
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(l)
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(r)
      }
      Seq(4, 10).foreach { f =>
        require(links(f) == links(1) * f,
          s"fuzzy_join links not exactly x$f: ${links(f)} vs ${links(1)} * $f")
      }
    }

    // ---- cross-table JOIN at d=2 on 200-char names (round-17 verdict
    // item): the segment-pigeonhole join path priced under a ×k blow-up,
    // like editNeighborsSeg's length sweep but through editJoin. The
    // blow-up is NOT tag-prefixing here: segment blocking keys are
    // SUBSTRINGS, so tag-prefixed copies of a shared body would still
    // collide on body segments and candidate mass would scale ×k² (the
    // verify kills those pairs, but the exchange would have paid them —
    // exactly what this curve must expose, not mask). Instead every
    // (base, copy) gets its OWN md5-chain body, so cross-name segment
    // collisions are structurally absent and true link mass is exactly
    // nBase×k: left = planted originals, right = each original with two
    // substitutions (dist 2) at positions 9 and 100 — L=200 at d=2
    // splits into segments of 67/67/66 (seg0 = 1..67, seg1 = 68..134,
    // seg2 = 135..200), so the edits land in DISTINCT segments and
    // exactly ONE segment stays clean: the pigeonhole worst case, where
    // candidate generation has a single surviving block key per pair
    // (round-17 advisory: the old positions 9/45 both hit seg0, leaving
    // two clean segments — an easier case than the bound being priced).
    locally {
      val d = 2
      val l = 200
      val nB = 128
      val blocks = (l + 31) / 32
      def longName(seed: Column): Column =
        concat((0 until blocks).map(i =>
          md5(concat(seed, lit("#"), lit(i)))): _*).substr(1, l)
      def subAt(s: Column, pos: Int, c: String): Column =
        concat(s.substr(1, pos - 1), lit(c), s.substr(pos + 1, l))
      def sides(f: Int): (DataFrame, DataFrame) = {
        val seeds = spark.range(nB * f)
          .select(concat(col("id"), lit("@"), lit(f)).as("seed"))
        val left = seeds.select(longName(col("seed")).as("name"))
        val right = seeds.select(
          subAt(subAt(longName(col("seed")), 9, "Z"), 100, "Z").as("name"))
        (left.localCheckpoint(), right.localCheckpoint())
      }
      // discarded warm-up (the ScaleCurveGraph lesson: an un-warmed ×1
      // point inflates the fit's origin and the α gate passes on noise)
      locally {
        val (wl, wr) = sides(1)
        FuzzyLink.editJoin(wl, "name", wr, "name", d, segmentBlocking = true).count()
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(wl)
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(wr)
      }
      var joinPts = Vector[(Long, Double)]()
      var jLinks = Map[Int, Long]()
      Seq(1, 4, 10).foreach { f =>
        val (lhs, rhs) = sides(f)
        val (n, wallSec) = timed(
          FuzzyLink.editJoin(lhs, "name", rhs, "name", d,
            segmentBlocking = true).count())
        jLinks += f -> n
        joinPts :+= ((nB.toLong * f, wallSec))
        sc.emit(f"""{"op":"fuzzy_join_len","scheme":"seg","max_dist":$d,"name_len":$l,"n_left":${nB * f},"links":$n,"wall_sec":$wallSec%.2f}""")
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(lhs)
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(rhs)
      }
      Seq(1, 4, 10).foreach { f =>
        require(jLinks(f) == nB.toLong * f,
          s"fuzzy_join_len links not exactly ${nB} x $f: ${jLinks(f)} — " +
            "a planted d=2 pair was missed (recall hole) or a spurious pair passed")
      }
      val alphaJ = endpointAlpha(joinPts)
      sc.emit(f"""{"op":"fuzzy_join_len","alpha_wall":$alphaJ%.3f,"links_exact_xk":true,"fit_range":[${joinPts.head._1},${joinPts.last._1}]}""")
      require(alphaJ < 1.35,
        f"editJoin d=2 L=200 wall α=$alphaJ%.3f over ×10 growth — super-linear")
    }

    // ---- LENGTH sweep (round-16 verdict item): the d=2 deletion
    // neighborhood is ~|s|²/2 variants per name — price that against the
    // segment pigeonhole, which ships O(d²) fixed-width keys per name.
    //
    // Fixture note (a padded fixture was tried and REJECTED by its own
    // measurements): rpad-ing every name with a common repeated suffix
    // preserves pairwise distances but (a) collapses the deletion
    // neighborhood via array_distinct — deleting any char of an 'xxx…'
    // run yields ONE string — hiding the quadratic cliff from the row
    // count while the wall still pays the L² generation cost, and (b)
    // hands the segment scheme a degenerate universal block (every
    // name's pad-only segment is identical), so its wall measured the
    // all-pairs verify, not the blocking. So the corpus is PLANTED
    // instead: 128 base names of deterministic md5-chain content at the
    // target length (pairwise distance enormous — zero cross-base
    // pairs), each with one distance-1 typo copy (sub at position 3)
    // and one distance-2 copy (subs at 9 and 15; 3 edits from the first
    // copy). True pair counts are therefore KNOWN EXACTLY at every
    // length — d=1: 128, d=2: 256 — and a blocking recall bug fails
    // loudly rather than drowning in a derived expectation.
    val lens = Seq(18, 50, 100, 200)
    val nBase = 128
    var rows = Map[(Int, Int, String), Long]()   // (L, d, scheme) -> block rows
    var pairs = Map[(Int, Int, String), Long]()  // -> verified pairs
    lens.foreach { l =>
      val blocks = (l + 31) / 32
      def longName(seed: Column): Column =
        concat((0 until blocks).map(i =>
          md5(concat(seed, lit("#"), lit(i)))): _*).substr(1, l)
      def subAt(s: Column, pos: Int, c: String): Column =
        concat(s.substr(1, pos - 1), lit(c), s.substr(pos + 1, l))
      val seeds = spark.range(nBase).select(col("id").cast("string").as("seed"))
      val corpus = seeds.select(longName(col("seed")).as("name"))
        .unionByName(seeds.select(subAt(longName(col("seed")), 3, "Z").as("name")))
        .unionByName(seeds.select(
          subAt(subAt(longName(col("seed")), 9, "Z"), 15, "Z").as("name")))
        .localCheckpoint()
      Seq(1, 2).foreach { d =>
        Seq("neigh", "seg").foreach { scheme =>
          val seg = scheme == "seg"
          val nBlocks = FuzzyLink.blockRowCount(corpus, "name", d, seg)
          val (nPairs, wallSec) = timed(
            (if (seg) FuzzyLink.editNeighborsSeg(corpus, "name", d)
            else FuzzyLink.editNeighbors(corpus, "name", d)).count())
          rows += (l, d, scheme) -> nBlocks; pairs += (l, d, scheme) -> nPairs
          sc.emit(f"""{"op":"fuzzy_len","scheme":"$scheme","max_dist":$d,"name_len":$l,"n_names":${3 * nBase},"block_rows":$nBlocks,"pairs":$nPairs,"wall_sec":$wallSec%.2f}""")
        }
      }
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(corpus)
    }
    Seq(1, 2).foreach { d =>
      // planted recall at every length, both schemes: base~v1 at d=1;
      // + base~v2 at d=2 (v1~v2 is distance 3 — never)
      val want = if (d == 1) nBase.toLong else 2L * nBase
      lens.foreach { l =>
        require(pairs((l, d, "neigh")) == want && pairs((l, d, "seg")) == want,
          s"d=$d L=$l: pairs ${pairs((l, d, "neigh"))}/${pairs((l, d, "seg"))}" +
            s" != planted $want — a blocking recall hole")
      }
      // segment block rows are length-FLAT (boundary clipping only makes
      // short names cheaper): L=200 within 10% of L=50
      require(rows((200, d, "seg")) <= (rows((50, d, "seg")) * 11) / 10,
        s"d=$d: segment block rows grew with length — " +
          s"${rows((200, d, "seg"))} at 200 vs ${rows((50, d, "seg"))} at 50")
      // the neighborhood cliff, documented not hidden: d=2 variant rows
      // must show the ~(L200/L50)² = 16× quadratic growth (≥ 8× allows
      // hex-alphabet adjacent-run dedup slack), d=1 the ~4× linear growth
      val growth = rows((200, d, "neigh")).toDouble / rows((50, d, "neigh"))
      if (d == 2) require(growth >= 8.0,
        s"d=2 neighborhood growth $growth — the quadratic cliff vanished?")
      else require(growth >= 3.0 && growth <= 6.0,
        s"d=1 neighborhood growth $growth outside the ~4x linear band")
    }
  }
}
