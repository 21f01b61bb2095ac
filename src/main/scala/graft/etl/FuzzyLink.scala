package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance RECORD LINKAGE — the fuzzy-key matching a cleaning
  * stage needs when "the same entity, typo'd" must link without an exact
  * key: customer/supplier name reconciliation, near-identical product
  * titles, OCR'd identifiers. The reference's ETL dedups on exact keys
  * only (`Listings_ETL.py:47-49`); this is the operator its users reach
  * for next, and the token-set family (`Dedup.ngramJaccard` etc.)
  * deliberately does NOT cover it: Jaccard over shingles is blind to the
  * single-character substitutions edit distance is FOR.
  *
  * All-pairs `levenshtein` is O(n²) string comparisons — dead at any
  * scale. Two sound blocking schemes bound the candidate set instead,
  * with complementary cost profiles; both verify candidates with the
  * exact `levenshtein` so their OUTPUT is identical:
  *
  *  - DELETION NEIGHBORHOOD ([[editNeighbors]], the public SymSpell
  *    observation): if ed(a, b) ≤ 1 then deleting one character (or
  *    none) from each yields a COMMON string, so blocking on the string
  *    plus its |s| single-deletion variants finds every qualifying pair.
  *    Generalizes to ed ≤ d via the ≤d-deletion neighborhood —
  *    ≈ C(|s|, d) variants per name, QUADRATIC in |s| at d = 2. Best for
  *    short keys (names, codes, identifiers ≲ 50 chars).
  *  - SEGMENT PIGEONHOLE ([[editNeighborsSeg]], the public PassJoin
  *    construction, Li et al. ICDE'11): split each name into d+1
  *    even segments; d edits can touch at most d of them, so some
  *    segment of `a` survives VERBATIM as a substring of `b`, shifted by
  *    at most ±d positions. Blocking on (partner length, segment index,
  *    substring) emits O(d²) keys per name — LINEAR in |s|, the scheme
  *    for product titles and sentence-length keys where the d = 2
  *    neighborhood's ~|s|²/2 variants per name would dominate
  *    (`tools.ScaleCurve fuzzy`'s length sweep prices the crossover).
  *
  * Neither scheme ever ships name text through the quadratic part of the
  * exchange: names are interned once as 16-byte content keys (two
  * independent xxhash64 seeds — the repo's digest-identity discipline,
  * same as `Dedup`'s 16-byte text digests) and block keys as 8-byte
  * hashes, so the variant/segment exchange rows are fixed-width
  * regardless of name length; hash collisions on BLOCK keys only add
  * candidates the exact verify prunes (lossless), and a full 128-bit
  * name-key collision is the same ~2⁻¹²⁸ non-event every digest-keyed
  * operator in this engine already accepts. The candidate set is
  * Σ|block|² over block keys — proportional to how many names actually
  * collide, never n².
  */
object FuzzyLink {

  /** The ≤`maxDist`-deletion neighborhood of `n` as a distinct array:
    * i = 1..|n| deletes position i; i = |n|+1 is the identity variant
    * (prefix is the whole string, suffix empty) — required so an
    * insertion pair meets the shorter side. d = 2 applies the same
    * level to every level-1 variant (identity included, so 0-, 1- and
    * 2-deletion strings all appear). */
  private def variantArray(n: Column, maxDist: Int) = {
    def dels(s: Column) =
      transform(sequence(lit(1), length(s) + 1),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    if (maxDist == 1) dels(n)
    else array_distinct(flatten(transform(dels(n), v => dels(v))))
  }

  /** Distinct non-null names with their 16-byte content key `nk`
    * (struct of two independently-seeded xxhash64 values — orderable, so
    * pair canonicalization needs no second pass over names). */
  private def keyedNames(df: DataFrame, nameCol: String): DataFrame =
    df.select(col(nameCol).cast("string").as("n"))
      .filter(col("n").isNotNull).distinct()
      .select(col("n"),
        struct(xxhash64(col("n")).as("k1"),
          xxhash64(lit(7), col("n")).as("k2")).as("nk"))

  /** Join two block frames (`nk`, `bk`) on the block key and emit the
    * DISTINCT canonical (key-ordered) unordered candidate key pairs.
    * The one potentially-quadratic exchange in either scheme happens
    * here, over fixed-width 24-byte rows. */
  private def candidatesFromBlocks(idx: DataFrame, probe: DataFrame): DataFrame =
    idx.select(col("nk").as("ka"), col("bk"))
      .join(probe.select(col("nk").as("kb"), col("bk")), "bk")
      .filter(col("ka") =!= col("kb"))
      .select(least(col("ka"), col("kb")).as("ka"),
        greatest(col("ka"), col("kb")).as("kb"))
      .distinct()

  /** Resolve candidate key pairs back to name pairs (two keyed joins
    * against the distinct-names frame — names rejoin the plan only
    * AFTER the candidate set is down to near-output size) and apply the
    * exact `levenshtein` verify. Output: (name_a < name_b, dist). */
  private def verifiedPairs(keyed: DataFrame, cands: DataFrame,
                            maxDist: Int): DataFrame =
    cands
      .join(keyed.select(col("nk").as("ka"), col("n").as("na")), Seq("ka"))
      .join(keyed.select(col("nk").as("kb"), col("n").as("nb")), Seq("kb"))
      .select(least(col("na"), col("nb")).as("name_a"),
        greatest(col("na"), col("nb")).as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)

  /** The deletion-neighborhood blocking stage alone: distinct candidate
    * pairs (name_a < name_b) sharing at least one deletion-neighborhood
    * variant — a superset of the ed ≤ maxDist pairs (two names can share
    * a variant at anything up to distance 2·maxDist). Exposed so the
    * scale curve prices candidate volume, the quantity that must stay
    * ~linear for the plan to survive 100 TB. */
  private[graft] def candidatePairs(df: DataFrame, nameCol: String,
                                    maxDist: Int = 1): DataFrame = {
    val keyed = keyedNames(df, nameCol)
    val blocks = variantBlocks(keyed, maxDist)
    candidatesFromBlocks(blocks, blocks)
      .join(keyed.select(col("nk").as("ka"), col("n").as("na")), Seq("ka"))
      .join(keyed.select(col("nk").as("kb"), col("n").as("nb")), Seq("kb"))
      .select(least(col("na"), col("nb")).as("name_a"),
        greatest(col("na"), col("nb")).as("name_b"))
  }

  /** Distinct name pairs (name_a < name_b) within edit distance
    * `maxDist`, found via deletion-neighborhood blocking + exact verify.
    * Output: (name_a, name_b, dist). Quadratic in name LENGTH at d = 2
    * (~|s|²/2 variants per name) — for long keys use
    * [[editNeighborsSeg]], which emits the identical output. */
  def editNeighbors(df: DataFrame, nameCol: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"editNeighbors implements the 1- and 2-deletion neighborhoods " +
        s"(sound for maxDist ≤ 2); got $maxDist — extend the " +
        "neighborhood before raising the bound, don't silently under-recall")
    val keyed = keyedNames(df, nameCol)
    verifiedPairs(keyed,
      candidatesFromBlocks(variantBlocks(keyed, maxDist),
        variantBlocks(keyed, maxDist)), maxDist)
  }

  // ---- segment pigeonhole (PassJoin-style) — linear in name length ----

  /** Even split of a length-`l` string into d+1 segments: q = ⌊l/(d+1)⌋,
    * r = l mod (d+1); segment i has length q+1 for i < r else q, and
    * 0-based start i·q + min(i, r). Deterministic from the length alone,
    * so the probe side can reconstruct a PARTNER's segmentation from a
    * candidate length without seeing the partner. */
  private def segLen(l: Column, i: Int, d: Int): Column =
    floor(l.cast("double") / (d + 1)).cast("int") +
      when(lit(i) < pmod(l, lit(d + 1)), 1).otherwise(0)
  private def segStart(l: Column, i: Int, d: Int): Column =
    lit(i) * floor(l.cast("double") / (d + 1)).cast("int") +
      least(lit(i), pmod(l, lit(d + 1)))

  /** Index keys over `col("n")`: (|n|, i, seg_i) for each of my own d+1
    * segments under my own length's segmentation. */
  private def idxKeyArray(d: Int): Column = {
    val ln = length(col("n"))
    array((0 to d).map { i =>
      xxhash64(ln, lit(i),
        col("n").substr(segStart(ln, i, d) + 1, segLen(ln, i, d)))
    }: _*)
  }

  /** Probe keys over `col("n")`: for every partner length ℓ = |n|+δ,
    * δ ∈ [−d, d], and every segment index, the substrings at starts
    * within ±d of that segmentation's start — the pigeonhole guarantee
    * is that a true pair's surviving segment meets one of them.
    * Statically unrolled (δ, i) pairs; the shift window is a filtered
    * sequence, so invalid lengths/starts vanish without a special case.
    * O((d+1)²(2d+1)) keys per name, each an 8-byte hash: LINEAR in name
    * length. */
  private def probeKeyArray(d: Int): Column = {
    val ln = length(col("n"))
    flatten(array((for { dl <- -d to d; i <- 0 to d } yield {
      val lTgt = ln + lit(dl)
      val len = segLen(lTgt, i, d)
      val p0 = segStart(lTgt, i, d)
      when(lTgt >= 1,
        transform(
          filter(sequence(p0 - d, p0 + d),
            p => p >= 0 && p <= ln - len),
          p => xxhash64(lTgt, lit(i), col("n").substr(p + 1, len))))
        .otherwise(array().cast("array<bigint>"))
    }): _*))
  }

  /** Distinct name pairs (name_a < name_b) within edit distance
    * `maxDist` via segment-pigeonhole blocking + exact verify —
    * OUTPUT-IDENTICAL to [[editNeighbors]] (spec-proven), with blocking
    * cost linear in name length instead of quadratic: the long-key path
    * (product titles, addresses, sentence-length join keys). */
  def editNeighborsSeg(df: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 4,
      s"editNeighborsSeg: maxDist must be in [1, 4], got $maxDist — probe " +
        "fan-out grows O(d³) per name; raise the bound deliberately, with a " +
        "curve, not by default")
    val keyed = keyedNames(df, nameCol)
    val idx = keyed.select(col("nk"), explode(idxKeyArray(maxDist)).as("bk"))
    val probe = keyed.select(col("nk"), explode(probeKeyArray(maxDist)).as("bk"))
    verifiedPairs(keyed, candidatesFromBlocks(idx, probe), maxDist)
  }

  /** Exchange-row counts for the scale curve: how many block rows each
    * scheme actually ships through its one potentially-quadratic
    * exchange — the deterministic quantity behind the wall numbers.
    * Neighborhood = deletion variants; segment = index + probe keys. */
  private[graft] def blockRowCount(df: DataFrame, nameCol: String,
                                   maxDist: Int, segment: Boolean): Long = {
    val keyed = keyedNames(df, nameCol)
    val cnt =
      if (segment)
        keyed.select(sum(size(idxKeyArray(maxDist)) +
          size(probeKeyArray(maxDist))))
      else keyed.select(sum(size(variantArray(col("n"), maxDist))))
    cnt.head().getLong(0)
  }

  // ---- cross-table fuzzy JOIN (messy feed ⋈ reference table) ----

  /** Deletion-neighborhood block keys for a [[keyedNames]] frame. */
  private def variantBlocks(keyed: DataFrame, maxDist: Int): DataFrame =
    keyed.select(col("nk"), explode(variantArray(col("n"), maxDist)).as("v"))
      .select(col("nk"), xxhash64(col("v")).as("bk"))

  /** FUZZY JOIN across two tables — the two-sided form of record
    * linkage: link a messy feed's names against a reference table's
    * names within edit distance `maxDist` (the reconciliation step a
    * pipeline runs when the reference's exact-key merge,
    * Listings_ETL.py:143-151, meets a feed with typo'd keys). Unlike
    * [[editNeighbors]], pairs are ORDERED (left name, right name),
    * exact matches (distance 0) are included — a reconciliation wants
    * them — and each side keeps its own role, so the output joins
    * straight back to either table by name.
    *
    * Blocking per `segmentBlocking`: deletion neighborhoods from BOTH
    * sides meeting on variant hashes (SymSpell, short keys), or
    * segment-pigeonhole with the LEFT side indexing its d+1 segments
    * and the RIGHT side probing shifted substrings (PassJoin, linear in
    * name length — one direction suffices: if ed(a, b) ≤ d, some
    * segment of `a` survives verbatim in `b` at a ±d-shifted start).
    * Exact `levenshtein` verifies candidates either way, so both
    * schemes emit identical output (spec-proven ≡ brute-force cross
    * product). Output: (name_a, name_b, dist), distinct. */
  def editJoin(left: DataFrame, leftCol: String,
               right: DataFrame, rightCol: String,
               maxDist: Int = 1, segmentBlocking: Boolean = false): DataFrame = {
    if (segmentBlocking)
      require(maxDist >= 1 && maxDist <= 4,
        s"editJoin(segment): maxDist must be in [1, 4], got $maxDist")
    else
      require(maxDist == 1 || maxDist == 2,
        s"editJoin(neighborhood): maxDist must be 1 or 2, got $maxDist — " +
          "use segmentBlocking for wider radii")
    val ka = keyedNames(left, leftCol)
    val kb = keyedNames(right, rightCol)
    val (blkA, blkB) =
      if (segmentBlocking)
        (ka.select(col("nk"), explode(idxKeyArray(maxDist)).as("bk")),
          kb.select(col("nk"), explode(probeKeyArray(maxDist)).as("bk")))
      else (variantBlocks(ka, maxDist), variantBlocks(kb, maxDist))
    blkA.select(col("nk").as("ka"), col("bk"))
      .join(blkB.select(col("nk").as("kb"), col("bk")), "bk")
      .select("ka", "kb").distinct()
      .join(ka.select(col("nk").as("ka"), col("n").as("name_a")), Seq("ka"))
      .join(kb.select(col("nk").as("kb"), col("n").as("name_b")), Seq("kb"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("name_a", "name_b", "dist")
  }

  // ---- id-level fuzzy record dedup (linkage → components → survivorship) ----

  /** FUZZY RECORD DEDUP — the operation the reference's
    * `drop_duplicates(subset='id')` (Listings_ETL.py:47-49) approximates
    * when keys are typo'd, completed to the id level: name pairs within
    * `maxDist` ([[editNeighbors]]) become edges over name nodes,
    * transitive closure ([[graft.operators.Components]]) turns chained
    * typos into one entity cluster, and survivorship keeps exactly ONE
    * record per cluster — the minimum-`idCol` member, the same
    * deterministic-winner rule as `Clean.dedupByKey` — annotated with
    * the cluster's record count as `n_members`.
    *
    * Contract: `idCol` is a unique, non-null, long-castable record key
    * (the reference's `id`). Records whose `nameCol` is NULL carry no
    * linkage evidence and survive as their own singleton clusters.
    * Records sharing the EXACT same name always cluster (distance 0 —
    * they share a name node); fuzzy edges extend those groups.
    *
    * Scale shape: the only non-keyed work is the pair stage's deletion-
    * neighborhood blocking (≈ C(|s|, d) variants per name — sized for
    * name-length keys); everything after is keyed joins and aggregates
    * over (distinct names → min-id node, pairs → components, records →
    * cluster counts). The pair graph is near-dup-sized, not
    * corpus-sized, so Components' measured-small fast path usually
    * applies; `smallGraphLimit = 0` forces the distributed fixpoint. */
  def fuzzyDedup(df: DataFrame, idCol: String, nameCol: String,
                 maxDist: Int = 1, maxIter: Int = 64,
                 smallGraphLimit: Long = 2000000L): DataFrame = {
    val labeled = clusterLabels(df, idCol, nameCol, maxDist, maxIter,
      smallGraphLimit)
    val clusters = labeled.groupBy(col("__comp"))
      .agg(count(lit(1)).as("n_members"))
    // each cluster's label IS its surviving record's id (mins of mins),
    // and a null-name record is its own label — one keyed join, no
    // ranking pass, no special null branch
    df.join(clusters, col(idCol).cast("long") === col("__comp"))
      .drop("__comp")
  }

  /** Every record with its fuzzy entity-cluster label `__comp` = the
    * minimum record id reachable through ed ≤ maxDist name links
    * (equal names share a node; null-name records label as themselves).
    * The shared first stage of [[fuzzyDedup]] and [[goldenRecord]]. */
  private[graft] def clusterLabels(df: DataFrame, idCol: String,
                                   nameCol: String, maxDist: Int,
                                   maxIter: Int, smallGraphLimit: Long): DataFrame = {
    val named = df
      .select(col(idCol).cast("long").as("__fid"),
        col(nameCol).cast("string").as("__fn"))
      .filter(col("__fn").isNotNull)
    // name node id = min record id bearing that name; comp values are
    // then mins of mins = the min record id in the entity cluster
    val nameRep = named.groupBy("__fn").agg(min(col("__fid")).as("__nid"))
    val edges = editNeighbors(df, nameCol, maxDist)
      .join(nameRep.select(col("__fn").as("name_a"), col("__nid").as("__nida")),
        Seq("name_a"))
      .join(nameRep.select(col("__fn").as("name_b"), col("__nid").as("__nidb")),
        Seq("name_b"))
      .select("__nida", "__nidb")
    val labels = graft.operators.Components.connectedComponents(
      edges, "__nida", "__nidb", maxIter, smallGraphLimit)
    val nameComp = nameRep
      .join(labels, nameRep("__nid") === labels("id"), "left")
      .select(col("__fn"), coalesce(col("comp"), col("__nid")).as("__comp"))
    val rec = named.join(nameComp, Seq("__fn")).select("__fid", "__comp")
    df.join(rec, col(idCol).cast("long") === col("__fid"), "left")
      .withColumn("__comp", coalesce(col("__comp"), col(idCol).cast("long")))
      .drop("__fid")
  }

  /** GOLDEN-RECORD construction — the survivorship step after fuzzy
    * clustering that an MDM pipeline actually ships: instead of keeping
    * one member row ([[fuzzyDedup]]), SYNTHESIZE one record per entity
    * cluster whose every attribute is the cluster's per-field MAJORITY
    * vote over non-null values, ties broken by the smaller value —
    * deterministic, engine-replayable. Output: (entity_id = the
    * cluster's min record id, n_members, one column per `attrs` entry,
    * original types preserved; an all-null field stays null).
    *
    * Scale shape: one [[clusterLabels]] pass, then per attribute one
    * keyed (cluster, value) count + one per-cluster rank — aggregates
    * over value-distinct rows, never all-pairs; attribute results
    * rejoin on the cluster key. */
  def goldenRecord(df: DataFrame, idCol: String, nameCol: String,
                   attrs: Seq[String], maxDist: Int = 1, maxIter: Int = 64,
                   smallGraphLimit: Long = 2000000L): DataFrame = {
    require(attrs.nonEmpty, "goldenRecord: attrs must be non-empty")
    val labeled = clusterLabels(df, idCol, nameCol, maxDist, maxIter,
      smallGraphLimit)
    val base = labeled.groupBy(col("__comp"))
      .agg(count(lit(1)).as("n_members"))
    val w = org.apache.spark.sql.expressions.Window
    attrs.foldLeft(base) { (acc, a) =>
      val counts = labeled.filter(col(a).isNotNull)
        .groupBy(col("__comp"), col(a)).agg(count(lit(1)).as("__c"))
      val best = counts.withColumn("__rn",
          row_number().over(w.partitionBy(col("__comp"))
            .orderBy(col("__c").desc, col(a).asc)))
        .filter(col("__rn") === 1)
        .select(col("__comp"), col(a))
      acc.join(best, Seq("__comp"), "left")
    }.withColumnRenamed("__comp", "entity_id")
  }
}
