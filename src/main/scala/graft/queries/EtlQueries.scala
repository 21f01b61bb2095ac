package graft.queries

import org.apache.spark.sql.functions._
import graft.etl.{Clean, Normalize}
import graft.functions.TextFunctions.hash31
import Common._

/** SURVEY.md §2.A — the reference's listings/reviews ETL operators
  * (`/root/reference/Airbnb_Listings_ETL.py`, `Airbnb_Review_ETL.py`)
  * re-expressed as declarative Spark transforms over the driver's testdata.
  * Every query has an exact DuckDB oracle.
  */
object EtlQueries {

  val defs: Map[String, QFn] = Map(
    // projection + rename (Listings_ETL.py:40-44)
    "etl_select_rename" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"))),

    // dedup-by-key with deterministic winner (Listings_ETL.py:47-49)
    "etl_dedup_key" -> ((s, d) =>
      Clean.dedupByKey(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        Seq("l_orderkey"), Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")))),

    // exact whole-row dedup (Review_ETL.py:41-43)
    "etl_dedup_exact" -> ((s, d) =>
      Clean.dedupExact(t(s, d, "orders"), Seq("o_orderstatus", "o_orderpriority"))),

    // edit-distance record linkage: supplier-name pairs within ed <= 1,
    // candidates via SymSpell deletion-neighborhood blocking (never
    // all-pairs; the one shuffle is variant-keyed), exact levenshtein
    // verify — the fuzzy-key step after the reference's exact dedup
    "etl_fuzzy_link" -> ((s, d) =>
      graft.etl.FuzzyLink.editNeighbors(t(s, d, "supplier"), "s_name")),

    // the distance-2 form on part names ("red bolt" ~ "red bit"): the
    // 2-deletion neighborhood blocks, exact levenshtein verifies — the
    // typo radius real product-title reconciliation runs at
    "etl_fuzzy_link2" -> ((s, d) =>
      graft.etl.FuzzyLink.editNeighbors(t(s, d, "part"), "p_name", maxDist = 2)),

    // the SAME d=2 pairs via segment-pigeonhole (PassJoin) blocking —
    // the long-name path, linear in name length where the deletion
    // neighborhood is quadratic; the oracle is INDEPENDENT brute-force
    // all-pairs levenshtein, so blocking completeness (no missed pair)
    // is checked against a method that shares nothing with it
    "etl_fuzzy_link_seg" -> ((s, d) =>
      graft.etl.FuzzyLink.editNeighborsSeg(t(s, d, "part"), "p_name", maxDist = 2)),

    // GOLDEN-RECORD construction — MDM survivorship after fuzzy
    // clustering: one SYNTHESIZED record per entity cluster, each
    // attribute the cluster's per-field majority vote over non-null
    // values (ties to the smaller value — deterministic cross-engine).
    // The oracle replays the recursive-CTE closure + per-attr
    // count/rank votes
    "etl_fuzzy_golden" -> ((s, d) =>
      graft.etl.FuzzyLink.goldenRecord(
        t(s, d, "part").select("p_partkey", "p_name", "p_brand", "p_size"),
        "p_partkey", "p_name", Seq("p_brand", "p_size"))),

    // CROSS-TABLE FUZZY JOIN — reconciling a messy feed against a
    // reference table (the step before the reference's exact-key merge,
    // Listings_ETL.py:143-151, when the feed's keys are typo'd): part
    // names vs a feed where every even-keyed name carries a planted
    // substitution at position 4. Ordered pairs, exact matches
    // included; oracle = INDEPENDENT brute-force cross levenshtein
    "etl_fuzzy_join" -> ((s, d) => {
      val ref = t(s, d, "part").select(col("p_name"))
      val feed = t(s, d, "part").select(
        when(col("p_partkey") % 2 === 0,
          concat(substring(col("p_name"), 1, 3), lit("z"),
            substring(col("p_name"), 5, 1000)))
          .otherwise(col("p_name")).as("feed_name"))
      graft.etl.FuzzyLink.editJoin(ref, "p_name", feed, "feed_name")
    }),

    // ID-LEVEL FUZZY RECORD DEDUP — what drop_duplicates(subset='id')
    // (Listings_ETL.py:47-49) approximates when keys are typo'd: name
    // pairs (deletion-neighborhood blocking + exact verify) → connected
    // components over name nodes → ONE surviving record (min id) per
    // entity cluster with its member count. The oracle replays blocking
    // + a recursive-CTE transitive closure + survivorship in SQL
    "etl_fuzzy_dedup" -> ((s, d) =>
      graft.etl.FuzzyLink.fuzzyDedup(
        t(s, d, "part").select("p_partkey", "p_name"), "p_partkey", "p_name")),

    // '$'-strip money parse round-trip (Listings_ETL.py:53-55)
    "etl_clean_money" -> ((s, d) => {
      val p = t(s, d, "part")
      val moneyStr = concat(lit("$"), col("p_retailprice").cast("decimal(18,2)").cast("string"))
      p.select(col("p_brand"), Clean.parseMoney(moneyStr).as("parsed"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum(col("parsed")).cast("double").as("total"))
    }),

    // value normalization (Listings_ETL.py:62-70)
    "etl_normalize_values" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey"),
          Clean.normalizeValues(col("n_name"),
            Map("NATION_0" -> "N-ZERO", "NATION_1" -> "N-ONE")).as("norm_name"))
      t(s, d, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("norm_name").agg(count(lit(1)).as("n_customers"))
    }),

    // code truncation (Listings_ETL.py:57-60)
    "etl_truncate_code" -> ((s, d) =>
      t(s, d, "part")
        .select(Clean.truncateCode(col("p_type"), 5).as("code"))
        .groupBy("code").agg(count(lit(1)).as("n"))),

    // dropna on a column (Listings_ETL.py:73)
    "etl_dropna" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(expr("nullif(o_orderpriority, '4-NOT SPECIFIED')").as("pr"))
      Clean.dropNullRows(o, Seq("pr")).groupBy("pr").agg(count(lit(1)).as("n"))
    }),

    // fillna(-1) (Listings_ETL.py:94-95)
    "etl_fillna" -> ((s, d) => {
      val l = t(s, d, "lineitem").select(expr("nullif(l_tax, 0.0)").as("tax"))
      Clean.fillNa(l, -1L, Seq("tax")).groupBy("tax").agg(count(lit(1)).as("n"))
    }),

    // wide table -> keyed sub-table (Listings_ETL.py:76-81)
    "etl_split_normalize" -> ((s, d) =>
      Normalize.splitTables(
        t(s, d, "lineitem"), "l_orderkey",
        Map("price_info" -> Seq("l_linenumber", "l_extendedprice", "l_discount", "l_tax"),
          "facilities" -> Seq("l_linenumber", "l_quantity")))("price_info")),

    // per-key nested accumulation, $addToSet analog (Review_ETL.py:82,102)
    "etl_nest_collect" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          concat_ws(",", sort_array(collect_list(col("o_orderkey").cast("string")))).as("order_keys"))),

    // document projection + nested struct (Listings_ETL.py:84-86,162)
    "etl_doc_project" -> ((s, d) =>
      Normalize.docProject(t(s, d, "documents"),
          Seq("doc_id", "source"), "meta", Seq("lang", "n_chars"))
        .select(col("doc_id"), col("source"),
          concat(col("meta.lang"), lit(":"), col("meta.n_chars").cast("string")).as("meta_s"))),

    // keyed upsert / MERGE (Listings_ETL.py:143-151)
    "etl_upsert" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"), col("o_orderstatus"))
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("price_c") * 2).as("price_c"), lit("U").as("o_orderstatus"))
      Normalize.upsert(base, updates, "o_orderkey")
        .select(col("o_orderkey"), money(col("price_c")).as("price"), col("o_orderstatus"))
    }),

    // document-store merge (Review_ETL.py:58-106): two doc loads with
    // overlapping nested arrays merge $addToSet-style — scalars from the
    // update win, arrays set-union; exercised as a pure transform so the
    // sink's merge core gets an exact oracle row
    "etl_doc_merge" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("event_id"), col("props"))
      def docs(f: org.apache.spark.sql.Column, loader: String) =
        Normalize.nestCollect(ev.filter(f), "user_id", Seq("event_id", "props"), "reviews")
          .withColumn("loader", lit(loader))
      val base = docs(col("event_id") % 2 === 0, "base")
      val upd = docs(col("event_id") % 3 === 0, "upd") // overlaps base at %6=0
      graft.sinks.DocStoreSink.mergeDocs(base, upd, "user_id", "reviews")
        .select(col("user_id"),
          size(col("reviews")).cast("bigint").as("n_reviews"),
          element_at(col("reviews"), 1).getField("event_id").as("first_event"),
          col("loader"))
    }),

    // data-quality expectations gate: N constraints fused into ONE
    // aggregation pass + a referential anti-join check
    "etl_validate" -> ((s, d) => {
      import graft.etl.Validate
      val o = t(s, d, "orders")
      val single = Validate.run(o, Seq(
        Validate.uniqueness("orderkey_unique", col("o_orderkey")),
        Validate.completeness("totalprice_complete", col("o_totalprice")),
        Validate.satisfies("totalprice_positive", col("o_totalprice") > 0, atLeast = 1.0)))
      val ref = Validate.referential("custkey_in_customer",
        o, "o_custkey", t(s, d, "customer"), "c_custkey")
      single.unionByName(ref)
    }),

    // SCD type-2 history build: the reference's upsert-on-id load keeps
    // only the latest state (Listings_ETL.py:143-151); the lake-native form
    // keeps every state TRANSITION as a versioned row. Orders act as a
    // change feed of each customer's priority: runs of identical
    // observations collapse, each change opens a version with
    // valid_from/valid_to/is_current
    "etl_scd2" -> ((s, d) =>
      graft.etl.Scd2.history(
        t(s, d, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"),
        key = "o_custkey", ts = "o_orderdate", tiebreak = "o_orderkey",
        attrs = Seq("o_orderpriority"))
        .select(col("o_custkey"), col("o_orderpriority"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          col("is_current"))),

    // INCREMENTAL SCD2 (Listings_ETL.py:143-151 runs per DAG execution):
    // history built from the pre-1999 feed, then the 1999+ observations
    // merged as a batch — only affected keys re-windowed, untouched
    // history streams through an anti-join. The oracle rebuilds from the
    // FULL feed: incremental merge must be indistinguishable from rebuild
    "etl_scd2_merge" -> ((s, d) => {
      val feed = t(s, d, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
      val cut = lit("1999-01-01").cast("timestamp")
      val existing = graft.etl.Scd2.history(
        feed.filter(col("o_orderdate") < cut),
        key = "o_custkey", ts = "o_orderdate", tiebreak = "o_orderkey",
        attrs = Seq("o_orderpriority"))
      graft.etl.Scd2.mergeHistory(existing, feed.filter(col("o_orderdate") >= cut),
          key = "o_custkey", ts = "o_orderdate", tiebreak = "o_orderkey",
          attrs = Seq("o_orderpriority"))
        .select(col("o_custkey"), col("o_orderpriority"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          col("is_current"))
    }),

    // CDC #1 — snapshot diff: what changed between two loads of a keyed
    // table (the question the reference's wholesale re-load never asks).
    // Two date-sliced snapshots with a deterministic status perturbation
    // exercise all three classes: pre-1995 keys removed, 1997 keys
    // added, every fifth shared key changed. ONE co-partitioned
    // full-outer join; bucketed snapshots would make it zero-Exchange
    "etl_snapshot_diff" -> ((s, d) => {
      val o = t(s, d, "orders")
      val old = o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val nw = o.filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          col("o_orderpriority"))
      graft.etl.Cdc.snapshotDiff(old, nw,
        keys = Seq("o_orderkey"), attrs = Seq("o_orderstatus", "o_orderpriority"))
    }),

    // CDC #2 — apply a keyed I/U/D change log to a base table: only each
    // key's LATEST entry matters (max_by hash agg — map-side combine, no
    // per-key log sort), deletes drop the key, upserts override, untouched
    // base rows pass through. Orders replay as a change log over customers
    "etl_cdc_apply" -> ((s, d) => {
      val base = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val log = t(s, d, "orders").select(
        col("o_custkey").as("c_custkey"), col("o_orderkey"),
        when(col("o_orderstatus") === "F", "U")
          .when(col("o_orderstatus") === "O", "I")
          .otherwise("D").as("op"),
        col("o_orderpriority").as("c_mktsegment"))
      graft.etl.Cdc.applyLog(base, log, keys = Seq("c_custkey"),
        seqCol = "o_orderkey", opCol = "op", attrs = Seq("c_mktsegment"))
    }),

    // INCREMENTAL aggregate maintenance: a rollup kept current by merging
    // each batch's PARTIAL aggregates instead of rescanning the full feed
    // (count/sum re-add, min/max re-min — the algebraic-aggregate
    // property that makes 100 TB dashboards incrementally maintainable).
    // Two date-sliced batches' partials merge to EXACTLY the one-shot
    // aggregate, which is what the oracle computes directly
    "etl_agg_merge" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val cut = to_timestamp(lit("1996-01-01 00:00:00"))
      def partial(df: org.apache.spark.sql.DataFrame) = df
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("pc"),
          cents(col("l_quantity")).as("qc"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("s"),
          min(col("qc")).as("mn"), max(col("qc")).as("mx"))
      partial(li.filter(col("l_shipdate") < cut))
        .unionByName(partial(li.filter(col("l_shipdate") >= cut)))
        .groupBy("l_returnflag")
        .agg(sum(col("n")).as("n"), sum(col("s")).as("sum_price_cents"),
          min(col("mn")).as("min_qty_cents"), max(col("mx")).as("max_qty_cents"))
    }),

    // Z-order layout audit: orders gridded 256×256 on (custkey,
    // orderdate), Morton-interleaved, bucketed by the top 6 z-bits.
    // Each bucket's min/max span on BOTH dimensions is what per-file
    // stats would record after `ZOrder.layout` range-partitions on z —
    // tight rectangles = file skipping on either filter column (the
    // rectangle bound itself is spec-asserted in ZOrderSpec; here the
    // full bucket/span table is hash-checked cross-engine)
    "etl_zorder_layout" -> ((s, d) => {
      import graft.etl.ZOrder
      val bits = 8
      val o = t(s, d, "orders").select(
        col("o_custkey").as("ck"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01"))).cast("bigint").as("dd"))
      val bounds = o.agg(
        min(col("ck")).as("ckmn"), max(col("ck")).as("ckmx"),
        min(col("dd")).as("ddmn"), max(col("dd")).as("ddmx"))
      o.crossJoin(broadcast(bounds))
        .select(
          ZOrder.cell(col("ck"), col("ckmn"), col("ckmx"), bits).as("xn"),
          ZOrder.cell(col("dd"), col("ddmn"), col("ddmx"), bits).as("yn"))
        .withColumn("z", ZOrder.interleave(col("xn"), col("yn"), bits))
        .groupBy(shiftright(col("z"), 2 * bits - 6).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xn")).as("x_min"), max(col("xn")).as("x_max"),
          min(col("yn")).as("y_min"), max(col("yn")).as("y_max"))
    }),

    // THREE-dimensional z-order audit — the general OPTIMIZE ZORDER BY
    // (c1, c2, c3) form: orders gridded 32x32x32 on (custkey, orderdate,
    // price cents), interleaveN packs bit i of dim j at position 3i+j,
    // buckets by the top 6 z-bits; each bucket's min/max span on ALL
    // THREE dimensions is hash-checked cross-engine (the same
    // construction as etl_zorder_layout, one dimension wider)
    "etl_zorder3" -> ((s, d) => {
      import graft.etl.ZOrder
      val bits = 5
      val o = t(s, d, "orders").select(
        col("o_custkey").as("ck"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("bigint").as("dd"),
        cents(col("o_totalprice")).as("pc"))
      val bounds = o.agg(
        min(col("ck")).as("ckmn"), max(col("ck")).as("ckmx"),
        min(col("dd")).as("ddmn"), max(col("dd")).as("ddmx"),
        min(col("pc")).as("pcmn"), max(col("pc")).as("pcmx"))
      o.crossJoin(broadcast(bounds))
        .select(
          ZOrder.cell(col("ck"), col("ckmn"), col("ckmx"), bits).as("xn"),
          ZOrder.cell(col("dd"), col("ddmn"), col("ddmx"), bits).as("yn"),
          ZOrder.cell(col("pc"), col("pcmn"), col("pcmx"), bits).as("wn"))
        .withColumn("z", ZOrder.interleaveN(
          Seq(col("xn"), col("yn"), col("wn")), bits))
        .groupBy(shiftright(col("z"), 3 * bits - 6).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xn")).as("x_min"), max(col("xn")).as("x_max"),
          min(col("yn")).as("y_min"), max(col("yn")).as("y_max"),
          min(col("wn")).as("w_min"), max(col("wn")).as("w_max"))
    }),

    // Z-ORDER MAINTENANCE lifecycle, oracle-checked end-to-end
    // (sinks/ZOrderTable): pre-1996 orders written as generation 0
    // (bounds pinned there), 1996-97 and 1998-99 batches appended RAW to the
    // tail, optimize re-clusters that tail as generation 1 through the
    // park-promote swap, a 1997+ batch appends (dd values drift past
    // the pinned bounds — the clamp path runs for real), then compact
    // collapses gens 0, 1 and the live tail into one fresh generation,
    // and the whole table reads back. The oracle computes the union
    // directly: the hash passes iff write, every append, BOTH swap ops,
    // and the resolved read are lossless row-for-row. Physical claims
    // (decay/restoration/collapse, files, crash windows) live in
    // ZOrderTableSpec + `tools.ScaleCurve z`
    "etl_zorder_optimize" -> ((s, d) => {
      import graft.sinks.ZOrderTable
      val path = Scratch.lifecycle(s, d, "zorder_optimize") + "/ztab"
      val o = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey").as("ck"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("bigint").as("dd"), col("o_orderdate"))
      def slice(p: org.apache.spark.sql.Column) =
        o.filter(p).drop("o_orderdate")
      val cut1 = lit("1996-01-01").cast("timestamp")
      val cut2 = lit("1998-01-01").cast("timestamp")
      val cut3 = lit("2000-01-01").cast("timestamp")
      ZOrderTable.write(slice(col("o_orderdate") < cut1), path,
        "ck", "dd", bits = 8, numFiles = 32)
      ZOrderTable.append(
        slice(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2), path)
      ZOrderTable.append(
        slice(col("o_orderdate") >= cut2 && col("o_orderdate") < cut3), path)
      ZOrderTable.optimize(s, path)
      ZOrderTable.append(slice(col("o_orderdate") >= cut3), path)
      ZOrderTable.compact(s, path)
      ZOrderTable.read(s, path).select("o_orderkey", "ck", "dd")
    }),

    // GLOBAL dense surrogate-key assignment: every order gets its 1-based
    // position in (o_orderdate, o_orderkey) order — the dimension-key /
    // sample-index generator. The naive `row_number() OVER (ORDER BY …)`
    // plans an Exchange SinglePartition (one task sorts the whole table
    // — at 100 TB it never finishes); this is Rank's two-level
    // construction with one implicit group: range exchange + tiny
    // offset broadcast + per-physical-partition local rank. RankSpec
    // asserts the plan carries NO SinglePartition exchange
    "etl_dense_ids" -> ((s, d) =>
      graft.operators.Rank.withGlobalIds(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          orderCols = Seq("o_orderdate", "o_orderkey"))
        .select(col("sid"), col("o_orderkey"))),

    // single-pass data profiling: per column n/nulls/distinct-est/min/max
    // — one multi-aggregate scan for the basics, one KMV-sketch pass for
    // distincts (EXACT below 256 — the enum columns a profiler most
    // needs right; ~6% RSE above). String forms follow the repo's
    // cross-engine rules (cents for money, formatted dates)
    // UNPIVOT (melt): wide attribute columns to (key, attr, value) long
    // form — the inverse of q_pivot and the reshape every profiler,
    // quality gate, and EAV store load starts from. Native
    // `Dataset.unpivot` (Catalyst Expand: each row emits its attr rows
    // map-side — zero shuffle, no per-attr rescans; a UNION ALL of N
    // selects would scan the table N times). Values share one type by
    // contract: cents/size cast to bigint before the melt
    "etl_unpivot" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("bigint").as("size"),
          cents(col("p_retailprice")).as("price_cents"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("price_cents")), "attr", "value")),

    "etl_profile" -> ((s, d) => {
      import graft.etl.Profile.ColumnSpec
      val o = t(s, d, "orders")
      val pc = cents(col("o_totalprice"))
      val fdate = date_format(col("o_orderdate"), "yyyy-MM-dd")
      val statusNullable = nullif(col("o_orderstatus"), lit("P"))
      graft.etl.Profile.profile(o, Seq(
        ColumnSpec("o_orderstatus", col("o_orderstatus"),
          min(col("o_orderstatus")).cast("string"), max(col("o_orderstatus")).cast("string")),
        ColumnSpec("o_orderpriority", col("o_orderpriority"),
          min(col("o_orderpriority")).cast("string"), max(col("o_orderpriority")).cast("string")),
        ColumnSpec("o_custkey", col("o_custkey").cast("string"),
          min(col("o_custkey")).cast("string"), max(col("o_custkey")).cast("string")),
        ColumnSpec("o_totalprice_cents", pc.cast("string"),
          min(pc).cast("string"), max(pc).cast("string")),
        ColumnSpec("o_orderdate", fdate, min(fdate), max(fdate)),
        ColumnSpec("o_status_nullable", statusNullable,
          min(statusNullable).cast("string"), max(statusNullable).cast("string"))))
    }),

    // numeric coercion, errors -> null (Review_ETL.py:77)
    "etl_numeric_coerce" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderpriority"),
          Clean.coerceNumeric(regexp_extract(col("o_orderpriority"), "(\\d+)", 1), "bigint").as("num"),
          Clean.coerceNumeric(col("o_orderstatus"), "bigint").as("bad"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("num")).as("sum_num"), count(col("bad")).as("n_bad")))
      ,

    // JSONL ROUND-TRIP — the wire format LLM corpora actually ship in:
    // documents written as JSON lines (escaped newlines and all) and
    // read back distributed with an EXPLICIT schema (no inference pass —
    // at 100 TB schema inference is a full extra scan), emitted row-for
    // -row. The oracle reads the original parquet: the hash passes iff
    // the round-trip is lossless, text bytes included
    "etl_jsonl_roundtrip" -> ((s, d) =>
      s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(jsonlDir(s, d))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))),

    // SCHEMA EVOLUTION across partition generations — the drift every
    // long-lived 100 TB table accumulates: an early snapshot carries
    // o_totalprice, a later one dropped it and added status/priority.
    // `mergeSchema` unions the parquet footers at PLAN time (no data
    // rewrite — absent columns surface as typed nulls per file), so one
    // reader spans every generation; partition discovery types `snap`
    // from the directory name. The two snapshots are materialized once
    // per (app, sf dir) into a swept temp dir ([[snapshotDir]])
    "etl_schema_evolve" -> ((s, d) =>
      s.read.option("mergeSchema", "true").parquet(snapshotDir(s, d))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"),
          col("snap").cast("int").as("snap"))),

    // THE WHOLE REFERENCE, oracle-checked END-TO-END as one composition
    // (Listings_ETL.py:29-151 + Review_ETL.py:58-106): CSV extract →
    // clean (money/truncate/normalize/dropna/fillna/dedup-by-key) →
    // 5-table split → upsert-load two batches (latest-wins) → document
    // projection → two-batch review nest-merge ($addToSet set-union).
    // Every stat is computed from the LOADED stores read back from disk,
    // so the hash passes iff extract, clean, split, upsert, and merge
    // all produced exactly the oracle's replay — the pipeline_corpus_prep
    // discipline applied to the reference's own DAGs. All values BIGINT
    // (integer cents for money) — exact cross-engine by construction.
    "pipeline_reference_etl" -> ((s, d) => {
      import graft.etl.ReferencePipeline
      val scratch = Scratch.lifecycle(s, d, "reference_etl")
      val out = scratch + "/out"
      val csvBase = scratch + "/csv"

      // listings-shaped wide table from customer⋈nation: money strings
      // (with a real thousands comma for the parse to strip), over-long
      // zip codes, normalizable state values, null names (dropna bait),
      // null beds (fillna bait) — every cleaning stage has planted work
      def moneyStr(v: org.apache.spark.sql.Column) = {
        val dec = v.cast("decimal(18,2)").cast("string")
        concat(lit("$"),
          when(v >= 1000,
            concat(dec.substr(lit(1), length(dec) - lit(6)), lit(","),
              dec.substr(length(dec) - lit(5), lit(6))))
            .otherwise(dec))
      }
      val base = t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      def widen(df: org.apache.spark.sql.DataFrame,
                price: org.apache.spark.sql.Column,
                beds: org.apache.spark.sql.Column) =
        df.select(
          col("c_custkey").as("id"),
          when(col("c_custkey") % 37 === 0, lit(null)).otherwise(col("c_name")).as("name"),
          moneyStr(price).as("price"),
          concat(lpad((col("c_custkey") * 7 % 1000).cast("string"), 5, "0"),
            lit("-"), lpad((col("c_custkey") % 97).cast("string"), 4, "0")).as("zipcode"),
          col("n_name").as("state"),
          beds.as("beds"),
          (col("c_custkey") + 100000).as("host_id"),
          col("c_mktsegment").as("about"),
          (col("c_custkey") % 7 + 1).as("listings_count"))
      val b1 = widen(base, col("c_acctbal"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_custkey") % 4 + 1))
      // identical-payload duplicate keys: the drop_duplicates stage's work
      val batch1 = b1.unionAll(b1.filter(col("id") % 11 === 0))
      // day-2 batch: every id%3==0 listing re-delivered with a doubled
      // price and changed beds — the upsert's latest-wins evidence
      val batch2 = widen(base.filter(col("c_custkey") % 3 === 0),
        col("c_acctbal") * 2, col("c_custkey") % 4 + 2)

      // the reference's entry format is CSV — both batches take the hop
      // (independent paths: overlap the two extract writes, guide §2.6)
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => batch1.write.option("header", "true").mode("overwrite").csv(s"$csvBase/b1"),
        () => batch2.write.option("header", "true").mode("overwrite").csv(s"$csvBase/b2")))
      val cfg = ReferencePipeline.Config(
        key = "id",
        moneyCols = Seq("price"),
        truncateCols = Map("zipcode" -> 5),
        valueMaps = Map("state" -> Map(
          "UNITED STATES" -> "US", "UNITED KINGDOM" -> "UK")),
        requiredCols = Seq("name"),
        fillMinusOne = Seq("beds"),
        tableSchema = Map(
          "host_info" -> Seq("name", "host_id"),
          "hotel_location" -> Seq("state", "zipcode"),
          "hotel_facilities" -> Seq("beds"),
          "price_info" -> Seq("price"),
          "host_metrics" -> Seq("listings_count")),
        docFlat = Seq("id", "name"),
        docNested = ("host_desc", Seq("host_id", "about")))
      // reviews: two overlapping daily batches (o_orderkey%6==0 rows are
      // re-delivered in batch B — at-least-once), exact dups planted in A,
      // unparseable listing ids planted everywhere (coerce→null→drop)
      val rv = t(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0,
          concat(lit("id"), col("o_custkey").cast("string")))
          .otherwise(col("o_custkey").cast("string")).as("listing_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("rdate"),
        col("o_orderpriority").as("comments"))
      val rvA = rv.filter(col("o_orderkey") % 2 === 0)
        .unionAll(rv.filter(col("o_orderkey") % 26 === 0))
      val rvB = rv.filter(col("o_orderkey") % 2 =!= 0 || col("o_orderkey") % 6 === 0)
      // two ORDERED chains — day-1-then-day-2 listings loads, A-then-B
      // review loads — that are independent of EACH OTHER (disjoint
      // store paths: the table/doc stores vs reviews_store; the stats
      // below read both only after both chains land). The reference runs
      // them as two separate Airflow DAGs, i.e. concurrently — overlap
      // the chains (guide §2.6), keep each chain's order
      graft.etl.Concurrent.awaitAll(2)(Seq(
        () => {
          ReferencePipeline.run(s, graft.sources.Tables.csv(s, s"$csvBase/b1"), cfg, out)
          ReferencePipeline.run(s, graft.sources.Tables.csv(s, s"$csvBase/b2"), cfg, out)
        },
        () => {
          ReferencePipeline.loadReviews(s, rvA, s"$out/reviews_store",
            "listing_id", Seq("rdate", "comments"))
          ReferencePipeline.loadReviews(s, rvB, s"$out/reviews_store",
            "listing_id", Seq("rdate", "comments"))
        }))

      // every stat reads the LOADED store back from disk
      def rb(name: String) = s.read.parquet(s"$out/$name")
      def stat(tbl: String, st: String, v: org.apache.spark.sql.Column,
               src: org.apache.spark.sql.DataFrame) =
        src.agg(v.cast("bigint").as("value"))
          .select(lit(tbl).as("tbl"), lit(st).as("stat"), col("value"))
      val host = rb("host_info"); val loc = rb("hotel_location")
      val fac = rb("hotel_facilities"); val price = rb("price_info")
      val met = rb("host_metrics"); val docs = rb("documents_store")
      val rev = rb("reviews_store")
      Seq(
        stat("host_info", "n_rows", count(lit(1)), host),
        stat("host_info", "n_hosts", countDistinct(col("host_id")), host),
        stat("hotel_location", "n_rows", count(lit(1)), loc),
        stat("hotel_location", "n_distinct_zip", countDistinct(col("zipcode")), loc),
        stat("hotel_location", "n_mapped",
          sum(when(col("state").isin("US", "UK"), 1L).otherwise(0L)), loc),
        stat("hotel_facilities", "n_rows", count(lit(1)), fac),
        stat("hotel_facilities", "sum_beds", sum(col("beds")), fac),
        stat("hotel_facilities", "n_filled",
          sum(when(col("beds") === -1, 1L).otherwise(0L)), fac),
        stat("price_info", "n_rows", count(lit(1)), price),
        stat("price_info", "sum_cents", sum((col("price") * 100).cast("long")), price),
        stat("host_metrics", "n_rows", count(lit(1)), met),
        stat("host_metrics", "sum_listings", sum(col("listings_count")), met),
        stat("documents_store", "n_rows", count(lit(1)), docs),
        stat("documents_store", "n_hosts",
          countDistinct(col("host_desc.host_id")), docs),
        stat("reviews_store", "n_listings", count(lit(1)), rev),
        stat("reviews_store", "n_reviews", sum(size(col("reviews"))), rev)
      ).reduce(_ unionAll _)
    }),

    // SMALL-FILE COMPACTION (`OPTIMIZE` without the z-order): an
    // incremental writer fragments a table into tiny files and every
    // scan then pays one task + footer read per file — at 100 TB the
    // FILE COUNT, not the byte count, throttles the scheduler. The key
    // runs the real lifecycle each pass: a copy of the 64-file fragmented
    // fixture (built once per app+sf — the damage — and never compacted
    // itself, so every call starts from 64 files), `Compact.filesInPlace`
    // on the copy (measured-bytes target sizing + the park-promote
    // swap), then the result READ BACK FROM THE COMPACTED STORE — the
    // oracle reads the original table, so the hash passes iff compaction
    // was lossless row for row. File-count assertions live in SkylineSpec
    // (a file count isn't SQL-expressible)
    "etl_compact_files" -> ((s, d) => {
      val store = Scratch.lifecycle(s, d, "compact_files") + "/orders"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(fragmentedDir(s, d) + "/orders"), new java.io.File(store))
      graft.sinks.Compact.filesInPlace(s, store, targetFileBytes = 4L << 20)
      s.read.parquet(store)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // TABLE CONTENT CHECKSUM — the cross-engine reconciliation
    // primitive: after any migration/backfill/replication, compare
    // per-slice (n_rows, Σ digest, XOR digest) instead of shipping
    // rows. Order-free by construction (sum/xor commute), pure map +
    // one aggregate — ZERO repartitioning constraints, so any engine
    // with md5 reproduces it over any partitioning. The row repr uses
    // only exactly-stringifiable values (bigints + raw strings — never
    // a float's engine-specific repr); digests are the 31-bit md5
    // prefix so a bigint SUM cannot overflow below ~4×10⁹ rows/slice
    // (decimal(38,0) past that)
    "etl_checksum" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_mktsegment").as("segment"),
          hash31(concat_ws("|", col("c_custkey"), col("c_name"),
            col("c_nationkey"), cents(col("c_acctbal")))).as("h"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h")).cast("bigint").as("sum_digest"),
          expr("bit_xor(h)").cast("bigint").as("xor_digest"))),

    // ANTI-ENTROPY REPAIR PLAN — what `etl_checksum` is FOR: two
    // replicas of a keyed table (replica B carries a planted
    // deterministic divergence: dropped keys ≡ 0 mod 997, a 1-cent
    // corruption on keys ≡ 0 mod 991 — the silent-loss and bit-rot
    // failure shapes), reconciled by comparing per-slice
    // (n, Σ digest, XOR digest) triples and emitting ONLY the
    // divergent slices — the repair transfer list. At 100 TB the
    // comparison moves `slices × 3 bigints`, never rows; only the
    // slices named in the output need re-shipping. Pure map + one
    // aggregate per replica + one slice-keyed join, output bounded by
    // the divergence rate
    "etl_anti_entropy" -> ((s, d) => {
      val a = t(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"), cents(col("o_totalprice")).as("pc"))
      val b = a.filter(col("k") % 997 =!= 0)
        .withColumn("pc", when(col("k") % 991 === 0, col("pc") + 1).otherwise(col("pc")))
      def digest(df: org.apache.spark.sql.DataFrame, suffix: String) =
        df.select(expr("k div 1024").as("slice"),
            hash31(concat_ws("|", col("k"), col("c"), col("pc"))).as("h"))
          .groupBy("slice")
          .agg(count(lit(1)).as("n_" + suffix),
            sum(col("h")).cast("bigint").as("sum_" + suffix),
            expr("bit_xor(h)").cast("bigint").as("xor_" + suffix))
      digest(a, "a").join(digest(b, "b"), Seq("slice"), "full_outer")
        .filter(!(col("n_a") <=> col("n_b")) ||
          !(col("sum_a") <=> col("sum_b")) || !(col("xor_a") <=> col("xor_b")))
    }),

    // LATE-ARRIVING DIMENSION repair — the warehouse load-order problem:
    // facts land before their dimension rows (a new product sells before
    // the catalog feed ships it). Orphans must QUARANTINE, not drop or
    // null-join, and the repair must resolve them once the late dim
    // batch arrives. One broadcast-able anti-join splits the feed
    // (quarantine mass is bounded by the orphan rate, not the fact
    // table); the repair joins ONLY the quarantine against the late
    // batch. Output = per-stage (n_rows, Σ qty cents) ledger — the hash
    // proves conservation: matched + quarantined = all, repaired =
    // quarantined (every orphan resolved by the full dim)
    "etl_orphan_repair" -> ((s, d) => {
      val facts = t(s, d, "lineitem").select(col("l_partkey"),
        cents(col("l_quantity")).as("qc"))
      val dimV1 = t(s, d, "part").filter(col("p_partkey") % 10 =!= 0)
        .select(col("p_partkey"))
      val dimLate = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"))
      val matched = facts.join(dimV1, facts("l_partkey") === dimV1("p_partkey"),
        "left_semi")
      val quarantine = facts.join(dimV1, facts("l_partkey") === dimV1("p_partkey"),
        "left_anti")
      val repaired = quarantine.join(dimLate,
        quarantine("l_partkey") === dimLate("p_partkey"), "left_semi")
      def stage(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("qc")).cast("bigint").as("sum_qty_cents"))
          .select(lit(name).as("stage"), col("n_rows"), col("sum_qty_cents"))
      stage("matched_v1", matched)
        .unionAll(stage("quarantined", quarantine))
        .unionAll(stage("repaired", repaired))
    }),

    // PSEUDONYMIZATION — the privacy transform `ta_redact_pii` is NOT:
    // redaction destroys joinability, pseudonymization preserves it
    // (same input → same stable token, across tables and loads), which
    // is what analytics on de-identified data actually requires. Tokens
    // are salted-md5-derived — deterministic, collision-audited in the
    // same pass (n_distinct tokens must equal n_distinct names; a
    // truncated-digest collision would silently MERGE two people, the
    // worst failure mode of the technique — surfaced as a column, not
    // assumed). Zero shuffles for the map; one aggregate for the audit
    "etl_pseudonymize" -> ((s, d) => {
      val salt = "graft_r17" // deployment secret; literal here so the oracle replays
      val tok = (c: org.apache.spark.sql.Column) =>
        concat(lit("u"), lpad(hash31(concat(c, lit(salt))).cast("string"), 10, "0"))
      val rows = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          tok(col("c_name")).as("pseudo_name"))
      rows.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("c_name")).as("n_names"),
          countDistinct(col("pseudo_name")).as("n_tokens"),
          min(col("pseudo_name")).as("min_token"))
        .withColumn("collision_free", col("n_tokens") === col("n_names"))
    })
  )

  /** Documents as JSON lines, a [[Scratch]] kept dir written once per
    * (application, sf dir). */
  private def jsonlDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    Scratch.kept(s, d, "jsonl") { dir =>
      t(s, d, "documents").write.mode("overwrite").json(dir + "/docs")
    } + "/docs"

  /** Fragmented orders store for `etl_compact_files`, a kept dir written
    * once per (application, sf dir) — 64 deliberately tiny files, the
    * shape an incremental writer leaves behind. Read-only: each call
    * compacts a copy of it in a lifecycle dir. */
  private def fragmentedDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    Scratch.kept(s, d, "frag") { dir =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(64).write.mode("overwrite").parquet(dir + "/orders")
    }

  /** Two parquet snapshot generations of `orders` with DIFFERENT schemas,
    * a kept dir written once per (application, sf dir). */
  private def snapshotDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    Scratch.kept(s, d, "snap") { base =>
      val o = t(s, d, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/snap=1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/snap=2")
    }

  val oracle: Map[String, String] = Map(
    // the melt replayed as the N-scan UNION ALL the operator avoids
    "etl_unpivot" ->
      """SELECT p_partkey, 'size' AS attr, CAST(p_size AS BIGINT) AS value FROM part
         UNION ALL
         SELECT p_partkey, 'price_cents',
                CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) FROM part""",
    // the two-level construction must equal the naive global row_number
    // exactly — (o_orderdate, o_orderkey) is unique, so the mapping is
    // fully deterministic
    "etl_dense_ids" ->
      """SELECT row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS sid,
                o_orderkey
         FROM orders""",
    // the original table: the hash passes iff the JSONL round-trip
    // reproduced every value, text bytes included
    "etl_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // the merged-footer read replayed as a typed union: each generation
    // contributes its own columns, absent ones as typed NULLs
    "etl_schema_evolve" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(NULL AS VARCHAR) AS o_orderstatus,
                CAST(NULL AS VARCHAR) AS o_orderpriority,
                1 AS snap
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE),
                o_orderstatus, o_orderpriority, 2
         FROM orders WHERE o_orderkey % 2 <> 0""",
    // the whole reference DAG replayed: clean semantics inline (the money
    // string built from c_acctbal parses back to round2(c_acctbal), so
    // the oracle computes cents directly), upsert latest-wins as a CASE
    // on the batch-2 membership predicate, dedup-by-key by counting base
    // rows once, review set-union as DISTINCT over the union of batches
    // (the two overlapping loads merge to exactly the one-shot distinct)
    "pipeline_reference_etl" ->
      """WITH wide AS (
           SELECT c_custkey AS id,
                  CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE c_name END AS name,
                  c_acctbal AS bal,
                  n_name AS state,
                  c_custkey + 100000 AS host_id,
                  c_custkey % 7 + 1 AS listings_count
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         fin AS (
           SELECT id, name,
                  CASE WHEN state = 'UNITED STATES' THEN 'US'
                       WHEN state = 'UNITED KINGDOM' THEN 'UK'
                       ELSE state END AS state,
                  lpad(CAST((id * 7) % 1000 AS VARCHAR), 5, '0') AS zipcode,
                  CASE WHEN id % 3 = 0
                       THEN CAST(CAST(bal * 2 AS DECIMAL(18,2)) * 100 AS BIGINT)
                       ELSE CAST(CAST(bal AS DECIMAL(18,2)) * 100 AS BIGINT)
                       END AS price_cents,
                  CASE WHEN id % 3 = 0 THEN id % 4 + 2
                       WHEN id % 5 = 0 THEN -1
                       ELSE id % 4 + 1 END AS beds,
                  host_id, listings_count
           FROM wide WHERE name IS NOT NULL),
         rv AS (
           SELECT DISTINCT o_custkey AS lid,
                  strftime(o_orderdate, '%Y-%m-%d') AS rdate,
                  o_orderpriority AS comments
           FROM orders WHERE o_orderkey % 97 <> 0)
       SELECT 'host_info' AS tbl, 'n_rows' AS stat, CAST(count(*) AS BIGINT) AS value FROM fin
       UNION ALL SELECT 'host_info', 'n_hosts', CAST(count(DISTINCT host_id) AS BIGINT) FROM fin
       UNION ALL SELECT 'hotel_location', 'n_rows', CAST(count(*) AS BIGINT) FROM fin
       UNION ALL SELECT 'hotel_location', 'n_distinct_zip', CAST(count(DISTINCT zipcode) AS BIGINT) FROM fin
       UNION ALL SELECT 'hotel_location', 'n_mapped', CAST(coalesce(sum(CASE WHEN state IN ('US','UK') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM fin
       UNION ALL SELECT 'hotel_facilities', 'n_rows', CAST(count(*) AS BIGINT) FROM fin
       UNION ALL SELECT 'hotel_facilities', 'sum_beds', CAST(sum(beds) AS BIGINT) FROM fin
       UNION ALL SELECT 'hotel_facilities', 'n_filled', CAST(coalesce(sum(CASE WHEN beds = -1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM fin
       UNION ALL SELECT 'price_info', 'n_rows', CAST(count(*) AS BIGINT) FROM fin
       UNION ALL SELECT 'price_info', 'sum_cents', CAST(sum(price_cents) AS BIGINT) FROM fin
       UNION ALL SELECT 'host_metrics', 'n_rows', CAST(count(*) AS BIGINT) FROM fin
       UNION ALL SELECT 'host_metrics', 'sum_listings', CAST(sum(listings_count) AS BIGINT) FROM fin
       UNION ALL SELECT 'documents_store', 'n_rows', CAST(count(*) AS BIGINT) FROM fin
       UNION ALL SELECT 'documents_store', 'n_hosts', CAST(count(DISTINCT host_id) AS BIGINT) FROM fin
       UNION ALL SELECT 'reviews_store', 'n_listings', CAST(count(DISTINCT lid) AS BIGINT) FROM rv
       UNION ALL SELECT 'reviews_store', 'n_reviews', CAST(count(*) AS BIGINT) FROM rv""",
    // per-column stats + KMV distinct replay, one CTE pair per column;
    // generated from the same column list as the Spark side
    "etl_profile" -> {
      val cols: Seq[(String, String, String, String)] = Seq(
        ("o_orderstatus", "o_orderstatus",
          "CAST(min(o_orderstatus) AS VARCHAR)", "CAST(max(o_orderstatus) AS VARCHAR)"),
        ("o_orderpriority", "o_orderpriority",
          "CAST(min(o_orderpriority) AS VARCHAR)", "CAST(max(o_orderpriority) AS VARCHAR)"),
        ("o_custkey", "CAST(o_custkey AS VARCHAR)",
          "CAST(min(o_custkey) AS VARCHAR)", "CAST(max(o_custkey) AS VARCHAR)"),
        ("o_totalprice_cents", "CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR)",
          "CAST(min(CAST(round(o_totalprice*100) AS BIGINT)) AS VARCHAR)",
          "CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS VARCHAR)"),
        ("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')",
          "min(strftime(o_orderdate, '%Y-%m-%d'))", "max(strftime(o_orderdate, '%Y-%m-%d'))"),
        ("o_status_nullable", "nullif(o_orderstatus, 'P')",
          "CAST(min(nullif(o_orderstatus, 'P')) AS VARCHAR)",
          "CAST(max(nullif(o_orderstatus, 'P')) AS VARCHAR)"))
      val ctes = cols.zipWithIndex.map { case ((name, sv, mn, mx), i) =>
        s"""k$i AS (SELECT h FROM (SELECT DISTINCT CAST(concat('0x', substr(md5($sv), 1, 15)) AS BIGINT) AS h
                      FROM orders WHERE $sv IS NOT NULL) ORDER BY h LIMIT 256),
            s$i AS (SELECT '$name' AS col_name, count(*) AS n_rows,
                      CAST(sum(CASE WHEN $sv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                      $mn AS min_s, $mx AS max_s FROM orders),
            e$i AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                                ELSE round((255.0 * 1152921504606846976.0) / CAST(max(h) AS DOUBLE), 6)
                           END AS n_distinct_est FROM k$i)"""
      }.mkString(",\n            ")
      val selects = cols.indices.map(i =>
        s"SELECT col_name, n_rows, n_null, n_distinct_est, min_s, max_s FROM s$i, e$i")
        .mkString("\n         UNION ALL ")
      s"WITH $ctes\n         $selects"
    },
    // the 3-D Morton sum replayed: bit i of dim j at position 3i+j;
    // same explicit-floor cells, price cents exact in both engines
    "etl_zorder3" -> {
      val bits = 5
      val terms = (for {
        i <- 0 until bits
        (c, j) <- Seq(("xn", 0), ("yn", 1), ("wn", 2))
      } yield s"(($c >> $i) & 1) * ${1L << (3 * i + j)}").mkString(" + ")
      def cellSql(v: String, mn: String, mx: String) =
        s"""CASE WHEN $mx = $mn THEN 0
                 ELSE CAST(floor(CAST($v - $mn AS DOUBLE) * ${(1L << bits) - 1}.0 / CAST($mx - $mn AS DOUBLE)) AS BIGINT) END"""
      s"""WITH src AS (SELECT o_custkey AS ck,
                              date_diff('day', DATE '1992-01-01', o_orderdate) AS dd,
                              CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                       FROM orders),
            bounds AS (SELECT min(ck) AS ckmn, max(ck) AS ckmx,
                              min(dd) AS ddmn, max(dd) AS ddmx,
                              min(pc) AS pcmn, max(pc) AS pcmx FROM src),
            cells AS (SELECT
                ${cellSql("ck", "ckmn", "ckmx")} AS xn,
                ${cellSql("dd", "ddmn", "ddmx")} AS yn,
                ${cellSql("pc", "pcmn", "pcmx")} AS wn
              FROM src, bounds),
            zz AS (SELECT xn, yn, wn, $terms AS z FROM cells)
         SELECT z >> ${3 * bits - 6} AS zbucket, count(*) AS n,
                min(xn) AS x_min, max(xn) AS x_max,
                min(yn) AS y_min, max(yn) AS y_max,
                min(wn) AS w_min, max(wn) AS w_max
         FROM zz GROUP BY 1"""
    },
    // Morton interleave replayed as the same statically-unrolled
    // shift/mask/multiply sum; grid cells via explicit floor (bare
    // double→int CAST rounds in DuckDB but truncates in Spark)
    "etl_zorder_layout" -> {
      val bits = 8
      val terms = (0 until bits).map(i =>
        s"((xn >> $i) & 1) * ${1L << (2 * i)} + ((yn >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      s"""WITH src AS (SELECT o_custkey AS ck,
                              date_diff('day', DATE '1992-01-01', o_orderdate) AS dd
                       FROM orders),
            bounds AS (SELECT min(ck) AS ckmn, max(ck) AS ckmx,
                              min(dd) AS ddmn, max(dd) AS ddmx FROM src),
            cells AS (SELECT
                CASE WHEN ckmx = ckmn THEN 0
                     ELSE CAST(floor(CAST(ck - ckmn AS DOUBLE) * 255.0 / CAST(ckmx - ckmn AS DOUBLE)) AS BIGINT) END AS xn,
                CASE WHEN ddmx = ddmn THEN 0
                     ELSE CAST(floor(CAST(dd - ddmn AS DOUBLE) * 255.0 / CAST(ddmx - ddmn AS DOUBLE)) AS BIGINT) END AS yn
              FROM src, bounds),
            zz AS (SELECT xn, yn, $terms AS z FROM cells)
         SELECT z >> ${2 * bits - 6} AS zbucket, count(*) AS n,
                min(xn) AS x_min, max(xn) AS x_max,
                min(yn) AS y_min, max(yn) AS y_max
         FROM zz GROUP BY 1"""
    },
    // the logical union the lifecycle must preserve — row-for-row, so
    // the hash passes iff no write/append/swap/read step lost or
    // doubled anything
    "etl_zorder_optimize" ->
      """SELECT o_orderkey, o_custkey AS ck,
                date_diff('day', DATE '1992-01-01', o_orderdate) AS dd
         FROM orders""",
    "etl_select_rename" ->
      "SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment FROM customer",
    "etl_dedup_key" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) = 1""",
    "etl_dedup_exact" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    // the same deletion-neighborhood construction: i = 1..len deletes
    // position i, i = len+1 is the identity variant (insertion pairs
    // meet the shorter side there); exact levenshtein verifies
    "etl_fuzzy_link" ->
      """WITH names AS (SELECT DISTINCT s_name AS n FROM supplier),
            v AS (SELECT n, substr(n, 1, CAST(i AS INT) - 1) || substr(n, CAST(i AS INT) + 1) AS var
                  FROM names, unnest(range(1, length(n) + 2)) AS t(i)),
            cand AS (SELECT DISTINCT a.n AS name_a, b.n AS name_b
                     FROM v a JOIN v b ON a.var = b.var AND a.n < b.n)
         SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
         FROM cand WHERE levenshtein(name_a, name_b) <= 1""",
    // two deletion levels: v1 = 0- and 1-deletion strings (identity
    // included), v2 deletes once more from each — 0/1/2-deletion
    // neighborhood, deduped before the join
    "etl_fuzzy_link2" ->
      """WITH names AS (SELECT DISTINCT p_name AS n FROM part),
            v1 AS (SELECT n, substr(n, 1, CAST(i AS INT) - 1) || substr(n, CAST(i AS INT) + 1) AS v
                   FROM names, unnest(range(1, length(n) + 2)) AS t(i)),
            v2 AS (SELECT DISTINCT n, substr(v, 1, CAST(j AS INT) - 1) || substr(v, CAST(j AS INT) + 1) AS var
                   FROM v1, unnest(range(1, length(v) + 2)) AS u(j)),
            cand AS (SELECT DISTINCT a.n AS name_a, b.n AS name_b
                     FROM v2 a JOIN v2 b ON a.var = b.var AND a.n < b.n)
         SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
         FROM cand WHERE levenshtein(name_a, name_b) <= 2""",
    // independent method: brute-force all-pairs levenshtein over the
    // (small) distinct-name set — shares NOTHING with the segment
    // blocking it checks, so a blocking completeness bug (a missed
    // pair) cannot cancel out
    "etl_fuzzy_link_seg" ->
      """WITH names AS (SELECT DISTINCT p_name AS n FROM part)
         SELECT a.n AS name_a, b.n AS name_b, levenshtein(a.n, b.n) AS dist
         FROM names a JOIN names b ON a.n < b.n
         WHERE levenshtein(a.n, b.n) <= 2""",
    // the same closure as etl_fuzzy_dedup, then per-attribute majority
    // votes: (cluster, value) counts ranked count-desc then value-asc
    "etl_fuzzy_golden" ->
      """WITH RECURSIVE recs AS (SELECT p_partkey AS id, p_name AS name,
                                        p_brand, p_size FROM part),
            names AS (SELECT name AS n, min(id) AS nid FROM recs GROUP BY 1),
            v AS (SELECT n, substr(n, 1, CAST(i AS INT) - 1) || substr(n, CAST(i AS INT) + 1) AS var
                  FROM names, unnest(range(1, length(n) + 2)) AS t(i)),
            cand AS (SELECT DISTINCT a.n AS na, b.n AS nb
                     FROM v a JOIN v b ON a.var = b.var AND a.n < b.n),
            pairs AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
            edges AS (SELECT x.nid AS a, y.nid AS b
                      FROM pairs JOIN names x ON na = x.n JOIN names y ON nb = y.n),
            sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
            walk(id, comp) AS (
              SELECT nid, nid FROM names
              UNION
              SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.id),
            lbl AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
            namecomp AS (SELECT names.n, lbl.comp FROM names JOIN lbl ON names.nid = lbl.id),
            labeled AS (SELECT r.id, r.p_brand, r.p_size, nc.comp
                        FROM recs r JOIN namecomp nc ON r.name = nc.n),
            base AS (SELECT comp, count(*) AS n_members FROM labeled GROUP BY comp),
            cb AS (SELECT comp, p_brand, count(*) AS c FROM labeled
                   WHERE p_brand IS NOT NULL GROUP BY 1, 2),
            bb AS (SELECT comp, p_brand FROM (
                     SELECT comp, p_brand,
                            row_number() OVER (PARTITION BY comp ORDER BY c DESC, p_brand ASC) AS rn
                     FROM cb) WHERE rn = 1),
            cs AS (SELECT comp, p_size, count(*) AS c FROM labeled
                   WHERE p_size IS NOT NULL GROUP BY 1, 2),
            bs AS (SELECT comp, p_size FROM (
                     SELECT comp, p_size,
                            row_number() OVER (PARTITION BY comp ORDER BY c DESC, p_size ASC) AS rn
                     FROM cs) WHERE rn = 1)
         SELECT base.comp AS entity_id, base.n_members, bb.p_brand, bs.p_size
         FROM base LEFT JOIN bb ON base.comp = bb.comp
                   LEFT JOIN bs ON base.comp = bs.comp""",
    // independent method again: brute-force cross-product levenshtein
    // over the two (small) distinct-name sets
    "etl_fuzzy_join" ->
      """WITH a AS (SELECT DISTINCT p_name AS na FROM part),
            b AS (SELECT DISTINCT CASE WHEN p_partkey % 2 = 0
                       THEN substr(p_name, 1, 3) || 'z' || substr(p_name, 5)
                       ELSE p_name END AS nb FROM part)
         SELECT na AS name_a, nb AS name_b, levenshtein(na, nb) AS dist
         FROM a, b WHERE levenshtein(na, nb) <= 1""",
    // blocking replayed string-equality style, then the transitive
    // closure as a recursive CTE (walk = every (node, reachable-node)
    // pair, label = min reachable), then survivorship: the record whose
    // id IS the cluster label (min of per-name min ids = min record id
    // in the cluster) survives, annotated with the cluster's record count
    "etl_fuzzy_dedup" ->
      """WITH RECURSIVE recs AS (SELECT p_partkey AS id, p_name AS name FROM part),
            names AS (SELECT name AS n, min(id) AS nid FROM recs GROUP BY 1),
            v AS (SELECT n, substr(n, 1, CAST(i AS INT) - 1) || substr(n, CAST(i AS INT) + 1) AS var
                  FROM names, unnest(range(1, length(n) + 2)) AS t(i)),
            cand AS (SELECT DISTINCT a.n AS na, b.n AS nb
                     FROM v a JOIN v b ON a.var = b.var AND a.n < b.n),
            pairs AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
            edges AS (SELECT x.nid AS a, y.nid AS b
                      FROM pairs JOIN names x ON na = x.n JOIN names y ON nb = y.n),
            sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
            walk(id, comp) AS (
              SELECT nid, nid FROM names
              UNION
              SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.id),
            lbl AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
            namecomp AS (SELECT names.n, lbl.comp FROM names JOIN lbl ON names.nid = lbl.id),
            labeled AS (SELECT r.id, nc.comp FROM recs r JOIN namecomp nc ON r.name = nc.n),
            clusters AS (SELECT comp, count(*) AS n_members FROM labeled GROUP BY comp)
         SELECT r.id AS p_partkey, r.name AS p_name, c.n_members
         FROM clusters c JOIN recs r ON r.id = c.comp""",
    "etl_clean_money" ->
      """SELECT p_brand, count(*) AS n,
                CAST(sum(CAST(regexp_replace('$' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR), '[$,]', '', 'g') AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM part GROUP BY p_brand""",
    "etl_normalize_values" ->
      """SELECT CASE WHEN n_name = 'NATION_0' THEN 'N-ZERO'
                     WHEN n_name = 'NATION_1' THEN 'N-ONE'
                     ELSE n_name END AS norm_name,
                count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",
    "etl_truncate_code" ->
      "SELECT substr(p_type, 1, 5) AS code, count(*) AS n FROM part GROUP BY 1",
    "etl_dropna" ->
      """SELECT nullif(o_orderpriority, '4-NOT SPECIFIED') AS pr, count(*) AS n
         FROM orders WHERE nullif(o_orderpriority, '4-NOT SPECIFIED') IS NOT NULL
         GROUP BY 1""",
    "etl_fillna" ->
      """SELECT coalesce(nullif(l_tax, 0.0), -1.0) AS tax, count(*) AS n
         FROM lineitem GROUP BY 1""",
    "etl_split_normalize" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax FROM lineitem",
    "etl_nest_collect" ->
      """SELECT o_custkey, count(*) AS n_orders,
                string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys
         FROM orders GROUP BY o_custkey""",
    "etl_doc_project" ->
      "SELECT doc_id, source, lang || ':' || CAST(n_chars AS VARCHAR) AS meta_s FROM documents",
    "etl_upsert" ->
      """WITH base AS (
           SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c, o_orderstatus
           FROM orders),
         upd AS (
           SELECT o_orderkey, price_c * 2 AS price_c, 'U' AS o_orderstatus
           FROM base WHERE o_orderkey % 10 = 0)
         SELECT o_orderkey, CAST(price_c AS DOUBLE) / 100.0 AS price, o_orderstatus FROM upd
         UNION ALL
         SELECT o_orderkey, CAST(price_c AS DOUBLE) / 100.0 AS price, o_orderstatus
         FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)""",
    "etl_doc_merge" ->
      """WITH ev AS (SELECT user_id, event_id, props FROM events),
            m AS (SELECT user_id, event_id FROM ev WHERE event_id % 2 = 0
                  UNION SELECT user_id, event_id FROM ev WHERE event_id % 3 = 0),
            l AS (SELECT user_id,
                         max(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS has_upd
                  FROM ev GROUP BY user_id)
         SELECT m.user_id, count(*) AS n_reviews, min(m.event_id) AS first_event,
                CASE WHEN l.has_upd = 1 THEN 'upd' ELSE 'base' END AS loader
         FROM m JOIN l ON m.user_id = l.user_id
         GROUP BY m.user_id, l.has_upd""",
    "etl_validate" ->
      """SELECT 'orderkey_unique' AS check, round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(o_orderkey), 6) AS metric,
                count(DISTINCT o_orderkey) = count(o_orderkey) AS passed FROM orders
         UNION ALL
         SELECT 'totalprice_complete', round(avg(CASE WHEN o_totalprice IS NOT NULL THEN 1.0 ELSE 0.0 END), 6),
                avg(CASE WHEN o_totalprice IS NOT NULL THEN 1.0 ELSE 0.0 END) >= 1.0 FROM orders
         UNION ALL
         SELECT 'totalprice_positive', round(avg(CASE WHEN coalesce(o_totalprice > 0, false) THEN 1.0 ELSE 0.0 END), 6),
                avg(CASE WHEN coalesce(o_totalprice > 0, false) THEN 1.0 ELSE 0.0 END) >= 1.0 FROM orders
         UNION ALL
         SELECT 'custkey_in_customer',
                round(1.0 - CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                                  AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS DOUBLE)
                      / (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL), 6),
                (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                 AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0""",
    "etl_scd2" ->
      """WITH ob AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
                lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
                row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders),
            v AS (SELECT * FROM ob WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority),
            h AS (SELECT o_custkey, o_orderpriority, o_orderdate AS vf,
                lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS vt
              FROM v)
         SELECT o_custkey, o_orderpriority,
                strftime(vf, '%Y-%m-%d') AS valid_from,
                strftime(vt, '%Y-%m-%d') AS valid_to,
                vt IS NULL AS is_current
         FROM h""",
    // identical SEMANTICS to etl_scd2's full-feed rebuild: the incremental
    // merge changes the plan (touch-only-affected), never the answer
    "etl_scd2_merge" ->
      """WITH ob AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
                lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
                row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders),
            v AS (SELECT * FROM ob WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority),
            h AS (SELECT o_custkey, o_orderpriority, o_orderdate AS vf,
                lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS vt
              FROM v)
         SELECT o_custkey, o_orderpriority,
                strftime(vf, '%Y-%m-%d') AS valid_from,
                strftime(vt, '%Y-%m-%d') AS valid_to,
                vt IS NULL AS is_current
         FROM h""",
    "etl_numeric_coerce" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(try_cast(regexp_extract(o_orderpriority, '(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_num,
                count(try_cast(o_orderstatus AS BIGINT)) AS n_bad
         FROM orders GROUP BY o_orderpriority""",
    // the oracle aggregates the FULL feed in one pass: the merged
    // partials must be indistinguishable from it
    "etl_agg_merge" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                min(CAST(round(l_quantity*100) AS BIGINT)) AS min_qty_cents,
                max(CAST(round(l_quantity*100) AS BIGINT)) AS max_qty_cents
         FROM lineitem GROUP BY 1""",
    "etl_snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
           nw AS (SELECT o_orderkey,
                         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                         o_orderpriority
                  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1998-01-01')
         SELECT * FROM (
           SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                  CASE WHEN a.o_orderkey IS NULL THEN 'added'
                       WHEN b.o_orderkey IS NULL THEN 'removed'
                       WHEN (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus)
                         OR (a.o_orderpriority IS DISTINCT FROM b.o_orderpriority)
                       THEN 'changed' END AS change,
                  a.o_orderstatus AS old_o_orderstatus,
                  b.o_orderstatus AS new_o_orderstatus,
                  a.o_orderpriority AS old_o_orderpriority,
                  b.o_orderpriority AS new_o_orderpriority
           FROM old a FULL OUTER JOIN nw b ON a.o_orderkey = b.o_orderkey)
         WHERE change IS NOT NULL""",
    "etl_cdc_apply" ->
      """WITH log AS (SELECT o_custkey AS c_custkey, o_orderkey,
                             CASE o_orderstatus WHEN 'F' THEN 'U'
                                                WHEN 'O' THEN 'I'
                                                ELSE 'D' END AS op,
                             o_orderpriority AS seg
                      FROM orders),
           latest AS (SELECT c_custkey, arg_max(op, o_orderkey) AS op,
                             arg_max(seg, o_orderkey) AS seg
                      FROM log GROUP BY 1)
         SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
                CASE WHEN l.c_custkey IS NOT NULL THEN l.seg
                     ELSE b.c_mktsegment END AS c_mktsegment
         FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
         WHERE l.op IS DISTINCT FROM 'D'""",

    // the oracle reads the ORIGINAL table — the hash passes iff the
    // fragment → compact → read-back trip was lossless row for row
    "etl_compact_files" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",

    // identical digest construction over the identical exact row repr
    "etl_checksum" ->
      """WITH r AS (SELECT c_mktsegment AS segment,
                           CAST('0x' || substr(md5(
                             concat_ws('|', c_custkey, c_name, c_nationkey,
                               CAST(round(c_acctbal*100) AS BIGINT))), 1, 8)
                             AS BIGINT) % 2147483647 AS h
                    FROM customer)
         SELECT segment, count(*) AS n_rows,
                CAST(sum(h) AS BIGINT) AS sum_digest,
                CAST(bit_xor(h) AS BIGINT) AS xor_digest
         FROM r GROUP BY 1""",

    "etl_anti_entropy" ->
      """WITH a AS (SELECT o_orderkey AS k, o_custkey AS c,
                           CAST(round(o_totalprice*100) AS BIGINT) AS pc
                    FROM orders),
           b AS (SELECT k, c,
                        CASE WHEN k % 991 = 0 THEN pc + 1 ELSE pc END AS pc
                 FROM a WHERE k % 997 <> 0),
           da AS (SELECT k // 1024 AS slice, count(*) AS n_a,
                         CAST(sum(CAST('0x' || substr(md5(concat_ws('|', k, c, pc)), 1, 8) AS BIGINT) % 2147483647) AS BIGINT) AS sum_a,
                         CAST(bit_xor(CAST('0x' || substr(md5(concat_ws('|', k, c, pc)), 1, 8) AS BIGINT) % 2147483647) AS BIGINT) AS xor_a
                  FROM a GROUP BY 1),
           db AS (SELECT k // 1024 AS slice, count(*) AS n_b,
                         CAST(sum(CAST('0x' || substr(md5(concat_ws('|', k, c, pc)), 1, 8) AS BIGINT) % 2147483647) AS BIGINT) AS sum_b,
                         CAST(bit_xor(CAST('0x' || substr(md5(concat_ws('|', k, c, pc)), 1, 8) AS BIGINT) % 2147483647) AS BIGINT) AS xor_b
                  FROM b GROUP BY 1)
         SELECT slice, n_a, sum_a, xor_a, n_b, sum_b, xor_b
         FROM da FULL JOIN db USING (slice)
         WHERE n_a IS DISTINCT FROM n_b OR sum_a IS DISTINCT FROM sum_b
            OR xor_a IS DISTINCT FROM xor_b""",

    "etl_orphan_repair" ->
      """WITH f AS (SELECT l_partkey, CAST(round(l_quantity*100) AS BIGINT) AS qc
                    FROM lineitem),
           d1 AS (SELECT p_partkey FROM part WHERE p_partkey % 10 <> 0),
           dl AS (SELECT p_partkey FROM part WHERE p_partkey % 10 = 0),
           m AS (SELECT * FROM f WHERE l_partkey IN (SELECT p_partkey FROM d1)),
           q AS (SELECT * FROM f WHERE l_partkey NOT IN (SELECT p_partkey FROM d1)),
           r AS (SELECT * FROM q WHERE l_partkey IN (SELECT p_partkey FROM dl))
         SELECT 'matched_v1' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(qc) AS BIGINT) AS sum_qty_cents FROM m
         UNION ALL
         SELECT 'quarantined', CAST(count(*) AS BIGINT),
                CAST(sum(qc) AS BIGINT) FROM q
         UNION ALL
         SELECT 'repaired', CAST(count(*) AS BIGINT),
                CAST(sum(qc) AS BIGINT) FROM r""",

    "etl_pseudonymize" ->
      """WITH r AS (SELECT c_custkey, c_name, c_mktsegment,
                           'u' || lpad(CAST(CAST('0x' || substr(md5(c_name || 'graft_r17'), 1, 8)
                             AS BIGINT) % 2147483647 AS VARCHAR), 10, '0') AS pseudo_name
                    FROM customer)
         SELECT c_mktsegment, count(*) AS n_rows,
                CAST(count(DISTINCT c_name) AS BIGINT) AS n_names,
                CAST(count(DISTINCT pseudo_name) AS BIGINT) AS n_tokens,
                min(pseudo_name) AS min_token,
                count(DISTINCT pseudo_name) = count(DISTINCT c_name) AS collision_free
         FROM r GROUP BY 1"""
  )
}
