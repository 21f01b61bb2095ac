package graft.queries

import graft.streaming.Events
import Common._

/** SURVEY.md §2.E — batch forms of the streaming transforms (the streaming
  * spec drives the same column logic through readStream/writeStream).
  */
object StreamQueries {

  val defs: Map[String, QFn] = Map(
    "stream_window_agg" -> ((s, d) => Events.hourlyAgg(t(s, d, "events"))),

    // per-hour TOP-K active users: streaming state is the plain
    // (window, user) count sum-agg — incremental, mergeable, bounded by
    // active users per open window — and the top-k FINALIZES at read
    // time (rank never lives in state); the finalize sort is bounded by
    // users-per-window. StreamSpec drives the stream-sink parity
    "stream_topk_window" -> ((s, d) =>
      Events.topkActiveUsers(t(s, d, "events"), k = 3)),

    // per-hour approximate distinct users via the oracle-exact HLL
    // sketch: the register state is a per-(window, bucket) MAX — exactly
    // the mergeable shape a streaming agg maintains incrementally, so
    // the batch form here and a watermarked streaming max-agg produce
    // identical registers (parity spec'd in HllSpec); constant ≤1024
    // rows of state per window however many events arrive
    "stream_distinct_approx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.operators.Hll.distinctEstimate(
        t(s, d, "events").select(
          date_format(date_trunc("hour", Events.tsCol(col("ts"))),
            "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("user_id")),
        Seq("hour"), "user_id")
    }),
    // per-hour approximate quantiles via the oracle-exact mergeable
    // sketch: state is per-(window, bucket) COUNTS — a plain streaming
    // sum-agg maintains it incrementally (mergeable by addition, like
    // the HLL registers' max), ≤ ~7.4k rows of state per window however
    // many events arrive; estimates finalize from the tiny sketch at
    // read time. Batch/stream parity spec'd in QuantileSketchSpec
    "stream_quantile_approx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.operators.QuantileSketch.quantileEstimate(
          t(s, d, "events").select(
            date_format(date_trunc("hour", Events.tsCol(col("ts"))),
              "yyyy-MM-dd HH:mm:ss").as("hour"),
            cents(col("value")).as("vc")),
          Seq("hour"), "vc", Seq("p50" -> 0.5, "p95" -> 0.95))
        .select(col("hour"), col("n").as("n_events"),
          (col("p50") / 100.0).as("p50"), (col("p95") / 100.0).as("p95"))
    }),
    // per-day frequency watch-list via the Count-Min grid: state is
    // per-(window, row, pos) SUMS — a plain streaming sum-agg maintains
    // it incrementally (mergeable by addition, like the quantile
    // sketch's bucket counts), ≤ 4·2048 rows of state per window
    // however many events arrive; the watch-list probe reads only the
    // tiny grid. Batch/stream parity spec'd in CountMinSpec
    "stream_heavy_hitters" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.CountMin
      val ev = t(s, d, "events").select(
        date_format(date_trunc("day", Events.tsCol(col("ts"))), "yyyy-MM-dd").as("day"),
        col("user_id"))
      val watch = ev.filter(col("user_id") % 29 === 0).distinct()
      CountMin.estimateFor(CountMin.cells(ev, Seq("day"), "user_id"),
        Seq("day"), watch, "user_id")
    }),
    // per-type uniform user sample via the bounded min-k reservoir: the
    // O(k) sorted-buffer state is a plain mergeable aggregate, so the
    // SAME expression runs as incremental streaming state (the sampling
    // analog of stream_distinct_approx's register max-agg — batch/stream
    // parity spec'd in TrainingMixSpec); ≤16 packed longs of state per
    // event type however many events arrive
    "stream_reservoir" -> ((s, d) =>
      graft.etl.Sampling.reservoirByGroup(
        t(s, d, "events").select(
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("user_id")),
        Seq("event_type"), "user_id", 16)),
    "stream_sessionize" -> ((s, d) => Events.sessionize(t(s, d, "events"))),
    "stream_sliding_agg" -> ((s, d) => Events.slidingAgg(t(s, d, "events"))),
    "stream_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Events.dedupByKeys(t(s, d, "events"), Seq("user_id", "event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("n_users"))
    }),
    // ONLINE near-dup dedup, batch form: each doc flagged against every
    // EARLIER doc (arrival order = doc_id) with its first duplicate
    // source and count. The streaming path — band-keyed
    // flatMapGroupsWithState candidates + stream-static exact verify
    // (streaming/StreamDedup) — is parity-proven in StreamDedupSpec.
    "stream_dedup_near" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextQueries.lshPairs(s, d) // ONE LSH stage, shared with dedup_minhash_lsh
        .select(col("id_b").as("doc_id"), col("id_a"))
        .groupBy("doc_id")
        .agg(min(col("id_a")).as("first_dup_of"), count(lit(1)).as("n_earlier_dups"))
    }),
    // POINT-IN-TIME-CORRECT stream enrichment (the feature-store join):
    // purchases form a change feed of each user's spend tier, Scd2 turns
    // it into versioned history, and every event is enriched with the
    // tier valid AT ITS EVENT TIME — never a later version, so no
    // feature leakage into training data. asofBroadcast keeps the event
    // stream (the 100 TB side) out of every Exchange: history is
    // dimension-sized, packed per key into one broadcast; the streaming
    // form is the same stream-static broadcast join (StreamSpec proves
    // parity). Oracle uses DuckDB's native ASOF JOIN
    "stream_enrich_scd2" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = t(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(cents.cast("double") / 500.0).cast("long").as("tier"))
      val hist = graft.etl.Scd2.history(purchases,
          key = "user_id", ts = "ts", tiebreak = "event_id", attrs = Seq("tier"))
        .select(col("user_id"), col("valid_from").as("ts"), col("tier"))
      graft.operators.AsofJoin.asofBroadcast(ev, hist,
          key = "user_id", t = "ts", rightPayload = Seq("tier"))
        .groupBy(col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
    }),

    // ONLINE anomaly flagging: events whose value sits more than 3
    // standard deviations from their type's mean. Stats are one tiny
    // per-type aggregate (exact integer cents sums — the cross-engine
    // float rule; mean/std derived at output) broadcast back, flagging
    // is a map-side projection — at scale the stats come from history
    // and the stream side is the identical stream-static broadcast
    // join. std=0 guarded explicitly: a constant series has no
    // outliers, and NaN compares differently across engines
    "stream_anomaly" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = t(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      val base = ev.select(col("event_id"), col("event_type"), cents.as("cents"))
      val stats = base.groupBy("event_type").agg(
        count(lit(1)).as("n_t"), sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
      base.join(broadcast(stats), "event_type")
        .withColumn("mean", col("s1").cast("double") / col("n_t").cast("double"))
        .withColumn("std", sqrt(greatest(
          col("s2").cast("double") / col("n_t").cast("double") - col("mean") * col("mean"),
          lit(0.0))))
        .filter(col("std") > 0.0 &&
          abs((col("cents").cast("double") - col("mean")) / col("std")) > 3.0)
        .select(col("event_id"), col("event_type"),
          round((col("cents").cast("double") - col("mean")) / col("std"), 6).as("z"))
    }),

    // STREAMING MERGE INTO — CDC apply as incremental maintenance: the
    // change feed arrives in seq-ordered micro-batches and each batch
    // merges into the current state with the SAME Cdc.applyLog the
    // batch path uses. Latest-wins is closed under seq-ordered batch
    // slicing (a later batch's entries always outrank an earlier
    // batch's), so N incremental merges ≡ one full-log apply — which is
    // exactly what the oracle computes. Deletes drop even seeded base
    // keys; a later insert resurrects them. The live foreachBatch form
    // + crash-redelivery idempotence is spec-driven in StreamSpec
    "stream_cdc_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = t(s, d, "events")
      val log = ev.select(col("user_id"), col("event_id"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I")
          .otherwise("U").as("op"),
        cents(col("value")).as("value_cents"))
      val base = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 4 === 0)
        .withColumn("value_cents", lit(0L))
      val batches = Seq(
        log.filter(col("event_id") < 3000),
        log.filter(col("event_id") >= 3000 && col("event_id") < 6000),
        log.filter(col("event_id") >= 6000))
      batches.foldLeft(base)((cur, b) =>
        graft.etl.Cdc.applyLog(cur, b, keys = Seq("user_id"),
          seqCol = "event_id", opCol = "op", attrs = Seq("value_cents")))
    }),

    // click→purchase correlation: the batch form of the stream-stream
    // watermarked join (identical column logic on both paths)
    "stream_stream_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), Events.tsCol(col("ts")).as("c_t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), Events.tsCol(col("ts")).as("p_t"))
      Events.timeWindowJoin(clicks, purchases, "c_user", "p_user", "c_t", "p_t", 30)
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // EXACTLY-ONCE SINK, oracle-checked (ExactlyOnceSpec proves the
    // property, this key puts it under the DuckDB gate): foreachBatch
    // delivers at-least-once — the same sink closure the streaming path
    // uses (DocStoreSink.appendRecordsInto) ingests two micro-batches
    // and then the second batch AGAIN (the post-crash redelivery), into
    // a FRESH store each pass (full cold lifecycle). The read-back per
    // user must equal the oracle's one-shot DISTINCT aggregation —
    // at-least-once input × idempotent set-union sink = exactly-once
    // output, with no transaction log
    // TTL DEDUP: an event is SUPPRESSED when the previous event with
    // the same (user, event_type) key arrived within the TTL horizon
    // (1 h). Last-SEEN semantics, deliberately — suppression is
    // anchored to the immediately preceding ARRIVAL, refreshed by every
    // event whether kept or suppressed. NOTE this deliberately DIFFERS
    // from Spark's dropDuplicatesWithinWatermark, whose state is
    // first-seen anchored (a duplicate does NOT extend the expiry of
    // the stored key): under a steady sub-TTL drip, first-seen emits
    // one event per TTL window while last-seen emits only the first —
    // a streaming twin of this key must be built on
    // mapGroupsWithState with refresh-on-arrival, not on the built-in
    // operator. The batch form is one lag() over the key-partitioned
    // arrival order, the same per-key linear shuffle the executor
    // pays, with per-reducer work bounded by events-per-key. All time
    // arithmetic is integer nanos; per-type keep/suppress tallies
    // aggregate map-side
    "stream_dedup_ttl" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val ttlNs = 3600L * 1000000000L
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("keep", lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > ttlNs)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
          sum(when(!col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_suppressed"))
    }),

    "stream_replay_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // a lifecycle dir: every call replays into a fresh, empty store
      val store = Scratch.lifecycle(s, d, "replay") + "/docs"
      val sink = graft.sinks.DocStoreSink.appendRecordsInto(
        store, "user_id", Seq("event_id"), "events", Nil) _
      val ev = t(s, d, "events").select(col("user_id"), col("event_id"))
      val b1 = ev.filter(col("event_id") % 2 === 0)
      val b2 = ev.filter(col("event_id") % 2 =!= 0)
      sink(b1, 0L)
      sink(b2, 1L)
      sink(b2, 1L) // the redelivery a crash-restart produces
      s.read.parquet(store).select(col("user_id"),
        size(col("events")).cast("bigint").as("n_events"),
        aggregate(col("events"), lit(0L),
          (a, x) => a + x.getField("event_id")).as("sum_event_id"))
    }),

    // LATE-DATA AUDIT — how much history a watermark horizon would
    // drop: an event is LATE when its event time sits more than
    // `horizon` behind the max event time already seen in its stream
    // (arrival order = event_id, the deterministic stand-in for offset
    // order). The sizing question every `withWatermark` call should be
    // answered by data, not folklore. Batch form: one per-type window
    // over arrival order carrying a running max — the same per-key
    // linear shuffle the streaming state machine pays; lateness stats
    // are exact nanos integers
    "stream_late_audit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val horizonNs = 3600L * 1000000000L
      val w = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events").select(col("event_type"), col("event_id"), col("ts"))
        .withColumn("wm", max(col("ts")).over(w) - horizonNs)
        .withColumn("late_ns",
          when(col("ts") < col("wm"), col("wm") - col("ts")).otherwise(lit(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_ns") > 0, 1L).otherwise(0L)).cast("bigint").as("n_late"),
          max(col("late_ns")).cast("bigint").as("max_late_ns"),
          sum(col("late_ns")).cast("bigint").as("sum_late_ns"))
    }),

    // SESSION-GAP HISTOGRAM — the data-driven session-timeout picker
    // (`stream_sessionize` hardcodes 30 min; this key shows what the
    // gaps actually look like, the `sim_threshold_sweep` discipline
    // applied to time): per-user consecutive event gaps in log2-minute
    // buckets. ONE per-user lag window (the linear keyed shuffle the
    // sessionizer itself pays) + one bounded aggregate; bucket = exact
    // integer floor(log2(minutes+1)) via bit length, no float logs
    "stream_gap_histogram" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, d, "events").select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(expr("(ts - prev) div 60000000000").as("gap_min"))
      // bucket = binary-digit count of (gap_min + 1) = floor(log2)+1 —
      // pure integer arithmetic (no float log), identical in any engine
      gaps
        .select(length(conv(col("gap_min") + 1, 10, 2)).cast("bigint").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_gaps"))
        .withColumn("gap_lo_min",
          (expr("shiftleft(1L, CAST(bucket - 1 AS INT))") - 1).cast("bigint"))
    })
  )

  val oracle: Map[String, String] = Map(
    "stream_distinct_approx" -> Common.hllOracleSql(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                user_id AS k FROM events""", "hour"),
    "stream_heavy_hitters" -> Common.cmsOracleSql(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                user_id AS k FROM events""",
      """SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                user_id AS k FROM events WHERE user_id % 29 = 0""",
      Seq("day"), "user_id"),
    "stream_quantile_approx" -> Common.quantileSketchOracleSql(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                CAST(round(value*100) AS BIGINT) AS vc FROM events""",
      "hour", Seq("p50" -> 0.5, "p95" -> 0.95)),
    "stream_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
         FROM events GROUP BY 1, 2""",
    "stream_topk_window" ->
      """WITH c AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                           user_id, count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT hour, user_id, n,
                row_number() OVER (PARTITION BY hour ORDER BY n DESC, user_id) AS rnk
         FROM c QUALIFY rnk <= 3""",
    "stream_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
                       THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         s AS (
           SELECT user_id, event_id, ts_us,
                  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM e)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) AS end_us
         FROM s GROUP BY user_id, session_id""",
    "stream_sliding_agg" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type,
                           CAST(round(value*100) AS BIGINT) AS vc FROM events),
            w AS (SELECT time_bucket(INTERVAL 30 MINUTE, t) AS ws, event_type, vc FROM e
                  UNION ALL
                  SELECT time_bucket(INTERVAL 30 MINUTE, t) - INTERVAL 30 MINUTE, event_type, vc FROM e)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
                count(*) AS n, CAST(sum(vc) AS DOUBLE)/100.0 AS sum_value
         FROM w GROUP BY 1, 2""",
    "stream_dedup" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1",
    // naive hash-rank window over the same packed key the min-k
    // aggregate maintains (28 md5 bits over 32 id bits)
    "stream_reservoir" ->
      """WITH h AS (SELECT DISTINCT event_type, user_id,
                      ((CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) >> 4) << 32)
                        | user_id AS pk
                    FROM events)
         SELECT event_type, row_number() OVER (PARTITION BY event_type ORDER BY pk) AS sample_rank, user_id
         FROM h QUALIFY sample_rank <= 16""",
    // the later doc of every verified LSH pair, with its earliest source —
    // the pair CTE is the same generated SQL dedup_minhash_lsh verifies
    "stream_dedup_near" ->
      s"""SELECT id_b AS doc_id, min(id_a) AS first_dup_of, count(*) AS n_earlier_dups
          FROM (${TextQueries.lshPairsSql})
          GROUP BY id_b""",
    // identical integer-sum stats + identical expression shape for
    // mean/std/z — the only floats are derived at output
    "stream_anomaly" ->
      """WITH b AS (SELECT event_id, event_type,
                           CAST(round(value*100) AS BIGINT) AS cents FROM events),
           s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t,
                        CAST(sum(cents) AS BIGINT) AS s1,
                        CAST(sum(cents*cents) AS BIGINT) AS s2
                 FROM b GROUP BY 1),
           j AS (SELECT b.event_id, b.event_type, b.cents,
                        CAST(s1 AS DOUBLE) / CAST(n_t AS DOUBLE) AS mean,
                        sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_t AS DOUBLE)
                               - (CAST(s1 AS DOUBLE) / CAST(n_t AS DOUBLE))
                                 * (CAST(s1 AS DOUBLE) / CAST(n_t AS DOUBLE)), 0.0)) AS std
                 FROM b JOIN s USING (event_type))
         SELECT event_id, event_type,
                round((CAST(cents AS DOUBLE) - mean) / std, 6) AS z
         FROM j
         WHERE std > 0.0 AND abs((CAST(cents AS DOUBLE) - mean) / std) > 3.0""",
    // SCD2 replay (run-collapse change detection) + native ASOF JOIN:
    // each event picks the latest tier version at or before its time
    "stream_enrich_scd2" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) AS t, event_id,
                           CAST(floor(CAST(CAST(round(value*100) AS BIGINT) AS DOUBLE) / 500.0) AS BIGINT) AS tier
                    FROM events WHERE event_type = 'purchase'),
           ch AS (SELECT user_id, t, event_id, tier,
                         (tier IS DISTINCT FROM lag(tier) OVER w) OR row_number() OVER w = 1 AS opens
                  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
           v AS (SELECT user_id, tier, t AS valid_from FROM ch WHERE opens),
           e AS (SELECT user_id, event_type, epoch_ns(ts) AS t,
                        CAST(round(value*100) AS BIGINT) AS cents FROM events),
           enr AS (SELECT e.event_type, e.cents, v.tier
                   FROM e ASOF LEFT JOIN v
                     ON e.user_id = v.user_id AND e.t >= v.valid_from)
         SELECT tier, event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM enr GROUP BY 1, 2""",
    // one-shot latest-per-key apply over the FULL log — what the three
    // seq-ordered incremental merges must equal exactly
    "stream_cdc_apply" ->
      """WITH log AS (SELECT user_id, event_id,
                             CASE WHEN event_type = 'error' THEN 'D'
                                  WHEN event_type = 'signup' THEN 'I'
                                  ELSE 'U' END AS op,
                             CAST(round(value*100) AS BIGINT) AS vc
                      FROM events),
           last AS (SELECT user_id, op, vc FROM log
                    QUALIFY row_number() OVER (PARTITION BY user_id
                                               ORDER BY event_id DESC) = 1),
           base AS (SELECT DISTINCT user_id, CAST(0 AS BIGINT) AS vc
                    FROM events WHERE user_id % 4 = 0)
         SELECT coalesce(b.user_id, l.user_id) AS user_id,
                CASE WHEN l.user_id IS NOT NULL THEN l.vc ELSE b.vc END AS value_cents
         FROM base b FULL OUTER JOIN last l ON b.user_id = l.user_id
         WHERE l.op IS NULL OR l.op <> 'D'""",
    "stream_stream_join" ->
      """SELECT c.user_id, count(*) AS n_pairs
         FROM (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click') c
         JOIN (SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND c.c_us > p.p_us - 1800000000 AND c.c_us <= p.p_us
         GROUP BY 1""",
    // the one-shot DISTINCT aggregation the replayed streaming load must
    // equal exactly (set-union arrays = distinct event sets)
    "stream_replay_merge" ->
      """SELECT user_id,
                CAST(count(DISTINCT event_id) AS BIGINT) AS n_events,
                CAST(sum(DISTINCT event_id) AS BIGINT) AS sum_event_id
         FROM events GROUP BY 1""",
    "stream_gap_histogram" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tn FROM events),
           g AS (SELECT (tn - lag(tn) OVER (PARTITION BY user_id
                           ORDER BY tn, event_id)) // 60000000000 AS gap_min
                 FROM e),
           b AS (SELECT CAST(length(bin(gap_min + 1)) AS BIGINT) AS bucket
                 FROM g WHERE gap_min IS NOT NULL)
         SELECT bucket, count(*) AS n_gaps,
                CAST((1 << CAST(bucket - 1 AS INT)) - 1 AS BIGINT) AS gap_lo_min
         FROM b GROUP BY 1""",
    "stream_dedup_ttl" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_ns(ts) AS tn
                    FROM events),
           k AS (SELECT event_type,
                        (lag(tn) OVER w IS NULL OR tn - lag(tn) OVER w > 3600000000000) AS keep
                 FROM e WINDOW w AS (PARTITION BY user_id, event_type
                                     ORDER BY tn, event_id))
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed
         FROM k GROUP BY 1""",
    "stream_late_audit" ->
      """WITH w AS (SELECT event_type, epoch_ns(ts) AS tn,
                           max(epoch_ns(ts)) OVER (PARTITION BY event_type
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             - 3600000000000 AS wm
                    FROM events),
           l AS (SELECT event_type,
                        CASE WHEN tn < wm THEN wm - tn ELSE 0 END AS late_ns
                 FROM w)
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN late_ns > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                CAST(max(late_ns) AS BIGINT) AS max_late_ns,
                CAST(sum(late_ns) AS BIGINT) AS sum_late_ns
         FROM l GROUP BY 1"""
  )
}
