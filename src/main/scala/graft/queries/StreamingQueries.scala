package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, TimeMode, Trigger}
import graft.GraftSession.withConf
import graft.engine.Tables
import graft.sources.GraftCatalog
import Portable._

/** Structured-Streaming surfaces that are ALSO oracle-judged: st01 runs
  * the real streaming engine (file source → windowed agg → memory sink,
  * AvailableNow trigger) and must converge to the batch answer DuckDB
  * computes; st02 proves `session_window` semantics against an
  * islands-and-gaps SQL oracle; st10 stages multi-batch arrival so a
  * watermark genuinely expires between microbatches and judges the
  * resulting late-data drops arithmetically. The remaining stateful
  * behaviors a batch oracle cannot observe (state timeouts) are covered
  * by `StreamingPresenceSpec` instead. Every streaming run goes through
  * [[drain]]; conf overrides through [[GraftSession.withConf]]. */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  val catalog: Seq[(String, Q, String)] = Seq(

    // ── the hourly count query executed BY the streaming engine ──
    ("st01_stream_counts",
      (s: SparkSession, dir: String) => {
        val counts = eventStream(s, dir, "stream_events")()
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        drainToMemory(counts, "st01_mem", "complete")
          .select(tsSec(col("w.start")).as("hour"), col("event_type"), col("n"))
          .orderBy(col("hour"), col("event_type"))
      },
      s"""SELECT ${tsSecSql("date_trunc('hour', ts)")} AS hour, event_type,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── session_window in batch, vs the islands-and-gaps formulation ──
    ("st02_session_window",
      (s: SparkSession, dir: String) => {
        Tables.events(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), tsSec(col("sw.start")).as("session_start"),
            col("n_events"))
          .orderBy(col("user_id"), col("session_start"))
      },
      s"""WITH marked AS (
         |  SELECT user_id, ts,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
         |              THEN 1 ELSE 0 END AS new_session
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sessions AS (
         |  SELECT user_id, ts,
         |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
         |                                ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id, ${tsSecSql("min(ts)")} AS session_start,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin),

    // ── streaming dedup: watermarked `dropDuplicates` on the event
    //    stream — the streaming member of the dedup family (t05's exact
    //    dedup, continuous form). The watermark column is part of the
    //    dedup key, so state evicts as event time advances instead of
    //    growing with the stream; output is the distinct (user, hour)
    //    set, aggregated to hourly presence so the judged result is
    //    deterministic regardless of which duplicate row survived. ──
    ("st03_stream_dedup",
      (s: SparkSession, dir: String) => {
        val deduped = eventStream(s, dir, "stream_dedup_events")()
          .withColumn("hour", date_trunc("hour", col("ts")))
          .withWatermark("hour", "2 hours")
          .dropDuplicates("user_id", "hour")
          .select(col("user_id"), col("hour"))
        drainToMemory(deduped, "st03_mem", "append")
          .groupBy(col("hour"))
          .agg(count(lit(1)).as("n_users"))
          .select(tsSec(col("hour")).as("hour"), col("n_users"))
          .orderBy(col("hour"))
      },
      s"""SELECT ${tsSecSql("date_trunc('hour', ts)")} AS hour,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── stream-stream interval join: purchases matched to the same
    //    user's clicks in the preceding hour — BOTH sides are unbounded
    //    streams, so the engine keeps a state store per side and the
    //    event-time bound (c_ts ∈ [p_ts - 1h, p_ts]) plus the watermarks
    //    is what lets it EVICT state instead of buffering both streams
    //    forever. Inner join in append mode emits pairs as they match;
    //    the judged aggregation runs in batch over the sink (chaining a
    //    second stateful agg onto the join is a separate concern the
    //    batch oracle could not distinguish anyway). AvailableNow over
    //    one staged file = one microbatch, so no pair is watermark-late
    //    and the result equals DuckDB's batch interval join exactly. ──
    ("st04_stream_stream_join",
      (s: SparkSession, dir: String) => {
        val src = eventStream(s, dir, "stream_join_events")
        val purchases = src().where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        val clicks = src().where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
        drainToMemory(joined, "st04_mem", "append")
          .groupBy(date_trunc("hour", col("p_ts")).as("hour"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("p_user")).as("n_users"))
          .select(tsSec(col("hour")).as("hour"), col("n_pairs"), col("n_users"))
          .orderBy(col("hour"))
      },
      s"""SELECT ${tsSecSql("date_trunc('hour', p.ts)")} AS hour,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
         |FROM events p JOIN events c
         |  ON p.user_id = c.user_id
         | AND p.event_type = 'purchase' AND c.event_type = 'click'
         | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── stream-static enrichment join: the most common production
    //    streaming shape — an unbounded event stream joined to a small
    //    static dimension (here: customer market segment). The static
    //    side is broadcast per microbatch (no state store, no watermark
    //    needed for the join itself: the dimension is bounded), so the
    //    streaming plan is scan → broadcast-hash-join → windowed agg —
    //    exactly the batch plan, incrementalized. Judged against
    //    DuckDB running the equivalent batch join. ──
    ("st05_stream_static_join",
      (s: SparkSession, dir: String) => {
        val src = eventStream(s, dir, "stream_static_events")()
        val dim = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_mktsegment"))
        val enriched = src.join(broadcast(dim),
          col("user_id") === col("c_custkey"))
        val agg = enriched
          .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
        drainToMemory(agg, "st05_mem", "complete")
          .select(tsSec(col("w.start")).as("hour"), col("c_mktsegment"),
            col("n_events"), col("sum_value"))
          .orderBy(col("hour"), col("c_mktsegment"))
      },
      s"""SELECT ${tsSecSql("date_trunc('hour', ts)")} AS hour, c_mktsegment,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${moneySumSql("value")} AS sum_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── arbitrary stateful processing: KeyValueGroupedDataset
    //    .mapGroupsWithState — the custom-state operator underneath
    //    everything session/CDC-shaped that windowed aggs can't express.
    //    Per-user state = (count, min ts, max ts); every accumulator is
    //    MONOTONE, so whatever way the AvailableNow run slices the input
    //    into microbatches, folding the emitted updates with max/min
    //    reproduces the final state exactly — that fold is what the batch
    //    oracle judges. State is O(1) per key and watermark-free; at
    //    100 TB the state store shards by the same user_id hash as the
    //    shuffle, so no key ever concentrates. ──
    ("st06_stateful_counts",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // epoch seconds derived from the NORMALIZED timestamp (floor via
        // unix_timestamp), not from raw fixture integers
        val src = eventStream(s, dir, "stream_state_events")()
          .select(col("user_id").cast("long").as("user_id"),
            unix_timestamp(col("ts")).as("es"))
          .as[(Long, Long)]
        val updates = src.groupByKey(_._1)
          .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
            GroupStateTimeout.NoTimeout) { (user, rows, state) =>
            var (n, mn, mx) =
              if (state.exists) state.get else (0L, Long.MaxValue, Long.MinValue)
            rows.foreach { case (_, es) =>
              n += 1
              if (es < mn) mn = es
              if (es > mx) mx = es
            }
            state.update((n, mn, mx))
            (user, n, mn, mx)
          }
        drainToMemory(updates.toDF("user_id", "n", "mn", "mx"), "st06_mem", "update")
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n_events"), min(col("mn")).as("first_es"),
            max(col("mx")).as("last_es"))
          .orderBy(col("user_id"))
      },
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |       min(${epochSecSql("ts")}) AS first_es,
         |       max(${epochSecSql("ts")}) AS last_es
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── the same monotone fold on Spark 4's transformWithState — the
    //    successor arbitrary-state API (typed state handles, TTL,
    //    timers; `graft.streaming.UserStatsProcessor`). Requires the
    //    RocksDB state store provider, scoped to this query and
    //    restored after (the default HDFS-backed provider stays in
    //    force for the rest of the catalog). Same batch oracle as st06:
    //    two independent stateful engines, one judged answer. ──
    ("st07_transform_with_state",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        withConf(s, RocksDbStateStore) {
          val src = eventStream(s, dir, "stream_tws_events")()
            .select(col("user_id").cast("long").as("user_id"),
              unix_timestamp(col("ts")).as("es"))
            .as[(Long, Long)]
          val updates = src.groupByKey(_._1)
            .transformWithState(new graft.streaming.UserStatsProcessor,
              TimeMode.None(), OutputMode.Update())
          drainToMemory(updates.toDF("user_id", "n", "mn", "mx"), "st07_mem", "update")
        }
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n_events"), min(col("mn")).as("first_es"),
            max(col("mx")).as("last_es"))
          .orderBy(col("user_id"))
      },
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |       min(${epochSecSql("ts")}) AS first_es,
         |       max(${epochSecSql("ts")}) AS last_es
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st08: SLIDING event-time windows on the real streaming engine —
    //    the overlap case st01's tumbling windows don't cover. Every
    //    event lands in duration/slide = 2 windows; state size scales
    //    with open-window count, not event count, and the watermark
    //    bounds it exactly as in st01. The oracle materializes the same
    //    assignment arithmetically: an event at t belongs to window
    //    starts floor_hour(t) and floor_hour(t) − 1h. ──
    ("st08_sliding_window",
      (s: SparkSession, dir: String) => {
        val counts = eventStream(s, dir, "stream_events_sl")()
          .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        drainToMemory(counts, "st08_mem", "complete")
          .select(tsSec(col("w.start")).as("win_start"), col("event_type"), col("n"))
          .orderBy(col("win_start"), col("event_type"))
      },
      s"""WITH w AS (
         |  SELECT date_trunc('hour', ts) AS ws, event_type FROM events
         |  UNION ALL
         |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
         |SELECT ${tsSecSql("ws")} AS win_start, event_type,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── st09: foreachBatch → idempotent partitioned sink — THE
    //    production pattern for streaming into a queryable table.
    //    Complete-mode agg + per-batch DYNAMIC partition overwrite:
    //    each microbatch rewrites exactly the day-partitions it
    //    touches with the full current aggregate, so a replayed or
    //    failed-and-retried batch lands identical bytes (exactly-once
    //    by idempotence, no sink transaction log needed). The source
    //    is staged as 3 files with maxFilesPerTrigger=1, so the final
    //    table really is the product of three successive overwrites,
    //    not one lucky batch. Judged on the files re-read from disk. ──
    ("st09_foreach_batch_sink",
      (s: SparkSession, dir: String) => {
        val stage = Portable.scratchPath("stream_fb_events")
        // stage the RAW scan (un-normalized ts) so the staged files keep
        // the fixture's own encoding; the stream normalizes on read
        Tables.rawEvents(s, dir)
          .repartition(3)
          .write.mode("overwrite").parquet(stage)
        val out = Portable.scratchPath("stream_fb_out")
        drain(dailyCountsSink(stagedEvents(s, stage), out))
        readDailyCounts(s, out)
      },
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── st10: WATERMARK LATE-DATA SEMANTICS as a judged query (the
    //    behavior StreamingPresenceSpec could only spec-check before).
    //    The event stream arrives as THREE files under
    //    maxFilesPerTrigger=1 (the st09 idiom), mtime-ordered:
    //      batch 0  one deterministic hash-half, full time range — its
    //               max advances the watermark to wmA = max(f0) − 2h;
    //      batch 1  the other half's final-3h tail (on-time stragglers);
    //      batch 2  the other half's older bulk — genuinely LATE now.
    //    Empirically-pinned microbatch semantics (probed on this Spark
    //    version): the state store FILTERS batch N's input with the
    //    watermark as of batch N−1 and EVICTS/emits with the watermark
    //    as of batch N, so batch-2 rows whose hourly window closed at
    //    wmA are dropped (batch 0/1 rows never are — the filter
    //    watermark was still 1970 then), and the final no-data batch
    //    emits everything up to wmC = max(all) − 2h. The sink therefore
    //    holds windows with end ≤ wmC counting f0 + f1 + only the
    //    f2 rows with window end > wmA — all pure arithmetic over
    //    max(ts), which is exactly what the oracle applies. ──
    ("st10_watermark_late_data",
      (s: SparkSession, dir: String) => {
        // normalized batch read: staged arrival files carry a true
        // timestamp ts, so the streaming re-read needs no conversion
        val raw = Tables.events(s, dir)
        val half = pmod(portableHash(col("user_id").cast("string")), lit(2))
        val tsx = col("ts")
        val mx = raw.agg(max(tsx).as("mx"))
        // staged files keep the source schema — the tagging columns are
        // dropped before write
        val tagged = raw.crossJoin(broadcast(mx))
          .withColumn("__late", tsx < col("mx") - expr("INTERVAL 3 HOUR"))
          .withColumn("__half", half)
        val srcCols = raw.columns.map(col).toSeq
        // one file per arrival batch, mtimes force the arrival order
        // (the file source processes oldest-mtime first); all three
        // arrivals staged by ONE write job ([[stageArrivals]])
        val now = System.currentTimeMillis()
        val stage = stageArrivals(tagged, srcCols,
          when(col("__half") === 0, 0)
            .when(!col("__late"), 1).otherwise(2),
          Seq("arrival0", "arrival1", "arrival2"), "stream_late_events",
          i => now - (3 - i) * 60000)
        val counts = stagedEvents(s, stage)
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("n"))
        drainToMemory(counts, "st10_mem", "append")
          .select(tsSec(col("w.start")).as("hour"), col("n"))
          .orderBy(col("hour"))
      },
      s"""WITH ev AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS ts,
         |         ${portableHashSql("CAST(user_id AS VARCHAR)")} % 2 AS h
         |  FROM events),
         |mx AS (SELECT max(ts) AS m FROM ev),
         |f0 AS (SELECT ts FROM ev WHERE h = 0),
         |f2 AS (SELECT ev.ts FROM ev, mx WHERE h = 1 AND ev.ts < m - INTERVAL 3 HOUR),
         |f1 AS (SELECT ev.ts FROM ev, mx WHERE h = 1 AND ev.ts >= m - INTERVAL 3 HOUR),
         |wma AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM f0),
         |wmc AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM ev),
         |kept AS (
         |  SELECT ts FROM f0
         |  UNION ALL
         |  SELECT ts FROM f1
         |  UNION ALL
         |  SELECT ts FROM f2
         |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wma))
         |SELECT ${tsSecSql("date_trunc('hour', ts)")} AS hour,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM kept
         |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wmc)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st11: stream-stream LEFT OUTER interval join — st04's shape plus
    //    the semantics a batch engine cannot fake incrementally: a
    //    purchase with no matching click emits its NULL row only once the
    //    watermark proves no future click can ever match (c_ts ≤ p_ts, so
    //    the row is provably unmatched when the global watermark passes
    //    p_ts). AvailableNow runs one data batch then a no-data flush
    //    batch (noDataMicroBatches), whose watermark = min over both
    //    sides of max(event time) − 2h; unmatched purchases younger than
    //    that stay buffered in the state store and never reach the sink —
    //    the oracle applies the same cutoff arithmetically, so the
    //    watermark-held tail is judged, not hand-waved. ──
    ("st11_stream_outer_join",
      (s: SparkSession, dir: String) => {
        val src = eventStream(s, dir, "stream_outer_events")
        val purchases = src().where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        val clicks = src().where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"),
          "leftOuter")
        drainToMemory(joined, "st11_mem", "append")
          .groupBy(date_trunc("hour", col("p_ts")).as("hour"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("c_user").isNull, 1L).otherwise(0L)).as("n_null"))
          .select(tsSec(col("hour")).as("hour"), col("n_rows"), col("n_null"))
          .orderBy(col("hour"))
      },
      s"""WITH p AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
         |  WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
         |  WHERE event_type = 'click'),
         |wm AS (
         |  SELECT least((SELECT max(p_ts) FROM p),
         |               (SELECT max(c_ts) FROM c)) - INTERVAL 2 HOUR AS w),
         |matched AS (
         |  SELECT p.p_ts FROM p JOIN c
         |    ON p.user_id = c.user_id
         |   AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts),
         |unmatched AS (
         |  SELECT p.p_ts FROM p
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM c WHERE c.user_id = p.user_id
         |      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts)
         |    AND p.p_ts < (SELECT w FROM wm)),
         |sunk AS (
         |  SELECT p_ts, 0 AS is_null FROM matched
         |  UNION ALL
         |  SELECT p_ts, 1 AS is_null FROM unmatched)
         |SELECT ${tsSecSql("date_trunc('hour', p_ts)")} AS hour,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(is_null) AS BIGINT) AS n_null
         |FROM sunk GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st12: `dropDuplicatesWithinWatermark` — the catalog's one
    //    previously-documented skip, closed. The operator dedups on a
    //    key SUBSET (here user_id) while bounding state by event time:
    //    state stores expiry = firstEventTime + delay (duplicates do
    //    NOT refresh it), and Spark's two-watermark policy governs the
    //    rest — in batch k, late INPUT rows drop below the previous
    //    batch's watermark wmData(k−2), and state EVICTS below the
    //    current one wmData(k−1) at batch end. All three behaviors were
    //    pinned empirically (state-store telemetry: eviction counts,
    //    state totals, emission sets) before this oracle was written.
    //    Determinism is BY CONSTRUCTION: arrivals are weekly files (the
    //    production daily-ingest shape) and the watermark column is the
    //    week TRUNCATED, so every row in a batch shares one event time
    //    — which row of a key wins sets the same expiry regardless of
    //    partition processing order. Two straggler groups then make
    //    each watermark behavior judged and visible:
    //    · users uh3==0 have their LAST week held back to arrival 5 —
    //      their week-0 state (expiry w0+10d) is evicted at the end of
    //      batch 4 (wmData(3) = w3−10d > w0+10d), so the held rows
    //      RE-EMIT: the judged second (user, week) row;
    //    · users uh5==1 have their MID week (index 2) held to arrival 6
    //      — by then the late watermark wmData(4) = w4−10d sits above
    //      w2, so the rows are LATE-DROPPED: judged as the absence of
    //      the re-emission they would otherwise produce;
    //    · everyone else dedups to exactly their first active week
    //      (the state outlives the 5-week window: w_{j−2}−w0 ≤ 20d).
    //    The closed-form oracle is that case analysis; the 5-week grid
    //    it assumes is guarded loudly in the staging. At 100 TB the
    //    shape is unchanged: state is keys × ~40 bytes regardless of
    //    stream length, and eviction is what keeps it there. ──
    ("st12_dropdup_within_watermark",
      (s: SparkSession, dir: String) => {
        val raw = Tables.events(s, dir)
        val week = date_trunc("week", col("ts"))
        val uh3 = pmod(portableHash(col("user_id").cast("string")), lit(3))
        val uh5 = pmod(portableHash(col("user_id").cast("string")), lit(5))
        val srcCols = raw.columns.map(col).toSeq
        // the closed-form oracle below assumes exactly this week grid, so
        // fail loudly if the fixtures ever change shape
        val (weeks, wkIdx) = weekGrid(raw)
        require(weeks.length == 5,
          s"fixtures changed: st12's closed-form oracle assumes a 5-week " +
            s"event span, got ${weeks.length} — re-derive the case analysis")
        val wMid = weeks(2)
        val wLast = weeks(4)
        val heldA = uh3 === 0 && week === lit(wLast)
        val heldB = uh5 === 1 && week === lit(wMid)
        val now = System.currentTimeMillis()
        // arrivals 0-4 = weekly batches minus held rows (the held
        // predicates win the when-chain), 5/6 = the straggler batches;
        // all seven staged by ONE write job ([[stageArrivals]])
        val stage = stageArrivals(raw, srcCols,
          when(heldA, 5).when(heldB, 6).otherwise(wkIdx),
          weeks.indices.map(i => s"arrival$i") ++
            Seq("arrival5_last_week_stragglers", "arrival6_mid_week_stragglers"),
          "stream_wmdedup_events",
          i => if (i < 5) now - (9 - i) * 60000 else now - (8 - i) * 60000)
        val deduped = stagedEvents(s, stage)
          .withColumn("week", date_trunc("week", col("ts")))
          .withWatermark("week", "10 days")
          .dropDuplicatesWithinWatermark("user_id")
          .select(col("user_id"), col("week"))
        drainToMemory(deduped, "st12_mem", "append")
          .select(col("user_id"), tsSec(col("week")).as("week"))
          .orderBy(col("user_id"), col("week"))
      },
      s"""WITH ev AS (
         |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
         |         ${portableHashSql("CAST(user_id AS VARCHAR)")} % 3 AS uh3,
         |         ${portableHashSql("CAST(user_id AS VARCHAR)")} % 5 AS uh5
         |  FROM events),
         |wk AS (
         |  SELECT week, row_number() OVER (ORDER BY week) - 1 AS i
         |  FROM (SELECT DISTINCT week FROM ev)),
         |g AS (
         |  SELECT min(CASE WHEN i = 2 THEN week END) AS w_mid,
         |         min(CASE WHEN i = 3 THEN week END) AS w3,
         |         min(CASE WHEN i = 4 THEN week END) AS w_last
         |  FROM wk),
         |act AS (SELECT DISTINCT user_id, week, uh3, uh5 FROM ev),
         |fe AS (
         |  -- first arrival among the weekly (non-held) batches: always
         |  -- admitted, always the first emission
         |  SELECT a.user_id, min(a.week) AS fe
         |  FROM act a, g
         |  WHERE NOT (a.uh3 = 0 AND a.week = g.w_last)
         |    AND NOT (a.uh5 = 1 AND a.week = g.w_mid)
         |  GROUP BY 1),
         |emit1 AS (SELECT user_id, fe AS week FROM fe),
         |emit2 AS (
         |  -- arrival-5 re-emission: a held last-week row emits iff the
         |  -- user's state is dead by then — evicted (expiry fe+10d below
         |  -- the batch's eviction watermark w3-10d) or never created
         |  SELECT a.user_id, g.w_last AS week
         |  FROM act a
         |  JOIN g ON a.week = g.w_last
         |  LEFT JOIN fe ON fe.user_id = a.user_id
         |  WHERE a.uh3 = 0
         |    AND (fe.fe IS NULL OR fe.fe + INTERVAL 20 DAY < g.w3))
         |-- arrival 6 (held mid-week rows) never emits: w_mid sits below
         |-- that batch's late watermark w_last - 10 days
         |SELECT user_id, ${tsSecSql("week")} AS week FROM (
         |  SELECT * FROM emit1 UNION ALL SELECT * FROM emit2)
         |ORDER BY user_id, week""".stripMargin),

    // ── st13: streaming ordered funnel — a MULTI-STAGE state machine on
    //    `transformWithState` (st06/st07 fold monotone counters; this
    //    one carries stage-dependent transition rules: view → click
    //    within 24h → purchase within 24h, the batch w10 semantics run
    //    incrementally). The correctness precondition is per-user time
    //    order, provided by mtime-ordered weekly arrival files under
    //    maxFilesPerTrigger=1 plus an in-batch (ts, event_id) sort in
    //    the processor — under it, first-seen equals min and the
    //    machine's strict >/closed ≤ predicates reproduce the batch
    //    oracle exactly. Emitted stages are monotone per user, so the
    //    memory sink's per-key max is the final stage regardless of how
    //    AvailableNow sliced the input. ──
    ("st13_stream_funnel",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val raw = Tables.events(s, dir)
        // weekly arrival batches in chronological mtime order; ONE write
        // job stages all of them ([[stageArrivals]])
        val (weeks, wkIdx) = weekGrid(raw)
        val now = System.currentTimeMillis()
        val stage = stageArrivals(raw, raw.columns.map(col).toSeq, wkIdx,
          weeks.indices.map(i => s"arrival$i"), "stream_funnel_events",
          i => now - (weeks.length + 2 - i) * 60000)
        // transformWithState needs multi-column-family state: RocksDB only
        withConf(s, RocksDbStateStore) {
          val src = stagedEvents(s, stage)
            .select(col("user_id").cast("long").as("user_id"),
              unix_micros(col("ts")).as("tsu"),
              col("event_id").cast("long").as("event_id"),
              col("event_type").as("tpe"))
            .as[(Long, Long, Long, String)]
          val updates = src.groupByKey(_._1)
            .transformWithState(new graft.streaming.FunnelProcessor,
              TimeMode.None(), OutputMode.Update())
          drainToMemory(updates.toDF("user_id", "stage"), "st13_mem", "update")
        }
          .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
          .where(col("stage") >= 1L)
          .orderBy(col("user_id"))
      },
      s"""WITH s1 AS (
         |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1 FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (
         |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
         |  FROM events e JOIN s1 USING (user_id)
         |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t1
         |    AND CAST(e.ts AS TIMESTAMP) <= s1.t1 + INTERVAL 24 HOURS
         |  GROUP BY 1),
         |s3 AS (
         |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
         |  FROM events e JOIN s2 USING (user_id)
         |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
         |    AND CAST(e.ts AS TIMESTAMP) <= s2.t2 + INTERVAL 24 HOURS
         |  GROUP BY 1)
         |SELECT s1.user_id,
         |       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
         |                 WHEN s2.user_id IS NOT NULL THEN 2
         |                 ELSE 1 END AS BIGINT) AS stage
         |FROM s1
         |LEFT JOIN s2 ON s2.user_id = s1.user_id
         |LEFT JOIN s3 ON s3.user_id = s1.user_id
         |ORDER BY s1.user_id""".stripMargin),

    // ── st14: event-time STATE TIMEOUT — the engine's last previously
    //    spec-only streaming behavior, judged. A per-user session closes
    //    when the event-time watermark crosses `last event + 10 days`
    //    with no newer activity: `SessionTimeoutProcessor` keeps ONE
    //    event-time timer per key (reschedule = delete + register) and
    //    emits (user, last_ts, n_events) from `handleExpiredTimer`. The
    //    deterministic case analysis under the weekly mtime-staged
    //    arrival grid (w0..w4, 7 days apart, watermark delay 1h):
    //    · Spark processes a batch's INPUT rows before firing its
    //      expired timers, and fires against the watermark computed at
    //      the END of the PREVIOUS batch — so the timer set at week w_i
    //      (expiry w_i+10d) fires in batch i+3, the first whose opening
    //      watermark w_{i+2}−1h exceeds it, UNLESS the user was active
    //      in any of weeks i+1..i+3 (an arrival in the firing batch
    //      itself reschedules FIRST and swallows the session — the
    //      watermark-lag merge rule, pinned in WatermarkSemanticsSpec);
    //    · AvailableNow runs one final NO-DATA batch after the last
    //      file because the watermark advanced (w4−1h), which is what
    //      fires week-2 sessions; week-3/4 sessions outlive the stream
    //      and are judged by their absence;
    //    · weeks 0..i (i ≤ 2) always merge into one session (any gap
    //      ≤ 14d re-arrives before its timer can fire), so an emitted
    //      session's count is the user's FULL event count through w_i.
    //    The closed-form oracle is exactly that analysis. At 100 TB the
    //    posture is the point of the operator: state + its timer are
    //    O(1) per key sharded by grouping hash, and expiry is what keeps
    //    the store bounded by ACTIVE keys instead of stream length. ──
    ("st14_session_timeout",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val week = date_trunc("week", col("ts"))
        // the fixture's users are active nearly every week, so sessions
        // would never time out — thin the stream with a deterministic
        // per-(user, week) coin (the oracle applies the identical one)
        // so genuine multi-week silences exist for timers to cross
        val cellCoin = pmod(portableHash(concat(
          col("user_id").cast("string"), lit(":"),
          date_format(week, "yyyy-MM-dd"))), lit(3))
        val raw = Tables.events(s, dir).where(cellCoin =!= 0)
        // weekly arrival grid; the oracle's batch-index arithmetic
        // assumes it. ONE write job stages every arrival ([[stageArrivals]])
        val (weeks, wkIdx) = weekGrid(raw)
        require(weeks.length == 5,
          s"fixtures changed: st14's closed-form oracle assumes a 5-week " +
            s"event span, got ${weeks.length} — re-derive the case analysis")
        val now = System.currentTimeMillis()
        val stage = stageArrivals(raw, raw.columns.map(col).toSeq, wkIdx,
          weeks.indices.map(i => s"arrival$i"), "stream_timeout_events",
          i => now - (weeks.length + 2 - i) * 60000)
        // transformWithState is RocksDB-only (timers are a second column
        // family)
        withConf(s, RocksDbStateStore) {
          val src = stagedEvents(s, stage)
            .withColumn("week", date_trunc("week", col("ts")))
            .withWatermark("week", "1 hour")
            .select(col("user_id").cast("long").as("user_id"),
              unix_micros(col("week")).as("wku"))
            .as[(Long, Long)]
          val sessions = src.groupByKey(_._1)
            .transformWithState(
              new graft.streaming.SessionTimeoutProcessor(10L * 24 * 3600 * 1000),
              TimeMode.EventTime(), OutputMode.Append())
          drainToMemory(sessions.toDF("user_id", "last_wku", "n_events"),
            "st14_mem", "append")
        }
          .select(col("user_id"),
            tsSec(timestamp_micros(col("last_wku"))).as("session_end"),
            col("n_events"))
          .orderBy(col("user_id"))
      },
      s"""WITH ev AS (
         |  -- the same deterministic per-(user, week) thinning coin the
         |  -- streaming side applies before staging
         |  SELECT user_id, week FROM (
         |    SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
         |    FROM events)
         |  WHERE ${portableHashSql(
                "CAST(user_id AS VARCHAR) || ':' || strftime(week, '%Y-%m-%d')")}
         |        % 3 <> 0),
         |wk AS (
         |  SELECT week, row_number() OVER (ORDER BY week) - 1 AS i
         |  FROM (SELECT DISTINCT week FROM ev)),
         |act AS (
         |  SELECT e.user_id, w.i, w.week, count(*) AS n
         |  FROM ev e JOIN wk w USING (week) GROUP BY 1, 2, 3),
         |-- a session ending at week i emits iff its timer (w_i + 10d)
         |-- fires before the stream ends: firing batch is i+3 (watermark
         |-- lag), the final no-data batch is batch 5, so i <= 2 — and no
         |-- activity in weeks i+1..i+3 reschedules it away
         |ends AS (
         |  SELECT a.user_id, a.i, a.week FROM act a
         |  WHERE a.i <= 2 AND NOT EXISTS (
         |    SELECT 1 FROM act b
         |    WHERE b.user_id = a.user_id AND b.i > a.i AND b.i <= a.i + 3))
         |-- gaps <= 14d re-arrive before their timer fires, so weeks
         |-- 0..i always merge: the session count is the full count
         |SELECT e.user_id, ${tsSecSql("e.week")} AS session_end,
         |       (SELECT CAST(sum(a.n) AS BIGINT) FROM act a
         |        WHERE a.user_id = e.user_id AND a.i <= e.i) AS n_events
         |FROM ends e ORDER BY e.user_id""".stripMargin),

    // ── st15: stateful-operator COMPOSITION — the st04 stream-stream
    //    interval join feeding the st14 timer machine in ONE streaming
    //    query (two state stores, one watermark). Every streaming
    //    primitive is judged in isolation above; this is the remaining
    //    production shape: join matches (purchase × same-user click in
    //    the preceding hour) flow into `transformWithState`, which keeps
    //    ONE event-time timer per user at last_match + 1h and emits the
    //    (user, last match, match count) session when the watermark
    //    crosses it. Chained stateful operators make watermark
    //    PROPAGATION the semantics under test: Spark simulates a
    //    per-operator watermark, and the join DELAYS its output
    //    watermark by the interval bound (1h here — a buffered click
    //    may still pair with a future purchase, so downstream may not
    //    advance past it); timers therefore fire against
    //    min(max p_ts, max c_ts) − 2h(source delay) − 1h(join delay),
    //    with the previous-batch lag and strict `<` expiry pinned in
    //    WatermarkSemanticsSpec. AvailableNow over one staged file = one
    //    input batch + the final no-data batch, so the emitted set is
    //    closed-form: users whose last match sits more than [timeout +
    //    join delay + source delay] before the stream max. State is
    //    O(keys) in both operators; the join evicts by the interval
    //    bound — nothing buffers the stream. ──
    ("st15_join_then_timeout",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        withConf(s, RocksDbStateStore) {
          val src = eventStream(s, dir, "st15_events")
          val purchases = src().where(col("event_type") === "purchase")
            .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          val clicks = src().where(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
            .withWatermark("c_ts", "2 hours")
          val matches = purchases.join(clicks,
              col("p_user") === col("c_user") &&
                col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
                col("c_ts") <= col("p_ts"))
            .select(col("p_user").cast("long").as("user_id"),
              unix_micros(col("p_ts")).as("tsu"))
            .as[(Long, Long)]
          val sessions = matches.groupByKey(_._1)
            .transformWithState(
              new graft.streaming.SessionTimeoutProcessor(3600L * 1000),
              TimeMode.EventTime(), OutputMode.Append())
          drainToMemory(sessions.toDF("user_id", "last_tsu", "n_matches"),
            "st15_mem", "append")
        }
          .select(col("user_id"),
            tsSec(timestamp_micros(col("last_tsu"))).as("last_match"),
            col("n_matches"))
          .orderBy(col("user_id"))
      },
      s"""WITH pairs AS (
         |  SELECT p.user_id, CAST(p.ts AS TIMESTAMP) AS p_ts
         |  FROM events p JOIN events c
         |    ON p.user_id = c.user_id
         |   AND p.event_type = 'purchase' AND c.event_type = 'click'
         |   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts),
         |agg AS (
         |  SELECT user_id, max(p_ts) AS last_ts,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM pairs GROUP BY 1),
         |wm AS (
         |  SELECT least(
         |    (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
         |     WHERE event_type = 'purchase'),
         |    (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
         |     WHERE event_type = 'click'))
         |    - INTERVAL 2 HOUR - INTERVAL 1 HOUR AS w)
         |SELECT user_id, ${tsSecSql("last_ts")} AS last_match, n AS n_matches
         |FROM agg, wm
         |WHERE last_ts + INTERVAL 1 HOUR < wm.w
         |ORDER BY user_id""".stripMargin),

    // ── st16: CHECKPOINT RECOVERY as a judged query — the contract
    //    every production stream actually relies on and the one thing
    //    a single AvailableNow drain cannot exercise: run → STOP →
    //    more data arrives → RESTART from the same checkpoint. Wave 0
    //    (one deterministic hash-half of events) is staged and fully
    //    drained by query #1 (complete-mode day×type counts through
    //    the st09 idempotent foreachBatch sink), whose offsets AND
    //    aggregation state land in the checkpoint. Wave 1 (the other
    //    half) is then staged and a SECOND query object starts from
    //    the same checkpoint. The judged sink equals the batch
    //    aggregate over BOTH waves iff recovery is exactly-once in
    //    both directions: lost state would leave wave-1-only counts,
    //    re-read offsets would double-count wave 0 — either diverges
    //    the hash. Scratch paths are per-invocation (the counter) so
    //    a bench re-run recovers from ITS OWN fresh checkpoint rather
    //    than the previous invocation's. Round12OpsSpec pins that
    //    both waves are non-empty (the recovery claim is non-vacuous)
    //    and that the halves partition the fixture. ──
    ("st16_checkpoint_recovery",
      (s: SparkSession, dir: String) => {
        val inv = invocation.incrementAndGet()
        val out = Portable.scratchPath(s"st16_out_$inv")
        val ckpt = Portable.scratchPath(s"st16_ckpt_$inv")
        val arrive = waveArrivals(Tables.rawEvents(s, dir), s"st16_events_$inv")
        // each call builds a FRESH query object — the restart is real,
        // not a paused continuation; only the checkpoint connects them
        def drainOnce(stage: String): Unit = drain(
          dailyCountsSink(stagedEvents(s, stage), out)
            .option("checkpointLocation", ckpt))
        drainOnce(arrive(0)) // first lifetime: drains wave 0, checkpoints, stops
        drainOnce(arrive(1)) // restart from the SAME checkpoint: resumes
                             // state, ingests only the new file
        readDailyCounts(s, out)
      },
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── st17: the CUSTOM CONNECTOR as a streaming source — documents
    //    written through the graft-ledger BatchWrite (8 range-
    //    partitioned stats-stamped files), then streamed back through
    //    the connector's own `MicroBatchStream`: offsets are ingested-
    //    file-name sets, `maxFilesPerTrigger=2` admission control
    //    slices the drain into 4 real microbatches, AvailableNow
    //    drains against the prepare-time snapshot, and the microbatch
    //    reader is the SAME pruned binary decoder the batch path uses.
    //    The complete-mode per-language aggregate folded across those
    //    microbatches must equal DuckDB's batch answer over the
    //    ORIGINAL parquet — binary encode, stats fold, offset
    //    tracking, admission limit, and per-batch decode all have to
    //    be lossless for the hash to land. `LedgerSourceSpec` pins the
    //    stream-side contracts (batch slicing, restart-with-new-files,
    //    offset round-trip) on controlled layouts. ──
    ("st17_ledger_stream",
      (s: SparkSession, dir: String) => {
        val inv = invocation.incrementAndGet()
        val ledgerDir = Portable.scratchPath(s"st17_ledger_$inv")
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .repartitionByRange(8, col("doc_id"))
          .write.format("graft-ledger").mode("overwrite").save(ledgerDir)
        val src = s.readStream.format("graft-ledger")
          .option("maxFilesPerTrigger", "2")
          .load(ledgerDir)
        val agg = src.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
        drainToMemory(agg, s"st17_mem_$inv", "complete")
          .orderBy(col("lang"))
      },
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st18: stream-stream FULL OUTER interval join — st11's
    //    watermark-gated NULL emission applied to BOTH unmatched tails.
    //    Matches emit as they form; an unmatched purchase emits its
    //    NULL-click row once the global watermark w passes p_ts (no
    //    future click with c_ts ≤ p_ts can still arrive); an unmatched
    //    click emits its NULL-purchase row once w passes c_ts + 1h (its
    //    candidate purchases live in [c_ts, c_ts + 1h] — the interval
    //    bound itself sets the click side's eviction point, which is
    //    why the two tails flush at DIFFERENT watermark offsets).
    //    AvailableNow runs one data batch then the no-data flush batch;
    //    rows younger than their side's cutoff stay in the state store
    //    and never reach the sink — the oracle applies st11's case
    //    analysis symmetrically, so both held tails are judged, not
    //    hand-waved. Output rows key on coalesce(p_ts, c_ts): matched
    //    and no-click rows bucket by purchase hour, no-purchase rows by
    //    click hour. ──
    ("st18_stream_full_outer_join",
      (s: SparkSession, dir: String) => {
        val src = eventStream(s, dir, "stream_fouter_events")
        val purchases = src().where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        val clicks = src().where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"),
          "fullOuter")
        drainToMemory(joined, "st18_mem", "append")
          .groupBy(date_trunc("hour", coalesce(col("p_ts"), col("c_ts"))).as("hour"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("c_user").isNull, 1L).otherwise(0L)).as("n_no_click"),
            sum(when(col("p_user").isNull, 1L).otherwise(0L)).as("n_no_purchase"))
          .select(tsSec(col("hour")).as("hour"), col("n_rows"),
            col("n_no_click"), col("n_no_purchase"))
          .orderBy(col("hour"))
      },
      s"""WITH p AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
         |  WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
         |  WHERE event_type = 'click'),
         |wm AS (
         |  SELECT least((SELECT max(p_ts) FROM p),
         |               (SELECT max(c_ts) FROM c)) - INTERVAL 2 HOUR AS w),
         |matched AS (
         |  SELECT p.p_ts FROM p JOIN c
         |    ON p.user_id = c.user_id
         |   AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts),
         |un_p AS (
         |  SELECT p.p_ts FROM p
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM c WHERE c.user_id = p.user_id
         |      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts)
         |    AND p.p_ts < (SELECT w FROM wm)),
         |un_c AS (
         |  SELECT c.c_ts FROM c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM p WHERE p.user_id = c.user_id
         |      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts)
         |    AND c.c_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)),
         |sunk AS (
         |  SELECT p_ts AS ets, 0 AS no_c, 0 AS no_p FROM matched
         |  UNION ALL
         |  SELECT p_ts, 1, 0 FROM un_p
         |  UNION ALL
         |  SELECT c_ts, 0, 1 FROM un_c)
         |SELECT ${tsSecSql("date_trunc('hour', ets)")} AS hour,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(no_c) AS BIGINT) AS n_no_click,
         |       CAST(sum(no_p) AS BIGINT) AS n_no_purchase
         |FROM sunk GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st19: the remaining `transformWithState` state-variable kinds,
    //    judged — ListState as a per-user BOUNDED recent-event list
    //    (pruned to the 5 largest event times each batch) and MapState
    //    as per-user per-event-type counters (st07 judges ValueState;
    //    st13/st14 add event-time timers). Every emitted field is
    //    monotone under more input, so the update stream folds with max
    //    to the final state regardless of microbatch slicing; the
    //    closed-form oracle ranks each user's events by time and sums
    //    the top 5 (ties at rank 5 carry equal values — the multiset
    //    sum is tie-break independent). TTL expiry is processing-time
    //    (wall-clock) and so not judgeable; TransformWithStateSpec pins
    //    real TTL eviction by name. ──
    ("st19_state_variables",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        withConf(s, RocksDbStateStore) {
          val updates = eventsByUser(eventStream(s, dir, "stream_sv_events")())
            .transformWithState(new graft.streaming.RecentEventsProcessor(5),
              TimeMode.None(), OutputMode.Update())
            .toDF(recentEventCols: _*)
          foldRecentEvents(drainToMemory(updates, "st19_mem", "update"))
        }
      },
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ${epochSecSql("ts")} AS es FROM events),
         |rk AS (
         |  SELECT user_id, es,
         |         row_number() OVER (PARTITION BY user_id ORDER BY es DESC) AS rn
         |  FROM ev),
         |tk AS (
         |  SELECT user_id, CAST(sum(es) AS BIGINT) AS topk_sum,
         |         CAST(count(*) AS BIGINT) AS topk_n
         |  FROM rk WHERE rn <= 5 GROUP BY 1),
         |ag AS (
         |  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         |         CAST(count(*) AS BIGINT) AS n_events
         |  FROM ev GROUP BY 1)
         |SELECT ag.user_id, ag.n_types, ag.n_events, tk.topk_sum, tk.topk_n
         |FROM ag JOIN tk USING (user_id) ORDER BY user_id""".stripMargin),

    // ── st20: state-VARIABLE recovery across a real restart — st16
    //    proves an aggregation's offsets+state survive a checkpoint
    //    restart; no judged row yet proved the Spark 4 state-variable
    //    kinds (st19's ListState top-5 + MapState counters) serialize
    //    and RESTORE through RocksDB the same way. Wave 0 (one
    //    deterministic hash-half of events by event_id) drains through
    //    st19's processor and stops; wave 1 arrives; a FRESH query
    //    object resumes from the same checkpoint. Every emitted field
    //    is monotone, so folding ALL update rows from BOTH lifetimes
    //    with max equals st19's batch closed form over the full fixture
    //    IFF recovery held: lost state makes wave-1 emissions cover
    //    wave-1 events only (n_events = max(n0, n1) ≠ n0+n1, and the
    //    restored-list top-5 sum collapses to a single wave's — the
    //    fixture's per-user top-5 mixes waves, Round13OpsSpec pins it),
    //    re-read offsets double-count into n_events > total. The max
    //    fold also makes the append sink idempotent — a replayed batch
    //    adds duplicate rows the fold erases — so exactly-once here is
    //    carried by the STATE contract, which is exactly what is being
    //    judged. ──
    ("st20_state_recovery",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val out = Portable.scratchPath(s"st20_out_$inv")
        val ckpt = Portable.scratchPath(s"st20_ckpt_$inv")
        val arrive = waveArrivals(Tables.rawEvents(s, dir), s"st20_events_$inv")
        // fresh query object per call — only the checkpoint (offsets +
        // RocksDB state snapshots) connects the two lifetimes
        def drainOnce(stage: String): Unit = drain(
          eventsByUser(stagedEvents(s, stage, perFile = false))
            .transformWithState(new graft.streaming.RecentEventsProcessor(5),
              TimeMode.None(), OutputMode.Update())
            .toDF(recentEventCols: _*)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: Dataset[Row], _: Long) =>
              batch.write.mode("append").parquet(out): Unit
            })
        withConf(s, RocksDbStateStore) {
          drainOnce(arrive(0)) // first lifetime: ListState/MapState built, checkpointed
          drainOnce(arrive(1)) // restart: state variables restored, wave 1 folds in
        }
        foldRecentEvents(s.read.parquet(out))
      },
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ${epochSecSql("ts")} AS es FROM events),
         |rk AS (
         |  SELECT user_id, es,
         |         row_number() OVER (PARTITION BY user_id ORDER BY es DESC) AS rn
         |  FROM ev),
         |tk AS (
         |  SELECT user_id, CAST(sum(es) AS BIGINT) AS topk_sum,
         |         CAST(count(*) AS BIGINT) AS topk_n
         |  FROM rk WHERE rn <= 5 GROUP BY 1),
         |ag AS (
         |  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         |         CAST(count(*) AS BIGINT) AS n_events
         |  FROM ev GROUP BY 1)
         |SELECT ag.user_id, ag.n_types, ag.n_events, tk.topk_sum, tk.topk_n
         |FROM ag JOIN tk USING (user_id) ORDER BY user_id""".stripMargin),

    // ── st21: INITIAL-STATE bootstrap — the last surface of the Spark 4
    //    `transformWithState` API (`StatefulProcessorWithInitialState` +
    //    the initialState overload): every production stateful pipeline
    //    starts as backfill-then-stream, seeding state from an OFFLINE
    //    batch aggregate instead of replaying history through the
    //    stream. The batch prefix (hash-half 0 of events by event_id) is
    //    aggregated relationally — per-user top-5 event times + per-type
    //    counts, exactly the state st19's fold would have built — and
    //    handed to `handleInitialState`; the stream then drains ONLY
    //    hash-half 1. Folding the update rows with max must equal st19's
    //    batch closed form over prefix ∪ stream: if the bootstrap were
    //    ignored, n_events would cover the stream half only and the
    //    top-5 sum would lose the prefix's times (the per-user top-5
    //    mixes halves — Round13OpsSpec's st20 pin). Update mode emits on
    //    input, so only stream-active users appear — the oracle applies
    //    the same restriction. ──
    ("st21_initial_state",
      (s: SparkSession, dir: String) => {
        val inv = invocation.incrementAndGet()
        import s.implicits._
        // offline bootstrap: the batch prefix aggregated to the exact
        // state shape (top-5 times pruned HERE, per-type counts) — the
        // state seed is an aggregate, never a replay
        val ev0 = Tables.events(s, dir).where(eventHalf === 0)
          .select(col("user_id").cast("long").as("user_id"),
            col("event_type"), unix_timestamp(col("ts")).as("es"))
        // top-5 via a rank window (WindowGroupLimit bounds the sort to
        // 5 rows per key map-side) — never collect a user's full
        // history just to slice it
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("es").desc)
        val topk0 = ev0.withColumn("rn", row_number().over(wTop))
          .where(col("rn") <= 5)
          .groupBy(col("user_id"))
          .agg(reverse(array_sort(collect_list(col("es")))).as("topk"))
        val types0 = ev0.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          .agg(collect_list(struct(col("event_type").as("_1"),
            col("n").as("_2"))).as("types"))
        val init = topk0.join(types0, Seq("user_id"))
          .toDF("_1", "_2", "_3")
          .as[(Long, Seq[Long], Seq[(String, Long)])]
          .groupByKey(_._1).mapValues(t => (t._2, t._3))
        // stream: hash-half 1 staged as the arriving file
        val stage = waveArrivals(Tables.rawEvents(s, dir), s"st21_events_$inv")(1)
        withConf(s, RocksDbStateStore) {
          val updates = eventsByUser(stagedEvents(s, stage, perFile = false))
            .transformWithState(
              new graft.streaming.BootstrapRecentEventsProcessor(5),
              TimeMode.None(), OutputMode.Update(), init)
            .toDF(recentEventCols: _*)
          foldRecentEvents(drainToMemory(updates, s"st21_mem_$inv", "update"))
        }
      },
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ${epochSecSql("ts")} AS es,
         |         ${portableHashSql("CAST(event_id AS VARCHAR)")} % 2 AS half
         |  FROM events),
         |w1u AS (SELECT DISTINCT user_id FROM ev WHERE half = 1),
         |rk AS (
         |  SELECT user_id, es,
         |         row_number() OVER (PARTITION BY user_id ORDER BY es DESC) AS rn
         |  FROM ev),
         |tk AS (
         |  SELECT user_id, CAST(sum(es) AS BIGINT) AS topk_sum,
         |         CAST(count(*) AS BIGINT) AS topk_n
         |  FROM rk WHERE rn <= 5 GROUP BY 1),
         |ag AS (
         |  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         |         CAST(count(*) AS BIGINT) AS n_events
         |  FROM ev GROUP BY 1)
         |SELECT ag.user_id, ag.n_types, ag.n_events, tk.topk_sum, tk.topk_n
         |FROM ag JOIN tk USING (user_id) JOIN w1u USING (user_id)
         |ORDER BY user_id""".stripMargin),

    // ── st22: streaming CDC into the LAKEHOUSE — the composition the
    //    connector story and the streaming story have been building
    //    toward: `foreachBatch` + `MERGE INTO` a ledger-catalog table,
    //    the idiom every production streaming-upsert pipeline runs
    //    (Delta/Iceberg "merge into from a stream"). Events arrive as
    //    three mtime-ordered files under maxFilesPerTrigger=1; each
    //    microbatch pre-aggregates per user and MERGEs into the V2
    //    table — matched keys FOLD the batch delta into their running
    //    state (count rides the lang column as a decimal string,
    //    money-cents in n_chars), unmatched keys INSERT. Three
    //    successive copy-on-write MERGEs (s28's machinery) later, the
    //    table must equal the one-shot batch aggregate REGARDLESS of
    //    how rows split across batches — associativity of the fold is
    //    exactly what the oracle's plain GROUP BY checks. State lives
    //    in the TABLE, not the stream (outputMode Append, no state
    //    store): restart cost is a checkpoint offset, and at 100 TB
    //    the per-batch cost is the delta join, never the history. ──
    ("st22_stream_merge_lakehouse",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        // UNIQUE catalog name per invocation: foreachBatch hands the
        // body a CLONED session whose fresh CatalogManager instantiates
        // the plugin from the CURRENT conf, while the outer session may
        // hold an instance cached under an older root (CatalogManager
        // caches by name at first reference) — a shared name would split
        // the seed table and the MERGE across two roots in any JVM that
        // referenced the shared catalog before this query
        val cat = s"st22cat_$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath("st22_catroot"))
        val tbl = s"$cat.st22state_$inv"
        val stage = Portable.scratchPath(s"st22_stage_$inv")
        Tables.rawEvents(s, dir).repartition(3)
          .write.mode("overwrite").parquet(stage)
        // seed an EMPTY ledger table so batch 0 merges like any other
        s.range(0).select($"id".as("doc_id"),
            lit("0").as("lang"), $"id".as("n_chars"))
          .writeTo(tbl).createOrReplace()
        drain(stagedEvents(s, stage).select($"user_id", $"value").writeStream
          .option("checkpointLocation",
            Portable.scratchPath(s"st22_ckpt_$inv"))
          .foreachBatch {
            (batch: Dataset[Row],
             _: Long) =>
              val delta = batch.groupBy(col("user_id"))
                .agg(count(lit(1)).as("c"),
                  sum(round(col("value") * 100).cast("long")).as("cents"))
              delta.createOrReplaceTempView("st22_delta")
              batch.sparkSession.sql(
                s"""MERGE INTO $tbl t USING st22_delta b
                   |ON t.doc_id = b.user_id
                   |WHEN MATCHED THEN UPDATE SET
                   |  lang = CAST(CAST(t.lang AS BIGINT) + b.c AS STRING),
                   |  n_chars = t.n_chars + b.cents
                   |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                   |  VALUES (b.user_id, CAST(b.c AS STRING), b.cents)
                   |""".stripMargin): Unit
          })
        s.sql(s"""SELECT doc_id AS user_id, CAST(lang AS BIGINT) AS n,
                 |       n_chars AS cents
                 |FROM $tbl ORDER BY 1""".stripMargin)
      },
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st23: the STATE STORE READER (Spark 4's `statestore` data
    //    source) — checkpoint introspection as a judged query, the ops
    //    surface every production streaming deployment leans on when a
    //    stateful query misbehaves. A per-user aggregation drains three
    //    microbatches into a RocksDB-checkpointed state store (the sink
    //    is `noop` — nothing judged ever leaves the STREAM), then the
    //    judged read reconstructs the aggregation's final state
    //    DIRECTLY FROM THE CHECKPOINT: `spark.read.format("statestore")`
    //    must replay snapshot + deltas across every shuffle partition
    //    and surface the internal agg buffer (key struct + value struct
    //    named after the agg functions). The money sum runs as a
    //    scaled-long INSIDE the streaming agg so the state buffer
    //    itself is exact. Equality with the plain batch GROUP BY is
    //    precisely the claim that the checkpoint tells the truth. ──
    ("st23_state_reader",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val stage = Portable.scratchPath(s"st23_stage_$inv")
        val ckpt = Portable.scratchPath(s"st23_ckpt_$inv")
        Tables.rawEvents(s, dir).repartition(3)
          .write.mode("overwrite").parquet(stage)
        drain(stagedEvents(s, stage)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n"),
            sum(round($"value" * 100).cast("long")).as("cents"))
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", ckpt))
        s.read.format("statestore").load(ckpt)
          .select($"key.user_id".as("user_id"),
            $"value.count".as("n"),
            $"value.sum".cast("long").as("cents"))
          .orderBy($"user_id")
      },
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st25: the `ForeachWriter` PER-ROW sink — the lowest-level sink
    //    API (st09's foreachBatch gets a DataFrame per microbatch; this
    //    gets open(partition, epoch) / process(row) / close(error) per
    //    PARTITION LIFECYCLE), the shape used to push rows into systems
    //    with no Spark connector. Its delivery contract is AT-LEAST-ONCE
    //    — a retried task re-emits its partition-epoch — so the sink
    //    must be idempotent to be exactly-once in effect: here each
    //    lifecycle writes a file keyed by (partition, epoch) CREATED
    //    ATOMICALLY at open (tmp + rename on close), so a retry
    //    REPLACES its own output instead of appending duplicates — the
    //    classic idempotent-sink recipe, and the judged readback over
    //    the files must equal the batch corpus exactly (no loss across
    //    three maxFilesPerTrigger microbatches, no double-count). ──
    ("st25_foreach_writer",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val stage = Portable.scratchPath(s"st25_stage_$inv")
        val sink = Portable.scratchPath(s"st25_sink_$inv")
        Files.createDirectories(Paths.get(sink))
        Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars").repartition(3)
          .write.mode("overwrite").parquet(stage)
        drain(stagedStream(s, stage)
          .writeStream
          .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
            @transient private var out: java.io.PrintWriter = _
            @transient private var tmp: java.io.File = _
            @transient private var dst: java.io.File = _
            override def open(partitionId: Long, epochId: Long): Boolean = {
              dst = new java.io.File(sink, s"p${partitionId}_e$epochId.csv")
              tmp = new java.io.File(sink,
                s"p${partitionId}_e$epochId.csv.tmp")
              out = new java.io.PrintWriter(tmp, "UTF-8")
              true
            }
            override def process(r: org.apache.spark.sql.Row): Unit =
              out.println(s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}")
            override def close(errorOrNull: Throwable): Unit = {
              out.close()
              if (errorOrNull == null) {
                // rename = the idempotence: a retried partition-epoch
                // REPLACES its own file, never duplicates rows
                Files.move(tmp.toPath, dst.toPath,
                  StandardCopyOption.REPLACE_EXISTING,
                  StandardCopyOption.ATOMIC_MOVE)
              } else tmp.delete(): Unit
            }
          }))
        // read the DIRECTORY with a glob filter (a literal `/*.csv`
        // path makes the FileStreamSink-metadata probe log a harmless
        // but noisy FileNotFoundException stack)
        s.read.option("delimiter", "|")
          .option("pathGlobFilter", "*.csv")
          .schema("doc_id LONG, lang STRING, n_chars LONG")
          .csv(sink)
          .groupBy($"lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum($"n_chars").cast("long").as("total_chars"))
          .orderBy($"lang")
      },
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st26: STREAMING the change feed — the CDC TAIL that closes the
    //    loop s46 (the batch feed) and st22 (the CDC-apply sink)
    //    started: `readStream` over the ledger's change feed, where the
    //    OFFSET is the commit version itself (the exactly-once cursor a
    //    versioned table gives for free — no file-set bookkeeping), a
    //    microbatch is the manifest-diff changes of the versions
    //    committed since the checkpointed offset, and AvailableNow
    //    drains to a prepare-time snapshot of the version chain. Judged
    //    as TWO drains around live commits sharing ONE checkpoint and
    //    one exactly-once parquet sink: drain 1 ships the ingest +
    //    append inserts, the table then takes a MoR delete and a MoR
    //    update, and drain 2 — a FRESH query object resumed from the
    //    checkpoint — must ship exactly the new versions' events (the
    //    delete's before-images, the update's delete+insert pair) and
    //    nothing twice. The readback over the sink equals s46's batch
    //    feed oracle precisely when tailing is exactly-once across the
    //    restart in both directions. ──
    ("st26_stream_change_feed",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"scf$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st26_catroot_$inv"))
        val sink = Portable.scratchPath(s"st26_sink_$inv")
        val ckpt = Portable.scratchPath(s"st26_ckpt_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        docs.where(pmod($"doc_id", lit(2)) === 0)
          .repartitionByRange(4, $"doc_id")
          .writeTo(s"$cat.t").tableProperty("mor", "true").create() // v1
        docs.where(pmod($"doc_id", lit(2)) === 1)
          .writeTo(s"$cat.t").append()                              // v2
        val tdir = new java.io.File(
          Portable.scratchPath(s"st26_catroot_$inv"), "t").getPath
        def tail(): Unit = drain(s.readStream.format("graft-ledger")
          .option("changesFrom", "0").load(tdir)
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt))
        tail() // ships v1 + v2 inserts
        s.sql(s"DELETE FROM $cat.t WHERE lang = 'de'")              // v3
        s.sql(s"UPDATE $cat.t SET n_chars = n_chars + 100000 " +
          s"WHERE lang = 'fr'")                                     // v4
        tail() // a fresh query from the SAME checkpoint: only v3+v4
        s.read.parquet(sink)
          .groupBy($"_commit_version", $"_change_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum($"doc_id").cast("long").as("id_sum"),
            sum($"n_chars").cast("long").as("chars_sum"))
          .orderBy($"_commit_version", $"_change_type")
      },
      """SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |       CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL SELECT 2, 'insert', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 1
        |UNION ALL SELECT 3, 'delete', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE lang = 'de'
        |UNION ALL SELECT 4, 'delete', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE lang = 'fr'
        |UNION ALL SELECT 4, 'insert', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(n_chars + 100000) AS BIGINT)
        |FROM documents WHERE lang = 'fr'
        |ORDER BY 1, 2""".stripMargin),

    // ── st27: STREAMING MATERIALIZED-VIEW MAINTENANCE — the live twin
    //    of s47: the change feed STREAM (st26's exactly-once
    //    version-cursor source) drives a foreachBatch that folds each
    //    microbatch's signed deltas into a parquet view state. The
    //    state advances through BATCH-ID-NAMED directories — a replayed
    //    batch overwrites its own directory with identical bytes, so
    //    the fold is exactly-once by idempotence (the st09 discipline)
    //    on top of the source's exactly-once offsets. Judged across
    //    THREE separate drains from one checkpoint (build → append +
    //    MoR delete → MoR update): however the engine slices the
    //    commits into microbatches, the final state must equal the
    //    full recompute — the associativity that makes a streaming
    //    view maintainer deployable. At 100 TB each refresh touches
    //    O(|Δ| + |view|), never the base, and the view is continuously
    //    fresh instead of s47's on-demand. ──
    ("st27_stream_mv_maintenance",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"smv$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st27_catroot_$inv"))
        val ckpt = Portable.scratchPath(s"st27_ckpt_$inv")
        val stateRoot = Portable.scratchPath(s"st27_state_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        docs.where(pmod($"doc_id", lit(2)) === 0)
          .repartitionByRange(4, $"doc_id")
          .writeTo(s"$cat.t").tableProperty("mor", "true").create() // v1
        // FULL BUILD at v1 — the only time the base is ever scanned
        var cur = s"$stateRoot/base"
        s.table(s"$cat.t").groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
          .write.mode("overwrite").parquet(cur)
        val tdir = new java.io.File(
          Portable.scratchPath(s"st27_catroot_$inv"), "t").getPath
        def tail(): Unit = tailChanges(s, tdir, ckpt) { (batch, batchId) =>
          val st = batch.sparkSession
          val sign = when($"_change_type" === "insert", lit(1L))
            .otherwise(lit(-1L))
          val delta = batch
            .select($"lang", sign.as("sgn"), $"n_chars")
            .groupBy($"lang")
            .agg(sum($"sgn").as("n_docs"),
              sum($"sgn" * $"n_chars").as("total_chars"))
          val next = s"$stateRoot/v$batchId"
          st.read.parquet(cur).unionByName(delta)
            .groupBy($"lang")
            .agg(sum($"n_docs").as("n_docs"),
              sum($"total_chars").as("total_chars"))
            .where($"n_docs" > 0)
            .write.mode("overwrite").parquet(next)
          cur = next
        }
        tail()                                                      // no-op
        docs.where(pmod($"doc_id", lit(2)) === 1)
          .writeTo(s"$cat.t").append()                              // v2
        s.sql(s"DELETE FROM $cat.t WHERE lang = 'es'")              // v3
        tail()                                                      // v2+v3
        s.sql(s"UPDATE $cat.t SET n_chars = n_chars + 5000 " +
          s"WHERE lang = 'zh'")                                     // v4
        tail()                                                      // v4
        s.read.parquet(cur)
          .select($"lang", $"n_docs".cast("long").as("n_docs"),
            $"total_chars".cast("long").as("total_chars"))
          .orderBy($"lang")
      },
      // full recompute of the final state — streamed maintenance must
      // land exactly here whatever the microbatch slicing was
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars + CASE WHEN lang = 'zh' THEN 5000
        |                               ELSE 0 END) AS BIGINT) AS total_chars
        |FROM documents WHERE lang <> 'es'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st28: STREAMING A BRANCH'S LINEAGE FEED — s52's parent-chain
    //    CDF as a LIVE tail: `changesTo = 'dev'` makes the stream's
    //    frontier the dev REF'S HEAD (re-read per trigger) instead of
    //    the chain head, so microbatches walk exactly dev's lineage
    //    while MAIN commits interleave — the chain head may belong to
    //    either lineage at any trigger, which is why a branched table
    //    cannot stream the chain. Offsets stay ancestors of the
    //    frontier as the ref advances (appends extend the lineage, and
    //    fast_forward admits only descendants — ancestry is its
    //    precondition, so even FF preserves stream continuity;
    //    `Round15OpsSpec` pins that). Judged: two drains of one
    //    checkpoint around interleaved main DECOYS (a main append and
    //    a main MoR update that must never reach the sink) — the sink
    //    holds exactly dev's append + dev's delete before-images, each
    //    exactly once. ──
    ("st28_stream_branch_feed",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"sbf$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st28_catroot_$inv"))
        val sink = Portable.scratchPath(s"st28_sink_$inv")
        val ckpt = Portable.scratchPath(s"st28_ckpt_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        docs.where(pmod($"doc_id", lit(2)) === 0)
          .repartitionByRange(4, $"doc_id")
          .writeTo(s"$cat.t").tableProperty("mor", "true").create() // v1
        s.sql(s"CALL $cat.system.create_branch('t', 'dev')")
        val tdir = new java.io.File(
          Portable.scratchPath(s"st28_catroot_$inv"), "t").getPath
        def tail(): Unit = drain(s.readStream.format("graft-ledger")
          .option("changesFrom", "1").option("changesTo", "dev")
          .load(tdir)
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt))
        // wave A: dev appends the odds; main appends a DECOY wave
        docs.where(pmod($"doc_id", lit(2)) === 1)
          .writeTo(s"$cat.t.branch_dev").append()                   // v2: dev
        docs.where(pmod($"doc_id", lit(10)) === 4)
          .select(($"doc_id" + 2000000L).as("doc_id"),
            lit("yy").as("lang"), $"n_chars")
          .writeTo(s"$cat.t").append()                              // v3: main
        tail() // ships dev's append ONLY
        // wave B: dev MoR-deletes 'de'; main MoR-updates 'fr' (decoy)
        s.sql(s"DELETE FROM $cat.t.branch_dev WHERE lang = 'de'")   // v4: dev
        s.sql(s"UPDATE $cat.t SET n_chars = n_chars + 100000 " +
          s"WHERE lang = 'fr'")                                     // v5: main
        tail() // resumes at the checkpoint: ships dev's delete ONLY
        s.read.parquet(sink)
          .groupBy($"_commit_version", $"_change_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum($"doc_id").cast("long").as("id_sum"),
            sum($"n_chars").cast("long").as("chars_sum"))
          .orderBy($"_commit_version", $"_change_type")
      },
      // dev's lineage and nothing else: its append at v2, its delete
      // at v4 (dev's state there = evens ∪ odds, so ALL de docs); the
      // main decoys (v3 insert, v5 delete+insert) must be absent
      """SELECT CAST(2 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 2 = 1
        |UNION ALL SELECT 4, 'delete', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE lang = 'de'
        |ORDER BY 1, 2""".stripMargin),

    // ── st24: MULTIPLE-WATERMARK POLICY — the last documented watermark
    //    semantics knob (st04/st11/st18 all ride the default): when a
    //    query reads SEVERAL watermarked inputs, the GLOBAL watermark is
    //    by default the MIN of the per-input watermarks (safest: nothing
    //    is finalized until every input has passed it) and under
    //    `spark.sql.streaming.multipleWatermarkPolicy=max` the MAX (the
    //    freshest input drives emission; a laggard's windows may
    //    finalize before it catches up). Judged under `max` on a
    //    two-input union where input B deterministically STOPS 48 hours
    //    early: the final no-data batch must emit every window up to
    //    max(all ts) − 2h — the fast input's frontier — counting both
    //    inputs' rows; under the default min policy the last two days of
    //    windows would still be held open by B's stale frontier and the
    //    hash would diverge (the emitted-frontier divergence itself is
    //    pinned in `Round15OpsSpec` by running BOTH policies). The
    //    policy conf is captured at query START, so it is set before
    //    `.start()` and restored after termination — the judged
    //    DataFrame is the already-materialized memory sink. ──
    ("st24_multi_watermark_policy",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val raw = Tables.events(s, dir)
        val mx = raw.agg(max($"ts").as("m"))
        val stageA = Portable.scratchPath(s"st24_a_$inv")
        val stageB = Portable.scratchPath(s"st24_b_$inv")
        raw.select($"ts").coalesce(1)
          .write.mode("overwrite").parquet(stageA)
        raw.crossJoin(broadcast(mx))
          .where($"ts" <= $"m" - expr("INTERVAL 48 HOUR"))
          .select($"ts").coalesce(1)
          .write.mode("overwrite").parquet(stageB)
        val schema = s.read.parquet(stageA).schema
        val srcA = s.readStream.schema(schema).parquet(stageA)
          .withWatermark("ts", "2 hours")
        val srcB = s.readStream.schema(schema).parquet(stageB)
          .withWatermark("ts", "2 hours")
        val counts = srcA.unionByName(srcB)
          .groupBy(window($"ts", "1 hour").as("w"))
          .agg(count(lit(1)).as("n"))
        withConf(s, "spark.sql.streaming.multipleWatermarkPolicy" -> "max") {
          drainToMemory(counts, "st24_mem", "append")
        }
          .select(tsSec($"w.start").as("hour"), $"n")
          .orderBy($"hour")
      },
      s"""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
         |mx AS (SELECT max(ts) AS m FROM ev),
         |u AS (
         |  SELECT ts FROM ev
         |  UNION ALL
         |  SELECT ev.ts FROM ev, mx WHERE ev.ts <= m - INTERVAL 48 HOUR)
         |SELECT ${tsSecSql("date_trunc('hour', ts)")} AS hour,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM u, mx
         |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st29: the MIN-policy twin of st24 — the POLICY DELTA itself is
    //    the judged object (the g10/g10b discipline applied to
    //    watermark semantics): the SAME two staged inputs (B stops 48
    //    hours early), the same union + hourly count, run under the
    //    DEFAULT `multipleWatermarkPolicy=min`. The global watermark is
    //    now the LAGGARD's frontier, so the oracle's close condition
    //    flips from m−2h to m−48h−2h: the last two days of windows —
    //    which st24's max policy emits — are still held open by B's
    //    stale frontier and must be ABSENT here. Side by side the pair
    //    hash-pins what each policy finalizes, the exact trade a
    //    deployment picks between freshness (max: a laggard's windows
    //    may close under it) and safety (min: nothing finalizes until
    //    every input passed it). The conf is set explicitly (never
    //    inherited) and restored, as in st24. ──
    ("st29_multi_watermark_min",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val raw = Tables.events(s, dir)
        val mx = raw.agg(max($"ts").as("m"))
        val stageA = Portable.scratchPath(s"st29_a_$inv")
        val stageB = Portable.scratchPath(s"st29_b_$inv")
        raw.select($"ts").coalesce(1)
          .write.mode("overwrite").parquet(stageA)
        raw.crossJoin(broadcast(mx))
          .where($"ts" <= $"m" - expr("INTERVAL 48 HOUR"))
          .select($"ts").coalesce(1)
          .write.mode("overwrite").parquet(stageB)
        val schema = s.read.parquet(stageA).schema
        val srcA = s.readStream.schema(schema).parquet(stageA)
          .withWatermark("ts", "2 hours")
        val srcB = s.readStream.schema(schema).parquet(stageB)
          .withWatermark("ts", "2 hours")
        val counts = srcA.unionByName(srcB)
          .groupBy(window($"ts", "1 hour").as("w"))
          .agg(count(lit(1)).as("n"))
        withConf(s, "spark.sql.streaming.multipleWatermarkPolicy" -> "min") {
          drainToMemory(counts, "st29_mem", "append")
        }
          .select(tsSec($"w.start").as("hour"), $"n")
          .orderBy($"hour")
      },
      // the laggard's frontier closes windows: end <= (m − 48h) − 2h
      s"""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
         |mx AS (SELECT max(ts) AS m FROM ev),
         |u AS (
         |  SELECT ts FROM ev
         |  UNION ALL
         |  SELECT ev.ts FROM ev, mx WHERE ev.ts <= m - INTERVAL 48 HOUR)
         |SELECT ${tsSecSql("date_trunc('hour', ts)")} AS hour,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM u, mx
         |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 50 HOUR
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── st30: STREAMED LSH INDEX MAINTENANCE — the live twin of t33
    //    and the retrieval-state member of the st27 family: the change
    //    feed STREAM drives a foreachBatch that folds each
    //    microbatch's net keys into the two persisted index artifacts
    //    (retractions anti-join; ONLY the batch's net-inserts are
    //    shingled, content fetched by the Δ-bounded broadcast lookup).
    //    State advances through batch-id-named directories — a
    //    replayed batch overwrites its own directory with identical
    //    bytes, so the fold is exactly-once by idempotence (st09) on
    //    top of the source's exactly-once version offsets. Judged
    //    across TWO drains of one checkpoint (delete wave, then ingest
    //    + seeds): the final near-dup probe over the streamed state
    //    must hash-equal the FULL REBUILD over the final corpus —
    //    t31/t33's oracle verbatim, closing the identity triangle
    //    (simulated Δ ≡ batch CDC ≡ streamed CDC). At 100 TB this is
    //    the near-dup index that tracks a living corpus continuously
    //    instead of t33's on-demand. ──
    ("st30_stream_lsh_maintenance",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"slsh$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st30_catroot_$inv"))
        val ckpt = Portable.scratchPath(s"st30_ckpt_$inv")
        val stateRoot = Portable.scratchPath(s"st30_state_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"source", $"text")
        val meta = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        meta.where(pmod($"doc_id", lit(3)) =!= 2)
          .writeTo(s"$cat.t30docs")
          .tableProperty("mor", "true").create()                  // v1
        // FULL BUILD at v1 — the stream maintains from here on (the
        // build dirs are named OFF the batch-id grid: batch 0 must
        // never overwrite the state it reads)
        var curIdx = s"$stateRoot/idx_build"
        var curBands = s"$stateRoot/bands_build"
        val idx1 = TextQueries.shingleIndex(
          docs.where(pmod($"doc_id", lit(3)) =!= 2)).persist()
        idx1.write.mode("overwrite").parquet(curIdx)
        TextQueries.bandKeys(idx1).write.mode("overwrite").parquet(curBands)
        idx1.unpersist()
        val tdir = new java.io.File(
          Portable.scratchPath(s"st30_catroot_$inv"), "t30docs").getPath
        def tail(): Unit = tailChanges(s, tdir, ckpt) { (batch, batchId) =>
          val st = batch.sparkSession
          val net = batch.groupBy($"doc_id")
            .agg(sum(when($"_change_type" === "insert", 1L)
              .otherwise(-1L)).as("net"))
            .persist()
          val delKeys = broadcast(net.where($"net" < 0).select($"doc_id"))
          val insKeys = net.where($"net" > 0).select($"doc_id")
          val deltaDocs = docs.as("c")
            .join(broadcast(insKeys
                .withColumn("content_id",
                  when($"doc_id" >= TextQueries.SeedOffset,
                    $"doc_id" - TextQueries.SeedOffset)
                    .otherwise($"doc_id"))
                .as("k")),
              col("c.doc_id") === col("k.content_id"))
            .select(col("k.doc_id").as("doc_id"), col("c.source"),
              col("c.text"))
          val addIdx = TextQueries.shingleIndex(deltaDocs).persist()
          val nextIdx = s"$stateRoot/idx_v$batchId"
          val nextBands = s"$stateRoot/bands_v$batchId"
          st.read.parquet(curIdx)
            .join(delKeys, Seq("doc_id"), "left_anti")
            .unionByName(addIdx)
            .write.mode("overwrite").parquet(nextIdx)
          st.read.parquet(curBands)
            .join(delKeys, Seq("doc_id"), "left_anti")
            .unionByName(TextQueries.bandKeys(addIdx))
            .write.mode("overwrite").parquet(nextBands)
          curIdx = nextIdx
          curBands = nextBands
        }
        s.sql(s"DELETE FROM $cat.t30docs WHERE doc_id % 5 = 0")   // v2
        tail()                                                    // delete wave
        meta.where(pmod($"doc_id", lit(3)) === 2)
          .unionByName(meta.where($"doc_id" < TextQueries.NSeeds &&
              (pmod($"doc_id", lit(3)) === 2 ||
                pmod($"doc_id", lit(5)) =!= 0))
            .select(($"doc_id" + TextQueries.SeedOffset).as("doc_id"),
              $"lang", $"n_chars"))
          .writeTo(s"$cat.t30docs").append()                      // v3
        tail()                                                    // ingest wave
        // the probe over the STREAMED state — the cap re-applies over
        // the merged band set, as in t31/t33
        TextQueries.nearDupPairsOf(
          s.read.parquet(curIdx).persist(),
          TextQueries.capBands(s.read.parquet(curBands)))
      },
      TextQueries.incrementalLshOracleSql),

    // ── st31: STREAMED IVF MAINTENANCE — st30's discipline on the ANN
    //    side, closing the vector identity triangle (v33 simulated Δ ≡
    //    v34 batch CDC ≡ this streamed CDC): the vector registry's
    //    change-feed stream drives a foreachBatch that folds each
    //    microbatch into the persisted inverted lists — retractions
    //    anti-join, ONLY net-inserts are assigned (vectors via the
    //    Δ-bounded broadcast fetch, scored against the 8 broadcast
    //    frozen centroids), state advancing through batch-id-named
    //    directories. Judged across two drains of one checkpoint by
    //    v05's probe over the streamed lists against the oracle's full
    //    re-assignment of the final corpus — v33/v34's oracle
    //    verbatim. ──
    ("st31_stream_ivf_maintenance",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"sivf$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st31_catroot_$inv"))
        val ckpt = Portable.scratchPath(s"st31_ckpt_$inv")
        val stateRoot = Portable.scratchPath(s"st31_state_$inv")
        val emb = Tables(s, dir, "embeddings")
        val inCorpus1 = pmod($"vec_id", lit(3)) =!= 2 || $"vec_id" < 20
        def registryRows(df: DataFrame): DataFrame = df
          .select($"vec_id".as("doc_id"),
            $"label".cast("string").as("lang"), $"vec_id".as("n_chars"))
        registryRows(emb.where(inCorpus1))
          .writeTo(s"$cat.t31vecs")
          .tableProperty("mor", "true").create()                  // v1
        var cur = s"$stateRoot/lists_build"
        VectorQueries.frozenAssign(emb)(emb.where(inCorpus1))
          .write.mode("overwrite").parquet(cur)
        val tdir = new java.io.File(
          Portable.scratchPath(s"st31_catroot_$inv"), "t31vecs").getPath
        def tail(): Unit = tailChanges(s, tdir, ckpt) { (batch, batchId) =>
          val st = batch.sparkSession
          val net = batch.groupBy($"doc_id".as("vec_id"))
            .agg(sum(when($"_change_type" === "insert", 1L)
              .otherwise(-1L)).as("net"))
            .persist()
          val delKeys = broadcast(net.where($"net" < 0).select($"vec_id"))
          val insKeys = net.where($"net" > 0).select($"vec_id")
          val deltaVecs = emb.as("e")
            .join(broadcast(insKeys.as("k")),
              col("e.vec_id") === col("k.vec_id"))
            .select(col("e.vec_id"), col("e.embedding"), col("e.label"))
          val next = s"$stateRoot/lists_v$batchId"
          st.read.parquet(cur)
            .join(delKeys, Seq("vec_id"), "left_anti")
            .unionByName(VectorQueries.frozenAssign(emb)(deltaVecs))
            .write.mode("overwrite").parquet(next)
          cur = next
        }
        s.sql(s"DELETE FROM $cat.t31vecs " +
          "WHERE doc_id % 5 = 0 AND doc_id >= 20")                // v2
        tail()                                                    // delete wave
        registryRows(emb.where(pmod($"vec_id", lit(3)) === 2 &&
            $"vec_id" >= 20))
          .writeTo(s"$cat.t31vecs").append()                      // v3
        tail()                                                    // ingest wave
        VectorQueries.probeTopK(s.read.parquet(cur).persist())
          .orderBy($"q_id", $"rank")
      },
      VectorQueries.incrementalIvfOracleSql),

    // ── st32: STREAMED BM25 STATE MAINTENANCE — the live twin of t34,
    //    completing the three-way symmetry for ALL maintained-index
    //    families (LSH: t31/t33/st30; IVF: v33/v34/st31; BM25 scoring
    //    state: t30/t34/this): the corpus table's CDC stream
    //    foreachBatch-folds each microbatch into the postings and
    //    doc-length artifacts — retractions anti-join, only
    //    net-inserts are tokenized (content via the Δ-bounded
    //    broadcast fetch) — through batch-id-named directories.
    //    Judged across two drains of one checkpoint by t30's
    //    integer-exact top-10 over the streamed state against the full
    //    rebuild (t34's oracle verbatim); the scorer's DERIVED
    //    statistics (df, N, token mass) must shift correctly under the
    //    streamed retractions, moving unchanged docs' scores. ──
    ("st32_stream_bm25_maintenance",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"sbm$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st32_catroot_$inv"))
        val ckpt = Portable.scratchPath(s"st32_ckpt_$inv")
        val stateRoot = Portable.scratchPath(s"st32_state_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"text")
        val meta = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        meta.where(pmod($"doc_id", lit(3)) =!= 2)
          .writeTo(s"$cat.t32docs")
          .tableProperty("mor", "true").create()                  // v1
        var curPost = s"$stateRoot/post_build"
        var curDl = s"$stateRoot/dl_build"
        val post1 = TextQueries.bm25Tokenize(
          docs.where(pmod($"doc_id", lit(3)) =!= 2)).persist()
        post1.write.mode("overwrite").parquet(curPost)
        post1.groupBy($"doc_id").agg(sum($"tf").as("dl"))
          .write.mode("overwrite").parquet(curDl)
        post1.unpersist()
        val tdir = new java.io.File(
          Portable.scratchPath(s"st32_catroot_$inv"), "t32docs").getPath
        def tail(): Unit = tailChanges(s, tdir, ckpt) { (batch, batchId) =>
          val st = batch.sparkSession
          val net = batch.groupBy($"doc_id")
            .agg(sum(when($"_change_type" === "insert", 1L)
              .otherwise(-1L)).as("net"))
            .persist()
          val delKeys = broadcast(net.where($"net" < 0).select($"doc_id"))
          val insKeys = net.where($"net" > 0).select($"doc_id")
          val deltaDocs = docs.as("c")
            .join(broadcast(insKeys.as("k")),
              col("c.doc_id") === col("k.doc_id"))
            .select(col("c.doc_id"), col("c.text"))
          val addPost = TextQueries.bm25Tokenize(deltaDocs).persist()
          val nextPost = s"$stateRoot/post_v$batchId"
          val nextDl = s"$stateRoot/dl_v$batchId"
          st.read.parquet(curPost)
            .join(delKeys, Seq("doc_id"), "left_anti")
            .unionByName(addPost)
            .write.mode("overwrite").parquet(nextPost)
          st.read.parquet(curDl)
            .join(delKeys, Seq("doc_id"), "left_anti")
            .unionByName(
              addPost.groupBy($"doc_id").agg(sum($"tf").as("dl")))
            .write.mode("overwrite").parquet(nextDl)
          curPost = nextPost
          curDl = nextDl
        }
        s.sql(s"DELETE FROM $cat.t32docs WHERE doc_id % 5 = 0")   // v2
        tail()                                                    // delete wave
        meta.where(pmod($"doc_id", lit(3)) === 2)
          .writeTo(s"$cat.t32docs").append()                      // v3
        tail()                                                    // ingest wave
        TextQueries.bm25ProbeOf(
          s.read.parquet(curPost), s.read.parquet(curDl).persist())
      },
      TextQueries.maintainedBm25OracleSql),

    // ── st33: STREAMING WRITE INTO A BRANCH + PROMOTION — the dev-CI
    //    story that composes the whole lakehouse arc (round 17): a CDC
    //    stream foreachBatch-MERGEs microbatches into `branch_dev`
    //    (st22's upsert machinery AT A REF — MoR tombstone deltas, so
    //    branch writes stay additive), main stays ISOLATED while the
    //    stream lands, validation happens against the branch, then
    //    `fast_forward` PROMOTES main to the validated head — a
    //    metadata move, zero bytes rewritten. Judged BOTH lineages in
    //    one plan: pre-promotion main (the seed, untouched by three
    //    merged batches) and pre-promotion dev (seed + stream) are
    //    pinned by VERSION AS OF from `.refs`, post-promotion main
    //    reads the promoted state plus a hotfix append. The ref-CAS
    //    discipline is pinned in-line: once main advances past the
    //    branch, a second fast_forward REFUSES loudly (s58's
    //    lost-update-free contract; the live-race twin runs in
    //    Round17OpsSpec). ──
    ("st33_stream_branch_promote",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"sbp$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st33_catroot_$inv"))
        val ckpt = Portable.scratchPath(s"st33_ckpt_$inv")
        val stage = Portable.scratchPath(s"st33_stage_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        docs.where(pmod($"doc_id", lit(2)) === 0)
          .writeTo(s"$cat.t33docs")
          .tableProperty("mor", "true").create()        // v1 (main seed)
        s.sql(s"CALL $cat.system.create_branch('t33docs', 'dev')")
        // the CDC source: the odd half staged as three files → three
        // microbatches under maxFilesPerTrigger=1
        docs.where(pmod($"doc_id", lit(2)) === 1).repartition(3)
          .write.mode("overwrite").parquet(stage)
        drain(stagedStream(s, stage)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: Dataset[Row],
             _: Long) =>
              batch.createOrReplaceTempView("st33_delta")
              batch.sparkSession.sql(
                s"""MERGE INTO $cat.t33docs.branch_dev t USING st33_delta b
                   |ON t.doc_id = b.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = b.n_chars
                   |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                   |  VALUES (b.doc_id, b.lang, b.n_chars)""".stripMargin): Unit
          })
        // pin BOTH pre-promotion lineages by version (the judged frame
        // is lazy — the ref moves, a version number cannot)
        val refs = s.table(s"$cat.t33docs.refs")
          .where($"kind" === "branch").collect()
          .map(r => r.getString(1) -> r.getLong(2)).toMap
        val preMain = refs("main")
        val preDev = refs("dev")
        require(preDev > preMain,
          "sanity: three merged batches must have advanced dev past main")
        // PROMOTE: main was never written mid-stream, so ancestry holds
        s.sql(s"CALL $cat.system.fast_forward('t33docs', 'dev')")
        // the hotfix append lands on the PROMOTED main…
        docs.where(pmod($"doc_id", lit(10)) === 0)
          .select(($"doc_id" + 10000000L).as("doc_id"),
            lit("hotfix").as("lang"), $"n_chars")
          .writeTo(s"$cat.t33docs").append()
        // …after which a re-promotion must REFUSE: main is no longer
        // the branch's ancestor (the CAS discipline, deterministically)
        val refused =
          try { s.sql(s"CALL $cat.system.fast_forward('t33docs', 'dev')")
            .collect(); false }
          catch { case e: Exception =>
            e.getMessage.contains("not an ancestor") ||
              e.getMessage.contains("diverged") }
        require(refused,
          "fast_forward over a moved main must refuse, never clobber")
        s.sql(
          s"""SELECT 'post_main' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
             |FROM $cat.t33docs
             |UNION ALL
             |SELECT 'pre_dev', CAST(count(*) AS BIGINT),
             |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
             |FROM $cat.t33docs VERSION AS OF $preDev
             |UNION ALL
             |SELECT 'pre_main', CAST(count(*) AS BIGINT),
             |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
             |FROM $cat.t33docs VERSION AS OF $preMain
             |ORDER BY phase""".stripMargin)
      },
      """WITH hot AS (
        |  SELECT doc_id + 10000000 AS doc_id, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT 'post_main' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM (SELECT doc_id, n_chars FROM documents
        |      UNION ALL SELECT doc_id, n_chars FROM hot)
        |UNION ALL
        |SELECT 'pre_dev', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'pre_main', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY phase""".stripMargin),

    // ── st34: the EXACTLY-ONCE TWO-TABLE STREAMING SINK — s67's
    //    cross-table transaction composed with st22's foreachBatch
    //    upsert (round 17): every microbatch opens a txn, MERGEs the
    //    batch into the STATE table's work branch AND MERGEs its audit
    //    record into the AUDIT table's work branch, then txn_commit
    //    publishes both with one rename — a crash between the two
    //    writes can never leave state visible without its audit row
    //    (or vice versa), the invariant a bank-ledger pipeline needs
    //    and plain foreachBatch cannot give. BOTH writes are MERGEs
    //    keyed idempotently (state by doc_id, audit by a
    //    batch-derived key), so a retried microbatch REPLAYS into the
    //    same rows instead of duplicating — at-least-once delivery
    //    composed with idempotent upserts and atomic multi-table
    //    publication = exactly-once in effect, per participant pair.
    //    Judged across three microbatches: the state equals the
    //    one-shot batch result and the audit's batch counts sum to
    //    exactly the streamed row count, however rows split. ──
    ("st34_stream_txn_sink",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val inv = invocation.incrementAndGet()
        val cat = s"stx$inv"
        GraftCatalog.register(s, cat, Portable.scratchPath(s"st34_catroot_$inv"))
        val ckpt = Portable.scratchPath(s"st34_ckpt_$inv")
        val stage = Portable.scratchPath(s"st34_stage_$inv")
        val docs = Tables(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        docs.where(pmod($"doc_id", lit(2)) === 0)
          .writeTo(s"$cat.t34state")
          .tableProperty("mor", "true").create()
        s.range(1).select(lit(0L).as("doc_id"), lit("genesis").as("lang"),
            lit(0L).as("n_chars"))
          .writeTo(s"$cat.t34audit")
          .tableProperty("mor", "true").create()
        docs.where(pmod($"doc_id", lit(2)) === 1).repartition(3)
          .write.mode("overwrite").parquet(stage)
        drain(stagedStream(s, stage)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: Dataset[Row],
             batchId: Long) =>
              val st = batch.sparkSession
              val id = st.sql(
                s"CALL $cat.system.txn_begin('t34state,t34audit')")
                .head().getString(0)
              batch.createOrReplaceTempView("st34_delta")
              st.sql(
                s"""MERGE INTO $cat.t34state.branch_txn$id t
                   |USING st34_delta b ON t.doc_id = b.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = b.n_chars
                   |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                   |  VALUES (b.doc_id, b.lang, b.n_chars)""".stripMargin)
              // the audit row MERGEs on a batch-derived key: a retried
              // microbatch replays into ITS row, never a duplicate
              st.sql(
                s"""MERGE INTO $cat.t34audit.branch_txn$id t
                   |USING (SELECT CAST(${2000000L + batchId} AS BIGINT)
                   |         AS doc_id, 'batch' AS lang,
                   |         CAST(count(*) AS BIGINT) AS n_chars
                   |       FROM st34_delta) b
                   |ON t.doc_id = b.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = b.n_chars
                   |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                   |  VALUES (b.doc_id, b.lang, b.n_chars)""".stripMargin)
              st.sql(s"CALL $cat.system.txn_commit('$id')"): Unit
          })
        s.sql(
          s"""SELECT 'audit' AS src, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
             |FROM $cat.t34audit
             |UNION ALL
             |SELECT 'state', CAST(count(*) AS BIGINT),
             |       CAST(sum(n_chars) AS BIGINT)
             |FROM $cat.t34state
             |ORDER BY src""".stripMargin)
      },
      """SELECT 'audit' AS src, CAST(4 AS BIGINT) AS n_rows,
        |       CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 1)
        |         AS BIGINT) AS chars_sum
        |UNION ALL
        |SELECT 'state', CAST(count(*) AS BIGINT),
        |       CAST(sum(n_chars) AS BIGINT)
        |FROM documents
        |ORDER BY 1""".stripMargin)
  )

  /** Per-invocation counter: Bench reruns every query in one JVM, and the
    * queries that draw a number from it name their scratch directories,
    * checkpoints, memory sinks and catalogs after it, so no run resumes
    * or reads what an earlier run left behind. */
  private val invocation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The RocksDB state store as a [[GraftSession.withConf]] override:
    * `transformWithState` needs its multi-column-family state, while the
    * default HDFS-backed provider stays in force for the rest of the
    * catalog. */
  val RocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs a stream to completion: the AvailableNow trigger processes
    * what the source holds at start (plus the no-data batch a moved
    * watermark asks for), then the query stops. Every st query runs
    * its streams through here. */
  private def drain(w: DataStreamWriter[_]): Unit =
    w.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** [[drain]]s `df` into the memory sink `name` and returns the sink. */
  private def drainToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    drain(df.writeStream.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  /** Stages the fixture's single events.parquet into scratch directory
    * `name` (the file stream source reads a DIRECTORY; at scale the
    * source would already be a date-partitioned tree) and returns an
    * opener for a stream over it; each call opens an independent source,
    * as a stream-stream join needs. The schema is the raw batch scan's,
    * because `Tables.rawEvents` is what engages the nanos fallback conf
    * when the fixture needs it, and `Tables.normalizeTs` is the batch
    * path's type-adaptive ts normalization: the fixture's ts encoding
    * has drifted once already and the streaming surface must follow. */
  private def eventStream(s: SparkSession, dir: String, name: String): () => DataFrame = {
    val stage = Paths.get(Portable.scratchPath(name))
    Files.createDirectories(stage)
    Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = Tables.rawEvents(s, dir).schema
    () => Tables.normalizeTs(s.readStream.schema(schema).parquet(stage.toString))
  }

  /** A file stream over the staged directory `stage`, its schema read
    * from the staged files. `perFile` admits one file per microbatch
    * (maxFilesPerTrigger=1), so each staged arrival is its own batch. */
  private def stagedStream(s: SparkSession, stage: String,
      perFile: Boolean = true): DataFrame = {
    val r = s.readStream.schema(s.read.parquet(stage).schema)
    (if (perFile) r.option("maxFilesPerTrigger", "1") else r).parquet(stage)
  }

  /** [[stagedStream]] over staged raw events, ts normalized. */
  private def stagedEvents(s: SparkSession, stage: String,
      perFile: Boolean = true): DataFrame =
    Tables.normalizeTs(stagedStream(s, stage, perFile))

  /** A deterministic half of the events, by event_id hash. */
  private val eventHalf: Column =
    pmod(portableHash(col("event_id").cast("string")), lit(2))

  /** The two-wave arrival of st16/st20/st21: `arrive(w)` stages the
    * [[eventHalf]] `w` of `raw` as `wave<w>.parquet` in scratch
    * directory `stageName`, wave 0's mtime before wave 1's, and returns
    * the directory. */
  private def waveArrivals(raw: DataFrame, stageName: String): Int => String = {
    val now = System.currentTimeMillis()
    w => stageArrivals(raw.where(eventHalf === w), raw.columns.map(col).toSeq,
      lit(0), Seq(s"wave$w"), stageName, _ => now - (2 - w) * 60000L)
  }

  /** The distinct event weeks of `df` in order, and the column mapping
    * each row to its week's index. The grid is fixture-bounded (one
    * month), so the collect is staging-only scalars (the t10b
    * discipline). */
  private def weekGrid(df: DataFrame): (Array[java.sql.Timestamp], Column) = {
    val week = date_trunc("week", col("ts"))
    val weeks = df.select(week.as("w")).distinct().orderBy(col("w"))
      .collect().map(_.getTimestamp(0))
    (weeks, weeks.zipWithIndex.tail.foldLeft(when(week === lit(weeks(0)), 0)) {
      case (acc, (w, i)) => acc.when(week === lit(w), i)
    })
  }

  /** st09/st16's idempotent sink: complete-mode day × event_type counts,
    * each microbatch overwriting exactly the day partitions it touches
    * (dynamic partition overwrite), so a replayed batch lands identical
    * bytes. [[readDailyCounts]] is the judged readback. */
  private def dailyCountsSink(events: DataFrame, out: String): DataStreamWriter[Row] =
    events.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day")
          .parquet(out): Unit
      }

  private def readDailyCounts(s: SparkSession, out: String): DataFrame =
    s.read.parquet(out)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))
      .orderBy(col("day"), col("event_type"))

  /** st19-st21's processor input: (user, event_type, epoch second) per
    * event, grouped by user. */
  private def eventsByUser(events: DataFrame): KeyValueGroupedDataset[Long, (Long, String, Long)] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_type"), unix_timestamp(col("ts")).as("es"))
      .as[(Long, String, Long)].groupByKey(_._1)
  }

  /** The recent-events processors' update rows. */
  private val recentEventCols = Seq("user_id", "n_types", "n_events", "topk_sum", "topk_n")

  /** Folds recent-events update rows with max: every emitted field is
    * monotone, so the fold is the final state however the input was
    * sliced into microbatches. */
  private def foldRecentEvents(updates: DataFrame): DataFrame =
    updates.groupBy(col("user_id"))
      .agg(max(col("n_types")).as("n_types"),
        max(col("n_events")).as("n_events"),
        max(col("topk_sum")).as("topk_sum"),
        max(col("topk_n")).as("topk_n"))
      .orderBy(col("user_id"))

  /** [[drain]]s the change feed of the ledger table at `tdir`, from
    * version 1, through the foreachBatch `fold`, checkpointed at `ckpt`
    * (so a second call resumes where the first stopped). */
  private def tailChanges(s: SparkSession, tdir: String, ckpt: String)(
      fold: (Dataset[Row], Long) => Unit): Unit =
    drain(s.readStream.format("graft-ledger")
      .option("changesFrom", "1").load(tdir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(fold))

  /** Stage every arrival file with ONE Spark write job instead of one
    * scan+filter+write job per arrival (r17 opt, guide §1.3/§5 — the
    * seconds were k job roundtrips of fixed cost, not bytes): rows
    * labeled with a dense arrival index are written `partitionBy` that
    * index from a single task (the planner's dynamic-partition sort
    * yields exactly one file per arrival), then each file moves into
    * scratch directory `stageName` as `<names(i)>.parquet` with mtime
    * `mtimeOf(i)` — the file source's arrival-order contract. An arrival
    * empty at a tiny SF still materializes (schema-only file), so the
    * microbatch grid is SF-independent. Returns the directory. */
  private def stageArrivals(data: DataFrame, srcCols: Seq[Column],
      arrival: Column, names: Seq[String], stageName: String,
      mtimeOf: Int => Long): String = {
    val stage = Paths.get(Portable.scratchPath(stageName))
    Files.createDirectories(stage)
    val tmp = Portable.scratchPath(s"${stageName}_staging")
    data.select(srcCols :+ arrival.cast("int").as("__arr"): _*)
      .coalesce(1).write.mode("overwrite").partitionBy("__arr").parquet(tmp)
    // empty-arrival fallback, built lazily and at most once
    lazy val emptyFile: Path = {
      val e = s"$tmp/__empty"
      data.select(srcCols: _*).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(e)
      new java.io.File(e).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
    }
    names.zipWithIndex.foreach { case (name, i) =>
      val parts = Option(new java.io.File(s"$tmp/__arr=$i").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length <= 1,
        s"arrival staging expected at most one file per arrival, " +
          s"got ${parts.length} for $name — single-task write violated")
      val target = stage.resolve(s"$name.parquet")
      Files.copy(parts.headOption.map(_.toPath).getOrElse(emptyFile),
        target, StandardCopyOption.REPLACE_EXISTING)
      // mtime ORDER is the arrival order contract — a filesystem that
      // rejects the update would ingest out of order and silently
      // diverge from the closed-form oracle; fail loudly
      require(target.toFile.setLastModified(mtimeOf(i)),
        s"mtime update failed for $name — arrival staging cannot " +
          "guarantee ingestion order on this filesystem")
    }
    stage.toString
  }

  /** State-store partition sizing: a stateful streaming query FIXES its
    * state partition count at first start (it is baked into the
    * checkpoint layout), so production deployments size
    * `spark.sql.shuffle.partitions` to the state KEY SPACE before
    * launch rather than inheriting the batch default — with the tiny
    * windowed/joined key spaces here, 32 state-store instances per
    * operator per microbatch (open, commit, snapshot, close × batches)
    * were the catalog's single largest bench cost while computing
    * nothing. Judged results are partition-count-independent (watermarks
    * are global, the outputs are aggregates/joins); the batch-only st02
    * keeps the session's batch parallelism. The override is a session
    * conf, so catalog queries must run SEQUENTIALLY on the session
    * (Verify/Bench do); a concurrent harness would have to scope it per
    * query (e.g. on the writeStream) instead. */
  private def sizedForState(q: Q): Q = (s, dir) =>
    withConf(s, "spark.sql.shuffle.partitions" -> "4")(q(s, dir))

  def queries: Map[String, Q] = catalog.map { case (n, q, _) =>
    n -> (if (n == "st02_session_window") q else sizedForState(q))
  }.toMap
  def oracle: Map[String, String] = catalog.map { case (n, _, o) => n -> o }.toMap
}
