package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.GraftSession.withConf
import graft.queries.StreamingQueries.RocksDbStateStore

/** Pins the MICROBATCH WATERMARK LAG the st10/st11 oracles encode
  * (probed on Spark 4.1, SPARK-40925 era): at batch N the state-store
  * EVICTION/emission watermark is max-event-time-through-batch-(N−1)
  * minus the delay, while the LATE-INPUT FILTER still uses the previous
  * batch's value — one batch behind eviction. A Spark upgrade that
  * unifies the two (or shifts either) would silently flip st10's judged
  * hash; this test fails by name instead.
  *
  * No-data microbatches are disabled for the probe: they run an extra
  * eviction between `addData` calls, which would advance both values
  * and hide the lag being asserted. */
class WatermarkSemanticsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val noDataOff = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  test("late-input filter lags the eviction watermark by exactly one batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withConf(s, noDataOff) {
      val in = MemoryStream[(Long, Timestamp)]
      val counts = in.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "60 minutes").as("w"))
        .count()
        .select(col("w.start").as("ws"), col("count"))
      val q = counts.writeStream.format("memory").queryName("wm_probe")
        .outputMode("append").start()
      try {
        // b0: seeds the [10:00, 11:00) window; max event time 10:00
        in.addData((1L, ts("2019-07-01 10:00:00"))); q.processAllAvailable()
        // b1: advances max event time to 12:00. Eviction wm THIS batch is
        // still 09:50 (b0's max − delay), so nothing emits yet.
        in.addData((1L, ts("2019-07-01 12:00:00"))); q.processAllAvailable()
        // b2: eviction wm is now 11:50 — [10:00, 11:00) closes this batch.
        // The 10:05 row is BELOW that (late for eviction) but the filter
        // still uses b1's 09:50, so the row is ACCEPTED and counted into
        // the window as it closes. A filter running at 11:50 would drop it.
        in.addData((1L, ts("2019-07-01 10:05:00"))); q.processAllAvailable()
        // b3: the filter has caught up to 11:50 — the same-shaped row is
        // now dropped on input, and the counter proves it.
        in.addData((1L, ts("2019-07-01 10:06:00"))); q.processAllAvailable()

        val rows = s.sql("SELECT ws, count FROM wm_probe")
          .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
        assert(rows.contains((ts("2019-07-01 10:00:00"), 2L)),
          s"b2's late row must be filtered IN (one-batch lag) and emitted " +
            s"with the closing window: $rows")
        assert(!rows.exists(r => r._1 == ts("2019-07-01 10:00:00") && r._2 != 2L), rows)

        val drops = q.recentProgress.toSeq.flatMap(p =>
          Option(p.stateOperators).toSeq.flatMap(_.toSeq.map(_.numRowsDroppedByWatermark)))
        assert(drops.sum == 1,
          s"exactly b3's row must be dropped by the (caught-up) filter; " +
            s"per-batch drops: $drops")
      } finally q.stop()
    }
  }

  test("dropDuplicatesWithinWatermark: no expiry refresh, evict-then-re-emit, lagged late filter") {
    // the three behaviors st12's closed-form oracle encodes, pinned on
    // MemoryStream so a Spark semantics change fails HERE by name:
    // 1. a deduped duplicate does NOT refresh the state expiry (the
    //    10:45 dup would push expiry to 10:55 and survive eviction at
    //    10:50 if it did — then b3 would dedup instead of re-emit);
    // 2. state eviction uses the current batch's watermark at batch END
    //    (the 10:45 dup is still deduped by the state evicted in the
    //    same batch), and an evicted key RE-EMITS on its next row;
    // 3. the late-input filter lags eviction by one batch (the 09:00
    //    row in b4 is dropped by the caught-up 10:50 filter).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withConf(s, noDataOff) {
      val in = MemoryStream[(Long, Timestamp)]
      val deduped = in.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id")
      val q = deduped.writeStream.format("memory").queryName("wm_dedup_probe")
        .outputMode("append").start()
      try {
        // b0: first occurrence — emits; state expiry 10:10
        in.addData((1L, ts("2019-07-01 10:00:00"))); q.processAllAvailable()
        // b1: new key — emits; advances max event time to 11:00
        in.addData((2L, ts("2019-07-01 11:00:00"))); q.processAllAvailable()
        // b2: duplicate of key 1 — deduped (state live during the batch);
        // at batch END the eviction wm is 10:50 (b1's max − delay) and the
        // UNREFRESHED expiry 10:10 sits below it → state evicted
        in.addData((1L, ts("2019-07-01 10:45:00"))); q.processAllAvailable()
        // b3: key 1 again, above the (lagging) 10:50 late filter — state
        // is gone, so the row RE-EMITS
        in.addData((1L, ts("2019-07-01 10:58:00"))); q.processAllAvailable()
        // b4: the late filter has caught up to 10:50 — dropped on input
        in.addData((1L, ts("2019-07-01 09:00:00"))); q.processAllAvailable()

        val rows = s.sql("SELECT user_id, ts FROM wm_dedup_probe")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq.sorted
        assert(rows == Seq(
          (1L, ts("2019-07-01 10:00:00")),
          (1L, ts("2019-07-01 10:58:00")),
          (2L, ts("2019-07-01 11:00:00"))),
          s"expected first-emit + re-emit + second key, got: $rows")
        val drops = q.recentProgress.toSeq.flatMap(p =>
          Option(p.stateOperators).toSeq.flatMap(_.toSeq.map(_.numRowsDroppedByWatermark)))
        assert(drops.sum == 1,
          s"exactly b4's row must be dropped by the late filter; per-batch drops: $drops")
      } finally q.stop()
    }
  }

  private def timeoutSessions(in: MemoryStream[(Long, Timestamp)], name: String) = {
    val s = spark
    import s.implicits._
    in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.SessionTimeoutProcessor(10 * 60 * 1000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "last_tsu", "n_events")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
  }

  test("event-time timers: previous-batch watermark, input-before-timers, reschedule swallows") {
    // the three timer behaviors st14's closed-form oracle encodes:
    // 1. a batch fires timers against the watermark computed at the END
    //    of the PREVIOUS batch (the one-batch lag — k3 below would fire
    //    under a current-batch watermark and must not);
    // 2. input rows process BEFORE expired timers, so an arrival in the
    //    firing batch reschedules first and the old timer never fires
    //    (k1's 10:10 timer is expired vs b2's 10:50 watermark, but its
    //    b2 arrival swallows it — the watermark-lag merge rule);
    // 3. reschedule = delete + register keeps ONE timer per key (k1
    //    emits once with the merged count, never twice).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // the restore covers setup too: a throw from MemoryStream or
    // timeoutSessions must not leak the disabled no-data-batch setting
    // into the next test, which depends on the default (enabled) semantics
    withConf(s, noDataOff, RocksDbStateStore) {
      val in = MemoryStream[(Long, Timestamp)]
      val q = timeoutSessions(in, "timer_probe")
      try {
        // b0: k1@10:00 → timer 10:10; wm after b0 = 09:50
        in.addData((1L, ts("2019-07-01 10:00:00"))); q.processAllAvailable()
        // b1: k2@11:00 → fires vs 09:50: none; k2 timer 11:10; wm → 10:50
        in.addData((2L, ts("2019-07-01 11:00:00"))); q.processAllAvailable()
        // b2: k1@11:02 — k1's 10:10 timer IS expired vs this batch's
        // 10:50 watermark, but the arrival processes first: state merges
        // to (11:02, 2) and the timer moves to 11:12. No emission.
        in.addData((1L, ts("2019-07-01 11:02:00"))); q.processAllAvailable()
        // b3: k3@12:30 → fires vs 10:52: none; wm → 12:20
        in.addData((3L, ts("2019-07-01 12:30:00"))); q.processAllAvailable()
        // b4: k4@13:30 → fires vs 12:20 (NOT this batch's 13:20): k1
        // (11:12) and k2 (11:10) emit; k3 (12:40) must NOT — under a
        // current-batch watermark it would
        in.addData((4L, ts("2019-07-01 13:30:00"))); q.processAllAvailable()

        val rows = s.sql("SELECT user_id, last_tsu, n_events FROM timer_probe")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
        def us(t: String): Long = ts(t).getTime * 1000L
        assert(rows == Seq(
          (1L, us("2019-07-01 11:02:00"), 2L),
          (2L, us("2019-07-01 11:00:00"), 1L)),
          s"expected k1 merged-then-fired + k2 fired, k3/k4 still live: $rows")
      } finally q.stop()
    }
  }

  private def joinThenTimeout(p: MemoryStream[(Long, Timestamp)],
      c: MemoryStream[(Long, Timestamp)], name: String) = {
    val s = spark
    import s.implicits._
    val purchases = p.toDF().toDF("user_id", "p_ts")
      .withWatermark("p_ts", "10 minutes")
    val clicks = c.toDF().toDF("c_user", "c_ts")
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("user_id"), unix_micros(col("p_ts")).as("tsu"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.SessionTimeoutProcessor(10 * 60 * 1000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "last_tsu", "n_matches")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
  }

  test("chained join → timers: the interval join delays the downstream watermark by its bound; expiry is strict") {
    // the st15 composition's oracle arithmetic, pinned on MemoryStream:
    // 1. the downstream transformWithState sees the JOIN's output
    //    watermark = source watermark − 1h (the c_ts ∈ [p_ts−1h, p_ts]
    //    bound: a buffered click may still match a future purchase, so
    //    the simulator subtracts the interval) — NOT the raw source
    //    watermark;
    // 2. timers still fire against the PREVIOUS batch's value (the st14
    //    one-batch lag), here of that delayed watermark;
    // 3. expiry is STRICT: a timer exactly AT the effective watermark
    //    does not fire.
    // b2 below discriminates all three: under an undelayed watermark u1
    // would fire there, and under non-strict expiry too — the oracle's
    // "− 1h join delay, strict <" encoding fails HERE by name if Spark
    // changes either rule.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withConf(s, noDataOff, RocksDbStateStore) {
      val p = MemoryStream[(Long, Timestamp)]
      val c = MemoryStream[(Long, Timestamp)]
      val q = joinThenTimeout(p, c, "join_timer_probe")
      def add(u: Long, t: String): Unit = {
        p.addData((u, ts(t))); c.addData((u, ts(t))); q.processAllAvailable()
      }
      try {
        // b0: u1@10:00 matches itself → timer 10:10; src wm → 09:50
        add(1L, "2019-07-01 10:00:00")
        // b1: u2@11:20 → timer 11:30; timers fire vs b0's effective
        //     wm (09:50 − 1h): none. src wm → 11:10
        add(2L, "2019-07-01 11:20:00")
        // b2: u3@12:30 → timer 12:40; timers fire vs b1's effective
        //     wm = 11:10 − 1h = 10:10 — EXACTLY u1's timer. Strict
        //     expiry + the 1h join delay ⇒ nothing fires (an
        //     undelayed wm of 11:10 would fire u1; so would <=).
        add(3L, "2019-07-01 12:30:00")
        val afterB2 = s.sql("SELECT user_id FROM join_timer_probe")
          .collect().map(_.getLong(0)).toSeq
        assert(afterB2.isEmpty,
          s"u1's 10:10 timer must NOT fire at effective wm 10:10 " +
            s"(join-delayed, strict): emitted $afterB2")
        // b3: u4@13:30 → timers fire vs b2's effective wm = 12:20 −
        //     1h = 11:20: u1 (10:10) fires, u2 (11:30) does not
        add(4L, "2019-07-01 13:30:00")
        val rows = s.sql("SELECT user_id, last_tsu, n_matches FROM join_timer_probe")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(rows == Seq((1L, ts("2019-07-01 10:00:00").getTime * 1000L, 1L)),
          s"only u1 may have fired by b3 (u2's 11:30 > 11:20): $rows")
      } finally q.stop()
    }
  }

  test("no-data microbatch fires expired event-time timers without new input") {
    // st14's week-2 sessions emit from the AvailableNow run's final
    // no-data batch: a watermark advance alone — no further input —
    // must fire timers. Pinned here on MemoryStream with no-data
    // batches at their default (enabled).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withConf(s, RocksDbStateStore) {
      val in = MemoryStream[(Long, Timestamp)]
      val q = timeoutSessions(in, "nodata_timer_probe")
      try {
        // b0: k1@10:00 → timer 10:10; wm 09:50 — nothing fires
        in.addData((1L, ts("2019-07-01 10:00:00"))); q.processAllAvailable()
        // b1: k2@11:00 advances the watermark to 10:50; the no-data
        // batch that follows (processAllAvailable drains it) is the
        // ONLY place k1's 10:10 timer can fire — no third addData
        in.addData((2L, ts("2019-07-01 11:00:00"))); q.processAllAvailable()

        val rows = s.sql("SELECT user_id, last_tsu, n_events FROM nodata_timer_probe")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(rows == Seq((1L, ts("2019-07-01 10:00:00").getTime * 1000L, 1L)),
          s"k1 must emit from the watermark-advance no-data batch: $rows")
      } finally q.stop()
    }
  }

  test("full-outer interval join: each unmatched tail is held by its own watermark offset") {
    // st18's oracle encodes ASYMMETRIC flush points for the two NULL
    // tails of c_ts ∈ [p_ts − 1h, p_ts]: an unmatched purchase flushes
    // once wm > p_ts, but an unmatched CLICK must wait until
    // wm > c_ts + 1h — its candidate purchases live ahead of it by up
    // to the interval bound. This probe stages a purchase and a click
    // at the SAME event time and drives the watermark between the two
    // cutoffs: the purchase's NULL row appears while the click's is
    // still state-held, then a further advance flushes the click too.
    // A Spark change that unified the offsets (or flipped strictness
    // at the bound) fails here by name instead of flipping st18's hash.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withConf(s, noDataOff) {
      val p = MemoryStream[(Long, Timestamp)]
      val c = MemoryStream[(Long, Timestamp)]
      val pf = p.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "10 minutes")
      val cf = c.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "10 minutes")
      val joined = pf.join(cf,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
        "fullOuter")
      val q = joined.writeStream.format("memory").queryName("fouter_probe")
        .outputMode("append").start()
      def nullCounts(): (Int, Int) = {
        val rows = s.sql("SELECT p_user, c_user FROM fouter_probe").collect()
        (rows.count(_.isNullAt(1)), rows.count(_.isNullAt(0))) // (noClick, noPurchase)
      }
      def add(u: Long, t: String): Unit = {
        p.addData((u, ts(t))); c.addData((u, ts(t))); q.processAllAvailable()
      }
      try {
        // b0: unmatched purchase u1@10:00 + unmatched click u2@10:00
        p.addData((1L, ts("2019-07-01 10:00:00")))
        c.addData((2L, ts("2019-07-01 10:00:00")))
        q.processAllAvailable()
        assert(nullCounts() == ((0, 0)))
        // b1: matched pair @10:40 → wm will advance to 10:30; eviction
        // lags one batch, so nothing flushes yet
        add(9L, "2019-07-01 10:40:00")
        assert(nullCounts() == ((0, 0)), "eviction lags one batch")
        // b2: eviction wm = 10:30 — the purchase (10:00 < 10:30)
        // flushes its NULL-click row; the click's candidate window runs
        // to 11:00 > 10:30, so its tail MUST still be held
        add(8L, "2019-07-01 13:00:00")
        assert(nullCounts() == ((1, 0)),
          "purchase tail flushes at wm > p_ts while the click tail is still held")
        // b3: eviction wm = 12:50 > 11:00 — the click tail flushes too
        add(7L, "2019-07-01 14:00:00")
        assert(nullCounts() == ((1, 1)),
          "click tail flushes only once wm passes c_ts + the interval bound")
      } finally q.stop()
    }
  }
}
