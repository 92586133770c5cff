package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import graft.queries.Portable

/** Trajectory completion — the reference's one genuinely non-trivial
  * operator (`_add_records`, `cal_mobility_matrix.py:105-127`).
  *
  * Semantics per user, per consecutive pair of observed hours
  * (pre_hour → hour), with `diff` = whole hours between them:
  *   - first record (no pre): keep the record;
  *   - diff ≤ 1: keep the record;
  *   - 1 < diff ≤ 24: forward-fill one record per missing hour carrying
  *     the previous region, then the record;
  *   - diff > 24: emit one sentinel-'0' departure at pre_hour+1h (user
  *     counted "outside all regions"), then the record;
  *   - last record (no next): append a sentinel-'0' exit at hour+1h.
  *
  * Two implementations with identical output (both judged against the
  * same DuckDB `generate_series` oracle):
  *   - [[gapFillRelational]]: `explode(sequence(...))` — pure Catalyst,
  *     whole-stage-codegen, the 100 TB path;
  *   - [[gapFillTyped]]: `Dataset[HourState].flatMap` — mirrors the
  *     reference's generator branch-for-branch (SURVEY §2.10 D6), kept as
  *     the template for gap-fill variants SQL can't express.
  */
object Trajectory {

  case class HourState(user_id: Long, hour: Timestamp, region: String,
                       pre_hour: Option[Timestamp], pre_region: Option[String],
                       is_last: Boolean)
  case class TrajFix(user_id: Long, hour: Timestamp, region: String)

  /** Per-event fix: deterministic daily circuit coordinates
    * ([[Portable.fixKey]]) → geohash-3 region cell. */
  def fixes(events: DataFrame): DataFrame = {
    val k = Portable.fixKey(col("user_id"), col("ts"))
    // measured (r17 opt): spreading the scan here is a wash — the fixture
    // events scan + geohash projection is ~1s single-core but the extra
    // exchange + 32-task stages on the tiny frame cost the same back;
    // Tables.spread stays reserved for pipelines whose per-row CPU
    // dominates (f18 try_casts, text kernels)
    events
      .withColumn("region",
        GeoFunctions.geohashCol(Portable.latFromKey(k), Portable.lonFromKey(k), 3))
      .withColumn("hour", date_trunc("hour", col("ts")))
  }

  /** Last fix per (user, hour) — W1 — then lag/lead neighbours.
    *
    * r17 optimization: on the fixKey-derived fixes the region is
    * FUNCTIONALLY DETERMINED by the (user_id, hour) group — `fixKey`
    * depends on `ts` only through `hour(ts)`, which is constant inside a
    * truncated hour — so the last-fix-per-hour aggregation reduces to
    * `DISTINCT (user_id, hour)` with the region recomputed from the
    * group key afterwards. That replaces the previous
    * `max_by(region, struct(ts, event_id))`, whose struct-typed
    * aggregation buffer forced a SortAggregate (a full pre-shuffle Sort
    * of every raw event feeding SortAggregate twice; `CENSUS.json`'s
    * `aggregates` field of g05_presence_by_region pins its absence)
    * into a whole-stage-codegen HashAggregate with map-side partial
    * combine, shuffles (user_id, hour) pairs only (guide §2.3: narrower
    * exchange — no region string, no ts), and evaluates the geohash
    * once per user-HOUR instead of once per EVENT. Same rows exactly:
    * any representative of the group carries the same region, so
    * max_by's tie-break chose among equals. Callers whose region is NOT
    * group-constant (g40's cascade assignment) keep the general
    * [[hourlyStateFrom]] aggregation. */
  def hourlyState(events: DataFrame): DataFrame = {
    val k = Portable.fixKey(col("user_id"), col("hour"))
    val state = events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .distinct()
      .withColumn("region",
        GeoFunctions.geohashCol(Portable.latFromKey(k), Portable.lonFromKey(k), 3))
    withNeighbours(state)
  }

  /** [[hourlyState]] over pre-built fixes — any frame with `(user_id,
    * event_id, ts, hour, region)`, letting callers swap the region
    * derivation (g40 feeds the cascade-ASSIGNED region here, fusing
    * assignment into the same scan the trajectory machinery consumes).
    * The top-1-per-group stays a `max_by` aggregation, not a
    * `row_number` window: aggregation gets map-side partial combine,
    * where a window must shuffle and sort EVERY raw event; `max_by` on
    * the (ts, event_id) struct is the last fix with the window's exact
    * tie-break. */
  def hourlyStateFrom(fixes: DataFrame): DataFrame =
    withNeighbours(fixes
      .groupBy(col("user_id"), col("hour"))
      .agg(max_by(col("region"), struct(col("ts"), col("event_id"))).as("region")))

  /** lag/lead neighbour columns over a one-row-per-(user, hour) frame —
    * the shared tail of [[hourlyState]] / [[hourlyStateFrom]]. */
  private def withNeighbours(state: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    state
      .withColumn("pre_hour", lag(col("hour"), 1).over(wSeq))
      .withColumn("pre_region", lag(col("region"), 1).over(wSeq))
      .withColumn("is_last", lead(col("hour"), 1).over(wSeq).isNull)
      .withColumn("diff",
        expr("(unix_timestamp(hour) - unix_timestamp(pre_hour)) DIV 3600"))
  }

  /** Catalyst form: explode over a per-row array of (hour, region).
    *
    * The sentinel exit row (last observed hour + 1h → '0') is folded into
    * the SAME per-row array rather than union'd from a second scan of
    * `state`: `state` is a scan + hash agg + three window functions, and a
    * two-branch union would compute that whole pipeline twice (once per
    * consumer) unless persisted. One branch, one pass. */
  def gapFillRelational(state: DataFrame): DataFrame = {
    val fillSeq = expr(
      "sequence(pre_hour + INTERVAL 1 HOUR, hour - INTERVAL 1 HOUR, INTERVAL 1 HOUR)")
    val cur = array(struct(col("hour").as("h"), col("region").as("r")))
    val body =
      when(col("pre_hour").isNull || col("diff") <= 1, cur)
        .when(col("diff") <= 24,
          concat(
            transform(fillSeq, h => struct(h.as("h"), col("pre_region").as("r"))),
            cur))
        .otherwise(concat(
          array(struct(expr("pre_hour + INTERVAL 1 HOUR").as("h"), lit("0").as("r"))),
          cur))
    val exitRow =
      array(struct(expr("hour + INTERVAL 1 HOUR").as("h"), lit("0").as("r")))
    val rows = when(col("is_last"), concat(body, exitRow)).otherwise(body)
    state
      .select(col("user_id"), explode(rows).as("e"))
      .select(col("user_id"), col("e.h").as("hour"), col("e.r").as("region"))
  }

  /** Typed form: branch-for-branch mirror of the reference generator. */
  def gapFillTyped(state: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val HourMs = 3600 * 1000L
    state
      .select(col("user_id"), col("hour"), col("region"),
        col("pre_hour"), col("pre_region"), col("is_last"))
      .as[HourState]
      .flatMap { s =>
        val out = Seq.newBuilder[TrajFix]
        s.pre_hour match {
          case None =>
            out += TrajFix(s.user_id, s.hour, s.region)
          case Some(ph) =>
            val diff = (s.hour.getTime - ph.getTime) / HourMs
            if (diff <= 1) out += TrajFix(s.user_id, s.hour, s.region)
            else if (diff <= 24) {
              var i = 1L
              while (i < diff) {
                out += TrajFix(s.user_id, new Timestamp(ph.getTime + i * HourMs),
                  s.pre_region.get)
                i += 1
              }
              out += TrajFix(s.user_id, s.hour, s.region)
            } else {
              out += TrajFix(s.user_id, new Timestamp(ph.getTime + HourMs), "0")
              out += TrajFix(s.user_id, s.hour, s.region)
            }
        }
        if (s.is_last)
          out += TrajFix(s.user_id, new Timestamp(s.hour.getTime + HourMs), "0")
        out.result()
      }
      .toDF("user_id", "hour", "region")
  }

  /** Completed trajectory (relational form) straight from events. */
  def complete(events: DataFrame): DataFrame =
    gapFillRelational(hourlyState(events))

  /** Hourly transitions `(user_id, hour, src, dst)` — equal to
    * `lag(region) over (partition by user order by hour)` on [[complete]],
    * but emitted DIRECTLY by the gap-fill generator: each state row
    * already knows its predecessor region, so the extra shuffle + sort
    * the window would need on the (much larger) completed trajectory
    * never happens. Branch-for-branch twin of [[gapFillRelational]];
    * a user's first observed hour emits no transition (the lag is null). */
  def transitions(state: DataFrame): DataFrame = {
    val fillSeq = expr(
      "sequence(pre_hour + INTERVAL 1 HOUR, hour - INTERVAL 1 HOUR, INTERVAL 1 HOUR)")
    def t(h: Column, s: Column, d: Column) =
      struct(h.as("h"), s.as("s"), d.as("d"))
    val body =
      when(col("pre_hour").isNull, array().cast("array<struct<h:timestamp,s:string,d:string>>"))
        .when(col("diff") <= 1,
          array(t(col("hour"), col("pre_region"), col("region"))))
        .when(col("diff") <= 24,
          concat(
            transform(fillSeq, h => t(h, col("pre_region"), col("pre_region"))),
            array(t(col("hour"), col("pre_region"), col("region")))))
        .otherwise(array(
          t(expr("pre_hour + INTERVAL 1 HOUR"), col("pre_region"), lit("0")),
          t(col("hour"), lit("0"), col("region"))))
    // Exit sentinel folded into the same array — see gapFillRelational.
    val exitRow =
      array(t(expr("hour + INTERVAL 1 HOUR"), col("region"), lit("0")))
    val rows = when(col("is_last"), concat(body, exitRow)).otherwise(body)
    state
      .select(col("user_id"), explode(rows).as("e"))
      .select(col("user_id"), col("e.h").as("hour"), col("e.s").as("src"), col("e.d").as("dst"))
  }

  // ───────────────────────── DuckDB oracle twins ─────────────────────────

  /** CTE prelude producing `traj(user_id, hour, region)` — the DuckDB twin
    * of [[complete]] over the `events` table. */
  def trajSqlPrelude: String = {
    val k = Portable.fixKeySql("user_id", "ts")
    val region = Portable.geohashSql(Portable.latFromKeySql(k), Portable.lonFromKeySql(k), 3)
    val fx = s"""  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |         $region AS region
       |  FROM events""".stripMargin
    trajSqlPreludeFrom(fx)
  }

  /** [[trajSqlPrelude]] with a caller-supplied `fx` CTE body (the twin of
    * [[hourlyStateFrom]]): `leading` CTEs (e.g. a region dictionary) come
    * before `fx`, and `fxBody` must yield `(user_id, event_id, ts, hour,
    * region)`. Everything from the last-fix-per-hour state on is shared
    * verbatim with the default prelude. */
  def trajSqlPreludeFrom(fxBody: String, leading: String = ""): String = {
    s"""WITH ${leading}fx AS (
       |$fxBody),
       |st AS MATERIALIZED (
       |  SELECT user_id, hour, region FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, hour
       |              ORDER BY ts DESC, event_id DESC) AS rn FROM fx)
       |  WHERE rn = 1),
       |lg AS (
       |  SELECT user_id, hour, region,
       |         lag(hour) OVER w AS pre_hour,
       |         lag(region) OVER w AS pre_region,
       |         lead(hour) OVER w IS NULL AS is_last,
       |         date_diff('hour', lag(hour) OVER w, hour) AS diff
       |  FROM st WINDOW w AS (PARTITION BY user_id ORDER BY hour)),
       |traj AS MATERIALIZED (
       |  SELECT user_id, hour, region FROM lg
       |  UNION ALL
       |  SELECT user_id,
       |         unnest(generate_series(pre_hour + INTERVAL 1 HOUR,
       |                                hour - INTERVAL 1 HOUR, INTERVAL 1 HOUR)),
       |         pre_region
       |  FROM lg WHERE diff > 1 AND diff <= 24
       |  UNION ALL
       |  SELECT user_id, pre_hour + INTERVAL 1 HOUR, '0'
       |  FROM lg WHERE diff > 24
       |  UNION ALL
       |  SELECT user_id, hour + INTERVAL 1 HOUR, '0'
       |  FROM lg WHERE is_last)""".stripMargin
  }
}
