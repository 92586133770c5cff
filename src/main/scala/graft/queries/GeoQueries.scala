package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Fixpoint, RegionAssign, Tables, Trajectory}
import graft.functions.GeoFunctions
import Portable._

/** Geo/domain pipeline catalog — the reference's actual workload
  * re-expressed Spark-first (SURVEY.md §0 dataflow): geohash encoding and
  * neighbor expansion, haversine, cascading region assignment, hourly
  * presence, home-region inference, trajectory completion and the
  * mobility (OD) matrices.
  *
  * The testdata has no coordinates, so fixes get deterministic
  * pseudo-coordinates ([[Portable.fixKey]] daily circuits) — integer
  * arithmetic, bit-identical in DuckDB, which lets every geo query keep a
  * full SQL oracle (geohash has no DuckDB built-in; the oracle re-derives
  * cells from the same integer-scaling formula — Portable.geohashSql).
  */
object GeoQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct fix points (user_id, k, lat, lon) — a user's daily circuit. */
  // r17 opt note: spreading the events scan here was measured WORSE
  // (g12 1.3→2.0 s, g18 1.0→2.0 s): the single-partition scan feeds a
  // distinct() whose map-side partial dedup shrinks 100k rows to the
  // ~7.5k circuit points BEFORE any exchange — the spread shuffled the
  // raw rows first and the extra exchange cost more than the projection
  // parallelism bought. Tables.spread stays for per-row-CPU-bound
  // pipelines only (f18, regionCentroids).
  private def points(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), fixKey(col("user_id"), col("ts")).as("k"))
      .distinct()
      .withColumn("lat", latFromKey(col("k")))
      .withColumn("lon", lonFromKey(col("k")))

  private def pointsSql: String =
    s"""pts AS (
       |  SELECT user_id, k, ${latFromKeySql("k")} AS lat, ${lonFromKeySql("k")} AS lon
       |  FROM (SELECT DISTINCT user_id, ${fixKeySql("user_id", "ts")} AS k FROM events))""".stripMargin

  /** The reference's cascade depth: 7 geohash precisions, finest first,
    * before the sentinel default (cal_subarea_portion.py:34-76). */
  private val CascadePrecisions = Seq(8, 7, 6, 5, 4, 3, 2)

  /** Oracle twin of [[graft.engine.RegionAssign]]'s neighbor expansion: the
    * `customer` dictionary (CTE `dict(lat, lon, c_nationkey)`, with an
    * `offs(d)` CTE of {-1,0,1}) deduped per cell at precision `p`, then
    * expanded to the 3×3 neighbor block via the same integer-index
    * arithmetic as the g02 oracle: lon wraps mod 2^lonBits, lat clamps
    * (out-of-range rows dropped); min agent per SOURCE cell first, then
    * min per EXPANDED cell — min of mins == global min, exactly the
    * Spark side's double dedup. Shared by g16 and g40 (`agentSql` lets
    * g40 shift the agent id off the trajectory sentinel). */
  private def nbDictSql(p: Int, agentSql: String = "c_nationkey"): String = {
    val nLon = 1L << ((5 * p + 1) / 2)
    val nLat = 1L << ((5 * p) / 2)
    s"""d$p AS (
       |  SELECT gh$p, min(agent) AS agent_$p FROM (
       |    SELECT ${geohashFromIndicesSql(s"((c.xi + dx.d) % $nLon + $nLon) % $nLon", "c.yi + dy.d", p)} AS gh$p,
       |           c.agent
       |    FROM (SELECT ${lonIndexSql("lon", p)} AS xi, ${latIndexSql("lat", p)} AS yi,
       |                 min($agentSql) AS agent
       |          FROM dict GROUP BY 1, 2) c, offs dx, offs dy
       |    WHERE c.yi + dy.d >= 0 AND c.yi + dy.d < $nLat)
       |  GROUP BY 1)""".stripMargin
  }

  /** The reference-faithful mobility fraction matrix over a given hourly
    * state frame — g10b's tail, shared verbatim by g40 (where the state
    * carries cascade-ASSIGNED regions instead of raw geohash cells).
    * See g10b's catalog entry for the full semantics commentary
    * (diagonal fold of exits, presence-population normalization,
    * the single (hour, src) shuffle the whole left side rides). */
  private def mobilityFracRef(st: DataFrame): DataFrame = {
    val od = Trajectory.transitions(st)
      .repartition(col("hour"), col("src"))
      .groupBy(col("hour"), col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
    val rekeyed = od.select(col("hour"), col("src"),
        explode(when(col("dst") === "0",
          array(struct(col("src").as("dst"), col("cnt")),
            struct(col("dst"), col("cnt"))))
          .otherwise(array(struct(col("dst"), col("cnt"))))).as("e"))
      .select(col("hour"), col("src"), col("e.dst").as("dst"), col("e.cnt").as("cnt"))
    val adj = rekeyed.groupBy(col("hour"), col("src"), col("dst"))
      .agg(sum(col("cnt")).as("cnt"))
    // ppl's own (hour, region) agg exchange already produces the
    // partitioning the join needs — no explicit repartition
    val ppl = Trajectory.gapFillRelational(st)
      .groupBy(col("hour"), col("region")).agg(count(lit(1)).as("pop"))
    adj.join(ppl,
        adj("hour") === ppl("hour") && adj("src") === ppl("region"), "left")
      .select(tsSec(adj("hour")).as("hour"), col("src"), col("dst"), col("cnt"),
        when(col("pop").isNull || col("pop") === 0, lit(0.0))
          .otherwise(col("cnt").cast("double") / col("pop").cast("double"))
          .as("frac"))
      .orderBy(col("hour"), col("src"), col("dst"))
  }

  /** DuckDB twin of [[mobilityFracRef]] — the CTE tail appended to a
    * `traj`-producing prelude. */
  private def mobilityFracRefTailSql: String =
    s""",
       |seq AS (
       |  SELECT user_id, hour, region,
       |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
       |  FROM traj),
       |od AS (
       |  SELECT hour, src, region AS dst, count(*) AS cnt
       |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2, 3),
       |ppl AS (
       |  SELECT hour, region, count(*) AS pop FROM traj GROUP BY 1, 2),
       |rk AS (
       |  SELECT hour, src, CASE WHEN dst = '0' THEN src ELSE dst END AS dst, cnt
       |  FROM od
       |  UNION ALL
       |  SELECT hour, src, dst, cnt FROM od WHERE dst = '0'),
       |adj AS (
       |  SELECT hour, src, dst, sum(cnt) AS cnt FROM rk GROUP BY 1, 2, 3)
       |SELECT ${tsSecSql("adj.hour")} AS hour, src, dst,
       |       CAST(adj.cnt AS BIGINT) AS cnt,
       |       CASE WHEN ppl.pop IS NULL OR ppl.pop = 0 THEN 0.0
       |            ELSE CAST(adj.cnt AS DOUBLE) / CAST(ppl.pop AS DOUBLE) END AS frac
       |FROM adj LEFT JOIN ppl ON adj.hour = ppl.hour AND adj.src = ppl.region
       |ORDER BY hour, src, dst""".stripMargin

  /** g18's clustered-write fan-out, derived from row volume: one range
    * partition per [[ZorderRowsPerFile]] rows (≈ a healthy parquet file
    * of the 4-col point schema), so the z-ordered layout scales from one
    * file at sf0.001 to thousands at 100 TB with no code change.
    * Pinned by `Round7OpsSpec`. */
  private[graft] val ZorderRowsPerFile = 1L << 21
  private[graft] def zorderPartitions(rows: Long): Int =
    math.max(1L, (rows + ZorderRowsPerFile - 1) / ZorderRowsPerFile).toInt

  /** g17 window width: absolute hours materialized as wide columns.
    * g17 judges a reviewable 48-column window; g17b judges the
    * reference's literal 744-column month with the same generated code
    * on both sides. */
  private val WideHours = 48

  /** j15's place granularity and crowded-cell bound. Precision 2 keeps
    * the whole occupancy table grid-bounded (32×32 cells) so it is
    * broadcast by construction; the cap bounds per-cell pair fan-out at
    * C(C−1)/2 regardless of corpus skew (the t08 BandCap idea applied to
    * a spatial self-join). */
  private val CoplacePrecision = 2
  private val CoplaceCap = 40

  /** g39's core order and fixed peel depth. 4 rounds reach the true
    * 2-core fixpoint at every test SF (pinned by `Round11OpsSpec`
    * against a converged driver recompute); the oracle runs the
    * identical 4-round recurrence, so judged equality does not depend
    * on convergence. */
  private val KcoreK = 2
  private val KcoreRounds = 4

  /** g39's peel advance: survivors filter the edge table through two
    * broadcast SEMI-joins (the survivor set is region-bounded —
    * broadcastable at any corpus size), then degrees fold in one
    * partial-agg'd shuffle and the < k nodes drop.
    * `PlanQualitySpec` pins this per-round shape. */
  private[graft] def kcoreRound(und: DataFrame, core: DataFrame): DataFrame =
    und
      .join(broadcast(core.select(col("region").as("a"))), Seq("a"), "left_semi")
      .join(broadcast(core.select(col("region").as("b"))), Seq("b"), "left_semi")
      // one generate, not a self-union: a union would plan the
      // semi-joined edge subtree TWICE (plan-audited)
      .select(explode(array(col("a"), col("b"))).as("region"))
      .groupBy(col("region")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= KcoreK)

  /** A7's absolute-hour wide presence matrix at any width: one count
    * column per hour of the study window (cal_user_trace.py:30-43),
    * columns indexed RELATIVE to the corpus' first hour so the schema
    * is fixed while the window can move. One min() pass broadcast back,
    * one pivot; rows outside the window are filtered BEFORE the pivot
    * shuffle. */
  private def wideHourMatrix(s: SparkSession, dir: String, wide: Int): DataFrame = {
    val hidx = (0 until wide).toList
    // persisted: the broadcast min-hour leg would otherwise re-run the
    // whole trajectory pipeline (the r17 before-plan shows the complete
    // scan→agg→window→explode subtree TWICE, once under the
    // BroadcastExchange — plans/r17/g17b_wide_hour_month_before.txt)
    val traj = Trajectory.complete(Tables.events(s, dir))
      .select(col("user_id"), col("region"),
        unix_timestamp(col("hour")).as("es"))
      .persist()
    val h0 = traj.agg(min(col("es")).as("es0"))
    // r17 opt: the former `.pivot("h", hidx).agg(count(lit(1)))` planned a
    // `pivotfirst` ImperativeAggregate with a `wide`-slot buffer — a
    // non-codegen operator that burned ~190 task-CPU-seconds at wide=744
    // (one 6.3 s stage wall on 32 cores; profile 2026-08-19). The same
    // matrix assembles declaratively: count long-form (codegen hash agg,
    // map-side combine), fold each region's (h, n) pairs into a map, and
    // project the `wide` columns from it — the heavy per-EVENT work stays
    // in one narrow agg, and the 744-column projection runs once per
    // REGION row. Identical output: a (region, h) pair absent from the
    // map is a 0 count, exactly what na.fill(0) produced.
    traj.crossJoin(broadcast(h0))
      .select(col("region"),
        ((col("es") - col("es0")) / 3600).cast("long").as("h"))
      .where(col("h") < wide)
      .groupBy(col("region"), col("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("region"))
      .agg(map_from_entries(collect_list(struct(col("h"), col("n")))).as("m"))
      .select(col("region") +:
        hidx.map(i => coalesce(element_at(col("m"), lit(i.toLong)), lit(0L)).as(s"h$i")): _*)
      .orderBy(col("region"))
  }

  private def wideHourOracle(wide: Int): String = {
    // native PIVOT, not `wide` filtered aggregates: one aggregate state
    // per (region, h) pair instead of `wide` states per region — the
    // filtered-aggregate form ran 50x slower at 744 columns and OOMed
    // DuckDB under ambient memory pressure
    val inList = (0 until wide).mkString(", ")
    val alias = (0 until wide)
      .map(i => s"""CAST(coalesce("$i", 0) AS BIGINT) AS h$i""")
      .mkString(",\n  ")
    s"""${Trajectory.trajSqlPrelude},
       |rel AS (
       |  SELECT region,
       |    CAST((${epochSecSql("hour")} -
       |      (SELECT min(${epochSecSql("hour")}) FROM traj)) / 3600 AS BIGINT) AS h
       |  FROM traj)
       |SELECT region,
       |  $alias
       |FROM (PIVOT (SELECT * FROM rel WHERE h < $wide)
       |      ON h IN ($inList) USING count(*) GROUP BY region)
       |ORDER BY region""".stripMargin
  }

  /** Shared oracle for the neighbor-expansion twins (g02 UDF form, g21
    * native-expression form): the 3×3 block re-derived with the same
    * integer index arithmetic (lon wraps mod 2^lonBits, lat clamps). */
  private def neighborsOracleSql: String = {
    val p = 5
    val nLon = 1L << ((5 * p + 1) / 2)
    val nLat = 1L << ((5 * p) / 2)
    s"""WITH $pointsSql,
       |cells AS (
       |  SELECT DISTINCT ${lonIndexSql("lon", p)} AS xi, ${latIndexSql("lat", p)} AS yi
       |  FROM pts),
       |offs AS (SELECT unnest([-1, 0, 1]) AS d),
       |nb AS (
       |  SELECT ${geohashFromIndicesSql("c.xi", "c.yi", p)} AS gh5,
       |         ${geohashFromIndicesSql(s"((c.xi + dx.d) % $nLon + $nLon) % $nLon", "c.yi + dy.d", p)} AS neighbor
       |  FROM cells c, offs dx, offs dy
       |  WHERE c.yi + dy.d >= 0 AND c.yi + dy.d < $nLat)
       |SELECT DISTINCT gh5, neighbor FROM nb ORDER BY gh5, neighbor""".stripMargin
  }

  private val PrInit = 1000000000000L // unit rank, 1e-12 fixed point
  private val PrBase = 150000000000L  // (1 - d) · Init, d = 0.85

  /** g19 inputs: the loop-invariant edge/out-weight table, the node dim,
    * and the unit-rank start state. Exposed so PlanQualitySpec can pin
    * the shape of ONE iteration without re-running the whole loop. */
  private[graft] def pagerankInputs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val edges = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .persist()
    val nodes = edges.select(col("src").as("region"))
      .union(edges.select(col("dst").as("region")))
      .distinct().persist()
    // the out-weight column is loop-invariant: join it onto the edge
    // table ONCE (broadcast — outw is region-bounded) and persist,
    // instead of re-broadcasting outw every round
    val ew = edges
      .join(broadcast(edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
        .withColumnRenamed("src", "osrc")), col("src") === col("osrc"))
      .select(col("src"), col("dst"), col("w"), col("ow"))
      .persist()
    (ew, nodes, nodes.select(col("region"), lit(PrInit).as("pr")))
  }

  /** One g19 PageRank round. Every per-node table (ranks, inc) is bounded
    * by the region count — broadcastable at ANY corpus size — so each
    * iteration broadcasts ONE tiny table and its only shuffle is the
    * partial-agg'd groupBy(dst) over the (possibly large,
    * stay-partitioned) edge table. */
  private[graft] def pagerankIterate(ew: DataFrame, nodes: DataFrame, ranks: DataFrame): DataFrame = {
    val inc = ew
      .join(broadcast(ranks), col("src") === col("region"))
      .groupBy(col("dst"))
      .agg(sum(expr("pr DIV ow") * col("w")).as("inc"))
    nodes.join(broadcast(inc), nodes("region") === inc("dst"), "left")
      .select(col("region"),
        (lit(PrBase) + expr("(85 * coalesce(inc, 0)) DIV 100")).as("pr"))
  }

  val catalog: Seq[(String, Q, String)] = Seq(

    // ── F10/D1: geohash encode at precisions 5..8 (region.py:34-40) ──
    ("g01_geohash_encode",
      (s: SparkSession, dir: String) => {
        points(s, dir)
          .select(col("user_id"), col("k"),
            GeoFunctions.geohashCol(col("lat"), col("lon"), 5).as("gh5"),
            GeoFunctions.geohashCol(col("lat"), col("lon"), 6).as("gh6"),
            GeoFunctions.geohashCol(col("lat"), col("lon"), 7).as("gh7"),
            GeoFunctions.geohashCol(col("lat"), col("lon"), 8).as("gh8"))
          .orderBy(col("user_id"), col("k"))
      },
      s"""WITH $pointsSql
         |SELECT user_id, k,
         |       ${geohashSql("lat", "lon", 5)} AS gh5,
         |       ${geohashSql("lat", "lon", 6)} AS gh6,
         |       ${geohashSql("lat", "lon", 7)} AS gh7,
         |       ${geohashSql("lat", "lon", 8)} AS gh8
         |FROM pts ORDER BY user_id, k""".stripMargin),

    // ── F11: geohash neighbor expansion (cal_orig_area.py:62-72) ──
    ("g02_geohash_neighbors",
      (s: SparkSession, dir: String) => {
        points(s, dir)
          .select(GeoFunctions.geohashCol(col("lat"), col("lon"), 5).as("gh5"))
          .distinct()
          .select(col("gh5"),
            explode(GeoFunctions.geohashNeighborsUdf(col("gh5"))).as("neighbor"))
          .orderBy(col("gh5"), col("neighbor"))
      },
      neighborsOracleSql),

    // ── F11 native form: same query through the codegen'd
    //    GeohashNeighbors Catalyst expression instead of the Scala UDF —
    //    the g11/t11 parity pattern: the SAME oracle judges both, so the
    //    two implementations are pinned to identical output ──
    ("g21_native_neighbors",
      (s: SparkSession, dir: String) => {
        points(s, dir)
          .select(GeoFunctions.geohashCol(col("lat"), col("lon"), 5).as("gh5"))
          .distinct()
          .select(col("gh5"),
            explode(call_function("geohash_neighbors", col("gh5"))).as("neighbor"))
          .orderBy(col("gh5"), col("neighbor"))
      },
      neighborsOracleSql),

    // ── F9: haversine distance to a fixed point (cal_subarea_portion.py:83-92) ──
    ("g03_haversine",
      (s: SparkSession, dir: String) => {
        points(s, dir)
          .select(col("user_id"), col("k"),
            round(GeoFunctions.haversineCol(col("lat"), col("lon"),
              lit(31.2304), lit(121.4737)), 1).as("dist_m"))
          .orderBy(col("user_id"), col("k"))
      },
      s"""WITH $pointsSql
         |SELECT user_id, k,
         |       round(${haversineSql("lat", "lon", "31.2304", "121.4737")}, 1) AS dist_m
         |FROM pts ORDER BY user_id, k""".stripMargin),

    // ── J4: cascading fallback region assignment, one region lookup
    //    (cal_orig_area.py:24-43; customer table as the POI dictionary) ──
    ("g04_region_assign",
      (s: SparkSession, dir: String) => {
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
          .withColumn("lat", latFromKey(col("c_custkey")))
          .withColumn("lon", lonFromKey(col("c_custkey")))
        RegionAssign.assign(points(s, dir), col("lat"), col("lon"),
            cust, col("lat"), col("lon"), col("c_nationkey"),
            precisions = Seq(4, 3), sentinel = -1L)
          .select(col("user_id"), col("k"), col("agent_id"))
          .orderBy(col("user_id"), col("k"))
      },
      s"""WITH $pointsSql,
         |dict AS (
         |  SELECT c_custkey, c_nationkey,
         |         ${latFromKeySql("c_custkey")} AS lat, ${lonFromKeySql("c_custkey")} AS lon
         |  FROM customer),
         |d4 AS (
         |  SELECT ${geohashSql("lat", "lon", 4)} AS gh4, min(c_nationkey) AS agent_4
         |  FROM dict GROUP BY 1),
         |d3 AS (
         |  SELECT ${geohashSql("lat", "lon", 3)} AS gh3, min(c_nationkey) AS agent_3
         |  FROM dict GROUP BY 1)
         |SELECT p.user_id, p.k,
         |       CAST(coalesce(d4.agent_4, d3.agent_3, -1) AS BIGINT) AS agent_id
         |FROM pts p
         |LEFT JOIN d4 ON ${geohashSql("p.lat", "p.lon", 4)} = d4.gh4
         |LEFT JOIN d3 ON ${geohashSql("p.lat", "p.lon", 3)} = d3.gh3
         |ORDER BY p.user_id, p.k""".stripMargin),

    // ── A1 over regions: hourly presence per region (cal_user_trace.py:22,35)
    //    computed over the COMPLETED trajectory (population vectors,
    //    cal_mobility_matrix.py:153-165 — long form, never a driver matrix) ──
    ("g05_presence_by_region",
      (s: SparkSession, dir: String) => {
        // the completed trajectory has EXACTLY one row per (user, hour)
        // (state rows are deduped, fills lie strictly between consecutive
        // observed hours), so count(*) == countDistinct(user_id) without
        // the per-group distinct-set state. The oracle keeps
        // count(DISTINCT) — the hash-match re-proves the invariant.
        Trajectory.complete(Tables.events(s, dir))
          .groupBy(col("hour"), col("region"))
          .agg(count(lit(1)).as("n_users"))
          .select(tsSec(col("hour")).as("hour"), col("region"), col("n_users"))
          .orderBy(col("hour"), col("region"))
      },
      s"""${Trajectory.trajSqlPrelude}
         |SELECT ${tsSecSql("hour")} AS hour, region,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM traj GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── A6/W2: home-("start")-region inference over night windows
    //    (cal_user_trace.py:50-82): mode of the user's night-time region,
    //    ties broken by region string — one aggregation, not 29 joins ──
    ("g06_home_region",
      (s: SparkSession, dir: String) => {
        val night = Trajectory.complete(Tables.events(s, dir))
          .where(hour(col("hour")) >= 19 || hour(col("hour")) <= 8)
        val counts = night.groupBy(col("user_id"), col("region"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("cnt").desc, col("region").asc)
        counts.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("region").as("home_region"), col("cnt"))
          .orderBy(col("user_id"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |night AS (
         |  SELECT user_id, region, count(*) AS cnt FROM traj
         |  WHERE hour(hour) >= 19 OR hour(hour) <= 8
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |            ORDER BY cnt DESC, region ASC) AS rn
         |  FROM night)
         |SELECT user_id, region AS home_region, CAST(cnt AS BIGINT) AS cnt
         |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // ── D6: trajectory completion, Catalyst explode(sequence) form ──
    ("g07_trajectory_gapfill",
      (s: SparkSession, dir: String) => {
        Trajectory.complete(Tables.events(s, dir))
          .select(col("user_id"), tsSec(col("hour")).as("hour"), col("region"))
          .orderBy(col("user_id"), col("hour"))
      },
      s"""${Trajectory.trajSqlPrelude}
         |SELECT user_id, ${tsSecSql("hour")} AS hour, region
         |FROM traj ORDER BY user_id, hour""".stripMargin),

    // ── D6 typed twin: Dataset.flatMap mirror of the reference generator —
    //    same oracle as g07 (the two implementations must agree) ──
    ("g08_trajectory_flatmap",
      (s: SparkSession, dir: String) => {
        Trajectory.gapFillTyped(
            Trajectory.hourlyState(Tables.events(s, dir)), s)
          .select(col("user_id"), tsSec(col("hour")).as("hour"), col("region"))
          .orderBy(col("user_id"), col("hour"))
      },
      s"""${Trajectory.trajSqlPrelude}
         |SELECT user_id, ${tsSecSql("hour")} AS hour, region
         |FROM traj ORDER BY user_id, hour""".stripMargin),

    // ── A7 over the trajectory: the reference's WIDE hourly-presence
    //    matrix (cal_user_trace.py:30-43 builds one count column per hour
    //    via 744 sequential pandas merges) — one pivot pass, hour-of-day
    //    granularity, region rows × 24 count columns ──
    ("g14_presence_pivot",
      (s: SparkSession, dir: String) => {
        val hods = (0 until 24).toList
        Trajectory.complete(Tables.events(s, dir))
          .withColumn("hod", hour(col("hour")))
          .groupBy(col("region"))
          .pivot("hod", hods)
          .agg(count(lit(1)))
          .na.fill(0L)
          .select(col("region") +: hods.map(i => col(i.toString).as(s"h$i")): _*)
          .orderBy(col("region"))
      },
      {
        val cols = (0 until 24).map(i =>
          s"CAST(count(*) FILTER (WHERE hour(hour) = $i) AS BIGINT) AS h$i")
          .mkString(",\n  ")
        s"""${Trajectory.trajSqlPrelude}
           |SELECT region,
           |  $cols
           |FROM traj GROUP BY region ORDER BY region""".stripMargin
      }),

    // ── F10/F9 native form: the custom Catalyst expressions (codegen'd
    //    GeohashEncode / HaversineMeters, registered by GraftExtensions)
    //    — must produce byte-identical results to the built-in-composed
    //    forms of g01/g03; same oracle shape proves it ──
    ("g11_native_exprs",
      (s: SparkSession, dir: String) => {
        points(s, dir)
          .select(col("user_id"), col("k"),
            call_function("geohash_encode", col("lat"), col("lon"), lit(5)).as("gh5"),
            round(call_function("haversine_meters", col("lat"), col("lon"),
              lit(31.2304), lit(121.4737)), 1).as("dist_m"))
          .orderBy(col("user_id"), col("k"))
      },
      s"""WITH $pointsSql
         |SELECT user_id, k,
         |       ${geohashSql("lat", "lon", 5)} AS gh5,
         |       round(${haversineSql("lat", "lon", "31.2304", "121.4737")}, 1) AS dist_m
         |FROM pts ORDER BY user_id, k""".stripMargin),

    // ── Radius search, written the naive way a user would: one haversine
    //    predicate, no hand-built blocking (the reference's POI-radius
    //    idiom, cal_subarea_portion.py:83-92,142-149). The
    //    HaversineBoundingBox optimizer rule (GraftExtensions) conjoins
    //    the cap's sargable lat/lon box ahead of the trig — pushdown-able
    //    to parquet when the coordinates are stored columns; a codegen
    //    short-circuit ahead of sin/cos/atan2 here where they are
    //    derived. Same results either way (SpatialRewriteSpec pins both
    //    the plan shape and the rewrite's correctness) ──
    ("g15_radius_filter",
      (s: SparkSession, dir: String) => {
        points(s, dir)
          .withColumn("dist_m", call_function("haversine_meters",
            col("lat"), col("lon"), lit(31.2304), lit(121.4737)))
          .filter(col("dist_m") <= lit(3000000.0))
          .select(col("user_id"), col("k"), round(col("dist_m"), 1).as("dist_m"))
          .orderBy(col("user_id"), col("k"))
      },
      s"""WITH $pointsSql,
         |d AS (SELECT user_id, k,
         |             ${haversineSql("lat", "lon", "31.2304", "121.4737")} AS dist_m
         |      FROM pts)
         |SELECT user_id, k, round(dist_m, 1) AS dist_m
         |FROM d WHERE dist_m <= 3000000.0 ORDER BY user_id, k""".stripMargin),

    // ── D4: nearest-POI type assignment (cal_subarea_portion.py:142-149
    //    — per-row Python UDF over a broadcast dict of per-region POI
    //    arrays). Relational form: geohash-block the candidate join,
    //    haversine-rank inside the block, keep the top-1 — a distributed
    //    spatial NN join instead of a driver-closure UDF ──
    ("g12_nearest_poi",
      (s: SparkSession, dir: String) => {
        val poi = Tables(s, dir, "customer")
          .select(col("c_custkey").as("poi_id"),
            latFromKey(col("c_custkey")).as("plat"),
            lonFromKey(col("c_custkey")).as("plon"),
            pmod(col("c_custkey"), lit(7)).cast("long").as("poi_type"))
        val w = Window.partitionBy(col("user_id"), col("k"))
          .orderBy(col("dist").asc, col("poi_id").asc)
        points(s, dir)
          .join(broadcast(poi),
            GeoFunctions.geohashCol(col("lat"), col("lon"), 2) ===
              GeoFunctions.geohashCol(col("plat"), col("plon"), 2))
          .withColumn("dist",
            GeoFunctions.haversineCol(col("lat"), col("lon"), col("plat"), col("plon")))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("k"), col("poi_id"), col("poi_type"),
            round(col("dist"), 1).as("dist_m"))
          .orderBy(col("user_id"), col("k"))
      },
      s"""WITH $pointsSql,
         |poi AS (
         |  SELECT c_custkey AS poi_id,
         |         ${latFromKeySql("c_custkey")} AS plat,
         |         ${lonFromKeySql("c_custkey")} AS plon,
         |         CAST(c_custkey % 7 AS BIGINT) AS poi_type
         |  FROM customer),
         |blocked AS (
         |  SELECT p.user_id, p.k, poi.poi_id, poi.poi_type,
         |         ${haversineSql("p.lat", "p.lon", "poi.plat", "poi.plon")} AS dist
         |  FROM pts p JOIN poi
         |    ON ${geohashSql("p.lat", "p.lon", 2)} = ${geohashSql("poi.plat", "poi.plon", 2)}),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id, k
         |            ORDER BY dist ASC, poi_id ASC) AS rn
         |  FROM blocked)
         |SELECT user_id, k, poi_id, poi_type, round(dist, 1) AS dist_m
         |FROM ranked WHERE rn = 1 ORDER BY user_id, k""".stripMargin),

    // ── J4/A8 end product: land-use type-portion matrix
    //    (cal_subarea_portion.py:34-76,285-302 — 8-level cascading
    //    type-priority join, then per (region, type, hour) counts; long
    //    form, never a driver matrix). Type dictionary = POIs with a
    //    deterministic class; per-fix type resolves through the same
    //    cascading-precision fallback as region assignment, sentinel 8 =
    //    "no type matched" (reference's fillna('8')) ──
    ("g13_type_portion",
      (s: SparkSession, dir: String) => {
        val poiDict = Tables(s, dir, "customer")
          .select(col("c_custkey"),
            latFromKey(col("c_custkey")).as("plat"),
            lonFromKey(col("c_custkey")).as("plon"),
            (pmod(col("c_custkey"), lit(7)) + 1).cast("long").as("poi_type"))
        val fixes = Tables.events(s, dir)
          .select(col("user_id"), col("ts"),
            fixKey(col("user_id"), col("ts")).as("k"))
          .withColumn("lat", latFromKey(col("k")))
          .withColumn("lon", lonFromKey(col("k")))
          .withColumn("hour", date_trunc("hour", col("ts")))
          .withColumn("region", GeoFunctions.geohashCol(col("lat"), col("lon"), 3))
        RegionAssign.assign(fixes, col("lat"), col("lon"),
            poiDict, col("plat"), col("plon"), col("poi_type"),
            precisions = Seq(4, 3), sentinel = 8L)
          .groupBy(col("hour"), col("region"), col("agent_id").as("type"))
          .agg(count(lit(1)).as("cnt"))
          .select(tsSec(col("hour")).as("hour"), col("region"), col("type"), col("cnt"))
          .orderBy(col("hour"), col("region"), col("type"))
      },
      s"""WITH dict AS (
         |  SELECT c_custkey, ${latFromKeySql("c_custkey")} AS plat,
         |         ${lonFromKeySql("c_custkey")} AS plon,
         |         CAST(c_custkey % 7 + 1 AS BIGINT) AS poi_type
         |  FROM customer),
         |d4 AS (
         |  SELECT ${geohashSql("plat", "plon", 4)} AS gh4, min(poi_type) AS t4
         |  FROM dict GROUP BY 1),
         |d3 AS (
         |  SELECT ${geohashSql("plat", "plon", 3)} AS gh3, min(poi_type) AS t3
         |  FROM dict GROUP BY 1),
         |fx AS (
         |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         |         ${latFromKeySql(s"(${fixKeySql("user_id", "ts")})")} AS lat,
         |         ${lonFromKeySql(s"(${fixKeySql("user_id", "ts")})")} AS lon
         |  FROM events),
         |typed AS (
         |  SELECT fx.hour, ${geohashSql("fx.lat", "fx.lon", 3)} AS region,
         |         CAST(coalesce(d4.t4, d3.t3, 8) AS BIGINT) AS type
         |  FROM fx
         |  LEFT JOIN d4 ON ${geohashSql("fx.lat", "fx.lon", 4)} = d4.gh4
         |  LEFT JOIN d3 ON ${geohashSql("fx.lat", "fx.lon", 3)} = d3.gh3)
         |SELECT ${tsSecSql("hour")} AS hour, region, type,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM typed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ── A4/A8: OD mobility transitions, long form
    //    (cal_mobility_matrix.py:167-185 — '(pre;cur;hour)' reduceByKey →
    //    one hash aggregation; matrices stay relational) ──
    ("g09_mobility_od",
      (s: SparkSession, dir: String) => {
        // transitions come straight from the gap-fill generator (each
        // state row knows its predecessor) — no lag window over the
        // completed trajectory, one fewer shuffle+sort. The oracle keeps
        // the lag form; equality of the two IS the judged property.
        Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .groupBy(col("hour"), col("src"), col("dst"))
          .agg(count(lit(1)).as("cnt"))
          .select(tsSec(col("hour")).as("hour"), col("src"), col("dst"), col("cnt"))
          .orderBy(col("hour"), col("src"), col("dst"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj)
         |SELECT ${tsSecSql("hour")} AS hour, src, region AS dst,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM seq WHERE src IS NOT NULL
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ── A9: row-normalized transition fractions
    //    (cal_mobility_matrix.py:188-197 — NumPy repmat division → one
    //    window sum + one exact division; NaN-free by construction) ──
    ("g10_mobility_frac",
      (s: SparkSession, dir: String) => {
        // ONE shuffle serves both downstream operators: hash-partitioning
        // on (hour, src) satisfies the count-agg's clustering requirement
        // (its keys are a superset) AND the frac window's partitioning —
        // without it the plan exchanges once for the agg on (hour, src,
        // dst) and AGAIN for the window on (hour, src). Trade-off: the
        // partial (map-side) combine before the shuffle is lost, which is
        // cheap here because transitions are nearly unique per OD cell.
        val od = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .repartition(col("hour"), col("src"))
          .groupBy(col("hour"), col("src"), col("dst"))
          .agg(count(lit(1)).as("cnt"))
        od.withColumn("tot",
            sum(col("cnt")).over(Window.partitionBy(col("hour"), col("src"))))
          .select(tsSec(col("hour")).as("hour"), col("src"), col("dst"), col("cnt"),
            (col("cnt").cast("double") / col("tot").cast("double")).as("frac"))
          .orderBy(col("hour"), col("src"), col("dst"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |od AS (
         |  SELECT hour, src, region AS dst, count(*) AS cnt
         |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2, 3)
         |SELECT ${tsSecSql("hour")} AS hour, src, dst, CAST(cnt AS BIGINT) AS cnt,
         |       CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY hour, src) AS DOUBLE) AS frac
         |FROM od ORDER BY hour, src, dst""".stripMargin),

    // ── A9 reference-faithful form: the paper's mobility fraction matrix
    //    (cal_mobility_matrix.py:188-197). In the dense matrix M[dst][src]:
    //    fill_diagonal(M, diag(M) + M['0', :]) folds each region's exits
    //    (src → sentinel '0') onto its self-loop — WITHOUT zeroing the '0'
    //    row, so the exit mass appears both on the diagonal and in the
    //    retained dst='0' cells (reproduced exactly); then every column is
    //    divided by the (hour, region) presence population of the SRC
    //    region (repmat(region_ppl)). The reference's np.nan_to_num maps
    //    0-pop cells to 0; a transition out of a region with zero presence
    //    at the SAME hour (possible: presence was at hour-1) would hit
    //    x/0 = inf, which we also guard to 0 instead of numpy's
    //    1.8e308 artifact. Long form throughout — the matrix never
    //    materializes on the driver. ──
    ("g10b_mobility_frac_ref",
      (s: SparkSession, dir: String) => {
        // one persisted pass over the windowed hourly state feeds both the
        // transition counts and the presence (population) vector.
        // ONE (hour, src) shuffle carries the whole left side: it
        // satisfies the OD count-agg (keys are a superset), survives the
        // diagonal re-key (explode keeps rows in place, and only dst —
        // not a partitioning column — changes), satisfies the re-agg,
        // and co-partitions the population join. The re-key itself is a
        // single-branch generator: a dst='0' row emits BOTH its
        // diagonal-folded copy and the retained '0' row (the reference
        // keeps both, cal_mobility_matrix.py:188-189) — a two-branch
        // union would destroy the partitioning info AND read od twice.
        // ([[mobilityFracRef]] — the tail is shared verbatim with g40.)
        mobilityFracRef(Trajectory.hourlyState(Tables.events(s, dir)).persist())
      },
      Trajectory.trajSqlPrelude + mobilityFracRefTailSql),

    // ── A3/W2 composed into the reference's FULL home-region predicate
    //    (cal_user_trace.py:50-82 + _count_only_one_ts:122): a night
    //    window runs [d 19:00, d+1 07:00]; a night counts toward a user's
    //    home mode only if their LATEST fix in the window is ≤ d+1 01:00
    //    ("settled by 1am" — windowed max) AND they visited exactly ONE
    //    region that night (countDistinct == 1). Mode over qualifying
    //    nights, ties broken by region string; users with no qualifying
    //    night are absent (the reference leaves them ''). One aggregation
    //    per gate — not the reference's 29 sequential per-night joins. ──
    ("g06b_home_region_gated",
      (s: SparkSession, dir: String) => {
        // sentinel '0' rows (gap-fill exits/absences) are NOT region
        // visits: left in, they would disqualify genuine single-region
        // nights (every user's final night gains a phantom second
        // "region") or even crown '0' itself as a home region
        val night = Trajectory.complete(Tables.events(s, dir))
          .where((hour(col("hour")) >= 19 || hour(col("hour")) <= 7)
            && col("region") =!= "0")
          // night id = calendar date of the window's 19:00 start
          .withColumn("nd", to_date(col("hour") - expr("INTERVAL 8 HOURS")))
        val gated = night.groupBy(col("user_id"), col("nd"))
          .agg(max(col("hour")).as("mx"),
            countDistinct(col("region")).as("nr"),
            min(col("region")).as("region"))
          .where(col("mx") <= col("nd").cast("timestamp") + expr("INTERVAL 25 HOURS")
            && col("nr") === 1)
        val counts = gated.groupBy(col("user_id"), col("region"))
          .agg(count(lit(1)).as("n_nights"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("n_nights").desc, col("region").asc)
        counts.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("region").as("home_region"), col("n_nights"))
          .orderBy(col("user_id"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |night AS (
         |  SELECT user_id, CAST(hour - INTERVAL 8 HOUR AS DATE) AS nd, hour, region
         |  FROM traj WHERE (hour(hour) >= 19 OR hour(hour) <= 7) AND region <> '0'),
         |gated AS (
         |  SELECT user_id, nd, min(region) AS region
         |  FROM night GROUP BY 1, 2
         |  HAVING max(hour) <= CAST(nd AS TIMESTAMP) + INTERVAL 25 HOUR
         |     AND count(DISTINCT region) = 1),
         |counts AS (
         |  SELECT user_id, region, count(*) AS n_nights FROM gated GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |            ORDER BY n_nights DESC, region ASC) AS rn
         |  FROM counts)
         |SELECT user_id, region AS home_region, CAST(n_nights AS BIGINT) AS n_nights
         |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // ── J4 at reference depth: the 8-level type-priority cascade of
    //    cal_subarea_portion.py:34-76 — SEVEN precision levels plus the
    //    sentinel default (the reference's fillna('8')). Same RegionAssign
    //    code path as g13, exercised at full depth: the fact side probes
    //    all 7 levels in one region lookup, with no join and no shuffle
    //    until the final count aggregation (pinned by PlanQualitySpec). ──
    ("g13b_type_portion_deep",
      (s: SparkSession, dir: String) => {
        val poiDict = Tables(s, dir, "customer")
          .select(col("c_custkey"),
            latFromKey(col("c_custkey")).as("plat"),
            lonFromKey(col("c_custkey")).as("plon"),
            (pmod(col("c_custkey"), lit(7)) + 1).cast("long").as("poi_type"))
        val fixes = Tables.events(s, dir)
          .select(col("user_id"), col("ts"),
            fixKey(col("user_id"), col("ts")).as("k"))
          .withColumn("lat", latFromKey(col("k")))
          .withColumn("lon", lonFromKey(col("k")))
          .withColumn("hour", date_trunc("hour", col("ts")))
          .withColumn("region", GeoFunctions.geohashCol(col("lat"), col("lon"), 3))
        RegionAssign.assign(fixes, col("lat"), col("lon"),
            poiDict, col("plat"), col("plon"), col("poi_type"),
            precisions = CascadePrecisions, sentinel = 8L)
          .groupBy(col("hour"), col("region"), col("agent_id").as("type"))
          .agg(count(lit(1)).as("cnt"))
          .select(tsSec(col("hour")).as("hour"), col("region"), col("type"), col("cnt"))
          .orderBy(col("hour"), col("region"), col("type"))
      },
      {
        val dicts = CascadePrecisions.map(p =>
          s"""d$p AS (
             |  SELECT ${geohashSql("plat", "plon", p)} AS gh$p, min(poi_type) AS t$p
             |  FROM dict GROUP BY 1)""".stripMargin).mkString(",\n")
        val joins = CascadePrecisions.map(p =>
          s"  LEFT JOIN d$p ON ${geohashSql("fx.lat", "fx.lon", p)} = d$p.gh$p")
          .mkString("\n")
        val coal = CascadePrecisions.map(p => s"d$p.t$p").mkString(", ")
        s"""WITH dict AS (
           |  SELECT c_custkey, ${latFromKeySql("c_custkey")} AS plat,
           |         ${lonFromKeySql("c_custkey")} AS plon,
           |         CAST(c_custkey % 7 + 1 AS BIGINT) AS poi_type
           |  FROM customer),
           |$dicts,
           |fx AS (
           |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           |         ${latFromKeySql(s"(${fixKeySql("user_id", "ts")})")} AS lat,
           |         ${lonFromKeySql(s"(${fixKeySql("user_id", "ts")})")} AS lon
           |  FROM events),
           |typed AS (
           |  SELECT fx.hour, ${geohashSql("fx.lat", "fx.lon", 3)} AS region,
           |         CAST(coalesce($coal, 8) AS BIGINT) AS type
           |  FROM fx
           |$joins)
           |SELECT ${tsSecSql("hour")} AS hour, region, type,
           |       CAST(count(*) AS BIGINT) AS cnt
           |FROM typed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
      }),

    // ── J4 + F11 composed: the reference's NEIGHBOR-EXPANDED cascade
    //    (cal_orig_area.py:62-72, cal_subarea_portion.py:170-178) — every
    //    dictionary cell claims itself + its 8 adjacent cells before the
    //    join, so a fix one cell away from a POI still matches at that
    //    precision instead of falling through to a coarser level. Same
    //    fact-side plan as g04 (one region lookup); only the (small)
    //    dictionary side pays the 3×3 expansion. ──
    ("g16_region_assign_neighbors",
      (s: SparkSession, dir: String) => {
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
          .withColumn("lat", latFromKey(col("c_custkey")))
          .withColumn("lon", lonFromKey(col("c_custkey")))
        RegionAssign.assign(points(s, dir), col("lat"), col("lon"),
            cust, col("lat"), col("lon"), col("c_nationkey"),
            precisions = Seq(4, 3), sentinel = -1L,
            expandNeighbors = true)
          .select(col("user_id"), col("k"), col("agent_id"))
          .orderBy(col("user_id"), col("k"))
      },
      {
        s"""WITH $pointsSql,
           |dict AS (
           |  SELECT c_custkey, c_nationkey,
           |         ${latFromKeySql("c_custkey")} AS lat, ${lonFromKeySql("c_custkey")} AS lon
           |  FROM customer),
           |offs AS (SELECT unnest([-1, 0, 1]) AS d),
           |${nbDictSql(4)},
           |${nbDictSql(3)}
           |SELECT p.user_id, p.k,
           |       CAST(coalesce(d4.agent_4, d3.agent_3, -1) AS BIGINT) AS agent_id
           |FROM pts p
           |LEFT JOIN d4 ON ${geohashSql("p.lat", "p.lon", 4)} = d4.gh4
           |LEFT JOIN d3 ON ${geohashSql("p.lat", "p.lon", 3)} = d3.gh3
           |ORDER BY p.user_id, p.k""".stripMargin
      }),

    // ── A7, literal reference shape: the ABSOLUTE-hour wide presence
    //    matrix (cal_user_trace.py:30-43 — one count column per hour of
    //    the study window; 744 over the reference's month). g14 pivots
    //    hour-of-day; this pivots the first [[WideHours]] absolute hours
    //    of the corpus, columns indexed RELATIVE to the corpus' first
    //    hour so the schema is fixed while the window can move — exactly
    //    how a 744-wide month materializes from the long form (g05) at
    //    any scale: one min() pass broadcast back, one pivot. Rows
    //    outside the window are filtered BEFORE the pivot shuffle. ──
    ("g17_wide_hour_matrix",
      (s: SparkSession, dir: String) => wideHourMatrix(s, dir, WideHours),
      wideHourOracle(WideHours)),

    // ── A7 at the LITERAL reference width: the full 744-column month
    //    (31 days × 24 h — cal_user_trace.py:30-43 materializes exactly
    //    this frame). Same plan as g17 (one min() broadcast + one pivot
    //    over pre-filtered rows); the only difference is that all 744
    //    absolute-hour columns are real, so the judged schema IS the
    //    reference's frame. Hours past the corpus' span judge as honest
    //    zero columns — the month window is the reference's fixed study
    //    period, not data-derived. ──
    ("g17b_wide_hour_month",
      (s: SparkSession, dir: String) => wideHourMatrix(s, dir, 744),
      wideHourOracle(744)),

    // ── g18: Morton (z-order) spatial clustering — the write-side layout
    //    operator for 100-TB geo scans. Interleaving the lon/lat cell
    //    bits gives a 1-D key whose ranges are spatially compact, so
    //    repartitionByRange(zkey) + sortWithinPartitions(zkey) lands
    //    parquet whose row-group min/max statistics prune bbox queries
    //    (points near each other share files, not a random scatter). The
    //    judged output aggregates per coarse z-cell (top bits) AFTER a
    //    real write→read round-trip through the clustered layout; the
    //    oracle derives the same key arithmetically — the spread ladder
    //    is exact 64-bit integer math in both engines. ──
    ("g18_zorder_locality",
      (s: SparkSession, dir: String) => {
        val tmp = scratchPath("zorder_sink")
        val p = 6 // 15-bit axis indices → 30-bit zkey
        val pts = points(s, dir)
          .withColumn("xi", GeoFunctions.lonIndexCol(col("lon"), p))
          .withColumn("yi", GeoFunctions.latIndexCol(col("lat"), p))
          .withColumn("zkey",
            mortonSpread(col("xi")).bitwiseOR(shiftleft(mortonSpread(col("yi")), 1)))
          .persist()
        // partition count derives from data volume (rows / target file
        // rows), never a literal: the clustered-write fan-out must grow
        // with the corpus or 100 TB funnels through a fixed-width sort.
        // One count() job over the persisted frame prices the layout.
        val parts = zorderPartitions(pts.count())
        pts.repartitionByRange(parts, col("zkey"))
          .sortWithinPartitions(col("zkey"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(shiftright(col("zkey"), 20).as("zcell"))
          .agg(count(lit(1)).as("n"),
            min(col("zkey")).as("min_z"), max(col("zkey")).as("max_z"))
          .orderBy(col("zcell"))
      },
      s"""WITH ${pointsSql},
         |xy AS (
         |  SELECT ${lonIndexSql("lon", 6)} AS xi, ${latIndexSql("lat", 6)} AS yi
         |  FROM pts),
         |z AS (
         |  SELECT ${mortonSpreadSql("xi")} | (${mortonSpreadSql("yi")} << 1) AS zkey
         |  FROM xy)
         |SELECT zkey >> 20 AS zcell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(zkey) AS BIGINT) AS min_z, CAST(max(zkey) AS BIGINT) AS max_z
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── g20: triangle counting over the region transition graph — the
    //    third graph-analytics pattern (after t10's components and g19's
    //    PageRank), built the way it scales: DEGREE-ORIENTED wedges.
    //    Every undirected edge is oriented from its (degree, id)-smaller
    //    endpoint to its larger one, so each wedge is enumerated at its
    //    lowest-degree vertex — the hub that would otherwise emit
    //    deg²/2 wedges emits almost none (arboricity bound; the
    //    standard MapReduce triangle trick). Three equi-joins, zero
    //    cartesian products, all-integer arithmetic. Edge table is
    //    region²-bounded here, but nothing in the plan relies on that:
    //    the same three shuffles work on a billion-edge graph. ──
    ("g20_triangle_count",
      (s: SparkSession, dir: String) => {
        // persisted: every downstream leg (degrees ×2, orientation,
        // wedge ×2, closing) would otherwise re-run the whole trajectory
        // lineage; the deduped edge table is region²-bounded
        val und = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= col("dst") && col("src") =!= "0" && col("dst") =!= "0")
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
          .persist()
        val deg = und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
        // orient a→b iff (deg, id) of a < of b; carry BOTH endpoint keys
        // so the wedge and closing joins compare the same total order
        val oriented = und
          .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
          .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
          .select(
            when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
              struct(col("a").as("lo"), col("b").as("hi"), col("db").as("dhi")))
              .otherwise(
                struct(col("b").as("lo"), col("a").as("hi"), col("da").as("dhi")))
              .as("e"))
          .select(col("e.lo"), col("e.hi"), col("e.dhi"))
          .persist()
        val e1 = oriented.select(col("lo").as("u"), col("hi").as("v"), col("dhi").as("dv"))
        val e2 = oriented.select(col("lo").as("u2"), col("hi").as("w"), col("dhi").as("dw"))
        val wedges = e1.join(e2, col("u") === col("u2")
            && (col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w"))))
          .select(col("v"), col("w"))
        val closing = oriented.select(col("lo").as("cv"), col("hi").as("cw"))
        wedges.join(closing, col("v") === col("cv") && col("w") === col("cw"))
          .agg(count(lit(1)).as("n_triangles"))
          .select(col("n_triangles"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, region) AS a, greatest(src, region) AS b
         |  FROM seq
         |  WHERE src IS NOT NULL AND src <> region AND src <> '0' AND region <> '0'),
         |deg AS MATERIALIZED (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY v),
         |oriented AS MATERIALIZED (
         |  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS lo,
         |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS hi,
         |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b) THEN db.d ELSE da.d END AS dhi
         |  FROM und u
         |  JOIN deg da ON da.v = u.a
         |  JOIN deg db ON db.v = u.b),
         |wedges AS (
         |  SELECT e1.hi AS v, e2.hi AS w
         |  FROM oriented e1 JOIN oriented e2
         |    ON e1.lo = e2.lo
         |   AND ((e1.dhi < e2.dhi) OR (e1.dhi = e2.dhi AND e1.hi < e2.hi)))
         |SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |FROM wedges JOIN oriented c ON wedges.v = c.lo AND wedges.w = c.hi""".stripMargin),

    // ── g19: PageRank over the region transition graph — the iterative-
    //    algorithm pattern (same family as t10's label propagation):
    //    driver loop launches jobs, rows never leave the cluster,
    //    `Fixpoint.pin` cuts the lineage each round. All arithmetic is
    //    FIXED-POINT BIGINT (rank in 1e-12 units, integer division) so
    //    five chained iterations stay bit-identical across engines —
    //    float PageRank could never hash-match an oracle. Edges are the
    //    OD matrix aggregated once (region² bounded, independent of raw
    //    row count), so iteration cost does not grow with data scale.
    //    Contribution is (pr DIV out_w) * w, bounding every term by the
    //    source's rank — overflow-safe at any corpus size. ──
    ("g19_region_pagerank",
      (s: SparkSession, dir: String) => {
        val (ew, nodes, r0) = pagerankInputs(s, dir)
        var ranks = r0
        for (_ <- 1 to 5)
          ranks = Fixpoint.pin(pagerankIterate(ew, nodes, ranks), bounded = true)
        ranks.orderBy(col("region"))
      },
      {
        def iter(prev: String) =
          s"""SELECT n.region, 150000000000 + (85 * COALESCE(i.s, 0)) // 100 AS pr
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, sum((p.pr // o.ow) * e.w) AS s
             |    FROM $prev p
             |    JOIN outw o ON p.region = o.src
             |    JOIN edges e ON e.src = p.region
             |    GROUP BY 1) i ON i.dst = n.region""".stripMargin
        s"""${Trajectory.trajSqlPrelude},
           |seq AS (
           |  SELECT user_id, hour, region,
           |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
           |  FROM traj),
           |edges AS MATERIALIZED (
           |  SELECT src, region AS dst, CAST(count(*) AS BIGINT) AS w
           |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
           |nodes AS MATERIALIZED (SELECT src AS region FROM edges UNION SELECT dst FROM edges),
           |outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
           |r0 AS MATERIALIZED (SELECT region, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
           |r1 AS MATERIALIZED (${iter("r0")}),
           |r2 AS MATERIALIZED (${iter("r1")}),
           |r3 AS MATERIALIZED (${iter("r2")}),
           |r4 AS MATERIALIZED (${iter("r3")}),
           |r5 AS MATERIALIZED (${iter("r4")})
           |SELECT region, CAST(pr AS BIGINT) AS pr FROM r5 ORDER BY region""".stripMargin
      }),

    // ── g36: weighted label propagation — community detection on the
    //    region transition graph (Raghavan et al. 2007), completing the
    //    graph family (g20 triangles, g19 pagerank, g33 bfs, t10
    //    connected components). Three SYNCHRONOUS rounds: every region
    //    adopts the label carrying the largest incident edge weight,
    //    ties broken (max weight, then min label) so the argmax chain is
    //    bit-stable — synchronous + fixed rounds is what makes LPA
    //    judgeable at all (asynchronous LPA is order-dependent by
    //    construction). The scale shape: the weighted adjacency is the
    //    OD matrix aggregated once (region²-bounded, independent of raw
    //    row count); per round the label frame rides a BROADCAST into
    //    the adjacency join, and the vote is two nested hash-aggs whose
    //    second (per-v argmax as min(struct(-w, lbl))) reuses the
    //    first's (v, lbl) partitioning — one shuffle per round, no
    //    window sort, `Fixpoint.pin` cutting the chain. ──
    ("g36_label_communities",
      (s: SparkSession, dir: String) => {
        val trans = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= col("dst") && col("src") =!= "0" && col("dst") =!= "0")
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        val adj = trans.select(col("src").as("v"), col("dst").as("u"), col("w"))
          .unionByName(trans.select(col("dst").as("v"), col("src").as("u"), col("w")))
          .groupBy(col("v"), col("u")).agg(sum(col("w")).as("w"))
          .persist()
        var labels = adj.select(col("v")).distinct()
          .select(col("v"), col("v").as("lbl"))
        for (_ <- 1 to 3) {
          labels = Fixpoint.pin(adj
            .join(broadcast(labels.select(col("v").as("u"), col("lbl"))), "u")
            .groupBy(col("v"), col("lbl")).agg(sum(col("w")).as("wsum"))
            .groupBy(col("v"))
            .agg(min(struct((-col("wsum")).as("nw"), col("lbl").as("lbl"))).as("m"))
            .select(col("v"), col("m.lbl").as("lbl")), bounded = true)
        }
        labels.select(col("v").as("region"), col("lbl").as("community"))
          .orderBy(col("region"))
      },
      {
        def iter(prev: String) =
          s"""SELECT v, lbl FROM (
             |  SELECT v, lbl, row_number() OVER (
             |      PARTITION BY v ORDER BY wsum DESC, lbl ASC) AS rn
             |  FROM (
             |    SELECT a.v, l.lbl, sum(a.w) AS wsum
             |    FROM adj a JOIN $prev l ON l.v = a.u
             |    GROUP BY 1, 2)) WHERE rn = 1""".stripMargin
        s"""${Trajectory.trajSqlPrelude},
           |seq AS (
           |  SELECT user_id, hour, region,
           |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
           |  FROM traj),
           |tr AS (
           |  SELECT src, region AS dst, CAST(count(*) AS BIGINT) AS w
           |  FROM seq
           |  WHERE src IS NOT NULL AND src <> region AND src <> '0' AND region <> '0'
           |  GROUP BY 1, 2),
           |adj AS (
           |  SELECT v, u, CAST(sum(w) AS BIGINT) AS w FROM (
           |    SELECT src AS v, dst AS u, w FROM tr
           |    UNION ALL SELECT dst, src, w FROM tr)
           |  GROUP BY 1, 2),
           |l0 AS (SELECT DISTINCT v, v AS lbl FROM adj),
           |l1 AS (${iter("l0")}),
           |l2 AS (${iter("l1")}),
           |l3 AS (${iter("l2")})
           |SELECT v AS region, lbl AS community FROM l3 ORDER BY region""".stripMargin
      }),

    // ── w04b: dense ID minting at REAL key cardinality — the scale-safe
    //    form of region.py:51-52 (dense_rank over a constant key: a
    //    single-partition sort of every distinct cell — the exact hazard
    //    SURVEY §4.2.4 documents, judged only on a small dim by w04).
    //    The t13b two-pass trick applied to ID assignment: (1) range-
    //    repartition the distinct cells and row_number WITHIN each
    //    partition (keys are distinct and range-disjoint, so the local
    //    rank ordered by key IS a local dense rank); (2) per-partition
    //    counts (#partitions rows) get the only single-partition window,
    //    prefix-summed into offsets and broadcast back. offset + local
    //    rank == global dense_rank for ANY boundary placement, so the
    //    result is deterministic and identical to the oracle's one-window
    //    form while every corpus-sized pass stays parallel. ──
    ("w04b_id_minting_scaled",
      (s: SparkSession, dir: String) => {
        val cells = points(s, dir)
          .select(GeoFunctions.geohashCol(col("lat"), col("lon"), 5).as("gh5"))
          .distinct()
        val parted = cells.repartitionByRange(32, col("gh5"))
          .withColumn("pid", spark_partition_id())
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("gh5"))
        // persisted: both consumers (offsets and the final join) must read
        // ONE materialization of the range exchange — if exchange reuse were
        // disabled, two executions could sample different RangePartitioner
        // boundaries and the pid-based offsets would disagree with the local
        // ranks. The cache pins a single RDD lineage regardless of config.
        val local = parted.withColumn("lrk", row_number().over(wLocal)).persist()
        val wOff = Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("pn"))
          .withColumn("off", coalesce(sum(col("pn")).over(wOff), lit(0L)))
          .select(col("pid"), col("off"))
        local.join(broadcast(offsets), "pid")
          .select(col("gh5"), (col("off") + col("lrk")).cast("long").as("region_id"))
          .orderBy(col("gh5"))
      },
      s"""WITH $pointsSql,
         |cells AS (SELECT DISTINCT ${geohashSql("lat", "lon", 5)} AS gh5 FROM pts)
         |SELECT gh5, CAST(dense_rank() OVER (ORDER BY gh5) AS BIGINT) AS region_id
         |FROM cells ORDER BY gh5""".stripMargin),

    // ── g24: STAY-POINT detection — the trajectory-mining primitive the
    //    pedestrian-flow literature builds on (a "stay" = consecutive
    //    fixes within a radius for a minimum duration; home/work
    //    inference, g06, consumes exactly these). The classic anchor
    //    algorithm is sequential; the distributed formulation segments
    //    on lag-distance jumps (> 1 km from the PREVIOUS fix starts a
    //    new segment), then aggregates segments — per-user windows plus
    //    one hash agg, no driver loop, no self-join. Positions come from
    //    the event's own `props.k` site payload (100 sites ≥ 11 km
    //    apart, so the 1 km radius binds exactly on same-site runs —
    //    the threshold semantics stay general, the data keeps the
    //    judged boundary away from float edges). Stays must hold ≥ 2
    //    fixes for ≥ 30 min. ──
    ("g24_stay_points",
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pts = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .select(col("user_id"), col("ts"), col("event_id"),
            latFromKey(col("k")).as("lat"), lonFromKey(col("k")).as("lon"))
        pts
          .withColumn("plat", lag(col("lat"), 1).over(w))
          .withColumn("plon", lag(col("lon"), 1).over(w))
          .withColumn("b",
            when(col("plat").isNull ||
              GeoFunctions.haversineCol(col("plat"), col("plon"),
                col("lat"), col("lon")) > 1000.0, 1L).otherwise(0L))
          .withColumn("sid", sum(col("b")).over(wRun))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).as("n_points"),
            min(col("ts")).as("t0"), max(col("ts")).as("t1"),
            min(col("lat")).as("lat"), min(col("lon")).as("lon"))
          .where(col("n_points") >= 2 &&
            unix_timestamp(col("t1")) - unix_timestamp(col("t0")) >= 1800)
          .select(col("user_id"), tsSec(col("t0")).as("stay_start"),
            tsSec(col("t1")).as("stay_end"), col("n_points"),
            col("lat"), col("lon"))
          .orderBy(col("user_id"), col("stay_start"))
      },
      s"""WITH pk AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |         CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
         |  FROM events),
         |pts AS (
         |  SELECT user_id, ts, event_id,
         |         ${latFromKeySql("k")} AS lat, ${lonFromKeySql("k")} AS lon
         |  FROM pk),
         |seq AS (
         |  SELECT *, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
         |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |brk AS (
         |  SELECT *, CASE WHEN plat IS NULL
         |                   OR ${haversineSql("plat", "plon", "lat", "lon")} > 1000.0
         |                 THEN 1 ELSE 0 END AS b
         |  FROM seq),
         |seg AS (
         |  SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                         ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM brk),
         |stays AS (
         |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_points,
         |         min(ts) AS t0, max(ts) AS t1,
         |         min(lat) AS lat, min(lon) AS lon
         |  FROM seg GROUP BY 1, 2)
         |SELECT user_id, ${tsSecSql("t0")} AS stay_start, ${tsSecSql("t1")} AS stay_end,
         |       n_points, lat, lon
         |FROM stays
         |WHERE n_points >= 2 AND date_diff('second', t0, t1) >= 1800
         |ORDER BY user_id, stay_start""".stripMargin),

    // ── g25: RADIUS OF GYRATION per user — the standard human-mobility
    //    dispersal metric (rg = √(mean squared distance of every fix
    //    from the user's fix centroid); the pedestrian-flow literature
    //    characterizes population movement by its rg distribution).
    //    Determinism recipe: the centroid averages scaled-long lat/lon
    //    (one-decimal grid → exact BIGINTs, summation order can't
    //    matter), per-fix haversine distances round to whole meters
    //    BEFORE the sum-of-squares (so the only cross-engine trig ulp
    //    sits far from the judged digit), and the squared sums stay
    //    < 2⁶³ at any fix count that fits a user. Two hash aggs + one
    //    broadcastable centroid join — fully parallel per user. ──
    ("g25_radius_of_gyration",
      (s: SparkSession, dir: String) => {
        val pts = Tables.events(s, dir)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .select(col("user_id"),
            latFromKey(col("k")).as("lat"), lonFromKey(col("k")).as("lon"))
        val cent = pts.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_fixes"),
            sum(round(col("lat") * 10).cast("long")).as("slat"),
            sum(round(col("lon") * 10).cast("long")).as("slon"))
          .select(col("user_id"), col("n_fixes"),
            ((col("slat").cast("double") / 10.0) / col("n_fixes").cast("double")).as("clat"),
            ((col("slon").cast("double") / 10.0) / col("n_fixes").cast("double")).as("clon"))
        // cent is ONE ROW PER USER — a fact-derived cardinality that grows
        // with the corpus (~3.4M at reference scale), so broadcasting it is
        // a driver/executor OOM at 100×. Shuffle-hash join instead: cent
        // leaves groupBy(user_id) already hash-partitioned on the join key
        // (its exchange is reused), and pts pays the one shuffle a per-user
        // join fundamentally needs. The hint also stops AQE from "helpfully"
        // broadcasting at test scale, so the judged plan IS the 100-TB plan.
        pts.join(cent.hint("shuffle_hash"), Seq("user_id"))
          .select(col("user_id"), col("n_fixes"),
            round(GeoFunctions.haversineCol(col("lat"), col("lon"),
              col("clat"), col("clon"))).cast("long").as("dm"))
          .groupBy(col("user_id"))
          .agg(min(col("n_fixes")).as("n_fixes"),
            round(sqrt(sum(col("dm") * col("dm")).cast("double") /
              count(lit(1)).cast("double")), 1).as("rg_m"))
          .orderBy(col("user_id"))
      },
      s"""WITH pk AS (
         |  SELECT user_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
         |  FROM events),
         |gpts AS (
         |  SELECT user_id, ${latFromKeySql("k")} AS lat, ${lonFromKeySql("k")} AS lon
         |  FROM pk),
         |cent AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_fixes,
         |         (CAST(sum(CAST(round(lat * 10, 0) AS BIGINT)) AS DOUBLE) / 10.0)
         |           / CAST(count(*) AS DOUBLE) AS clat,
         |         (CAST(sum(CAST(round(lon * 10, 0) AS BIGINT)) AS DOUBLE) / 10.0)
         |           / CAST(count(*) AS DOUBLE) AS clon
         |  FROM gpts GROUP BY 1),
         |d AS (
         |  SELECT p.user_id, c.n_fixes,
         |         CAST(round(${haversineSql("p.lat", "p.lon", "c.clat", "c.clon")}, 0) AS BIGINT) AS dm
         |  FROM gpts p JOIN cent c USING (user_id))
         |SELECT user_id, CAST(min(n_fixes) AS BIGINT) AS n_fixes,
         |       round(sqrt(CAST(sum(dm * dm) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 1) AS rg_m
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── g26: OD-FLOW ENTROPY per origin region — the mobility-diversity
    //    metric of the human-mobility literature (Shannon entropy of a
    //    region's destination distribution; predictable commuter origins
    //    score low, mixed-use origins high). Determinism recipe: counts
    //    are exact BIGINTs; the Σ c·ln(c) term folds over the DST-SORTED
    //    count list (collect_list → array_sort → aggregate ↔ DuckDB
    //    list(ORDER BY) → list_reduce — the dotFold discipline: identical
    //    summation order, so the only cross-engine delta is the ≤1-ulp
    //    libm ln per term, crushed by the final round(6)); entropy =
    //    ln(T) − Σ/T takes no per-term rounding. The n_dst=1 case is
    //    pinned to literal 0.0 on both sides — the float form would give
    //    ±0.0-signed dust there. Shape: two hash aggs; the per-src dst
    //    list is bounded by the REGION UNIVERSE (geohash-3 cells), not
    //    the corpus, so the collect_list cannot blow up at 100 TB. ──
    ("g26_od_entropy",
      (s: SparkSession, dir: String) => {
        val od = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("cnt"))
        val entRaw = log(col("n_trans").cast("double")) -
          col("sclnc") / col("n_trans").cast("double")
        od.groupBy(col("src"))
          .agg(count(lit(1)).as("n_dst"),
            sum(col("cnt")).as("n_trans"),
            aggregate(
              array_sort(collect_list(struct(col("dst"), col("cnt")))),
              lit(0.0),
              (acc, x) => acc + x.getField("cnt").cast("double") *
                log(x.getField("cnt").cast("double"))).as("sclnc"))
          .select(col("src"), col("n_dst"), col("n_trans"),
            when(col("n_dst") === 1, lit(0.0))
              .otherwise(round(entRaw, 6)).as("entropy"),
            when(col("n_dst") === 1, lit(0.0))
              .otherwise(round(entRaw / log(col("n_dst").cast("double")), 6))
              .as("norm_entropy"))
          .orderBy(col("src"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |od AS (
         |  SELECT src, region AS dst, count(*) AS cnt
         |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
         |ent AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS n_dst,
         |         CAST(sum(cnt) AS BIGINT) AS n_trans,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(list(CAST(cnt AS DOUBLE) ORDER BY dst),
         |                          c -> c * ln(c))),
         |           (acc, x) -> acc + x) AS sclnc
         |  FROM od GROUP BY 1)
         |SELECT src, n_dst, n_trans,
         |       CASE WHEN n_dst = 1 THEN 0.0
         |            ELSE round(ln(CAST(n_trans AS DOUBLE)) - sclnc / CAST(n_trans AS DOUBLE), 6)
         |       END AS entropy,
         |       CASE WHEN n_dst = 1 THEN 0.0
         |            ELSE round((ln(CAST(n_trans AS DOUBLE)) - sclnc / CAST(n_trans AS DOUBLE))
         |                       / ln(CAST(n_dst AS DOUBLE)), 6)
         |       END AS norm_entropy
         |FROM ent ORDER BY src""".stripMargin),

    // ── g27: K-ANONYMITY with spatial generalization — the privacy gate
    //    a telecom presence release applies before any table leaves the
    //    building: cells with fewer than K users are not published at
    //    full resolution but GENERALIZED to their parent geohash cell
    //    (gh3 → gh2, 32× the area); parents that still miss K are
    //    suppressed outright. The reference's fallback cascade (J4) run
    //    in reverse — coarsen until the anonymity set is big enough.
    //    n_users = count(*) is exact-per-user by the g05 one-row-per-
    //    (user, hour) trajectory invariant. Shape: one (hour, region)
    //    count agg persisted for its two consumers, then a second agg
    //    over ONLY the sub-K cells — both keyed hash aggs with map-side
    //    combine; the generalization step's input shrinks to the failing
    //    cells, so its shuffle is a sliver of the base table's. K=3:
    //    the synthetic presence table is sparse (mostly one user per
    //    cell-hour), and 3 is the largest K at which all three outcomes
    //    — publish, generalize, suppress — bind at BOTH judged SFs
    //    (measured: 141/40/68375 at sf0.01, 1310/56046/391712 at
    //    sf0.1). ──
    ("g27_k_anonymity",
      (s: SparkSession, dir: String) => {
        val K = 3L
        val base = Trajectory.complete(Tables.events(s, dir))
          .groupBy(col("hour"), col("region"))
          .agg(count(lit(1)).as("n_users"))
          .persist()
        val pass = base.where(col("n_users") >= K)
          .select(col("hour"), col("region").as("cell"),
            lit("gh3").as("level"), col("n_users"))
        val gen = base.where(col("n_users") < K)
          .groupBy(col("hour"), substring(col("region"), 1, 2).as("cell"))
          .agg(sum(col("n_users")).as("n_users"))
          .where(col("n_users") >= K)
          .select(col("hour"), col("cell"), lit("gh2").as("level"), col("n_users"))
        pass.unionByName(gen)
          .select(tsSec(col("hour")).as("hour"), col("cell"), col("level"),
            col("n_users"))
          .orderBy(col("hour"), col("level"), col("cell"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |base AS (
         |  SELECT hour, region, count(*) AS n FROM traj GROUP BY 1, 2),
         |pass AS (
         |  SELECT hour, region AS cell, 'gh3' AS level, n FROM base WHERE n >= 3),
         |gen AS (
         |  SELECT hour, substring(region, 1, 2) AS cell, 'gh2' AS level, sum(n) AS n
         |  FROM base WHERE n < 3 GROUP BY 1, 2
         |  HAVING sum(n) >= 3)
         |SELECT ${tsSecSql("hour")} AS hour, cell, level, CAST(n AS BIGINT) AS n_users
         |FROM (SELECT * FROM pass UNION ALL SELECT * FROM gen)
         |ORDER BY hour, level, cell""".stripMargin),

    // ── g30: the HOUR-OF-WEEK mobility profile — the 168-slot weekly
    //    rhythm the reference's simulation is built around (it cycles a
    //    168-matrix week through the chain, 1108Fit_para_multi.py:
    //    246-257; the paper's flow "characteristics" are exactly the
    //    weekday-commute-peak / flat-weekend structure of these slots).
    //    Transitions fold into (day-of-week, hour-of-day) slots with the
    //    move/stay split and an EXACT fixed-point move fraction
    //    (moves·10⁶ DIV total — integer on both engines, no double
    //    rounding). Day-of-week derives portably from epoch arithmetic
    //    ((days + 4) mod 7, 0 = Sunday — no engine calendar functions,
    //    whose week-start conventions differ). The dst = '0' departure
    //    sentinel keeps mass as a stay (the g09/siar od convention, so
    //    transition parity is inherited); '0'-src arrival rows drop.
    //    Output is 168-bounded regardless of corpus size; the single
    //    shuffle is the slot groupBy with map-side combine. ──
    ("g30_week_profile",
      (s: SparkSession, dir: String) => {
        val od = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .select(col("hour"), col("src"),
            when(col("dst") === "0", col("src")).otherwise(col("dst")).as("dst"))
          .where(col("src") =!= "0")
        od.select(
            expr("pmod(unix_timestamp(hour) DIV 86400 + 4, 7)").cast("long").as("dow"),
            hour(col("hour")).cast("long").as("hod"),
            when(col("src") =!= col("dst"), 1L).otherwise(0L).as("is_move"))
          .groupBy(col("dow"), col("hod"))
          .agg(count(lit(1)).as("n_slots"),
            sum(col("is_move")).as("n_moves"))
          .select(col("dow"), col("hod"), col("n_slots"), col("n_moves"),
            expr("(n_moves * 1000000) DIV n_slots").as("move_frac_ppm"))
          .orderBy(col("dow"), col("hod"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |od AS (
         |  SELECT hour, src,
         |         CASE WHEN region = '0' THEN src ELSE region END AS dst
         |  FROM seq WHERE src IS NOT NULL AND src <> '0'),
         |slots AS (
         |  SELECT (${epochSecSql("hour")} // 86400 + 4) % 7 AS dow,
         |         date_part('hour', hour) AS hod,
         |         CASE WHEN src <> dst THEN 1 ELSE 0 END AS is_move
         |  FROM od)
         |SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
         |       CAST(count(*) AS BIGINT) AS n_slots,
         |       CAST(sum(is_move) AS BIGINT) AS n_moves,
         |       (CAST(sum(is_move) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
         |         AS move_frac_ppm
         |FROM slots GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── g31: gravity-model distance decay — fit the power-law exponent
    //    of OD flow vs distance (flow ∝ dist^(-c), the canonical
    //    mobility-science statistic the reference's OD matrices feed:
    //    log-log OLS of aggregate flow on inter-centroid distance).
    //    Everything is one aggregation tree: region centroids are exact
    //    scaled-long means of fix coordinates, flows come from the g09
    //    transition generator, and the regression reduces to FIVE
    //    integer sums (Σx, Σy, Σxy, Σx², Σy² as round(·×1e6) BIGINTs —
    //    exact and order-independent, so a 1000-executor shuffle sums
    //    them bit-identically) followed by one closed-form Cramer solve
    //    on the single reduced row. No driver loop, no gradient
    //    iterations, no collect: the fit costs one pass over the OD
    //    pairs regardless of corpus size, and the pair table itself is
    //    region²-bounded. ln() may differ by ≤1 ulp across engines;
    //    the ×1e6 rounding makes a cross-engine mismatch need a value
    //    within ~1e-8 of a .5 boundary (the Portable haversine-class
    //    tolerance). ──
    ("g31_distance_decay",
      (s: SparkSession, dir: String) => {
        // two broadcast exchanges (src / dst centroid legs) would each
        // re-run the centroid scan+agg; persist computes it once per run
        // (intra-query reuse — r17 opt, guide §5 caching)
        val cent = regionCentroids(s, dir)
          .select(col("region"), col("clat"), col("clon")).persist()
        val flows = regionFlows(s, dir)
        val pairs = flows
          .join(broadcast(cent.select(col("region").as("src"),
            col("clat").as("s_lat"), col("clon").as("s_lon"))), Seq("src"))
          .join(broadcast(cent.select(col("region").as("dst"),
            col("clat").as("d_lat"), col("clon").as("d_lon"))), Seq("dst"))
          .withColumn("dist_m", round(GeoFunctions.haversineCol(
            col("s_lat"), col("s_lon"), col("d_lat"), col("d_lon")), 1))
          .where(col("dist_m") > 0.0)
          .withColumn("lxs", round(log(col("dist_m")) * 1000000).cast("long"))
          .withColumn("lys", round(log(col("flow").cast("double")) * 1000000).cast("long"))
          .withColumn("x", col("lxs").cast("double") / 1000000.0)
          .withColumn("y", col("lys").cast("double") / 1000000.0)
        val sums = pairs.agg(
          count(lit(1)).as("n"),
          sum(col("lxs")).as("sx"), sum(col("lys")).as("sy"),
          sum(round(col("x") * col("y") * 1000000).cast("long")).as("sxy"),
          sum(round(col("x") * col("x") * 1000000).cast("long")).as("sxx"),
          sum(round(col("y") * col("y") * 1000000).cast("long")).as("syy"))
        val nf = col("n").cast("double")
        def d(c: String) = col(c).cast("double") / 1000000.0
        val cov = nf * d("sxy") - d("sx") * d("sy")
        val varx = nf * d("sxx") - d("sx") * d("sx")
        val vary = nf * d("syy") - d("sy") * d("sy")
        sums.select(col("n").as("n_pairs"),
          round(cov / varx, 6).as("decay_exp"),
          round((d("sy") - cov / varx * d("sx")) / nf, 6).as("intercept"),
          round(cov * cov / (varx * vary), 6).as("r2"))
      }, {
        val k = fixKeySql("user_id", "ts")
        val latS = latFromKeySql(k)
        val lonS = lonFromKeySql(k)
        s"""${Trajectory.trajSqlPrelude},
           |seq AS (
           |  SELECT user_id, hour, region,
           |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
           |  FROM traj),
           |flows AS (
           |  SELECT src, region AS dst, CAST(count(*) AS BIGINT) AS flow
           |  FROM seq
           |  WHERE src IS NOT NULL AND src <> '0' AND region <> '0' AND src <> region
           |  GROUP BY 1, 2),
           |cfx AS (
           |  SELECT ${geohashSql(latS, lonS, 3)} AS region,
           |         CAST(round(($latS) * 10, 0) AS BIGINT) AS lat10,
           |         CAST(round(($lonS) * 10, 0) AS BIGINT) AS lon10
           |  FROM events),
           |cent AS (
           |  SELECT region,
           |         (CAST(sum(lat10) AS DOUBLE) / 10.0) / CAST(count(*) AS DOUBLE) AS clat,
           |         (CAST(sum(lon10) AS DOUBLE) / 10.0) / CAST(count(*) AS DOUBLE) AS clon
           |  FROM cfx GROUP BY 1),
           |dpairs AS (
           |  SELECT f.flow,
           |         round(${haversineSql("cs.clat", "cs.clon", "cd.clat", "cd.clon")}, 1) AS dist_m
           |  FROM flows f
           |  JOIN cent cs ON cs.region = f.src
           |  JOIN cent cd ON cd.region = f.dst),
           |lv AS (
           |  SELECT lxs, lys,
           |         CAST(lxs AS DOUBLE) / 1000000.0 AS x,
           |         CAST(lys AS DOUBLE) / 1000000.0 AS y
           |  FROM (
           |    SELECT CAST(round(ln(dist_m) * 1000000, 0) AS BIGINT) AS lxs,
           |           CAST(round(ln(CAST(flow AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lys
           |    FROM dpairs WHERE dist_m > 0)),
           |sums AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(lxs) AS BIGINT) AS sx,
           |         CAST(sum(lys) AS BIGINT) AS sy,
           |         CAST(sum(CAST(round(x * y * 1000000, 0) AS BIGINT)) AS BIGINT) AS sxy,
           |         CAST(sum(CAST(round(x * x * 1000000, 0) AS BIGINT)) AS BIGINT) AS sxx,
           |         CAST(sum(CAST(round(y * y * 1000000, 0) AS BIGINT)) AS BIGINT) AS syy
           |  FROM lv),
           |fin AS (
           |  SELECT n, CAST(n AS DOUBLE) AS nf,
           |         CAST(sx AS DOUBLE) / 1000000.0 AS dsx,
           |         CAST(sy AS DOUBLE) / 1000000.0 AS dsy,
           |         CAST(sxy AS DOUBLE) / 1000000.0 AS dsxy,
           |         CAST(sxx AS DOUBLE) / 1000000.0 AS dsxx,
           |         CAST(syy AS DOUBLE) / 1000000.0 AS dsyy
           |  FROM sums)
           |SELECT n AS n_pairs,
           |       round((nf * dsxy - dsx * dsy) / (nf * dsxx - dsx * dsx), 6) AS decay_exp,
           |       round((dsy - (nf * dsxy - dsx * dsy) / (nf * dsxx - dsx * dsx) * dsx) / nf, 6)
           |         AS intercept,
           |       round((nf * dsxy - dsx * dsy) * (nf * dsxy - dsx * dsy)
           |             / ((nf * dsxx - dsx * dsx) * (nf * dsyy - dsy * dsy)), 6) AS r2
           |FROM fin""".stripMargin
      }),

    // ── g32: radiation model — the parameter-free OD prediction (Simini
    //    et al. 2012) the gravity fit (g31) is always benchmarked
    //    against: T̂_ij = T_i · m_i·n_j / ((m_i+s_ij)(m_i+n_j+s_ij)),
    //    where s_ij is the population inside the circle of radius
    //    d(i,j) around i, excluding the endpoints. Judged on the top-50
    //    observed flow corridors (deterministic flow/src/dst
    //    tie-break), so the interior-mass sweep is 50 × |regions| at
    //    ANY corpus size — the region table broadcasts (it is the
    //    bounded dimension), every distance is the rounded portable
    //    haversine, masses are exact BIGINT counts, and the one double
    //    expression (the prediction) is a fixed parse tree over exact
    //    integers, rounded to 6. Observed vs predicted side by side is
    //    the model-validation artifact a mobility study actually
    //    publishes. ──
    ("g32_radiation_model",
      (s: SparkSession, dir: String) => {
        // cm feeds FOUR broadcast exchanges and flows feeds three legs
        // (tOut, the top-50 sort, and top's second appearance inside
        // sMass); each consumer would otherwise re-execute the whole
        // centroid scan / trajectory prelude — the plan carried 78
        // parquet scans. Persisting the two shared frames computes each
        // once per run (intra-query reuse; the bench clears the cache
        // between runs). r17 opt, guide §5 caching / §1.2.
        val cm = regionCentroids(s, dir).persist()
        val flows = regionFlows(s, dir).persist()
        val tOut = flows.groupBy(col("src")).agg(sum(col("flow")).as("t_out"))
        val top = flows.orderBy(col("flow").desc, col("src"), col("dst")).limit(50)
          .join(broadcast(cm.select(col("region").as("src"), col("clat").as("s_lat"),
            col("clon").as("s_lon"), col("m").as("m_src"))), Seq("src"))
          .join(broadcast(cm.select(col("region").as("dst"), col("clat").as("d_lat"),
            col("clon").as("d_lon"), col("m").as("n_dst"))), Seq("dst"))
          .join(broadcast(tOut), Seq("src"))
          .withColumn("dist_ij", round(GeoFunctions.haversineCol(
            col("s_lat"), col("s_lon"), col("d_lat"), col("d_lon")), 1))
        val sMass = top
          .select(col("src"), col("dst"), col("s_lat"), col("s_lon"), col("dist_ij"))
          .crossJoin(broadcast(cm.select(col("region").as("k"),
            col("clat").as("k_lat"), col("clon").as("k_lon"), col("m").as("k_m"))))
          .where(col("k") =!= col("src") && col("k") =!= col("dst") &&
            round(GeoFunctions.haversineCol(col("s_lat"), col("s_lon"),
              col("k_lat"), col("k_lon")), 1) < col("dist_ij"))
          .groupBy(col("src"), col("dst")).agg(sum(col("k_m")).as("s_between"))
        top.join(broadcast(sMass), Seq("src", "dst"), "left")
          .na.fill(0L, Seq("s_between"))
          .select(col("src"), col("dst"), col("flow"), col("m_src"), col("n_dst"),
            col("s_between"),
            round(col("t_out").cast("double") *
              ((col("m_src").cast("double") * col("n_dst").cast("double")) /
                ((col("m_src") + col("s_between")).cast("double") *
                  (col("m_src") + col("n_dst") + col("s_between")).cast("double"))), 6)
              .as("pred_flow"))
          .orderBy(col("src"), col("dst"))
      }, {
        val k = fixKeySql("user_id", "ts")
        val latS = latFromKeySql(k)
        val lonS = lonFromKeySql(k)
        s"""${Trajectory.trajSqlPrelude},
           |seq AS (
           |  SELECT user_id, hour, region,
           |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
           |  FROM traj),
           |flows AS (
           |  SELECT src, region AS dst, CAST(count(*) AS BIGINT) AS flow
           |  FROM seq
           |  WHERE src IS NOT NULL AND src <> '0' AND region <> '0' AND src <> region
           |  GROUP BY 1, 2),
           |tout AS (SELECT src, CAST(sum(flow) AS BIGINT) AS t_out FROM flows GROUP BY 1),
           |cfx AS (
           |  SELECT ${geohashSql(latS, lonS, 3)} AS region,
           |         CAST(round(($latS) * 10, 0) AS BIGINT) AS lat10,
           |         CAST(round(($lonS) * 10, 0) AS BIGINT) AS lon10
           |  FROM events),
           |cm AS (
           |  SELECT region,
           |         (CAST(sum(lat10) AS DOUBLE) / 10.0) / CAST(count(*) AS DOUBLE) AS clat,
           |         (CAST(sum(lon10) AS DOUBLE) / 10.0) / CAST(count(*) AS DOUBLE) AS clon,
           |         CAST(count(*) AS BIGINT) AS m
           |  FROM cfx GROUP BY 1),
           |top AS (
           |  SELECT src, dst, flow FROM flows
           |  ORDER BY flow DESC, src, dst LIMIT 50),
           |tj AS (
           |  SELECT t.src, t.dst, t.flow, cs.clat AS s_lat, cs.clon AS s_lon,
           |         cs.m AS m_src, cd.m AS n_dst, o.t_out,
           |         round(${haversineSql("cs.clat", "cs.clon", "cd.clat", "cd.clon")}, 1) AS dist_ij
           |  FROM top t
           |  JOIN cm cs ON cs.region = t.src
           |  JOIN cm cd ON cd.region = t.dst
           |  JOIN tout o ON o.src = t.src),
           |sm AS (
           |  SELECT tj.src, tj.dst, CAST(sum(kk.m) AS BIGINT) AS s_between
           |  FROM tj, cm kk
           |  WHERE kk.region <> tj.src AND kk.region <> tj.dst
           |    AND round(${haversineSql("tj.s_lat", "tj.s_lon", "kk.clat", "kk.clon")}, 1) < tj.dist_ij
           |  GROUP BY 1, 2)
           |SELECT tj.src, tj.dst, tj.flow, tj.m_src, tj.n_dst,
           |       CAST(coalesce(sm.s_between, 0) AS BIGINT) AS s_between,
           |       round(CAST(tj.t_out AS DOUBLE) *
           |             ((CAST(tj.m_src AS DOUBLE) * CAST(tj.n_dst AS DOUBLE)) /
           |              (CAST(tj.m_src + coalesce(sm.s_between, 0) AS DOUBLE) *
           |               CAST(tj.m_src + tj.n_dst + coalesce(sm.s_between, 0) AS DOUBLE))), 6)
           |         AS pred_flow
           |FROM tj LEFT JOIN sm ON sm.src = tj.src AND sm.dst = tj.dst
           |ORDER BY tj.src, tj.dst""".stripMargin
      }),

    // ── g33: multi-round BFS hop distance — the graph family's FRONTIER
    //    pattern beside min-label components (t10), fixed-point rank
    //    flow (g19), and oriented wedge counting (g20): hop distance
    //    from the min-id seed region over the undirected transition
    //    graph, 4 rounds. Each round is one edge equi-join against the
    //    BROADCAST reached set folded by a min-hop agg (per-node state
    //    is region-bounded at any corpus size), pinned per round by
    //    `Fixpoint.pin`, so the loop extends to any diameter. Pure
    //    integer state, judged against DuckDB's recursive-CTE BFS. ──
    ("g33_bfs_hops",
      (s: SparkSession, dir: String) => {
        val ed0 = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= "0" && col("dst") =!= "0" && col("src") =!= col("dst"))
          .select(col("src").as("a"), col("dst").as("b")).distinct()
        val edges = ed0
          .union(ed0.select(col("b").as("a"), col("a").as("b")))
          .distinct().persist()
        var reached = edges.agg(min(col("a")).as("region"))
          .select(col("region"), lit(0L).as("dist"))
        for (k <- 1 to 4)
          reached = Fixpoint.pin(bfsRound(edges, reached, k), bounded = true)
        reached.orderBy(col("region"))
      },
      s"""WITH RECURSIVE ${Trajectory.trajSqlPrelude.stripPrefix("WITH ")},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |ed0 AS (
         |  SELECT DISTINCT src AS a, region AS b FROM seq
         |  WHERE src IS NOT NULL AND src <> '0' AND region <> '0' AND src <> region),
         |edges AS (SELECT a, b FROM ed0 UNION SELECT b, a FROM ed0),
         |seed AS (SELECT min(a) AS r FROM edges),
         |reach(region, dist) AS (
         |  SELECT r, 0 FROM seed
         |  UNION
         |  SELECT e.b, rc.dist + 1
         |  FROM reach rc JOIN edges e ON e.a = rc.region
         |  WHERE rc.dist < 4)
         |SELECT region, CAST(min(dist) AS BIGINT) AS dist
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── g34: corridor flow anomaly — the monitoring query a mobility
    //    platform runs weekly: densify every observed corridor over the
    //    week grid (the 5-row week spine broadcasts; absent weeks are
    //    REAL zeros, not missing rows — an anomaly detector that only
    //    sees observed weeks inflates its baseline), baseline the first
    //    4 weeks, z-score week 5. Flow counts are BIGINTs, so the
    //    baseline moments n·Σx² − (Σx)² are EXACT integers (no scaled
    //    rounding needed anywhere before the final sqrt/divide), and
    //    the judged flag |z| ≥ 2 with σ > 0 is decided on one
    //    deterministic double expression. Output is corridor-bounded;
    //    every join is broadcast. ──
    ("g34_flow_anomaly",
      (s: SparkSession, dir: String) => {
        val wk = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= "0" && col("dst") =!= "0" && col("src") =!= col("dst"))
          .select(date_trunc("week", col("hour")).as("week"), col("src"), col("dst"))
        val flows = wk.groupBy(col("week"), col("src"), col("dst"))
          .agg(count(lit(1)).as("flow")).persist()
        val spine = flows.select(col("week")).distinct()
          .withColumn("wi", row_number().over(
            Window.orderBy(col("week"))).cast("long"))
        val dense = flows.select(col("src"), col("dst")).distinct()
          .crossJoin(broadcast(spine))
          .join(flows, Seq("week", "src", "dst"), "left")
          .na.fill(0L, Seq("flow"))
        val base = dense.where(col("wi") <= 4)
          .groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("n"), sum(col("flow")).as("sx"),
            sum(col("flow") * col("flow")).as("sxx"))
        val test = dense.where(col("wi") === 5)
          .select(col("src"), col("dst"), col("flow").as("x5"))
        val nf = col("n").cast("double")
        val varTerm = (nf * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (nf * (nf - lit(1.0)))
        test.join(broadcast(base), Seq("src", "dst"))
          .withColumn("mean", col("sx").cast("double") / nf)
          .withColumn("sd", sqrt(varTerm))
          .where(col("sd") > 0.0)
          .withColumn("z", round((col("x5").cast("double") - col("mean")) / col("sd"), 4))
          .where(abs(col("z")) >= 2.0)
          .select(col("src"), col("dst"), col("x5"),
            round(col("mean"), 4).as("base_mean"), round(col("sd"), 4).as("base_sd"),
            col("z"))
          .orderBy(col("src"), col("dst"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |flows AS (
         |  SELECT date_trunc('week', hour) AS week, src, region AS dst,
         |         CAST(count(*) AS BIGINT) AS flow
         |  FROM seq
         |  WHERE src IS NOT NULL AND src <> '0' AND region <> '0' AND src <> region
         |  GROUP BY 1, 2, 3),
         |spine AS (
         |  SELECT week, CAST(row_number() OVER (ORDER BY week) AS BIGINT) AS wi
         |  FROM (SELECT DISTINCT week FROM flows)),
         |dense AS (
         |  SELECT c.src, c.dst, s.week, s.wi, coalesce(f.flow, 0) AS flow
         |  FROM (SELECT DISTINCT src, dst FROM flows) c
         |  CROSS JOIN spine s
         |  LEFT JOIN flows f ON f.week = s.week AND f.src = c.src AND f.dst = c.dst),
         |base AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(flow) AS BIGINT) AS sx,
         |         CAST(sum(flow * flow) AS BIGINT) AS sxx
         |  FROM dense WHERE wi <= 4 GROUP BY 1, 2),
         |test AS (SELECT src, dst, flow AS x5 FROM dense WHERE wi = 5),
         |scored AS (
         |  SELECT t.src, t.dst, t.x5,
         |         CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean,
         |         sqrt((CAST(b.n AS DOUBLE) * CAST(b.sxx AS DOUBLE)
         |               - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE))
         |              / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0))) AS sd
         |  FROM test t JOIN base b ON b.src = t.src AND b.dst = t.dst)
         |SELECT src, dst, CAST(x5 AS BIGINT) AS x5,
         |       round(mean, 4) AS base_mean, round(sd, 4) AS base_sd,
         |       round((CAST(x5 AS DOUBLE) - mean) / sd, 4) AS z
         |FROM scored
         |WHERE sd > 0 AND abs(round((CAST(x5 AS DOUBLE) - mean) / sd, 4)) >= 2
         |ORDER BY src, dst""".stripMargin),

    // ── g35: the commute matrix — the reference's end-product framing
    //    (its dataset IS commuter pedestrian flow): anchor every user to
    //    a HOME region (night-hours presence mode, the g06 predicate)
    //    and a WORK region (10:00–16:00 presence mode), then aggregate
    //    the (home, work) pairs of genuine commuters (home ≠ work) into
    //    the matrix an urban-planning study publishes. One trajectory
    //    pass feeds both anchors (two conditional aggs over the same
    //    completed frame), the user-level join is user-keyed, and the
    //    output is region²-bounded at any corpus size. Both modes use
    //    the deterministic (cnt DESC, region ASC) tie-break, so the
    //    matrix is exact cross-engine. ──
    ("g35_commute_matrix",
      (s: SparkSession, dir: String) => {
        val traj = Trajectory.complete(Tables.events(s, dir)).persist()
        def anchor(pred: Column, name: String): DataFrame = {
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("cnt").desc, col("region").asc)
          traj.where(pred)
            .groupBy(col("user_id"), col("region"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1)
            .select(col("user_id"), col("region").as(name))
        }
        val home = anchor(hour(col("hour")) >= 19 || hour(col("hour")) <= 8, "home")
        val work = anchor(hour(col("hour")) >= 10 && hour(col("hour")) <= 16, "work")
        home.join(work, "user_id")
          .where(col("home") =!= col("work"))
          .groupBy(col("home"), col("work"))
          .agg(count(lit(1)).as("n_commuters"))
          .orderBy(col("home"), col("work"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |home AS (
         |  SELECT user_id, region AS home FROM (
         |    SELECT user_id, region,
         |           row_number() OVER (PARTITION BY user_id
         |             ORDER BY count(*) DESC, region ASC) AS rn
         |    FROM traj WHERE hour(hour) >= 19 OR hour(hour) <= 8
         |    GROUP BY user_id, region)
         |  WHERE rn = 1),
         |work AS (
         |  SELECT user_id, region AS work FROM (
         |    SELECT user_id, region,
         |           row_number() OVER (PARTITION BY user_id
         |             ORDER BY count(*) DESC, region ASC) AS rn
         |    FROM traj WHERE hour(hour) >= 10 AND hour(hour) <= 16
         |    GROUP BY user_id, region)
         |  WHERE rn = 1)
         |SELECT h.home, w.work, CAST(count(*) AS BIGINT) AS n_commuters
         |FROM home h JOIN work w USING (user_id)
         |WHERE h.home <> w.work
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── g38: WEIGHTED single-source shortest paths — the missing member
    //    between g33's unweighted BFS hops and g19's pagerank: routing
    //    over the region transition graph with a per-corridor travel
    //    cost. Edge weight w = 1 + 1000 div flow (integer "resistance":
    //    busy corridors are cheap, rare ones expensive — exact BIGINT in
    //    both engines, `div`/`//`). The iteration is Bellman-Ford
    //    relaxation, K = 6 synchronous rounds: d_{k+1}(v) = min(d_k(v),
    //    min over in-edges d_k(u) + w(u,v)) — each round ONE broadcast
    //    join (the distance vector is region-bounded, broadcastable at
    //    any corpus size) + ONE min-agg shuffle, pinned per round by
    //    `Fixpoint.pin` so the plan stays round-sized. Both
    //    engines run the SAME K-round recurrence, so the judged rows
    //    agree independent of convergence; `Round11OpsSpec` relaxes the
    //    judged 6-round result once more and requires a fixpoint
    //    (d7 == d6) at test SFs, i.e. K covers the weighted diameter
    //    and the judged vector IS the shortest-path solution there. ──
    ("g38_shortest_path",
      (s: SparkSession, dir: String) => {
        val edges = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= "0" && col("dst") =!= "0" && col("src") =!= col("dst"))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("flow"))
          .select(col("src"), col("dst"),
            expr("CAST(1 + 1000 div flow AS BIGINT)").as("w"))
          .persist()
        var dist = edges.agg(min(col("src")).as("region"))
          .select(col("region"), lit(0L).as("dist"))
        for (_ <- 1 to 6)
          dist = Fixpoint.pin(relaxRound(edges, dist), bounded = true)
        dist.orderBy(col("region"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |wedges AS MATERIALIZED (
         |  SELECT src, region AS dst,
         |         CAST(1 + 1000 // count(*) AS BIGINT) AS w
         |  FROM seq
         |  WHERE src IS NOT NULL AND src <> '0' AND region <> '0' AND src <> region
         |  GROUP BY 1, 2),
         |d0 AS (SELECT min(src) AS region, CAST(0 AS BIGINT) AS dist FROM wedges),
         |${(1 to 6).map(k =>
            s"""d$k AS MATERIALIZED (
               |  SELECT region, min(dist) AS dist FROM (
               |    SELECT region, dist FROM d${k - 1}
               |    UNION ALL
               |    SELECT e.dst, d.dist + e.w FROM d${k - 1} d
               |    JOIN wedges e ON e.src = d.region)
               |  GROUP BY 1)""".stripMargin).mkString(",\n")}
         |SELECT region, CAST(dist AS BIGINT) AS dist
         |FROM d6 ORDER BY region""".stripMargin),

    // ── g41: RECURSIVE CTE (Spark 4's WITH RECURSIVE) — the DECLARATIVE
    //    twin of g38's driver-side fixed point: BFS hop counts from the
    //    min-id seed over the unweighted region transition graph, the
    //    recursion living entirely inside ONE SQL statement instead of a
    //    Scala loop stitching pinned rounds. The depth guard
    //    (d < 3) bounds path enumeration at #regions³ rows — the region
    //    graph is dictionary-bounded at ANY corpus size, so the
    //    recursion's working set never scales with events — and the
    //    min-per-region fold outside the recursion collapses duplicate
    //    paths exactly as SQL-standard recursion requires (no aggregate
    //    is legal inside the recursive member). Both engines run the
    //    SAME recursive SQL, so the judged row pins Spark's recursion
    //    semantics — seed row, join-per-level expansion, strict depth
    //    cutoff — against DuckDB's mature implementation. ──
    ("g41_recursive_reach",
      (s: SparkSession, dir: String) => {
        // The recursive member re-evaluates its inputs once per level, so
        // the corpus-sized edge derivation MUST be persisted — the cached
        // frame is what every level scans (InMemoryRelation), mirroring
        // the oracle's own `redges AS MATERIALIZED` below.
        Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= "0" && col("dst") =!= "0" && col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
          .persist()
          .createOrReplaceTempView("g41_edges")
        s.sql(
          """WITH RECURSIVE reach(region, d) AS (
            |  SELECT region, CAST(0 AS BIGINT) AS d
            |  FROM (SELECT min(src) AS region FROM g41_edges)
            |  UNION ALL
            |  SELECT e.dst, r.d + 1
            |  FROM reach r JOIN g41_edges e ON e.src = r.region
            |  WHERE r.d < 3)
            |SELECT region, CAST(min(d) AS BIGINT) AS hops
            |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      s"""${Trajectory.trajSqlPrelude.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |redges AS MATERIALIZED (
         |  SELECT DISTINCT src, region AS dst
         |  FROM seq
         |  WHERE src IS NOT NULL AND src <> '0' AND region <> '0' AND src <> region),
         |reach(region, d) AS (
         |  SELECT region, CAST(0 AS BIGINT) AS d
         |  FROM (SELECT min(src) AS region FROM redges)
         |  UNION ALL
         |  SELECT e.dst, r.d + 1
         |  FROM reach r JOIN redges e ON e.src = r.region
         |  WHERE r.d < 3)
         |SELECT region, CAST(min(d) AS BIGINT) AS hops
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── g39: k-core decomposition of the region transition graph — the
    //    peeling pattern that complements g33 (BFS), g19 (PageRank),
    //    g20 (triangles) and g36 (LPA): iteratively delete nodes of
    //    degree < k until the k-core remains (the standard dense-
    //    subgraph / spam-core extraction). Each round is two broadcast
    //    SEMI-joins (the survivor set is region-bounded — broadcastable
    //    at ANY corpus size) + one hash agg, pinned per round;
    //    rounds never touch raw events again. KcoreRounds = 4 fixed
    //    rounds mirror in the oracle CTE chain; `Round11OpsSpec` pins
    //    that 4 rounds reach the TRUE fixpoint at test SF (the g38
    //    convergence discipline) and that peeling is non-vacuous. ──
    ("g39_kcore",
      (s: SparkSession, dir: String) => {
        val und = Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
          .where(col("src") =!= col("dst") && col("src") =!= "0" && col("dst") =!= "0")
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
          .persist()
        var core = und.select(col("a").as("region"))
          .unionByName(und.select(col("b").as("region"))).distinct()
        for (_ <- 1 to KcoreRounds)
          core = Fixpoint.pin(kcoreRound(und, core), bounded = true)
        core.select(col("region"), col("deg").cast("long").as("deg"))
          .orderBy(col("region"))
      },
      s"""${Trajectory.trajSqlPrelude},
         |seq AS (
         |  SELECT user_id, hour, region,
         |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
         |  FROM traj),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, region) AS a, greatest(src, region) AS b
         |  FROM seq
         |  WHERE src IS NOT NULL AND src <> region AND src <> '0' AND region <> '0'),
         |n0 AS MATERIALIZED (
         |  SELECT a AS region FROM und UNION SELECT b FROM und),
         |${(1 to KcoreRounds).map(r =>
            s"""n$r AS MATERIALIZED (
               |  SELECT region, count(*) AS deg FROM (
               |    SELECT e.a AS region FROM und e
               |      JOIN n${r - 1} x ON e.a = x.region JOIN n${r - 1} y ON e.b = y.region
               |    UNION ALL
               |    SELECT e.b FROM und e
               |      JOIN n${r - 1} x ON e.a = x.region JOIN n${r - 1} y ON e.b = y.region)
               |  GROUP BY 1 HAVING count(*) >= $KcoreK)""".stripMargin).mkString(",\n")}
         |SELECT region, CAST(deg AS BIGINT) AS deg
         |FROM n$KcoreRounds ORDER BY region""".stripMargin),

    // ── J-beyond: co-visitation join — the user-place bipartite
    //    projection of the mobility literature (pairs of users whose
    //    circuits share places), the contact-network construction the
    //    reference's OD matrices stop short of. Blocked self-join, never
    //    all-pairs: users only meet inside a shared (xi, yi) cell, and
    //    the occupancy band [2, CoplaceCap] drops singleton cells (no
    //    pair possible) AND crowded cells — the semantic "mass venue"
    //    exclusion that is also the quadratic guard (pairs per cell ≤
    //    C(C−1)/2, so join fan-out is bounded no matter how skewed the
    //    corpus). occ is grid-bounded (≤ 32×32 cells at precision 2) —
    //    broadcast by construction at any corpus size; the self-join's
    //    two sides are the same frame, so the (xi, yi) exchange is
    //    planned once and reused. ──
    ("j15_coplace_join",
      (s: SparkSession, dir: String) => {
        // persisted: occ and BOTH self-join legs read it — without the
        // barrier the distinct-over-events runs four times (plan-audited)
        val cells = points(s, dir)
          .select(col("user_id"),
            GeoFunctions.lonIndexCol(col("lon"), CoplacePrecision).as("xi"),
            GeoFunctions.latIndexCol(col("lat"), CoplacePrecision).as("yi"))
          .distinct()
          .persist()
        val occ = cells.groupBy(col("xi"), col("yi")).agg(count(lit(1)).as("n"))
          .where(col("n") >= 2 && col("n") <= CoplaceCap)
          .select(col("xi"), col("yi"))
        val ok = cells.join(broadcast(occ), Seq("xi", "yi"))
        ok.as("a").join(ok.as("b"),
            col("a.xi") === col("b.xi") && col("a.yi") === col("b.yi") &&
              col("a.user_id") < col("b.user_id"))
          .select(col("a.user_id").as("u1"), col("b.user_id").as("u2"))
          .groupBy(col("u1"), col("u2"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
          .orderBy(col("u1"), col("u2"))
      },
      s"""WITH $pointsSql,
         |cells AS (
         |  SELECT DISTINCT user_id,
         |         ${lonIndexSql("lon", CoplacePrecision)} AS xi,
         |         ${latIndexSql("lat", CoplacePrecision)} AS yi
         |  FROM pts),
         |occ AS (
         |  SELECT xi, yi FROM cells GROUP BY 1, 2
         |  HAVING count(*) BETWEEN 2 AND $CoplaceCap),
         |ok AS (
         |  SELECT c.user_id, c.xi, c.yi
         |  FROM cells c JOIN occ o ON c.xi = o.xi AND c.yi = o.yi),
         |pairs AS (
         |  SELECT a.user_id AS u1, b.user_id AS u2
         |  FROM ok a JOIN ok b
         |    ON a.xi = b.xi AND a.yi = b.yi AND a.user_id < b.user_id)
         |SELECT u1, u2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY u1, u2""".stripMargin),

    // ── The COMPOSED end-to-end mobility pipeline — the reference's real
    //    multi-script artifact as ONE declarative plan: ingest
    //    (ppl_days.py:21-23) → neighbor-expanded cascade region
    //    assignment (cal_orig_area.py:88-91, g16's operator) → trajectory
    //    completion (cal_mobility_matrix.py:105-127, g07's generator) →
    //    diagonal-folded, presence-normalized OD fraction matrix
    //    (cal_mobility_matrix.py:153-206, g10b's tail, shared verbatim).
    //    Where the reference runs four scripts with parquet hand-offs
    //    between them, here the stages FUSE: ONE events scan feeds the
    //    cascade (one region lookup — no join, no handoff
    //    materialization, no fact shuffle), flows straight into the last-fix-per-hour agg,
    //    and the persisted hourly state is the only barrier (it feeds both
    //    the transition counts and the presence vector — exactly two
    //    consumers, t20's discipline). Regions here are ASSIGNED agent
    //    ids, not raw geohash cells: agents are c_nationkey + 1 so the
    //    cascade's no-match sentinel 0 IS the trajectory machinery's '0'
    //    ("outside") sentinel without colliding with a real nation.
    //    PlanQualitySpec pins the fusion: one events scan, no join before
    //    the state, no exchange between assignment and the state agg. ──
    ("g40_pipeline",
      (s: SparkSession, dir: String) => {
        val k = fixKey(col("user_id"), col("ts"))
        val fx = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("lat", latFromKey(k))
          .withColumn("lon", lonFromKey(k))
          .withColumn("hour", date_trunc("hour", col("ts")))
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), (col("c_nationkey") + 1).as("agent"))
          .withColumn("lat", latFromKey(col("c_custkey")))
          .withColumn("lon", lonFromKey(col("c_custkey")))
        val assigned = RegionAssign.assign(fx, col("lat"), col("lon"),
            cust, col("lat"), col("lon"), col("agent"),
            precisions = Seq(4, 3), sentinel = 0L, expandNeighbors = true)
          .select(col("user_id"), col("event_id"), col("ts"), col("hour"),
            col("agent_id").cast("string").as("region"))
        mobilityFracRef(Trajectory.hourlyStateFrom(assigned).persist())
      },
      {
        val k = fixKeySql("user_id", "ts")
        val leading =
          s"""dict AS (
             |  SELECT c_custkey, c_nationkey,
             |         ${latFromKeySql("c_custkey")} AS lat, ${lonFromKeySql("c_custkey")} AS lon
             |  FROM customer),
             |offs AS (SELECT unnest([-1, 0, 1]) AS d),
             |${nbDictSql(4, "c_nationkey + 1")},
             |${nbDictSql(3, "c_nationkey + 1")},
             |""".stripMargin
        val fxBody =
          s"""  SELECT e.user_id, e.event_id, e.ts, date_trunc('hour', e.ts) AS hour,
             |         CAST(CAST(coalesce(d4.agent_4, d3.agent_3, 0) AS BIGINT) AS VARCHAR) AS region
             |  FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             |               ${latFromKeySql(k)} AS lat, ${lonFromKeySql(k)} AS lon
             |        FROM events) e
             |  LEFT JOIN d4 ON ${geohashSql("e.lat", "e.lon", 4)} = d4.gh4
             |  LEFT JOIN d3 ON ${geohashSql("e.lat", "e.lon", 3)} = d3.gh3""".stripMargin
        Trajectory.trajSqlPreludeFrom(fxBody, leading) + mobilityFracRefTailSql
      })
  )

  /** g33's BFS state advance: one frontier expansion (edge join against
    * the broadcast reached set) folded into the reached set by min-hop.
    * Every per-node table is region-bounded — broadcastable at ANY
    * corpus size — so each round's only shuffle is the min-agg. */
  private def bfsRound(edges: DataFrame, reached: DataFrame, k: Int): DataFrame =
    reached.union(
        edges.join(broadcast(reached), col("a") === col("region"))
          .select(col("b").as("region"), lit(k.toLong).as("dist")))
      .groupBy(col("region")).agg(min(col("dist")).as("dist"))

  /** g38's Bellman-Ford state advance: one relaxation sweep — every
    * weighted in-edge proposes d(u) + w against the standing vector,
    * folded by min. Same scale shape as [[bfsRound]]: the distance
    * vector is region-bounded (broadcast side), so each round's only
    * shuffle is the min-agg. */
  private def relaxRound(edges: DataFrame, dist: DataFrame): DataFrame =
    dist.union(
        edges.join(broadcast(dist), col("src") === col("region"))
          .select(col("dst").as("region"), (col("dist") + col("w")).as("dist")))
      .groupBy(col("region")).agg(min(col("dist")).as("dist"))

  /** Per-region exact centroid + mass: scaled-long means of the fix
    * coordinates and the fix count — the shared dimension table of the
    * g31 gravity fit and the g32 radiation model. */
  private[graft] def regionCentroids(s: SparkSession, dir: String): DataFrame = {
    val k = fixKey(col("user_id"), col("ts"))
    val lat = latFromKey(k)
    val lon = lonFromKey(k)
    Tables.spread(Tables.events(s, dir))
      .select(GeoFunctions.geohashCol(lat, lon, 3).as("region"),
        round(lat * 10).cast("long").as("lat10"),
        round(lon * 10).cast("long").as("lon10"))
      .groupBy(col("region"))
      .agg(sum(col("lat10")).as("slat"), sum(col("lon10")).as("slon"),
        count(lit(1)).as("m"))
      .select(col("region"),
        ((col("slat").cast("double") / 10.0) / col("m").cast("double")).as("clat"),
        ((col("slon").cast("double") / 10.0) / col("m").cast("double")).as("clon"),
        col("m"))
  }

  /** Aggregate inter-region OD flows with the sentinel region and
    * self-loops dropped — shared by g31/g32. */
  private[graft] def regionFlows(s: SparkSession, dir: String): DataFrame =
    Trajectory.transitions(Trajectory.hourlyState(Tables.events(s, dir)))
      .where(col("src") =!= "0" && col("dst") =!= "0" && col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("flow"))

  def queries: Map[String, Q] = catalog.map { case (n, q, _) => n -> q }.toMap
  def oracle: Map[String, String] = catalog.map { case (n, _, o) => n -> o }.toMap
}
