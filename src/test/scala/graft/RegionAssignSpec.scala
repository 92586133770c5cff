package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.engine.RegionAssign
import graft.functions.GeoFunctions
import GeoFunctionsSpec.geohashCenter

/** Region assignment (`RegionAssign`'s doc states the semantics): finer
  * precision wins, unmatched points fall through level by level to the
  * sentinel. */
class RegionAssignSpec extends SparkSpec {

  test("priority ladder: finest geohash match wins, then fallback, then sentinel") {
    val s = spark
    import s.implicits._
    // dictionary POIs: one at Shanghai center, one ~0.3 deg away (shares
    // geohash3 but not geohash6 with the center)
    val dict = Seq(
      (100L, 31.2304, 121.4737),
      (200L, 31.4000, 121.6000)
    ).toDF("agent", "dlat", "dlon")
    val points = Seq(
      (1L, 31.2304, 121.4737), // exact: matches agent 100 at p6
      (2L, 31.4001, 121.6001), // ~agent 200's p6 cell
      (3L, 31.3000, 121.5200), // same p3 cell, different p6: fallback level
      (4L, -33.8600, 151.2100) // Sydney: no match at all -> sentinel
    ).toDF("id", "lat", "lon")
    val out = RegionAssign.assign(points, col("lat"), col("lon"),
        dict, col("dlat"), col("dlon"), col("agent"),
        precisions = Seq(6, 3), sentinel = 0L)
      .select($"id", $"agent_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 100L)
    assert(out(2L) == 200L)
    // point 3 misses both p6 cells but shares the p3 cell with both POIs:
    // per-cell dedupe keeps min(agent) = 100
    assert(GeoFunctions.geohashEncode(31.3000, 121.5200, 3) ==
      GeoFunctions.geohashEncode(31.2304, 121.4737, 3))
    assert(out(3L) == 100L)
    assert(out(4L) == 0L)
  }

  test("neighbor expansion: a fix one cell away matches; two cells away does not") {
    val s = spark
    import s.implicits._
    val dict = Seq((100L, 31.2304, 121.4737)).toDF("agent", "dlat", "dlon")
    val home = GeoFunctions.geohashEncode(31.2304, 121.4737, 6)
    val (xi, yi) = GeoFunctions.decodeIndices(home)
    // centers of the east neighbor (+1 cell) and a +2-cell miss
    def center(dx: Long, dy: Long) = geohashCenter(
      GeoFunctions.encodeIndices(xi + dx, yi + dy, 6))
    val (nLat, nLon) = center(1, 0)
    val (fLat, fLon) = center(2, 0)
    val points = Seq((1L, nLat, nLon), (2L, fLat, fLon)).toDF("id", "lat", "lon")
    def run(expand: Boolean) = RegionAssign.assign(points, col("lat"), col("lon"),
        dict, col("dlat"), col("dlon"), col("agent"),
        precisions = Seq(6), sentinel = 0L, expandNeighbors = expand)
      .select($"id", $"agent_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = run(expand = false)
    assert(plain(1L) == 0L && plain(2L) == 0L) // own cells only: both miss
    val nb = run(expand = true)
    assert(nb(1L) == 100L) // adjacent cell claimed by the expanded dict
    assert(nb(2L) == 0L)   // 2 cells away stays unclaimed
  }

  test("neighbor expansion: overlapping 3x3 blocks keep the global min agent") {
    val s = spark
    import s.implicits._
    // two POIs in ADJACENT p6 cells: their 3x3 blocks overlap; every
    // overlapped cell must resolve to min(5, 9) = 5
    val home = GeoFunctions.geohashEncode(31.2304, 121.4737, 6)
    val (xi, yi) = GeoFunctions.decodeIndices(home)
    def center(x: Long, y: Long) = geohashCenter(GeoFunctions.encodeIndices(x, y, 6))
    val (aLat, aLon) = center(xi, yi)
    val (bLat, bLon) = center(xi + 1, yi)
    val dict = Seq((9L, aLat, aLon), (5L, bLat, bLon)).toDF("agent", "dlat", "dlon")
    // one probe at the center of every cell of the 6x5 window around both
    val window = for (x <- xi - 2 to xi + 3; y <- yi - 2 to yi + 2) yield (x, y)
    val points = window.map { case (x, y) =>
      val (la, lo) = center(x, y)
      (GeoFunctions.encodeIndices(x, y, 6), la, lo)
    }.toDF("gh", "lat", "lon")
    val d = RegionAssign.assign(points, col("lat"), col("lon"),
        dict, col("dlat"), col("dlon"), col("agent"),
        precisions = Seq(6), sentinel = 0L, expandNeighbors = true)
      .where($"agent_id" =!= 0L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // 3x3 ∪ 3x3 of adjacent cells = 12 distinct cells
    assert(d.size == 12)
    // the home cell is inside both blocks -> min wins
    assert(d(home) == 5L)
    // a cell only in POI a's block keeps a's agent
    assert(d(GeoFunctions.encodeIndices(xi - 1, yi, 6)) == 9L)
  }

  test("a cell's smallest agent id wins") {
    val s = spark
    import s.implicits._
    val dict = Seq(
      (9L, 31.2304, 121.4737),
      (5L, 31.2305, 121.4738) // same p6 cell
    ).toDF("agent", "dlat", "dlon")
    val points = Seq((1L, 31.2304, 121.4737)).toDF("id", "lat", "lon")
    val d = RegionAssign.assign(points, col("lat"), col("lon"),
        dict, col("dlat"), col("dlon"), col("agent"),
        precisions = Seq(6), sentinel = 0L)
      .collect()
    assert(d.length == 1)
    assert(d(0).getLong(3) == 5L)
  }

  test("property: assign agrees with a plain-Scala model of the cascade") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20261019)
    // clusters where cells collide at every precision: Shanghai, both
    // poles and both sides of the antimeridian (plus out-of-range values,
    // which clamp)
    val anchors = Seq((31.23, 121.47), (89.9, 10.0), (-89.9, -60.0),
      (5.0, 179.9), (5.0, -179.9), (91.0, 181.0))
    def coord(): (Double, Double) = {
      val (a, o) = anchors(rnd.nextInt(anchors.size))
      (a + rnd.nextGaussian() * 0.4, o + rnd.nextGaussian() * 0.4)
    }
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(10) == 0) None else Some(v)
    def model(dict: Seq[(Option[Double], Option[Double], Option[Long])],
              points: Seq[(Long, Option[Double], Option[Double])],
              precisions: Seq[Int], expand: Boolean, sentinel: Long): Map[Long, Long] = {
      val valid = dict.collect { case (Some(la), Some(lo), Some(a)) => (la, lo, a) }
      val levels = precisions.map { p =>
        p -> valid.flatMap { case (la, lo, a) =>
          val gh = GeoFunctions.geohashEncode(la, lo, p)
          (if (expand) GeoFunctions.geohashNeighbors(gh) else Seq(gh)).map(_ -> a)
        }.groupMapReduce(_._1)(_._2)(math.min)
      }
      points.map {
        case (id, Some(la), Some(lo)) => id -> levels.iterator
          .flatMap { case (p, cells) => cells.get(GeoFunctions.geohashEncode(la, lo, p)) }
          .nextOption().getOrElse(sentinel)
        case (id, _, _) => id -> sentinel
      }.toMap
    }
    (0 until 24).foreach { c =>
      // case 0: empty dictionary; case 1: every row has a null, so every
      // level is empty; otherwise small agents (ties) and repeated cells
      val dict = (0 until (if (c == 0) 0 else 1 + rnd.nextInt(30))).map { _ =>
        val (la, lo) = coord()
        val row = (maybe(la), maybe(lo), maybe(rnd.nextInt(6).toLong))
        if (c == 1) row.copy(_3 = None) else row
      }
      val points = (0 until 80).map { i =>
        val (la, lo) =
          if (dict.nonEmpty && rnd.nextBoolean()) {
            val (dla, dlo, _) = dict(rnd.nextInt(dict.size))
            (dla.getOrElse(0.0) + rnd.nextGaussian() * 0.05, dlo.getOrElse(0.0) + rnd.nextGaussian() * 0.05)
          } else coord()
        (i.toLong, maybe(la), maybe(lo))
      }
      val precisions = rnd.shuffle((1 to 6).toList).take(1 + rnd.nextInt(4))
      val expand = rnd.nextBoolean()
      val out = RegionAssign.assign(points.toDF("id", "lat", "lon"), col("lat"), col("lon"),
          dict.toDF("dlat", "dlon", "agent"), col("dlat"), col("dlon"), col("agent"),
          precisions, sentinel = -1L, expandNeighbors = expand)
        .select($"id", $"agent_id")
      assert(out.schema("agent_id").dataType == LongType)
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model(dict, points, precisions, expand, -1L),
        s"case $c: precisions=$precisions expand=$expand dict=$dict")
    }
  }

  test("g04 at sf0.001: one dictionary collect, no per-level jobs") {
    // the join cascade ran its own dictionary aggregate and broadcast
    // jobs per level: 10 jobs here, as at sf0.1; the lookup collects once
    GraftSession.release(spark)
    val n = jobsRun(SparkEntry.queries("g04_region_assign")(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").format("noop").save())
    assert(n == 7, s"g04 ran $n jobs")
  }
}
