package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.DoubleType
import graft.functions.{GeoFunctions, RegionLookup, RegionTable}

/** Region assignment: the reference's cascading geohash match
  * (SURVEY.md §2.3 J4; `cal_orig_area.py:24-43`, 8-way at
  * `cal_subarea_portion.py:34-76`), as one dictionary lookup.
  *
  * Semantics — the one statement of them:
  *   - each fix takes the agent of the FIRST level, in the caller's
  *     `precisions` order, whose geohash cell at that precision holds a
  *     dictionary entry; no match at any level gives `sentinel` (the
  *     reference uses '0', `cal_orig_area.py:88-89`);
  *   - within a cell the SMALLEST agent wins (deterministic — the
  *     reference's `dropDuplicates(['geohash6'])` keeps an arbitrary row,
  *     which a judged query cannot);
  *   - with `expandNeighbors` every dictionary entry also claims the 8
  *     cells around its own at each level (the reference's 3×3 expansion,
  *     `cal_orig_area.py:62-72`, `cal_subarea_portion.py:170-178`):
  *     longitude wraps at the antimeridian, latitude clamps at the poles,
  *     and a cell claimed by several entries keeps the smallest agent;
  *   - dictionary rows with a null lat, lon or agent are ignored, and a
  *     fix with a null coordinate gets `sentinel`;
  *   - cells are `GeoFunctions`' integer cell indices, so a cell here is
  *     exactly the cell `geohashEncode` names, clamping included;
  *   - `agent_id` is a long (the agent column is integral).
  *
  * Plan (after Raptor, VLDB 2019: sorted ranges in place of geometry
  * joins): one collect job reads the dictionary, and the driver builds
  * per level a sorted array of cell codes with each cell's agent. The
  * fact side encodes its precision-max cell code once per row, and
  * level p's cell is that code `>> 5·(pMax−p)` (the geohash prefix
  * property), probed by binary search inside one codegen'd
  * [[RegionLookup]] — no join, no exchange, no broadcast job. Like the
  * broadcast join cascade it replaces, the dictionary must fit in the
  * driver. */
object RegionAssign {

  /** `points` with an `agent_id` column, by the semantics above. */
  def assign(points: DataFrame, lat: Column, lon: Column,
             dict: DataFrame, dictLat: Column, dictLon: Column, dictAgent: Column,
             precisions: Seq[Int], sentinel: Long,
             expandNeighbors: Boolean = false): DataFrame = {
    // a precision-12 cell code is 60 bits: the most a long holds
    require(precisions.nonEmpty && precisions.forall(p => p >= 1 && p <= 12),
      s"region assignment takes one or more precisions in [1, 12]; got $precisions")
    val entries = dict
      .select(dictLat.cast("double"), dictLon.cast("double"), dictAgent.cast("long"))
      .collect()
      .collect { case r if !r.anyNull => (r.getDouble(0), r.getDouble(1), r.getLong(2)) }
    val pMax = precisions.max
    val levels = precisions.map(p => level(entries, p, expandNeighbors))
    val table = new RegionTable(pMax, precisions.map(p => 5 * (pMax - p)).toArray,
      levels.map(_._1).toArray, levels.map(_._2).toArray, sentinel)
    points.withColumn("agent_id", SqlBridge.expression(lat, lon) { case Seq(la, lo) =>
      RegionLookup(Cast(la, DoubleType), Cast(lo, DoubleType), table)
    })
  }

  /** Level `p`'s sorted cell codes and each cell's smallest agent. */
  private def level(entries: Array[(Double, Double, Long)], p: Int,
                    expandNeighbors: Boolean): (Array[Long], Array[Long]) = {
    val cells = scala.collection.mutable.LongMap.empty[Long]
    entries.foreach { case (la, lo, agent) =>
      val xi = GeoFunctions.lonIndex(lo, p); val yi = GeoFunctions.latIndex(la, p)
      val claimed = if (expandNeighbors) GeoFunctions.neighborIndices(xi, yi, p) else Seq((xi, yi))
      claimed.foreach { case (x, y) =>
        val c = GeoFunctions.cellCode(x, y, p)
        if (cells.get(c).forall(agent < _)) cells(c) = agent
      }
    }
    val codes = cells.keys.toArray.sorted
    (codes, codes.map(cells))
  }
}
