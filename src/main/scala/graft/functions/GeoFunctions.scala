package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Geospatial scalar functions the reference engine exposes:
  *
  *  - geohash encode at precision 5..8 (reference behavior:
  *    `region.py:34-40`, `cal_orig_area.py:45-52`,
  *    `cal_subarea_portion.py:79-80,152-155` — Python `Geohash.encode`
  *    wrapped in per-precision UDFs);
  *  - geohash neighbor expansion, the 3×3 block of self + 8 adjacent cells
  *    (`cal_orig_area.py:62-72`, `cal_subarea_portion.py:170-178`);
  *  - haversine great-circle distance in meters, R=6372800
  *    (`cal_subarea_portion.py:83-92`).
  *
  * The geohash is computed by *integer cell-index scaling* rather than
  * per-bit interval bisection: precision p has ceil(5p/2) longitude bits
  * and floor(5p/2) latitude bits; `xi = floor((lon+180)/360 * 2^lonBits)`
  * (clamped), `yi` likewise; the base-32 string is the MSB-first
  * interleave (lon bit first) of xi/yi. This is numerically identical to
  * the classic bisection for all non-boundary points, makes neighbor
  * computation exact integer arithmetic (no re-encode drift), and — the
  * design reason — is expressible 1:1 in ANSI SQL so the DuckDB oracle
  * can verify geohash-bearing queries (no geohash built-in in DuckDB).
  * Fresh implementation from the public geohash spec (geohash.org).
  */
object GeoFunctions {
  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  def lonBits(precision: Int): Int = (5 * precision + 1) / 2
  def latBits(precision: Int): Int = (5 * precision) / 2

  /** Integer cell index of a coordinate along one axis. */
  private def cellIndex(v: Double, lo: Double, span: Double, bits: Int): Long = {
    val n = 1L << bits
    val i = math.floor((v - lo) / span * n).toLong
    if (i < 0) 0L else if (i >= n) n - 1 else i
  }

  def lonIndex(lon: Double, precision: Int): Long = cellIndex(lon, -180.0, 360.0, lonBits(precision))
  def latIndex(lat: Double, precision: Int): Long = cellIndex(lat, -90.0, 180.0, latBits(precision))

  /** The 5p-bit cell code of integer cell indices: the MSB-first
    * interleave (lon bit first) whose base-32 digits ARE the geohash, so
    * precision q's code is this code `>> 5·(p−q)` (prefix property). */
  def cellCode(xi: Long, yi: Long, precision: Int): Long = {
    val lb = lonBits(precision); val tb = latBits(precision)
    var code = 0L
    var g = 0 // global interleaved bit position
    while (g < 5 * precision) {
      val bit =
        if (g % 2 == 0) (xi >> (lb - 1 - g / 2)) & 1L
        else (yi >> (tb - 1 - g / 2)) & 1L
      code = (code << 1) | bit
      g += 1
    }
    code
  }

  /** Encode from integer cell indices: the base-32 digits of [[cellCode]]. */
  def encodeIndices(xi: Long, yi: Long, precision: Int): String = {
    val code = cellCode(xi, yi, precision)
    val cs = new Array[Char](precision)
    var k = 0
    while (k < precision) {
      cs(k) = Base32.charAt(((code >> (5 * (precision - 1 - k))) & 31L).toInt)
      k += 1
    }
    new String(cs)
  }

  def geohashEncode(lat: Double, lon: Double, precision: Int): String = {
    require(precision > 0 && precision <= 12, s"precision $precision")
    encodeIndices(lonIndex(lon, precision), latIndex(lat, precision), precision)
  }

  /** Self + 8 neighbors of cell (xi, yi) at `precision`, as indices: lon
    * wraps mod 2^lonBits (antimeridian), lat clamps at the poles
    * (out-of-range rows dropped), so 6 or 9 distinct cells. */
  def neighborIndices(xi: Long, yi: Long, precision: Int): Seq[(Long, Long)] = {
    val nLon = 1L << lonBits(precision); val nLat = 1L << latBits(precision)
    for {
      dy <- Seq(-1L, 0L, 1L); dx <- Seq(-1L, 0L, 1L)
      ny = yi + dy if ny >= 0 && ny < nLat
    } yield (java.lang.Math.floorMod(xi + dx, nLon), ny)
  }

  /** [[neighborIndices]] of a geohash, encoded. */
  def geohashNeighbors(gh: String): Seq[String] = {
    val (xi, yi) = decodeIndices(gh)
    neighborIndices(xi, yi, gh.length).map { case (x, y) => encodeIndices(x, y, gh.length) }.distinct
  }

  /** [[geohashNeighbors]] in Catalyst's internal representation — the
    * kernel behind the native `geohash_neighbors` expression (called
    * from generated code, so it takes/returns internal types directly:
    * no UTF8String↔String round-trip per element beyond the one decode). */
  def neighborsArray(gh: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = geohashNeighbors(gh.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
  }

  /** Inverse of encodeIndices. */
  def decodeIndices(gh: String): (Long, Long) = {
    var xi = 0L; var yi = 0L; var g = 0
    gh.foreach { c =>
      val cd = Base32.indexOf(c.toLower)
      require(cd >= 0, s"bad geohash char '$c'")
      var mask = 16
      while (mask > 0) {
        val bit = if ((cd & mask) != 0) 1L else 0L
        if (g % 2 == 0) xi = (xi << 1) | bit else yi = (yi << 1) | bit
        g += 1; mask >>= 1
      }
    }
    (xi, yi)
  }

  /** Great-circle distance in meters (haversine), same Earth radius the
    * reference uses (R=6372800). */
  def haversineMeters(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val R = 6372800.0
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    2 * R * math.atan2(math.sqrt(a), math.sqrt(1 - a))
  }

  /** Column-expression haversine built ONLY from codegen'd built-ins —
    * stays inside whole-stage codegen (no UDF boundary) and is
    * expressible 1:1 in the DuckDB oracle. Result in meters. */
  def haversineCol(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val R = lit(6372800.0)
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = sin(dLat / 2) * sin(dLat / 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon / 2) * sin(dLon / 2)
    lit(2) * R * atan2(sqrt(a), sqrt(lit(1) - a))
  }

  /** Column-expression integer cell index along one axis — the Catalyst
    * twin of [[lonIndex]]/[[latIndex]] and of `Portable.lonIndexSql`/
    * `latIndexSql` (same double ops → same cell everywhere). */
  def lonIndexCol(lon: Column, precision: Int): Column = {
    val lb = lonBits(precision)
    least(greatest(floor((lon + 180.0) / 360.0 * lit(1L << lb)), lit(0)), lit((1L << lb) - 1)).cast("long")
  }
  def latIndexCol(lat: Column, precision: Int): Column = {
    val tb = latBits(precision)
    least(greatest(floor((lat + 90.0) / 180.0 * lit(1L << tb)), lit(0)), lit((1L << tb) - 1)).cast("long")
  }

  /** Geohash encode as a Column: the native [[GeohashEncode]]
    * expression, the same kernel as [[geohashEncode]]. */
  def geohashCol(lat: Column, lon: Column, precision: Int): Column =
    org.apache.spark.sql.graftbridge.SqlBridge.expression(lat, lon) { case Seq(la, lo) =>
      GeohashEncode(Cast(la, DoubleType), Cast(lo, DoubleType), Literal(precision))
    }

  val geohashNeighborsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((gh: String) => geohashNeighbors(gh))
}
