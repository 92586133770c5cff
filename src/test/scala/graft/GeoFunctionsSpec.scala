package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GeoFunctions._
import GeoFunctionsSpec.geohashCenter

/** Pure-function tests: geohash encode/decode/neighbors and haversine
  * against published vectors (geohash.org test values) and identities.
  * Property checks run over seeded random samples. */
class GeoFunctionsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
  }

  test("geohash matches published test vectors") {
    // classic vector from the geohash spec
    assert(geohashEncode(57.64911, 10.40744, 11) == "u4pruydqqvj")
    assert(geohashEncode(57.64911, 10.40744, 5) == "u4pru")
    // Shanghai People's Square area
    assert(geohashEncode(31.2304, 121.4737, 5) == "wtw3s")
    // equator/prime-meridian corner: first cell above/right of origin
    assert(geohashEncode(0.0, 0.0, 1) == "s")
  }

  test("geohash precision prefix property") {
    for ((lat, lon) <- samples(200); p <- 1 to 11) {
      assert(geohashEncode(lat, lon, p + 1).startsWith(geohashEncode(lat, lon, p)))
    }
  }

  test("encode/decode indices roundtrip") {
    for ((lat, lon) <- samples(200); p <- Seq(1, 5, 8, 12)) {
      val gh = geohashEncode(lat, lon, p)
      val (xi, yi) = decodeIndices(gh)
      assert(encodeIndices(xi, yi, p) == gh)
      assert(xi == lonIndex(lon, p) && yi == latIndex(lat, p))
    }
  }

  test("geohash center falls back into the same cell") {
    for ((lat, lon) <- samples(200); p <- Seq(1, 5, 10)) {
      val gh = geohashEncode(lat, lon, p)
      val (clat, clon) = geohashCenter(gh)
      assert(geohashEncode(clat, clon, p) == gh)
    }
  }

  test("neighbors: 3x3 block, includes self, mutually adjacent") {
    val gh = geohashEncode(31.2304, 121.4737, 6)
    val ns = geohashNeighbors(gh)
    assert(ns.size == 9)
    assert(ns.contains(gh))
    assert(ns.distinct.size == 9)
    // symmetry: every neighbor's neighborhood contains the origin cell
    ns.foreach(n => assert(geohashNeighbors(n).contains(gh)))
  }

  test("neighbors clamp at poles and wrap at the antimeridian") {
    val pole = encodeIndices(0, (1L << latBits(5)) - 1, 5) // top lat row
    assert(geohashNeighbors(pole).size == 6) // 3x2: no row above
    val west = encodeIndices(0, 100, 5) // xi = 0: wraps to max xi
    assert(geohashNeighbors(west).size == 9) // lon wraps, never clamps
  }

  test("haversine known values and identities") {
    // one degree of latitude = pi*R/180 regardless of longitude
    val oneDeg = math.Pi * 6372800.0 / 180.0
    assert(math.abs(haversineMeters(0, 0, 1, 0) - oneDeg) < 1e-6)
    assert(math.abs(haversineMeters(10, 25, 11, 25) - oneDeg) < 0.5)
    assert(haversineMeters(31.23, 121.47, 31.23, 121.47) == 0.0)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val Seq(a, c) = Seq.fill(2)(rnd.nextDouble() * 178 - 89)
      val Seq(b, d) = Seq.fill(2)(rnd.nextDouble() * 358 - 179)
      val x = haversineMeters(a, b, c, d)
      val y = haversineMeters(c, d, a, b)
      assert(math.abs(x - y) < 1e-9 * math.max(1.0, x))
    }
  }

  test("column geohash agrees with the Scala function") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val pts = (samples(50) ++ Seq((0.0, 0.0), (89.99, -179.99), (-89.99, 179.99)))
      .toDF("lat", "lon")
    Seq(1, 5, 8).foreach { p =>
      val rows = pts.select($"lat", $"lon",
        geohashCol($"lat", $"lon", p).as("gh")).collect()
      rows.foreach { r =>
        assert(r.getString(2) ==
          geohashEncode(r.getDouble(0), r.getDouble(1), p),
          s"p=$p lat=${r.getDouble(0)} lon=${r.getDouble(1)}")
      }
    }
  }

  test("column haversine agrees with the Scala function") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val pts = Seq((0.0, 0.0, 1.0, 0.0), (31.2, 121.4, 39.9, 116.4)).toDF("a", "b", "c", "d")
    val rows = pts.select($"a", $"b", $"c", $"d",
      haversineCol($"a", $"b", $"c", $"d").as("m")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4) - haversineMeters(
        r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))) < 1e-9)
    }
  }
}

object GeoFunctionsSpec {
  /** Cell center (lat, lon) of a geohash: test probes placed inside a
    * given cell. */
  def geohashCenter(gh: String): (Double, Double) = {
    val p = gh.length
    val (xi, yi) = decodeIndices(gh)
    val lonSpan = 360.0 / (1L << lonBits(p)); val latSpan = 180.0 / (1L << latBits(p))
    (-90.0 + (yi + 0.5) * latSpan, -180.0 + (xi + 0.5) * lonSpan)
  }
}
