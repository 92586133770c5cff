package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.functions.GeoFunctions._
import GeoFunctionsSpec.geohashCenter

/** ScalaCheck property suites (run natively by sbt's ScalaCheck
  * framework — no scalatest bridge needed). */
object GeoProps extends Properties("Geohash") {
  private val lat = Gen.chooseNum(-90.0, 90.0)
  private val lon = Gen.chooseNum(-180.0, 180.0)
  private val prec = Gen.choose(1, 11)

  property("encode length = precision") = Prop.forAll(lat, lon, prec) { (la, lo, p) =>
    geohashEncode(la, lo, p).length == p
  }

  property("precision prefix") = Prop.forAll(lat, lon, prec) { (la, lo, p) =>
    geohashEncode(la, lo, p + 1).startsWith(geohashEncode(la, lo, p))
  }

  property("decode/encode roundtrip") = Prop.forAll(lat, lon, prec) { (la, lo, p) =>
    val gh = geohashEncode(la, lo, p)
    val (xi, yi) = decodeIndices(gh)
    encodeIndices(xi, yi, p) == gh
  }

  property("center re-encodes to same cell") = Prop.forAll(lat, lon, Gen.choose(1, 10)) {
    (la, lo, p) =>
      val gh = geohashEncode(la, lo, p)
      val (cla, clo) = geohashCenter(gh)
      geohashEncode(cla, clo, p) == gh
  }

  property("neighbors contain self, size 6 or 9, mutually adjacent") =
    Prop.forAll(lat, lon, Gen.choose(2, 8)) { (la, lo, p) =>
      val gh = geohashEncode(la, lo, p)
      val ns = geohashNeighbors(gh)
      ns.contains(gh) && (ns.size == 9 || ns.size == 6) &&
        ns.forall(n => geohashNeighbors(n).contains(gh))
    }

  property("haversine symmetric and non-negative") =
    Prop.forAll(lat, lon, lat, lon) { (a, b, c, d) =>
      val x = haversineMeters(a, b, c, d)
      val y = haversineMeters(c, d, a, b)
      x >= 0 && math.abs(x - y) <= 1e-9 * math.max(1.0, x)
    }
}
