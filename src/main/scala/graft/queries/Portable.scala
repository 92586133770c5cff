package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine (Spark ↔ DuckDB) determinism helpers.
  *
  * The driver hash-compares each Spark result against DuckDB running the
  * declared oracle SQL on the same parquet (BASELINE.md). Plain `sum(double)`
  * is NOT reproducible across engines (summation order differs at the last
  * ulp), so every floating aggregate in the catalog goes through one of
  * these exact forms:
  *
  *  - money sums: values are fixed-point (2–6 decimals) stored as doubles;
  *    `round(x * 10^s)` is integer-exact in both engines (the scaled value
  *    is within ~1e-5 of an integer, far from any .5 boundary), the LONG
  *    sum is exact, and the final single division is one deterministic
  *    IEEE op — bit-identical everywhere;
  *  - vector dot products: sequential left-folds (`aggregate` in Spark,
  *    `list_reduce` in DuckDB) add in identical order — bit-identical;
  *  - trig (haversine): Java `Math` and libm may differ by ~1 ulp, so
  *    results are rounded to a granularity (0.1 m) ~1e7× coarser than the
  *    discrepancy.
  *
  * Every query orders its output by a full non-null key and casts integer
  * outputs to BIGINT on both sides (DuckDB `sum(BIGINT)` is HUGEINT,
  * Spark `hour()` is INT — both would otherwise drift in dtype).
  */
object Portable {
  /** Whole-second timestamp rendering — the portable output form for every
    * judged timestamp column (Spark reads events at micros, DuckDB at nanos;
    * both floor to the same second). */
  def tsSec(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** DuckDB twin of [[tsSec]]. */
  def tsSecSql(x: String): String = s"strftime($x, '%Y-%m-%d %H:%M:%S')"

  /** Seconds since epoch as BIGINT (floor), portable across engines.
    * Spark: unix_timestamp. DuckDB: date_diff from epoch. */
  def epochSecSql(x: String): String =
    s"date_diff('second', TIMESTAMP '1970-01-01 00:00:00', CAST($x AS TIMESTAMP))"

  /** Exact sum of a fixed-point-in-double column, at 10^-s granularity. */
  def moneySum(c: Column, scale: Int = 100): Column =
    sum(round(c * scale).cast("long")) / lit(scale.toDouble)

  /** DuckDB twin of [[moneySum]]. */
  def moneySumSql(x: String, scale: Int = 100): String =
    s"CAST(sum(CAST(round(($x) * $scale, 0) AS BIGINT)) AS BIGINT) / $scale.0"

  /** Portable 60-bit string hash: the first 15 hex chars of md5(s) parsed
    * base-16. Identical in Spark and DuckDB (md5 is md5); used as the base
    * hash for minhash / simhash / fingerprinting where the two engines'
    * native hash functions differ. `conv` keeps it one codegen'd call —
    * ~6× cheaper than a per-digit higher-order fold at equal values. */
  def portableHash(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[portableHash]] ("$X" = any varchar expression). */
  def portableHashSql(x: String): String =
    s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  /** Sequential-fold dot product of two equal-length numeric arrays,
    * accumulated in double in index order — bit-identical across engines. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** DuckDB twin of [[dotFold]] (arrays are 1-indexed in both engines). */
  def dotFoldSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, $dim), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x)"

  /** Run-unique root for the sink queries' scratch output (s01/s06/st01):
    * a fixed shared path would make two concurrent runs race on the same
    * files and would tie the queries to one container layout. One temp
    * dir per JVM — the round-trip queries write and re-read within the
    * same run, so per-run uniqueness is exactly the right scope. */
  lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-sinks-")
    // staged event copies + sink outputs are GBs per run at larger SFs;
    // without this hook every run leaks its whole scratch tree into /tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }
  def scratchPath(name: String): String =
    scratchRoot.resolve(name).toString

  /** JSON string escaper shared by the Verify/Bench JSON emitters —
    * escapes backslash, quote, and ALL control chars (<0x20): a stray
    * tab or CR in builder-authored SQL or an error message would
    * otherwise break the driver's json.load. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Deterministic pseudo-coordinates derived from an integer key — gives
    * the TPC-H-ish testdata a (lat, lon) so the reference's geo operators
    * (geohash, haversine, region assignment) are exercisable on it. */
  def latFromKey(k: Column): Column = pmod(k * 37, lit(1700)).cast("double") / 10.0 - 85.0
  def lonFromKey(k: Column): Column = pmod(k * 13, lit(3500)).cast("double") / 10.0 - 175.0
  def latFromKeySql(k: String): String = s"CAST(($k * 37) % 1700 AS DOUBLE) / 10.0 - 85.0"
  def lonFromKeySql(k: String): String = s"CAST(($k * 13) % 3500 AS DOUBLE) / 10.0 - 175.0"

  /** Morton (z-order) bit-spread: interleaves zeros between the low 16
    * bits of `c` (0b1011 → 0b1000101). Pure 64-bit integer ops — exact
    * and identical in Spark and DuckDB. The classic magic-mask ladder;
    * each step doubles the gap between occupied bit groups. */
  def mortonSpread(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** DuckDB twin of [[mortonSpread]]. `x` must be a short expression
    * (ideally a bare column name): the ladder substitutes it 2^4 times. */
  def mortonSpreadSql(x: String): String = {
    val a = s"(($x) & 65535)"
    val b = s"((($a) | (($a) << 8)) & 16711935)"
    val d = s"((($b) | (($b) << 4)) & 252645135)"
    val e = s"((($d) | (($d) << 2)) & 858993459)"
    s"((($e) | (($e) << 1)) & 1431655765)"
  }

  /** 2^60 as an exact double literal — the KMV estimator's hash-space
    * size. Written as an integer cast, not `pow(2, 60)`, so both engines
    * use the same exactly-representable constant. */
  val HashSpaceSql = "CAST(1152921504606846976 AS DOUBLE)"
  val HashSpace: Column = lit(1152921504606846976L).cast("double")

  /** Haversine meters in DuckDB SQL — the 1:1 twin of
    * `GeoFunctions.haversineCol` (same op order, same R). */
  def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val dLat = s"radians(($lat2) - ($lat1))"
    val dLon = s"radians(($lon2) - ($lon1))"
    val a = s"sin($dLat / 2) * sin($dLat / 2) + cos(radians($lat1)) * cos(radians($lat2)) * sin($dLon / 2) * sin($dLon / 2)"
    s"2 * 6372800.0 * atan2(sqrt($a), sqrt(1 - ($a)))"
  }

  /** DuckDB: integer cell index along each axis (twin of
    * `GeoFunctions.lonIndex`/`latIndex` — identical double ops). */
  def lonIndexSql(lon: String, precision: Int): String = {
    val lb = (5 * precision + 1) / 2
    s"CAST(least(greatest(floor((($lon) + 180.0) / 360.0 * ${1L << lb}), 0), ${(1L << lb) - 1}) AS BIGINT)"
  }
  def latIndexSql(lat: String, precision: Int): String = {
    val tb = (5 * precision) / 2
    s"CAST(least(greatest(floor((($lat) + 90.0) / 180.0 * ${1L << tb}), 0), ${(1L << tb) - 1}) AS BIGINT)"
  }

  /** DuckDB: base-32 geohash string from integer cell indices — twin of
    * `GeoFunctions.encodeIndices`. `xi`/`yi` must be BIGINT expressions. */
  def geohashFromIndicesSql(xi: String, yi: String, precision: Int): String = {
    val lb = (5 * precision + 1) / 2
    val tb = (5 * precision) / 2
    val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    val chars = (0 until precision).map { k =>
      val digit = (0 until 5).map { j =>
        val g = 5 * k + j
        val bit =
          if (g % 2 == 0) s"((($xi) >> ${lb - 1 - g / 2}) & 1)"
          else s"((($yi) >> ${tb - 1 - (g - 1) / 2}) & 1)"
        s"$bit * ${1 << (4 - j)}"
      }.mkString(" + ")
      s"substring('$base32', CAST($digit AS INT) + 1, 1)"
    }
    chars.mkString("concat(", ", ", ")")
  }

  /** Geohash encode in DuckDB SQL via the integer-scaling formulation —
    * the 1:1 twin of `GeoFunctions.geohashEncode` (identical double ops →
    * identical cells). */
  def geohashSql(lat: String, lon: String, precision: Int): String =
    geohashFromIndicesSql(lonIndexSql(lon, precision), latIndexSql(lat, precision), precision)

  /** Per-event "fix" coordinates: the user moves across a deterministic
    * 24-cell daily circuit (key = user_id * 31 + hour-of-day). Gives the
    * TPC-H-ish events table real trajectories so the reference's presence /
    * home-region / gap-fill / OD-matrix operators have non-degenerate
    * inputs. Integer arithmetic → bit-identical in both engines. */
  def fixKey(userId: Column, ts: Column): Column = userId * 31 + hour(ts)
  def fixKeySql(userId: String, ts: String): String = s"($userId * 31 + hour($ts))"
}
