package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThanOrEqual, LessThanOrEqual, And}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions

/** The HaversineBoundingBox optimizer rule: plan shape (bounds added
  * once, pushed to parquet when sargable, skipped at poles/antimeridian)
  * and semantics (rewritten radius filter ≡ driver-side brute force). */
class SpatialRewriteSpec extends SparkSpec {

  /** Fixed 29×31 grid spanning both hemispheres and the antimeridian.
    * Built over `range` (not a local Seq) so `ConvertToLocalRelation`
    * cannot constant-fold the Filter nodes the plan tests count. */
  private def grid: DataFrame =
    // D-suffixed literals: plain decimals would make the arithmetic
    // exact-decimal, whose round-to-double differs in ulps from the
    // driver-side double arithmetic the parity test mirrors
    spark.range(29L * 31L).selectExpr("id",
      "-87.5D + (id div 31) * 6.25D as lat",
      "-179.0D + (id % 31) * 11.8D as lon")

  private def radiusFilter(df: DataFrame, clat: Double, clon: Double, r: Double) =
    df.filter(call_function("haversine_meters",
      col("lat"), col("lon"), lit(clat), lit(clon)) <= lit(r))

  /** (≥, ≤) comparison-conjunct counts over every optimized Filter. */
  private def boundCounts(df: DataFrame): (Int, Int) = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(a, b) => split(a) ++ split(b)
      case other     => Seq(other)
    }
    val conjuncts = df.queryExecution.optimizedPlan.collect {
      case Filter(c, _) => split(c)
    }.flatten
    (conjuncts.count(_.isInstanceOf[GreaterThanOrEqual]),
      conjuncts.count(_.isInstanceOf[LessThanOrEqual]))
  }

  test("radius predicate gains exactly one lat/lon bounding box") {
    // 2 lower + 2 upper bounds beside the original ≤ — and exactly once,
    // proving the rule reaches a fixed point instead of stacking boxes
    val (ge, le) = boundCounts(radiusFilter(grid, 31.2, 121.5, 500e3))
    assert(ge == 2, s"lower bounds: $ge")
    assert(le == 3, s"upper bounds (incl. the radius predicate): $le")
  }

  test("cap touching a pole adds no bounds; antimeridian adds lat only") {
    val (geP, leP) = boundCounts(radiusFilter(grid, 89.5, 10.0, 200e3))
    assert(geP == 0 && leP == 1, s"pole: $geP/$leP")
    val (geA, leA) = boundCounts(radiusFilter(grid, 10.0, 179.9, 200e3))
    assert(geA == 1 && leA == 2, s"antimeridian: $geA/$leA")
  }

  test("bounds on stored columns reach the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory(
      graft.queries.Portable.scratchRoot, "graft_spatial").toFile
    grid.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val df = radiusFilter(spark.read.parquet(dir.getAbsolutePath), 31.2, 121.5, 500e3)
    // the rendered plan truncates PushedFilters; read the scan node's
    // untruncated metadata instead
    val pushed = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters")
    }.getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(lat,"), pushed)
    assert(pushed.contains("LessThanOrEqual(lat,"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(lon,"), pushed)
    assert(pushed.contains("LessThanOrEqual(lon,"), pushed)
    // the haversine conjunct itself is NOT sargable: it must evaluate
    // above the scan, never translate into a parquet filter
    assert(!pushed.toLowerCase.contains("haversine"), pushed)
  }

  test("rewritten filter matches driver-side brute force everywhere") {
    val pts = grid.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // centers stressing the general case, both poles, the antimeridian,
    // a tiny and a hemisphere-scale radius
    val cases = Seq(
      (31.2304, 121.4737, 500e3), (31.2304, 121.4737, 3000e3),
      (0.0, 0.0, 1000.0), (-45.0, -170.0, 2500e3), (89.9, 0.0, 500e3),
      (-89.9, 45.0, 800e3), (10.0, 179.95, 1200e3), (-30.0, -179.5, 900e3),
      (60.0, 5.0, 9000e3))
    for ((clat, clon, r) <- cases) {
      val got = radiusFilter(grid, clat, clon, r)
        .select("id").collect().map(_.getLong(0)).toSet
      val want = pts.collect {
        case (id, la, lo) if GeoFunctions.haversineMeters(la, lo, clat, clon) <= r => id
      }.toSet
      assert(got == want, s"center=($clat,$clon) r=$r diff=${got.diff(want)}|${want.diff(got)}")
    }
  }

  test("null coordinates are dropped with and without the box") {
    import SparkSpec.spark.implicits._
    val withNulls = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 31.2, 121.5), (2L, null, 121.5), (3L, 31.2, null))
      .toDF("id", "lat", "lon")
    val out = radiusFilter(withNulls, 31.2304, 121.4737, 500e3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L))
  }
}
