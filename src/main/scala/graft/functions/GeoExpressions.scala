package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the geo scalar functions — the
  * SURVEY.md §4.3 upgrade path over the UDF form (reference behavior:
  * per-precision Python UDFs, `region.py:37-40`, `cal_orig_area.py:49-52`).
  *
  * Unlike a Scala UDF (an opaque black box that breaks whole-stage
  * codegen into an invoke boundary and forces null-checking wrappers),
  * these generate a direct static call inside the produced Java, keep
  * null short-circuiting in codegen, and report precise input types so
  * Catalyst can fold constants and push predicates across them.
  */
case class GeohashEncode(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geohash_encode"

  override protected def nullSafeEval(lat: Any, lon: Any, p: Any): Any =
    UTF8String.fromString(GeoFunctions.geohashEncode(
      lat.asInstanceOf[Double], lon.asInstanceOf[Double], p.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo, p) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.GeoFunctions.geohashEncode($la, $lo, $p))")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Great-circle distance in meters (haversine, R=6372800 — the
  * reference's radius, `cal_subarea_portion.py:83-92`). */
case class HaversineMeters(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "haversine_meters"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoFunctions.haversineMeters(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeoFunctions.haversineMeters($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Self + up-to-8 adjacent geohash cells (the reference's 3×3 dictionary
  * expansion, `cal_orig_area.py:62-72`) as a native array-returning
  * expression — the codegen upgrade of `GeoFunctions.geohashNeighborsUdf`
  * (the last geo scalar still riding a UDF boundary). Pole-clamped rows
  * are dropped, so the array holds 4..9 distinct cells. */
case class GeohashNeighbors(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geohash_neighbors"

  override protected def nullSafeEval(gh: Any): Any =
    GeoFunctions.neighborsArray(gh.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, gh =>
      s"graft.functions.GeoFunctions.neighborsArray($gh)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The dictionary a [[RegionLookup]] probes, built on the driver by
  * `graft.engine.RegionAssign`: per cascade level, in probe order, the
  * sorted cell codes at that level's precision (`codes(i)`), each
  * cell's agent (`agents(i)`, parallel) and the shift that turns a
  * precision-`pMax` code into the level's code (`shifts(i)`). */
final class RegionTable(val pMax: Int, val shifts: Array[Int], val codes: Array[Array[Long]],
                        val agents: Array[Array[Long]], val sentinel: Long) extends Serializable {

  /** The agent of the first level whose cell holds (lat, lon), else
    * `sentinel`: one encode, then one binary search per level. */
  def lookup(lat: Double, lon: Double): Long = {
    val code = GeoFunctions.cellCode(
      GeoFunctions.lonIndex(lon, pMax), GeoFunctions.latIndex(lat, pMax), pMax)
    var i = 0
    while (i < codes.length) {
      val at = java.util.Arrays.binarySearch(codes(i), code >> shifts(i))
      if (at >= 0) return agents(i)(at)
      i += 1
    }
    sentinel
  }

  /** Plan strings show the table's size, never its arrays: Spark keeps
    * every plan description for the session's life. */
  override def toString: String = s"${codes.length} levels, ${codes.map(_.length).sum} cells"
}

/** The region-assignment cascade as one expression (`RegionAssign`):
  * `table`'s agent for (lat, lon), and `table.sentinel` for a null
  * coordinate. */
case class RegionLookup(left: Expression, right: Expression, table: RegionTable)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "region_lookup"

  override def eval(input: InternalRow): Any = {
    val lat = left.eval(input)
    val lon = right.eval(input)
    if (lat == null || lon == null) table.sentinel
    else table.lookup(lat.asInstanceOf[Double], lon.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("regionTable", table)
    val lat = left.genCode(ctx)
    val lon = right.genCode(ctx)
    ev.copy(code = code"""
      ${lat.code}
      ${lon.code}
      long ${ev.value} = (${lat.isNull} || ${lon.isNull}) ? $t.sentinel() : $t.lookup(${lat.value}, ${lon.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering the native expressions as SQL functions
  * (`spark.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // radius filters over the native haversine gain a sargable
    // bounding-box pre-filter (pushdown-able when lat/lon are columns)
    ext.injectOptimizerRule(_ => graft.plans.HaversineBoundingBox)
    // aggregates over a base table subsumed by a registered MV rewrite
    // to view-state + change-feed fold — the base scan disappears
    ext.injectOptimizerRule(_ => graft.plans.MvAutoRewrite)
    // whole-operator extension: per-key top-k plans as a two-phase
    // bounded-heap operator (partial before the exchange, ranked final)
    ext.injectPlannerStrategy(_ => graft.operators.TopKPerKeyStrategy)
    ext.injectFunction((
      FunctionIdentifier("geohash_encode"),
      new ExpressionInfo(classOf[GeohashEncode].getName, "geohash_encode"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "geohash_encode(lat, lon, precision)")
        // explicit casts in place of ImplicitCastInputTypes (private[sql]):
        // SQL numeric literals arrive as decimals
        GeohashEncode(Cast(children(0), DoubleType), Cast(children(1), DoubleType),
          Cast(children(2), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("haversine_meters"),
      new ExpressionInfo(classOf[HaversineMeters].getName, "haversine_meters"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "haversine_meters(lat1, lon1, lat2, lon2)")
        HaversineMeters(Cast(children(0), DoubleType), Cast(children(1), DoubleType),
          Cast(children(2), DoubleType), Cast(children(3), DoubleType))
      }))
    ext.injectFunction((
      FunctionIdentifier("geohash_neighbors"),
      new ExpressionInfo(classOf[GeohashNeighbors].getName, "geohash_neighbors"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "geohash_neighbors(geohash)")
        GeohashNeighbors(Cast(children(0), StringType))
      }))
    // the kernels read elements with getFloat: without this cast an
    // array<double> argument would pass analysis and silently return
    // garbage (4 bytes of each 8-byte slot)
    val floatArray = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)
    ext.injectFunction((
      FunctionIdentifier("dot_fold"),
      new ExpressionInfo(classOf[DotFold].getName, "dot_fold"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "dot_fold(array<float>, array<float>)")
        DotFold(Cast(children(0), floatArray), Cast(children(1), floatArray))
      }))
    ext.injectFunction((
      FunctionIdentifier("plane_dot"),
      new ExpressionInfo(classOf[PlaneDot].getName, "plane_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "plane_dot(array<float>, plane_index)")
        PlaneDot(Cast(children(0), floatArray), Cast(children(1), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("fingerprint_words"),
      new ExpressionInfo(classOf[FingerprintWords].getName, "fingerprint_words"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "fingerprint_words(text)")
        FingerprintWords(Cast(children(0), StringType))
      }))
  }
}
