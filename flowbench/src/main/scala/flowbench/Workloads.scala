package flowbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.{RegionAssign, Tables, Trajectory}
import graft.functions.GeoFunctions

/** One operation of a pass. `kind` is "read" or "write". `run` is the
  * timed part: it performs the operation, materializes its result and
  * returns its fingerprint. `prep` and `post` run untimed around it
  * (staging, model updates, checks against the model). */
final case class Op(name: String, kind: String, run: () => Fp,
                    prep: () => Unit = () => (), post: Fp => Unit = _ => ())

/** A workload: seeded inputs, a fixed sequence of passes, output checks. */
trait Workload {
  def name: String
  /** Untimed warm-up passes between the cold pass and the timed steady passes. */
  def warmPasses: Int
  /** Steady passes per run for a given measurement window. */
  def steadyPasses(seconds: Int): Int
  /** How many times a run sets up; `setup_s` takes the median. */
  def setupReps: Int
  /** Generate (or regenerate) every input; returns the seconds spent
    * writing it. Repeatable: each call does the same work. */
  def setup(): Double
  /** Logical bytes the workload wrote into storage so far. */
  def inputBytes: Long
  /** The operations of pass `i` (0 = the cold pass). */
  def pass(i: Int): Seq[Op]
  /** Whether an operation's result must be identical in every pass. */
  def samePerPass: Boolean
  /** Output checks after the last pass: one message per mismatch. */
  def finalCheck(): Seq[String] = Nil
  /** Fingerprints of the generated inputs (the input-determinism test). */
  def inputFingerprints(): Seq[(String, Fp)]
  /** Spans around single engine calls, traced run only. */
  def layerProbes(): Map[String, Double] = Map.empty
  /** The per-layer metric an operation's steady median is reported under. */
  def layerMetric(op: String): String = s"queries.$op"
  /** Per-layer figures read from storage after the run. */
  def storageFigures(): Map[String, Double] = Map.empty
  /** The data directory whose on-disk bytes count as storage. */
  def storageDir: java.io.File
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "mobility" => new CatalogWorkload(name, spark, seed, dir,
      Seq(Inputs.Spec("events", 100000L, 4, 64L * 1024), Inputs.Spec("customer", 15000L, 1, 128L << 20)),
      users = 1500L,
      queries = Seq("g04_region_assign", "g09_mobility_od", "f01_hourly_presence"))
    case "lakehouse" => new Lakehouse(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Passes after the cold one fill `seconds` at a nominal 5 s per warm
    * pass: the first `warm` of them are untimed, the rest (at least 2)
    * are the steady passes. */
  def steadyPasses(seconds: Int, warm: Int): Int =
    math.max(2, math.round(seconds / 5.0).toInt - warm)

  /** Materialize to the `noop` sink; returns seconds. */
  def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** A pass of catalog queries from `SparkEntry.queries` over generated
  * parquet inputs. Every query's result must repeat exactly in each pass. */
final class CatalogWorkload(val name: String, spark: SparkSession, seed: Long, dir: String,
                            specs: Seq[Inputs.Spec], users: Long, queries: Seq[String])
    extends Workload {
  private val data = s"$dir/data"
  private val catalog = SparkEntry.queries
  queries.foreach(q => require(catalog.contains(q), s"query $q is not in SparkEntry.queries"))

  val warmPasses = 1
  def steadyPasses(seconds: Int): Int = Workloads.steadyPasses(seconds, warmPasses)
  // its only writes are these ingests (`write_p50_s`): five give a steady median
  val setupReps = 5
  def samePerPass = true
  def storageDir = new java.io.File(data)

  lazy val inputBytes: Long =
    specs.map(s => Inputs.logicalBytes(spark.read.parquet(s"$data/${s.name}.parquet"))).sum

  def setup(): Double = {
    val t0 = System.nanoTime()
    specs.foreach(s => Inputs.generate(spark, seed, data, s, users))
    val ingest = (System.nanoTime() - t0) / 1e9
    // warm the tables (parquet footers, page cache) as the engine's bench does
    specs.foreach(s => Workloads.noopSeconds(Tables(spark, data, s.name)))
    ingest
  }

  def inputFingerprints(): Seq[(String, Fp)] =
    specs.map(s => s.name -> Fingerprint.of(spark.read.parquet(s"$data/${s.name}.parquet")))

  def pass(i: Int): Seq[Op] = queries.map { q =>
    Op(q, "read", () => Fingerprint.of(catalog(q)(spark, data)))
  }

  override def layerProbes(): Map[String, Double] = {
    def med(f: => Double): Double = Workloads.median((1 to 3).map(_ => f))
    val events = Tables.events(spark, data)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("engine.tables.events_load_s") = med(Workloads.noopSeconds(Tables.events(spark, data)))
    // the region-assignment call the engine's g04 makes: distinct daily
    // circuit points against the customer table as POI dictionary
    def latOf(k: org.apache.spark.sql.Column) = pmod(k * 37, lit(1700)).cast("double") / 10.0 - 85.0
    def lonOf(k: org.apache.spark.sql.Column) = pmod(k * 13, lit(3500)).cast("double") / 10.0 - 175.0
    val points = events.select(col("user_id"), (col("user_id") * 31 + hour(col("ts"))).as("k"))
      .distinct().withColumn("lat", latOf(col("k"))).withColumn("lon", lonOf(col("k")))
    val cust = Tables(spark, data, "customer").select(col("c_custkey"), col("c_nationkey"))
      .withColumn("lat", latOf(col("c_custkey"))).withColumn("lon", lonOf(col("c_custkey")))
    out("engine.region_assign_s") = med(Workloads.noopSeconds(
      RegionAssign.assign(points, col("lat"), col("lon"), cust, col("lat"), col("lon"),
        col("c_nationkey"), precisions = Seq(4, 3), sentinel = -1L)))
    out("engine.trajectory.state_s") = med(Workloads.noopSeconds(Trajectory.hourlyState(events)))
    // gap-fill and transitions over one persisted state frame, so each
    // span covers only its own kernel
    val state = Trajectory.hourlyState(events).persist()
    Workloads.noopSeconds(state)
    out("engine.trajectory.gapfill_s") = med(Workloads.noopSeconds(Trajectory.gapFillRelational(state)))
    out("engine.trajectory.transitions_s") = med(Workloads.noopSeconds(Trajectory.transitions(state)))
    state.unpersist(true)
    val n = 4000000L
    val pts = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .select(latOf(col("id")).as("lat"), lonOf(col("id") * 7).as("lon"))
    out("functions.geohash_mrows_per_s") =
      n / 1e6 / med(Workloads.noopSeconds(pts.select(GeoFunctions.geohashCol(col("lat"), col("lon"), 8))))
    out("functions.haversine_mrows_per_s") =
      n / 1e6 / med(Workloads.noopSeconds(pts.select(
        GeoFunctions.haversineCol(col("lat"), col("lon"), lit(31.2304), lit(121.4737)))))
    out.toMap
  }
}
