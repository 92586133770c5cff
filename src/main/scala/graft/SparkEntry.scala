package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The operator catalog lives in `graft.queries.*`; this object only
  * aggregates the per-module `(queries, oracle)` maps.
  */
object SparkEntry {

  /** Flagship pipeline on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The reference's signature dataflow end-to-end: fixes →
    * geohash region cells → last-fix-per-hour state → gap-filled
    * trajectory → hourly per-region presence (SURVEY.md §0; the
    * cal_user_trace/cal_mobility_matrix core). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.engine.Trajectory
      .complete(graft.engine.Tables.events(spark, "/root/testdata/sf0.001"))
      .groupBy($"hour", $"region")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"hour", $"region")
  }

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (graft.queries.Relational.queries, graft.queries.Relational.oracle),
      (graft.queries.GeoQueries.queries, graft.queries.GeoQueries.oracle),
      (graft.queries.EpiQueries.queries, graft.queries.EpiQueries.oracle),
      (graft.queries.TextQueries.queries, graft.queries.TextQueries.oracle),
      (graft.queries.VectorQueries.queries, graft.queries.VectorQueries.oracle),
      (graft.queries.MultimodalQueries.queries, graft.queries.MultimodalQueries.oracle),
      (graft.queries.StreamingQueries.queries, graft.queries.StreamingQueries.oracle)
    )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_._1).toMap

  /** The queries a runner was asked for: the whole catalog when `names`
    * is empty. A name the catalog does not hold fails the run before it
    * starts, so a misspelling never silently shrinks it. */
  def select(names: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(" ")}")
    if (names.isEmpty) all else all.filter(kv => names.contains(kv._1))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_._2).toMap
}
