package flowbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a pure function of
  * `(seed, row id)`, so one seed gives the same rows on any host and any
  * partitioning, and the engine sees only the written parquet files.
  *
  * The shapes follow the engine's fixture tables (`events`, `customer`,
  * `documents`): same columns and types, 30 days of January 2024, five
  * event types, a 35-word document vocabulary. */
object Inputs {
  /** 2024-01-01T00:00:00Z in microseconds. */
  val T0Micros = 1704067200000000L
  val SpanMicros: Long = 30L * 86400L * 1000000L

  /** A table the benchmark writes: rows, row-group size and file count. */
  final case class Spec(name: String, rows: Long, files: Int, blockBytes: Long)

  private def rnd(seed: Long, stream: Int): Column =
    xxhash64(lit(seed), col("id"), lit(stream))

  private def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*), (pmod(r, lit(values.size.toLong)) + 1).cast("int"))

  /** Seed-shifted user keys: each seed draws its users from its own key
    * range, so two seeds never share a user id. */
  def userBase(seed: Long): Long = Math.floorMod(seed * 7919L, 1000L) * 100000L

  def events(spark: SparkSession, seed: Long, rows: Long, users: Long, parts: Int): DataFrame = {
    val step = SpanMicros / rows
    spark.range(0, rows, 1, parts).select(
      col("id").as("event_id"),
      timestamp_micros(lit(T0Micros) + col("id") * step + pmod(rnd(seed, 1), lit(step)))
        .cast("timestamp_ntz").as("ts"),
      (lit(userBase(seed)) + pmod(rnd(seed, 2), lit(users))).as("user_id"),
      pick(Seq("view", "click", "purchase", "signup", "error"), rnd(seed, 3)).as("event_type"),
      (pmod(rnd(seed, 4), lit(56022L)).cast("double") / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(rnd(seed, 5), lit(100L)).cast("string"), lit("}")).as("props"))
  }

  def customer(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(rnd(seed, 11), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(rnd(seed, 12), lit(1099999L)) - 99999L).cast("double") / 100.0).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        rnd(seed, 13)).as("c_mktsegment"))

  val Vocab: Seq[String] = Seq("a", "the", "data", "spark", "stream", "batch", "query",
    "table", "row", "column", "key", "value", "join", "group", "agg", "sort", "hash",
    "scan", "filter", "window", "order", "line", "part", "customer", "vector", "merge",
    "fast", "slow", "big", "small", "node", "index", "page", "cache", "shard")

  def documents(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val nWords = (lit(10L) + pmod(rnd(seed, 21), lit(51L))).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(vocab,
        (pmod(xxhash64(lit(seed), col("id"), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    spark.range(0, rows, 1, parts)
      .select(col("id").as("doc_id"), concat_ws(" ", words).as("text"),
        pick(Seq("en", "en", "en", "en", "de", "fr", "es", "zh"), rnd(seed, 22)).as("lang"),
        concat(lit("src"), pmod(rnd(seed, 23), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Write one generated table as `dir/<name>.parquet` with the given
    * file count and row-group size. */
  def write(df: DataFrame, dir: String, spec: Spec): Unit =
    df.coalesce(spec.files).write.mode("overwrite")
      .option("parquet.block.size", spec.blockBytes.toString)
      .parquet(s"$dir/${spec.name}.parquet")

  def generate(spark: SparkSession, seed: Long, dir: String, spec: Spec,
               users: Long): Unit = {
    val df = spec.name match {
      case "events" => events(spark, seed, spec.rows, users, spec.files)
      case "customer" => customer(spark, seed, spec.rows, spec.files)
      case "documents" => documents(spark, seed, spec.rows, spec.files)
    }
    write(df, dir, spec)
  }

  /** Logical size of the written rows: 8 bytes per number or timestamp,
    * the UTF-8 length of each string. */
  def logicalBytes(df: DataFrame): Long = {
    val sizes = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case _ => lit(8L)
      }
    }
    df.select(sizes.reduce(_ + _).as("b")).agg(sum(col("b"))).head().getLong(0)
  }
}
