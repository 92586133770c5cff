package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names subset the run (local iteration;
    // the driver passes none → full catalog)
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      val err =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          // toString, not getMessage: the message can be null
          System.err.println(s"[verify] $name failed: $e"); Some(name)
        }
      // release this query's persisted/cached frames (s11b cacheTable,
      // the dedup self-join persists) — nothing reuses them across
      // queries, and ~95 accumulated caches is real memory at larger SFs
      GraftSession.release(spark)
      err
    }
    val q = graft.queries.Portable.jsonEscape _
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // exit code stays 0 on failures: the compare step reads the outputs
    // and reports each missing query itself
    println(s"[verify] ${selected.size - failed.size} ok, ${failed.size} failed: ${failed.mkString(" ")}")
  }
}
