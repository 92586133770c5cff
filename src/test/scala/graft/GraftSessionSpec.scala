package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory's two promises: `release` leaves nothing a query
  * persisted behind, and the session conf lives in one file. */
class GraftSessionSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("release drops both catalog caches and checkpointed RDDs") {
    // g32 persists shared subtrees in the catalog cache; t10 keeps its
    // rounds as localCheckpoint blocks, which live outside that cache
    Seq("g32_radiation_model", "t10_dup_clusters").foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
    }
    val cache = spark.sharedState.cacheManager
    assert(!cache.isEmpty, "g32 should leave a cached frame to release")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "t10 should leave checkpointed RDDs to release")
    GraftSession.release(spark)
    assert(cache.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
  }

  test("only GraftSession.scala builds a SparkSession under src/") {
    // a conf change must touch one file: no runner or suite keeps its own
    // builder (the needle is split so this file does not match itself)
    val needle = "SparkSession" + ".builder"
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString).toList
    assert(hits == List("GraftSession.scala"), hits)
  }
}
