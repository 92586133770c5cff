package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.engine.Tables

/** The session factory's promises: `release` leaves nothing a query
  * persisted behind, `withConf` leaves the conf as it found it, and the
  * session conf lives in one file. */
class GraftSessionSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("release drops both catalog caches and checkpointed RDDs") {
    // g32 persists shared subtrees in the catalog cache; t10 keeps its
    // rounds as Fixpoint.pin blocks, which live outside that cache
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

  // set by GraftSession.build()
  private val partitions = "spark.sql.shuffle.partitions"
  // registered with a default but never set: getOption would report the
  // default, so only getAll shows whether it is set
  private val policy = "spark.sql.streaming.multipleWatermarkPolicy"
  private def isSet(key: String): Boolean = spark.conf.getAll.contains(key)

  test("withConf restores a set key's value and unsets a key that had none") {
    val before = spark.conf.get(partitions)
    assert(!isSet(policy))
    GraftSession.withConf(spark, partitions -> "7", policy -> "max") {
      assert(spark.conf.get(partitions) == "7")
      assert(spark.conf.get(policy) == "max")
    }
    assert(spark.conf.get(partitions) == before)
    assert(!isSet(policy), "an unset key must come back unset, not as its default")
  }

  test("withConf restores when the body throws, and under nested use of a key") {
    val before = spark.conf.get(partitions)
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, partitions -> "7", policy -> "max") {
        GraftSession.withConf(spark, partitions -> "9") {
          assert(spark.conf.get(partitions) == "9")
        }
        assert(spark.conf.get(partitions) == "7", "the inner scope restores the outer value")
        GraftSession.withConf(spark, partitions -> "9", policy -> "min") {
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.get(partitions) == before)
    assert(!isSet(policy))
  }

  test("the conf-overriding streaming queries leave the session conf as they found it") {
    // a leaked RocksDB provider, watermark policy or state partition count
    // would silently change every later streaming query, and an explicitly
    // set default (s35/s65/s66 once set the v2 bucketing keys) would mask a
    // later change of that default. rawEvents first: on a NANOS fixture it
    // sets the nanos fallback conf for good, by design. Registering a
    // ledger catalog is the one conf change a query makes on purpose.
    Tables.rawEvents(spark, dir)
    def conf = spark.conf.getAll.filter(!_._1.startsWith("spark.sql.catalog."))
    val before = conf
    Seq("st01_stream_counts", "st07_transform_with_state", "st13_stream_funnel",
      "st24_multi_watermark_policy", "st29_multi_watermark_min",
      "s35_storage_partitioned_join", "s65_layout_evolution",
      "s66_write_distribution").foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
      val after = conf
      assert(after == before,
        s"$q changed the conf: ${(after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)}")
    }
  }

  /** Each `.scala` file under `root` holding `needle`, with its count.
    * Callers split their needles so this file does not match itself. */
  private def hits(needle: String, root: String = "src"): Map[String, Int] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString -> (Files.readString(p).split(needle, -1).length - 1))
      .filter(_._2 > 0).toMap

  test("only GraftSession.scala builds a SparkSession under src/") {
    // a conf change must touch one file: no runner or suite keeps its own
    // builder
    assert(hits("SparkSession" + "\\.builder").keySet == Set("GraftSession.scala"))
  }

  test("one conf restore, one streaming drain and one RocksDB provider name under src/") {
    // conf overrides go through GraftSession.withConf, the only unset —
    // counted on the call, so an aliased `val c = spark.conf` is caught
    assert(hits("\\.un" + "set\\(") == Map("GraftSession.scala" -> 1))
    // every st query runs its streams through StreamingQueries.drain
    assert(hits("Trigger" + "\\.AvailableNow").get("StreamingQueries.scala").contains(1))
    // the provider is named once, as StreamingQueries.RocksDbStateStore
    assert(hits("RocksDB" + "StateStoreProvider") == Map("StreamingQueries.scala" -> 1))
  }

  test("one catalog registration, one procedure shape and one LocalScan under src/") {
    // GraftCatalog.register is the only code that names the plugin class
    assert(hits("\"graft.sources." + "GraftCatalog\"") == Map("GraftCatalog.scala" -> 1))
    // every CALL verb extends GraftCatalog's one procedure base
    assert(hits("with " + "BoundProcedure") == Map("GraftCatalog.scala" -> 1))
    // procedures and metadata tables share RowsScan
    assert(hits("extends " + "LocalScan") == Map("GraftCatalog.scala" -> 1))
    assert(hits("new " + "LocalScan").isEmpty)
  }

  test("one table-property file owner and one query-name filter under src/main") {
    // LedgerProps is the only code that names a ledger table's property
    // file, and states once what an index column accepts
    assert(hits("\"_pro" + "ps\"", "src/main") == Map("LedgerProps.scala" -> 1))
    assert(hits("must name a " + "non-key", "src/main") == Map("LedgerProps.scala" -> 1))
    // both runners pick their queries through SparkEntry.select, which
    // refuses unknown names
    assert(hits("SparkEntry" + "\\.select", "src/main") ==
      Map("Bench.scala" -> 1, "Verify.scala" -> 1))
    assert(hits("SparkEntry" + "\\.queries", "src/main").keySet
      .intersect(Set("Bench.scala", "Verify.scala")).isEmpty)
  }

  test("one skip-index surface and one index backfill under src/main") {
    // the sidecar directories and magic numbers are stated once, by the
    // SkipIndex values
    Seq("\"_bl" + "oom\"", "\"_zo" + "nes\"", "0x4742" + "4631", "0x475A" + "4D31")
      .foreach { n => assert(hits(n, "src/main") == Map("SkipIndex.scala" -> 1), n) }
    // build_bloom and build_zonemap are one procedure class
    assert(hits("extends " + "LedgerProcedure\\(root, s?\"build_", "src/main") ==
      Map("GraftCatalog.scala" -> 1))
  }

  test("one round pin and one convergence loop under src/") {
    // every iterative chain pins its rounds through Fixpoint.pin
    assert(hits("local" + "Checkpoint", "src/main") == Map("Fixpoint.scala" -> 1))
    assert(hits("pin" + "Round").isEmpty)
    // every run-to-fixpoint loop is Fixpoint.converge, so the cap's
    // failure message is written once
    assert(hits("not " + "converged") == Map("Fixpoint.scala" -> 1))
  }
}
