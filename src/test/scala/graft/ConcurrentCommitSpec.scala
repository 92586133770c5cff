package graft

import java.io.File
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.functions._

import graft.sources.LedgerSource

/** Round-15 pins around the optimistic-concurrency commit claim
  * (`LedgerSource.commitVersion`'s hard-link CAS + retry, judged
  * end-to-end as `s49_concurrent_appends`):
  *
  *   - racing appenders each land a DISTINCT, CONTIGUOUS version —
  *     the rename(2) claim this replaced would silently overwrite a
  *     racing manifest (rename atomically REPLACES on POSIX), losing
  *     one commit's visibility;
  *   - append manifests grow MONOTONICALLY — a winner's data files
  *     are on disk before its commit, so every later claim's listing
  *     is a superset (what keeps the change feed total over the race:
  *     no manifest diff ever shows a removed data file);
  *   - the final state is the exact union, and the change feed over
  *     the whole raced history replays every appended row exactly
  *     once. */
class ConcurrentCommitSpec extends SparkSpec {

  test("racing appenders: distinct contiguous versions, monotone manifests, exact union") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def wave(lo: Int, hi: Int) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit(s"w${lo / 100}").as("lang"),
          $"id".as("n_chars")).coalesce(1)
      wave(0, 100).writeTo(s"$cat.t").tableProperty("mor", "true")
        .create()                                                  // v1
      val writers = 8
      val pool = Executors.newFixedThreadPool(writers)
      try {
        (1 to writers).map { i =>
          pool.submit(new Callable[Unit] {
            override def call(): Unit =
              wave(i * 100, i * 100 + 100).writeTo(s"$cat.t").append()
          })
        }.foreach(_.get())
      } finally { pool.shutdown(): Unit }
      val dir = new File(root, "t").getPath
      // every commit claimed its own contiguous version
      val versions = LedgerSource.listVersions(dir)
      assert(versions == (1L to (writers + 1L)),
        s"expected ${writers + 1} contiguous versions, got $versions")
      // append manifests are monotone supersets — the invariant the
      // change feed's no-removed-files check rides
      val sets = versions.map(v =>
        LedgerSource.readManifest(dir, v).toSet)
      sets.sliding(2).foreach { case Seq(a, b) =>
        assert(a.subsetOf(b), "append manifests must grow monotonically")
      case _ => ()
      }
      // the final state is the exact union of the nine waves
      assert(spark.table(s"$cat.t").count() == (writers + 1) * 100L)
      assert(spark.table(s"$cat.t").agg(sum($"doc_id")).head().getLong(0) ==
        (0L until (writers + 1) * 100L).sum)
      // the change feed replays every appended row exactly once,
      // however the commits interleaved
      val feed = spark.read.format("graft-ledger")
        .option("changesFrom", "0")
        .option("changesTo", versions.max.toString).load(dir)
      assert(feed.where($"_change_type" === "insert").count() ==
        (writers + 1) * 100L)
      assert(feed.where($"_change_type" === "delete").count() == 0L)
      // and per-version: each commit contributed exactly its own wave
      val perVersion = feed.groupBy($"_commit_version")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perVersion == versions.map(_ -> 100L).toMap, perVersion)
    }
  }

  test("a raced history stays time-travelable: every version resolves and row counts ladder") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def wave(lo: Int, hi: Int) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit("w").as("lang"),
          $"id".as("n_chars")).coalesce(1)
      wave(0, 50).writeTo(s"$cat.t").create()                      // v1
      val pool = Executors.newFixedThreadPool(6)
      try {
        (1 to 6).map { i =>
          pool.submit(new Callable[Unit] {
            override def call(): Unit =
              wave(i * 50, i * 50 + 50).writeTo(s"$cat.t").append()
          })
        }.foreach(_.get())
      } finally { pool.shutdown(): Unit }
      val dir = new File(root, "t").getPath
      val versions = LedgerSource.listVersions(dir)
      // counts are strictly increasing by exactly one wave per version
      val counts = versions.map { v =>
        spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $v")
          .head().getLong(0)
      }
      assert(counts == versions.indices.map(i => (i + 1) * 50L),
        s"versions must ladder one wave at a time, got $counts")
    }
  }
}
