package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.LedgerSource

/** Round-16 pins: the ADVICE.md lineage/race fixes around refs.
  *
  *   - the CREATE_BRANCH RACE guard: an append whose handle was loaded
  *     BEFORE a fork (ref=None) re-targets the trunk at commit time —
  *     base = main's head, main advanced — instead of committing rows
  *     no ref can see (which converge would then reclaim as orphans);
  *   - a change-feed STREAM with a numeric/tag endpoint on a branched
  *     table refuses at plan time (a stream follows a live frontier;
  *     a fixed commit is a batch read);
  *   - a change-feed stream that starts on an UNBRANCHED table follows
  *     main's ref if the table forks mid-stream (the chain head may
  *     belong to the new branch);
  *   - `create_tag` takes a BIGINT version (commit ids are Long
  *     everywhere on this surface). */
class Round16OpsSpec extends SparkSpec {

  private def wave(lo: Int, hi: Int, lang: String = "w") = {
    val s = spark
    import s.implicits._
    spark.range(lo, hi).select($"id".as("doc_id"), lit(lang).as("lang"),
      $"id".as("n_chars")).coalesce(1)
  }

  test("create_branch race: an in-flight unbranched append re-targets main at commit time") {
    withCatalog { (cat, root) =>
      wave(0, 50, "base").writeTo(s"$cat.t").create()            // v1
      val tdir = new File(root, "t").getPath
      // the in-flight handle: loaded while the table was unbranched,
      // so it carries ref=None — exactly the two-individually-legal-ops
      // race ADVICE.md describes (OCC supports concurrent appends; the
      // fork window lasts the whole append job)
      val inFlight = new graft.sources.LedgerBatchWrite(tdir, false)
      // the fork lands while that append is still running…
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")   // main@1
      // …and the BRANCH commits next, so the raw chain head is dev's
      wave(50, 60, "dev").writeTo(s"$cat.t.branch_dev").append() // v2: dev
      assert(LedgerSource.readRef(tdir, "branch", "main").contains(1L))
      // now the in-flight append commits (zero files: the guard is in
      // the commit protocol, not the task writers)
      inFlight.commit(Array.empty)
      // the guard: the commit re-targeted the TRUNK — main advanced to
      // the claimed version and its manifest extends main's lineage,
      // never dev's
      val mainV = LedgerSource.readRef(tdir, "branch", "main").get
      assert(mainV == 3L,
        s"unbranched append must advance main when a fork landed mid-flight, main=$mainV")
      assert(LedgerSource.readManifest(tdir, mainV).toSet ==
        LedgerSource.readManifest(tdir, 1L).toSet,
        "the re-targeted commit must extend MAIN's manifest, not the chain head's")
      // both lineages read back unpolluted
      assert(spark.table(s"$cat.t").count() == 50)
      assert(spark.table(s"$cat.t.branch_dev").count() == 60)
      // and converge has nothing to reclaim from main's lineage
      spark.sql(s"CALL $cat.system.drop_branch('t', 'dev')")
      spark.sql(s"CALL $cat.system.converge('t')").collect()
      assert(spark.table(s"$cat.t").count() == 50)
    }
  }

  test("streaming a change feed with a fixed endpoint on a branched table refuses at plan time") {
    withCatalog { (cat, root) =>
      wave(0, 40).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
      val tdir = new File(root, "t").getPath
      val sink = graft.queries.Portable.scratchPath(
        s"r16_refuse_sink_${System.nanoTime()}")
      val e = intercept[Exception] {
        val q = spark.readStream.format("graft-ledger")
          .option("changesFrom", "0").option("changesTo", "1").load(tdir)
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", sink + "_ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("requires changesTo to be a BRANCH name")),
        s"expected the plan-time refusal, got: ${e.getMessage}")
    }
  }

  test("an unbranched change-feed stream follows main across a mid-stream fork") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      wave(0, 30, "base").writeTo(s"$cat.t").create()            // v1
      val tdir = new File(root, "t").getPath
      val sink = graft.queries.Portable.scratchPath(
        s"r16_follow_sink_${System.nanoTime()}")
      // ONE continuous stream: followRef resolved (None) at start,
      // while the table is unbranched
      val q = spark.readStream.format("graft-ledger")
        .option("changesFrom", "0").load(tdir)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", sink + "_ckpt")
        .start()
      try {
        q.processAllAvailable()                                  // ships v1
        // fork mid-stream: main pins at 1, dev commits (chain head =
        // dev's), then the trunk appends
        spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
        wave(100, 140, "dev").writeTo(s"$cat.t.branch_dev").append() // v2
        wave(30, 40, "trunk").writeTo(s"$cat.t").append()            // v3
        q.processAllAvailable()
      } finally q.stop()
      // the stream followed MAIN's lineage: base + trunk waves only,
      // never dev's rows (the raw chain head after the fork is dev's)
      val langs = spark.read.parquet(sink)
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(langs == Map("base" -> 30L, "trunk" -> 10L),
        s"mid-stream fork must keep the stream on main's lineage, got $langs")
    }
  }

  test("s56 re-invokes cleanly: the stale registration never replays into the rebuilt view") {
    // bench runs every query 3× in one JVM: the second invocation's
    // FULL BUILD scan is itself the subsumed shape, so the builder must
    // unregister before createOrReplace or the rewrite would feed the
    // fresh view from the previous invocation's state
    val dir = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("s56_mv_auto_rewrite")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty && first == second,
      s"repeat invocations must agree: $first vs $second")
  }

  test("concurrent appends to ONE branch are lost-update-free (ref CAS loop)") {
    // the round-16 upgrade beyond the mid-flight-fork guard: refs
    // advance by an atomic-move COMPARE-and-swap on the value-named
    // ref file, so two main-writers can no longer shadow each other's
    // advance (last-writer-wins was the old single-writer-per-ref
    // contract). Four real threads race onto main; a CAS loser's
    // claimed version dangles as a dead side commit and its files
    // re-commit — nothing is lost, converge reclaims nothing.
    withCatalog { (cat, root) =>
      wave(0, 50, "base").writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              wave(100 + i * 50, 150 + i * 50, s"w$i")
                .writeTo(s"$cat.t").append()
          })
        }.foreach(_.get())
      } finally { pool.shutdown(): Unit }
      assert(spark.table(s"$cat.t").count() == 50 + 200,
        "all four racing main appends must be visible on main")
      assert(spark.table(s"$cat.t.branch_dev").count() == 50,
        "the branch fork stays isolated from the race")
      spark.sql(s"CALL $cat.system.drop_branch('t', 'dev')")
      val conv = spark.sql(s"CALL $cat.system.converge('t')").head()
      assert(conv.getLong(0) == 0,
        s"a lossless race leaves no orphans, reclaimed ${conv.getLong(0)}")
      assert(spark.table(s"$cat.t").count() == 250)
      // dead side commits (CAS losers' dangling manifests) are ordinary
      // versions: retention expiry prunes them and the current read —
      // whose files every dead manifest shares with the lineage — is
      // untouched
      spark.sql(s"CALL $cat.system.expire_versions('t', 1)").collect()
      assert(spark.table(s"$cat.t").count() == 250,
        "expiring dead side commits must not reclaim shared files")
    }
  }

  test("create_tag takes a BIGINT version") {
    withCatalog { (cat, root) =>
      wave(0, 10).writeTo(s"$cat.t").create()
      wave(10, 20).writeTo(s"$cat.t").append()
      spark.sql(s"CALL $cat.system.create_tag('t', 'big', CAST(2 AS BIGINT))")
      spark.sql(s"CALL $cat.system.create_tag('t', 'small', 1)")
      val tdir = new File(root, "t").getPath
      assert(LedgerSource.readRef(tdir, "tag", "big").contains(2L))
      assert(LedgerSource.readRef(tdir, "tag", "small").contains(1L))
    }
  }
}
