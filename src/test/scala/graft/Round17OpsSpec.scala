package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.LedgerSource

/** Round-17 pins. First block: the two ref races ADVICE r16 flagged at
  * `LedgerSource.scala:865`:
  *
  *   - `writeRef`'s stale-value sweep must never delete a value file
  *     NEWER than the one being set — a casAdvanceRef racing the write
  *     (main pin creation vs a concurrent append's CAS) may have
  *     already advanced the ref, and deleting the advanced file loses
  *     the advancement (and with it, the ref);
  *   - `create_branch`'s fork-side window: an unbranched append that
  *     claimed a chain version after the brancher read the head but
  *     re-checked `main` BEFORE the pin was visible returns success
  *     with a commit the pin then orphans. `closeForkRace` (run by
  *     create_branch right after pinning) must fold that suffix into
  *     main so the append's rows stay visible. */
class Round17OpsSpec extends SparkSpec {

  private def wave(lo: Int, hi: Int) = {
    val s = spark
    import s.implicits._
    spark.range(lo, hi).select($"id".as("doc_id"), lit("w").as("lang"),
      $"id".as("n_chars")).coalesce(1)
  }

  test("writeRef sweep keeps values newer than the one being set (CAS race survives)") {
    withCatalog { (cat, root) =>
      wave(0, 10).writeTo(s"$cat.t").create() // v1
      val d = new File(root, "t").getPath
      LedgerSource.writeRef(d, "tag", "x", 3)
      // simulate a concurrent casAdvanceRef having renamed the value
      // forward while this writer's sweep is still running: a NEWER
      // value file exists by the time the sweep lists the directory
      val advanced = new File(new File(d, "_refs"), "tag.x.v7")
      java.nio.file.Files.write(advanced.toPath, Array.empty[Byte])
      LedgerSource.writeRef(d, "tag", "x", 5)
      // the newer value must survive the sweep and win resolution;
      // the stale v3 must be gone
      assert(advanced.isFile, "sweep must not delete a newer value file")
      assert(LedgerSource.readRef(d, "tag", "x").contains(7L))
      assert(!new File(new File(d, "_refs"), "tag.x.v3").isFile,
        "strictly-older values are still swept")
    }
  }

  test("closeForkRace folds a chain commit the main pin orphaned") {
    withCatalog { (cat, root) =>
      wave(0, 100).writeTo(s"$cat.t").create()  // v1, file A
      wave(100, 200).writeTo(s"$cat.t").append() // v2, file B (chain)
      val d = new File(root, "t").getPath
      // simulate the race: the brancher read head=1 BEFORE v2 landed,
      // and v2's re-check saw no pin — pin main at 1, orphaning v2
      LedgerSource.writeRef(d, "branch", "main", 1)
      assert(spark.table(s"$cat.t").count() == 100L,
        "sanity: the stale pin orphans v2's rows")
      LedgerSource.closeForkRace(d, 1)
      // the orphan's files are back on main's lineage, exactly once
      assert(spark.table(s"$cat.t").count() == 200L)
      assert(spark.table(s"$cat.t").agg(sum(col("doc_id"))).head().getLong(0)
        == (0L until 200L).sum)
      val mainV = LedgerSource.readRef(d, "branch", "main").get
      assert(LedgerSource.readManifest(d, 2).toSet
        .subsetOf(LedgerSource.readManifest(d, mainV).toSet))
      // and the sweep is idempotent — nothing new to fold
      LedgerSource.closeForkRace(d, 1)
      assert(spark.table(s"$cat.t").count() == 200L)
    }
  }

  // ── s67: cross-table atomic commit — the crash windows ──

  test("cross-table txn: the rename is the commit point; helping heals a crashed coordinator") {
    withCatalog { (cat, root) =>
      val rootF = new File(root)
      wave(0, 100).writeTo(s"$cat.t1")
        .tableProperty("mor", "true").create()
      wave(1000, 1001).writeTo(s"$cat.t2").create()
      val id = graft.sources.TxnLog.begin(rootF, Seq("t1", "t2"))
      wave(100, 200).writeTo(s"$cat.t1.branch_txn$id").append()
      wave(1001, 1002).writeTo(s"$cat.t2.branch_txn$id").append()
      def counts() = (spark.table(s"$cat.t1").count(),
        spark.table(s"$cat.t2").count())
      assert(counts() == ((100L, 1L)), "open txn: neither visible")
      graft.sources.TxnLog.stageIntents(rootF, id)
      assert(counts() == ((100L, 1L)),
        "staged-but-unpublished intents must stay invisible")
      // the coordinator "crashes" right after THE atomic rename —
      // no roll-forward, no cleanup
      graft.sources.TxnLog.publish(rootF, id)
      // plain reads of BOTH tables already see the txn's rows: ref
      // resolution helps the committed intents forward, so there is
      // no instant at which one participant is visible without the
      // other
      assert(counts() == ((200L, 2L)),
        "after publish alone, both participants must read the txn")
      // a later resolver finishes the crashed coordinator's work
      graft.sources.TxnLog.finish(rootF, id)
      assert(counts() == ((200L, 2L)))
      assert(!new File(s"$root/_txns").isDirectory ||
        new File(s"$root/_txns").listFiles().isEmpty,
        "finish sweeps the txn file once every intent rolled")

      // the abort path leaves no trace — even with intents staged
      val id2 = graft.sources.TxnLog.begin(rootF, Seq("t1", "t2"))
      wave(200, 250).writeTo(s"$cat.t1.branch_txn$id2").append()
      graft.sources.TxnLog.stageIntents(rootF, id2)
      graft.sources.TxnLog.abort(rootF, id2)
      assert(counts() == ((200L, 2L)), "an aborted txn must vanish")
      intercept[Exception] { // double-abort refuses (no pending file)
        graft.sources.TxnLog.abort(rootF, id2)
      }
    }
  }

  test("cross-table txn: a racing main append between stage and publish is never lost") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      val rootF = new File(root)
      wave(0, 100).writeTo(s"$cat.t1")
        .tableProperty("mor", "true").create()
      wave(1000, 1001).writeTo(s"$cat.t2").create()
      val id = graft.sources.TxnLog.begin(rootF, Seq("t1", "t2"))
      wave(100, 200).writeTo(s"$cat.t1.branch_txn$id").append()
      wave(1001, 1002).writeTo(s"$cat.t2.branch_txn$id").append()
      graft.sources.TxnLog.stageIntents(rootF, id)
      // an independent writer advances t1's main INSIDE the commit
      // window — the helper must fold (re-commit) rather than CAS main
      // backward onto the txn head (which would lose these rows)
      wave(500, 550).writeTo(s"$cat.t1").append()
      graft.sources.TxnLog.publish(rootF, id)
      val ids = spark.table(s"$cat.t1").select($"doc_id")
        .collect().map(_.getLong(0)).toSet
      assert((0L until 200L).forall(ids), "txn rows lost")
      assert((500L until 550L).forall(ids), "racer rows lost")
      assert(spark.table(s"$cat.t2").count() == 2L)
      graft.sources.TxnLog.finish(rootF, id)
      assert(spark.table(s"$cat.t1").count() == 250L)
    }
  }

  test("bloom skip: runtime join-delivered probes prune files (the DPP hand-off)") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
      import org.apache.spark.sql.sources.{EqualTo => SrcEq, In => SrcIn}
      def wave(lo: Int, hi: Int, lang: String) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit(lang).as("lang"),
          ($"id" % 7).as("n_chars")).coalesce(1)
      wave(0, 100, "aa").writeTo(s"$cat.t")
        .tableProperty("bloom", "lang").create()
      wave(100, 200, "bb").writeTo(s"$cat.t").append()
      wave(200, 300, "cc").writeTo(s"$cat.t").append()
      val dir = new File(root, "t").getPath
      def freshScan() = new graft.sources.LedgerScanBuilder(dir).build()
      assert(freshScan().toBatch.planInputPartitions().length == 3)
      // the scan ADVERTISES the bloom column as a runtime-filter
      // attribute, so a broadcast join on lang hands its key set down
      val attrs = freshScan().asInstanceOf[SupportsRuntimeFiltering]
        .filterAttributes().map(_.fieldNames().mkString(".")).toSeq
      assert(attrs == Seq("doc_id", "lang"), attrs.toString)
      def planned(fs: org.apache.spark.sql.sources.Filter*): Int = {
        val rt = freshScan().asInstanceOf[SupportsRuntimeFiltering]
        rt.filter(fs.toArray)
        rt.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
          .toBatch.planInputPartitions().length
      }
      assert(planned(SrcIn("lang", Array[Any]("bb"))) == 1,
        "a single joined value must plan its one file")
      assert(planned(SrcIn("lang", Array[Any]("bb", "cc"))) == 2)
      assert(planned(SrcEq("lang", "zz")) == 0,
        "a value absent everywhere must plan an empty scan")
      // conjunction semantics: key-range probe ∧ bloom probe intersect
      assert(planned(
        SrcIn("doc_id", Array[Any](java.lang.Long.valueOf(50L))),
        SrcIn("lang", Array[Any]("bb"))) == 0,
        "doc 50 lives in aa's file, lang bb in another — intersection empty")
      // end-to-end: the real broadcast join stays CORRECT through the
      // runtime pruning (results re-filtered by the join itself)
      val dim = Seq(("bb", 1)).toDF("lang", "tag")
      val joined = spark.table(s"$cat.t")
        .join(broadcast(dim), "lang")
      assert(joined.count() == 100L)
    }
  }

  // ── st33's live twin: fast_forward racing a main append ──

  test("fast_forward vs racing main append: promoted or refused, never a lost update") {
    (1 to 3).foreach { round =>
      withCatalog { (cat, root) =>
        val s = spark
        import s.implicits._
        wave(0, 100).writeTo(s"$cat.t")
          .tableProperty("mor", "true").create()               // v1: seed
        spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
        wave(100, 200).writeTo(s"$cat.t.branch_dev").append()  // dev work
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val append = pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              wave(200, 300).writeTo(s"$cat.t").append()       // racer
          })
          val ff = pool.submit(new java.util.concurrent.Callable[Boolean] {
            override def call(): Boolean =
              try { spark.sql(s"CALL $cat.system.fast_forward('t', 'dev')")
                .collect(); true }
              catch { case e: Exception =>
                // a racer that moved main first makes the validated
                // head stale — refusing is the CORRECT arm
                assert(e.getMessage.contains("moved concurrently") ||
                  e.getMessage.contains("not an ancestor"),
                  s"unexpected refusal: ${e.getMessage}")
                false
              }
          })
          append.get()
          val promoted = ff.get()
          // EITHER arm: the racer's rows are on main (the commit-side
          // retry re-lands them on whatever main became), and when the
          // promotion won, dev's rows are there too — never silently
          // clobbered by the ref move
          val ids = spark.table(s"$cat.t").select($"doc_id")
            .collect().map(_.getLong(0)).toSet
          assert((200L until 300L).forall(ids),
            s"[round $round promoted=$promoted] racer rows lost")
          assert((0L until 100L).forall(ids),
            s"[round $round] seed rows lost")
          if (promoted) assert((100L until 200L).forall(ids),
            s"[round $round] promotion won but dev rows missing")
          // dev's lineage is intact regardless
          assert(spark.sql(
            s"SELECT count(*) FROM $cat.t VERSION AS OF 'dev'")
            .head().getLong(0) >= 200L)
        } finally { pool.shutdown(): Unit }
      }
    }
  }

  // ── s65: layout (partition-spec) evolution ──

  test("bucket evolution: halving demotes until compaction; DOUBLING stays valid without one") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def rows(lo: Int, hi: Int) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit("w").as("lang"),
          ($"id" % 13).as("n_chars"))
      rows(0, 1024).repartition(2).writeTo(s"$cat.t")
        .tableProperty("bucket", "256").create() // files straddle 128s
      def joinPlan(): String = {
        val right = spark.table(s"$cat.t")
          .select($"doc_id", $"n_chars".as("c2"))
        spark.table(s"$cat.t").hint("merge").join(right, "doc_id")
          .queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode)
      }
      assert(!joinPlan().contains("Exchange hashpartitioning(doc_id"),
        "sanity: the freshly-bucketed table joins exchange-free")
      // DOUBLING the width keeps every old file inside ONE new bucket
      // (two aligned 256s nest in one 512) — the claim re-validates and
      // SPJ survives the spec change with no rewrite at all
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('bucket'='512')")
      assert(!joinPlan().contains("Exchange hashpartitioning(doc_id"),
        "a coarser width nests old files: SPJ must survive the ALTER")
      // HALVING makes old files straddle: the scan demotes (correct,
      // exchanged) until compaction migrates the layout
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('bucket'='128')")
      assert(joinPlan().contains("Exchange hashpartitioning(doc_id"),
        "straddling old files must demote the join")
      assert(spark.table(s"$cat.t").count() == 1024L,
        "demotion is a plan fact, never a row fact")
      spark.sql(s"CALL $cat.system.compact('t', 2)")
      assert(!joinPlan().contains("Exchange hashpartitioning(doc_id"),
        "compaction migrates to the current width: SPJ restored")
      // garbage widths refuse loudly; the property can also be dropped
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('bucket'='nope')")
      }
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES('bucket')")
      assert(joinPlan().contains("Exchange hashpartitioning(doc_id"),
        "an unbucketed table joins with exchanges")
    }
  }

  // ── s64: the file-level Bloom skip index ──

  test("bloom skip: zero false negatives across every present and absent probe") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      // SCATTERED layout: round-robin partitioning mixes languages
      // across files, so most probes admit several files — the
      // adversarial layout for false negatives
      val rows = spark.range(0, 600).select($"id".as("doc_id"),
        concat(lit("l"), pmod($"id", lit(7)).cast("string")).as("lang"),
        ($"id" % 23).as("n_chars"))
      rows.repartition(6).writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_bloom('t', 'lang')")
      val truth = spark.table(s"$cat.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      (0 to 7).foreach { i => // l7 is absent everywhere
        val got = spark.table(s"$cat.t").where($"lang" === s"l$i")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        assert(got.sortBy(_._1).toSeq ==
          truth.filter(_._2 == s"l$i").sortBy(_._1).toSeq,
          s"probe l$i lost or invented rows")
      }
      // IN probe: union of members, exactly
      val in2 = spark.table(s"$cat.t")
        .where($"lang".isin("l1", "l5", "l7")).count()
      assert(in2 == truth.count(t => t._2 == "l1" || t._2 == "l5"))
      // the absent value proves out everywhere: an empty plan
      assert(spark.table(s"$cat.t").where($"lang" === "l7")
        .rdd.getNumPartitions == 0)
    }
  }

  test("bloom skip: n_chars probes work and unindexed files back off to a scan") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 200).select($"id".as("doc_id"), lit("w").as("lang"),
          ($"id" % 11).as("n_chars"))
        .coalesce(2).writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_bloom('t', 'n_chars')")
      assert(spark.table(s"$cat.t").where($"n_chars" === 7L).count() ==
        (0L until 200L).count(_ % 11 == 7))
      assert(spark.table(s"$cat.t").where($"n_chars" === 99L)
        .rdd.getNumPartitions == 0, "99 never occurs: empty plan")
      // an append is BORN indexed (writer-stamped): the fresh file is
      // the only survivor of its value's probe, no rebuild needed
      spark.range(1000, 1100).select($"id".as("doc_id"),
          lit("w").as("lang"), lit(77L).as("n_chars"))
        .coalesce(1).writeTo(s"$cat.t").append()
      val probe77 = spark.table(s"$cat.t").where($"n_chars" === 77L)
      assert(probe77.rdd.getNumPartitions == 1,
        "only the freshly-stamped file may survive the probe")
      assert(probe77.count() == 100L)
      // BACK-OFF: files that lose their sidecars are always scanned —
      // results stay exact with every index file gone, and the probe's
      // plan widens back to all three files (unindexed ≠ excluded)
      val bdir = new File(root, "t/_bloom")
      bdir.listFiles().foreach(f => assert(f.delete()))
      assert(spark.table(s"$cat.t").where($"n_chars" === 10L).count() ==
        (0L until 200L).count(_ % 11 == 10))
      assert(spark.table(s"$cat.t").where($"n_chars" === 77L)
        .rdd.getNumPartitions == 3,
        "an unindexed file must back off to being scanned")
    }
  }

  test("create_branch under racing appends loses no rows (fork side closed)") {
    withCatalog { (cat, root) =>
      wave(0, 100).writeTo(s"$cat.t").create() // v1
      val writers = 6
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
      try {
        val appends = (1 to writers).map { i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              wave(i * 100, i * 100 + 100).writeTo(s"$cat.t").append()
          })
        }
        val fork = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
              .collect(): Unit
        })
        appends.foreach(_.get())
        fork.get()
      } finally { pool.shutdown(): Unit }
      // every append's rows are on main, whatever the interleaving
      assert(spark.table(s"$cat.t").count() == (writers + 1) * 100L)
      assert(spark.table(s"$cat.t").agg(sum(col("doc_id"))).head().getLong(0)
        == (0L until (writers + 1) * 100L).sum)
      // the fork itself resolves (at whatever head it validated)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'dev'")
        .head().getLong(0) >= 100L)
    }
  }
}
