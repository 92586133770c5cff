package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.queries.Portable
import graft.sources.LedgerSource

/** Round-15 pins around the new verbs and hardening:
  *
  *   - `CALL system.expire_versions` (judged `s39`): the safety side —
  *     a file shared with a SURVIVING version survives, an expired
  *     `VERSION AS OF` fails loudly (the s32 contract, now produced by
  *     a verb), keep ≥ history is a no-op, keep = 0 is refused;
  *   - `ALTER TABLE ADD COLUMNS` (judged `s38`): the DEFAULT backfill
  *     is a READ-time metadata effect — not one data file changes;
  *   - bucket-width validation: widths above Int.MaxValue are refused
  *     at every ingestion point (the reported transform truncates to
  *     Int, so two widths 2^32 apart would alias);
  *   - `TIMESTAMP AS OF` resolves from the manifest-embedded commit
  *     instant, surviving mtime damage (backup-restore). */
class Round15OpsSpec extends SparkSpec {

  /** Three append-only versions: v1 = [0,100), v2 adds [100,200),
    * v3 adds [200,300). Early files stay referenced by every later
    * manifest — the sharing expire must respect. */
  private def appendChain(cat: String): String = {
    val s = spark
    import s.implicits._
    def wave(lo: Int, hi: Int) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
      .coalesce(1)
    wave(0, 100).writeTo(s"$cat.t").create()
    wave(100, 200).writeTo(s"$cat.t").append()
    wave(200, 300).writeTo(s"$cat.t").append()
    s"$cat.t"
  }

  test("expire_versions: shared files survive, expired versions fail loudly, current read intact") {
    withCatalog { (cat, root) =>
      val t = appendChain(cat)
      val dir = new File(root, "t").getPath
      val v1File = LedgerSource.readManifest(dir, 1L).head
      val before = spark.table(t).collect().map(_.toSeq).toSet
      val summary = spark.sql(s"CALL $cat.system.expire_versions('t', 1)")
        .collect().head
      assert(summary.getLong(0) == 2L, "v1 and v2 must expire")
      assert(summary.getLong(1) == 0L, "nothing is orphaned here")
      // the v1 file is SHARED with the surviving v3 — it must survive
      assert(new File(dir, v1File).isFile,
        "a file referenced by a surviving version was reclaimed")
      assert(spark.table(t).collect().map(_.toSeq).toSet == before,
        "the current read must be identical before and after expiry")
      // expired versions fail LOUDLY; the survivor still reads
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
      }
      assert(e.getMessage.contains("no version 1") ||
        e.getMessage.contains("version 1"), e.getMessage)
      assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 3").count() == 300)
    }
  }

  test("expire_versions: reclaims uncommitted orphans, never live files") {
    withCatalog { (cat, root) =>
      val t = appendChain(cat)
      val dir = new File(root, "t")
      // a crash leftover: landed, never committed — no manifest knows it
      val donor = LedgerSource.ledgerFiles(dir.getPath).head
      java.nio.file.Files.copy(donor.toPath,
        new File(dir, "zz-orphan.gl").toPath)
      val nLive = LedgerSource.ledgerFiles(dir.getPath).length - 1
      val summary = spark.sql(s"CALL $cat.system.expire_versions('t', 2)")
        .collect().head
      assert(summary.getLong(0) == 1L) // v1 expired
      assert(summary.getLong(1) == 1L, "exactly the orphan is reclaimed")
      assert(!new File(dir, "zz-orphan.gl").exists())
      assert(LedgerSource.ledgerFiles(dir.getPath).length == nLive)
      assert(spark.table(t).count() == 300)
    }
  }

  test("expire_versions: keep >= history is a no-op; keep = 0 refused") {
    withCatalog { (cat, root) =>
      val t = appendChain(cat)
      val summary = spark.sql(s"CALL $cat.system.expire_versions('t', 99)")
        .collect().head
      assert(summary.getLong(0) == 0L && summary.getLong(1) == 0L)
      assert(LedgerSource.listVersions(
        new File(root, "t").getPath) == Seq(1L, 2L, 3L))
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.expire_versions('t', 0)").collect()
      }
      assert(e.getMessage.contains("keep must be >= 1"), e.getMessage)
      assert(spark.table(t).count() == 300)
    }
  }

  test("ALTER TABLE ADD COLUMNS DEFAULT backfills at READ time — zero data files rewritten") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS r15_evolve")
    val warehouse = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val loc = new File(warehouse, "r15_evolve")
    if (loc.exists()) {
      val walk = java.nio.file.Files.walk(loc.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
      finally walk.close()
    }
    s.sql("CREATE TABLE r15_evolve (id BIGINT) USING parquet")
    s.sql("INSERT INTO r15_evolve SELECT id FROM range(100)")
    def dataFiles(): Map[String, (Long, Long)] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(loc).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    }
    val before = dataFiles()
    assert(before.nonEmpty)
    s.sql("ALTER TABLE r15_evolve ADD COLUMNS (grade STRING DEFAULT 'ungraded')")
    assert(dataFiles() == before,
      "the DEFAULT backfill must not rewrite a single data file")
    // …and yet every pre-evolution row reads the default
    assert(s.table("r15_evolve").where(col("grade") === "ungraded")
      .count() == 100)
    s.sql("DROP TABLE r15_evolve")
  }

  test("bucket widths above Int.MaxValue are refused at every ingestion point") {
    val wide = (Int.MaxValue.toLong + 1).toString
    withCatalog { (cat, root) =>
      val e1 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.wide (doc_id BIGINT, lang STRING, " +
          s"n_chars BIGINT) TBLPROPERTIES ('bucket' = '$wide')")
      }
      assert(e1.getMessage.contains("bucket width"), e1.getMessage)
      // path API option
      val dir = new File(root, "pathwide"); dir.mkdirs()
      val s = spark
      import s.implicits._
      val df = Seq((1L, "a", 1L)).toDF("doc_id", "lang", "n_chars")
      val e2 = intercept[Exception] {
        df.write.format("graft-ledger").mode("append")
          .option("bucket", wide).save(dir.getPath)
      }
      assert(e2.getMessage.contains("bucket width"), e2.getMessage)
      // a hand-tampered _props file fails at READ time, not silently
      df.write.format("graft-ledger").mode("append").save(dir.getPath)
      java.nio.file.Files.write(new File(dir, "_props").toPath,
        s"bucket=$wide\n".getBytes("UTF-8"))
      val e3 = intercept[Exception] {
        spark.read.format("graft-ledger").load(dir.getPath).count()
      }
      assert(e3.getMessage.contains("bucket width"), e3.getMessage)
    }
  }

  test("TopN pushdown: the cutoff never opens pruned files and survives overlapping ranges") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(Portable.scratchRoot, "r15_topn").toString
    // 4 disjoint range files over [0,400)
    spark.range(0, 400).select($"id".as("doc_id"),
        lit("x").as("lang"), $"id".as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .write.format("graft-ledger").mode("overwrite").save(dir)
    def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.get
    val asc = spark.read.format("graft-ledger").load(dir)
      .orderBy($"doc_id").limit(10)
    assert(asc.queryExecution.sparkPlan.toString.contains("PushedTopN"),
      asc.queryExecution.sparkPlan.toString)
    assert(scanPartitions(asc) == 1,
      "ASC top-10 must plan exactly the lowest-range file")
    assert(asc.collect().map(_.getLong(0)).toSeq == (0L to 9L))
    val desc = spark.read.format("graft-ledger").load(dir)
      .orderBy($"doc_id".desc).limit(5)
    assert(scanPartitions(desc) == 1,
      "DESC top-5 must plan exactly the highest-range file")
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      (399L to 395L by -1))
    // plain LIMIT: any prefix covering n rows — at most one 100-row file
    val lim = spark.read.format("graft-ledger").load(dir).limit(7)
    assert(scanPartitions(lim) == 1, "LIMIT 7 needs one 100-row file")
    assert(lim.count() == 7)
    // overlapping ranges: a wide file hides the smallest keys — the
    // cutoff must keep it even though a narrow file alone covers n
    val dir2 = java.nio.file.Files.createTempDirectory(Portable.scratchRoot, "r15_topn2").toString
    // file W: [0, 1000] sparse (2 rows); file Nw: [2,3] dense (60 rows)
    Seq(0L, 1000L).toDF("doc_id")
      .select($"doc_id", lit("w").as("lang"), $"doc_id".as("n_chars"))
      .coalesce(1).write.format("graft-ledger").mode("append").save(dir2)
    spark.range(0, 60).select(lit(2L) + ($"id" % 2), lit("n"), $"id")
      .toDF("doc_id", "lang", "n_chars")
      .coalesce(1).write.format("graft-ledger").mode("append").save(dir2)
    val got = spark.read.format("graft-ledger").load(dir2)
      .orderBy($"doc_id").limit(3).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 2L, 2L),
      s"the wide file's small key must survive the cutoff: $got")
  }

  test("limit pushdown backs off under filters and tombstones — headers are over-counts there") {
    val s = spark
    import s.implicits._
    withCatalog { (cat, root) =>
      val t = appendChain(cat) // 3 files of 100 rows each
      // a pushed doc_id filter makes header counts over-counts for the
      // selection: the builder must decline and the full answer stand
      val filtered = spark.table(t).where($"doc_id" >= 95)
        .orderBy($"doc_id").limit(10)
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("PushedTopN"))
      assert(filtered.collect().map(_.getLong(0)).toSeq ==
        (95L to 104L), "filtered top-10 must be exact")
    }
    // tombstones: MoR-delete the low keys, then TopN — the scan must
    // back off the file cutoff, or the dead rows' header counts would
    // under-deliver live rows
    val (cat2, root2) = freshCatalog()
    spark.range(0, 300).select($"id".as("doc_id"), lit("w").as("lang"),
        $"id".as("n_chars"))
      .repartitionByRange(3, $"doc_id")
      .writeTo(s"$cat2.t").tableProperty("mor", "true").create()
    spark.sql(s"DELETE FROM $cat2.t WHERE n_chars < 95") // tombstones 0..94
    val live = spark.table(s"$cat2.t").orderBy($"doc_id").limit(10)
    assert(live.collect().map(_.getLong(0)).toSeq == (95L to 104L),
      "the file cutoff must back off while tombstones are live")
  }

  test("history metadata table: dangling versions report NULL rows, never lie") {
    withCatalog { (cat, root) =>
      val t = appendChain(cat) // v1, v2, v3 share early files
      // a destructive rewrite: compact to one file — v1..v3's files go
      spark.sql(s"CALL $cat.system.compact('t', 1)")
      val h = spark.table(s"$cat.t.history")
        .select(col("version"), col("n_rows"), col("reconstructable"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getBoolean(2))).sortBy(_._1)
      assert(h.length == 4)
      // pre-compact versions dangle (their files were replaced)…
      h.take(3).foreach { case (v, rows, ok) =>
        assert(rows.isEmpty && !ok, s"version $v must report itself gone")
      }
      // …the compacted current version reconstructs with every row
      assert(h.last == ((4L, Some(300L), true)))
      // and a real table named `history` would win over the view:
      // nothing shadows here, but an unknown base errors loudly
      intercept[Exception] {
        spark.table(s"$cat.nosuch.history").collect()
      }
      assert(spark.table(t).count() == 300)
    }
  }

  test("enforced CHECK constraint: violating writes fail before commit, valid ones land") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.sql(s"CREATE TABLE $cat.t (doc_id BIGINT, lang STRING, " +
        s"n_chars BIGINT) TBLPROPERTIES ('check' = 'n_chars >= 0')")
      Seq((1L, "a", 10L), (2L, "b", 0L)).toDF("doc_id", "lang", "n_chars")
        .writeTo(s"$cat.t").append()
      val e = intercept[Exception] {
        Seq((3L, "c", -5L)).toDF("doc_id", "lang", "n_chars")
          .writeTo(s"$cat.t").append()
      }
      assert(e.getMessage.toLowerCase.contains("check") ||
        e.getMessage.contains("ledger_check"), e.getMessage)
      // the failed job landed NOTHING (task files aborted away)
      assert(spark.table(s"$cat.t").count() == 2)
      val dir = new File(root, "t").getPath
      assert(LedgerSource.listVersions(dir).length == 1,
        "a failed write must not commit a version")
    }
  }

  test("ADD/DROP CONSTRAINT manage the check slot post-creation; schema changes stay refused") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.sql(s"CREATE TABLE $cat.t (doc_id BIGINT, lang STRING, n_chars BIGINT)")
      Seq((1L, "a", 10L)).toDF("doc_id", "lang", "n_chars")
        .writeTo(s"$cat.t").append()
      spark.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT pos_chars " +
        "CHECK (n_chars >= 0)")
      val e = intercept[Exception] {
        Seq((2L, "b", -1L)).toDF("doc_id", "lang", "n_chars")
          .writeTo(s"$cat.t").append()
      }
      assert(e.getMessage.toLowerCase.contains("check") ||
        e.getMessage.contains("pos_chars"), e.getMessage)
      // only one slot: a second ADD is refused with a pointer
      val dup = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT more CHECK (doc_id > 0)")
      }
      assert(dup.getMessage.contains("DROP CONSTRAINT pos_chars"),
        dup.getMessage)
      // DROP re-opens the gate
      spark.sql(s"ALTER TABLE $cat.t DROP CONSTRAINT pos_chars")
      Seq((2L, "b", -1L)).toDF("doc_id", "lang", "n_chars")
        .writeTo(s"$cat.t").append()
      assert(spark.table(s"$cat.t").count() == 2)
      // schema changes keep failing loudly
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (extra BIGINT)")
      }
      ()
    }
  }

  test("path-API time travel: versionAsOf / timestampAsOf options mirror the catalog verbs") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(Portable.scratchRoot, "r15_ttopt").toString
    def wave(lo: Int, hi: Int) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
      .coalesce(1)
    wave(0, 100).write.format("graft-ledger").mode("append").save(dir)
    wave(100, 250).write.format("graft-ledger").mode("append").save(dir)
    assert(spark.read.format("graft-ledger")
      .option("versionAsOf", "1").load(dir).count() == 100)
    assert(spark.read.format("graft-ledger").load(dir).count() == 250)
    val t1 = LedgerSource.commitTimeMillis(dir, 1L)
    assert(spark.read.format("graft-ledger")
      .option("timestampAsOf", t1.toString).load(dir).count() == 100)
    // before the first commit: loud failure, not an empty read
    val early = intercept[Exception] {
      spark.read.format("graft-ledger")
        .option("timestampAsOf", (t1 - 10).toString).load(dir).count()
    }
    assert(early.getMessage.contains("no version"), early.getMessage)
    // the two spellings are mutually exclusive
    intercept[Exception] {
      spark.read.format("graft-ledger").option("versionAsOf", "1")
        .option("timestampAsOf", t1.toString).load(dir).count()
    }
    // a pinned table is read-only — a write through the pin refuses
    // (it surfaces as the fallback-path error because the snapshot
    // declares BATCH_READ only) and the table is untouched
    intercept[Exception] {
      wave(250, 260).write.format("graft-ledger").mode("append")
        .option("versionAsOf", "1").save(dir)
    }
    assert(spark.read.format("graft-ledger").load(dir).count() == 250)
    assert(LedgerSource.listVersions(dir) == Seq(1L, 2L))
  }

  test("CHECK constraints gate row-level verbs too — a violating UPDATE fails on both write paths") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      Seq(("cow_t", ""), ("mor_t", "mor")).foreach { case (t, flavor) =>
        val props = if (flavor == "mor")
          "TBLPROPERTIES ('check' = 'n_chars >= 0', 'mor' = 'true')"
        else "TBLPROPERTIES ('check' = 'n_chars >= 0')"
        spark.sql(s"CREATE TABLE $cat.$t (doc_id BIGINT, lang STRING, " +
          s"n_chars BIGINT) $props")
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "lang", "n_chars")
          .writeTo(s"$cat.$t").append()
        val e = intercept[Exception] {
          spark.sql(s"UPDATE $cat.$t SET n_chars = n_chars - 100 " +
            "WHERE doc_id = 1")
        }
        assert(e.getMessage.toLowerCase.contains("check"),
          s"$t: ${e.getMessage}")
        // the failed verb changed nothing on either write path
        assert(spark.table(s"$cat.$t").agg(sum($"n_chars"))
          .collect().head.getLong(0) == 30L, s"$t mutated on failure")
      }
    }
  }

  test("mor is toggleable via SET TBLPROPERTIES; bucket evolves (s65); SHOW TBLPROPERTIES reports both") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.sql(s"CREATE TABLE $cat.t (doc_id BIGINT, lang STRING, " +
        s"n_chars BIGINT) TBLPROPERTIES ('bucket' = '100')")
      spark.range(0, 200).select($"id".as("doc_id"), lit("w").as("lang"),
          $"id".as("n_chars"))
        .writeTo(s"$cat.t").append()
      val dir = new File(root, "t").getPath
      // CoW before the toggle: an update rewrites files
      val before = LedgerSource.ledgerFiles(dir).map(_.getName).toSet
      spark.sql(s"UPDATE $cat.t SET n_chars = 0 WHERE doc_id = 7")
      assert(LedgerSource.ledgerFiles(dir).map(_.getName).toSet != before)
      assert(LedgerSource.deleteFiles(dir).isEmpty)
      // toggle on: the same verb now tombstones
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('mor' = 'true')")
      val mid = LedgerSource.ledgerFiles(dir).map(_.getName).toSet
      spark.sql(s"UPDATE $cat.t SET n_chars = 1 WHERE doc_id = 8")
      assert(mid.subsetOf(LedgerSource.ledgerFiles(dir).map(_.getName).toSet))
      assert(LedgerSource.deleteFiles(dir).nonEmpty)
      // visible in SHOW TBLPROPERTIES
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(props.get("mor").contains("true") &&
        props.get("bucket").contains("100"), props.toString)
      // toggle off again: verbs rewrite, reads stay exact through the
      // now-historical tombstones
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('mor')")
      spark.sql(s"UPDATE $cat.t SET n_chars = 2 WHERE doc_id = 9")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 200)
      assert(t.where($"doc_id".isin(7, 8, 9)).orderBy($"doc_id")
        .select($"n_chars").collect().map(_.getLong(0)).toSeq ==
        Seq(0L, 1L, 2L))
      // the layout claim EVOLVES since r17 (s65): a width change is a
      // new spec the scan validates per file (mixed states demote,
      // compaction migrates) — only garbage values refuse
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bucket' = '50')")
      val evolved = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(evolved.get("bucket").contains("50"), evolved.toString)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bucket' = 'x')")
      }
      ()
    }
  }

  test("change feed: slices compose, destructive ranges refuse, expired ranges refuse") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 100).select($"id".as("doc_id"), lit("w").as("lang"),
          $"id".as("n_chars")).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("mor", "true").create()   // v1
      spark.range(100, 150).select($"id".as("doc_id"), lit("x").as("lang"),
          $"id".as("n_chars")).coalesce(1)
        .writeTo(s"$cat.t").append()                                // v2
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 10 = 3")        // v3
      val dir = new File(root, "t").getPath
      def feed(a: Long, b: Long) = spark.read.format("graft-ledger")
        .option("changesFrom", a.toString).option("changesTo", b.toString)
        .load(dir)
      // slicing composes: (0,3] = (0,2] ∪ (2,3] as multisets
      val whole = feed(0, 3).collect().map(_.toSeq).sorted(
        Ordering.by((x: Seq[Any]) => x.toString()))
      val sliced = (feed(0, 2).collect() ++ feed(2, 3).collect())
        .map(_.toSeq).sorted(Ordering.by((x: Seq[Any]) => x.toString()))
      assert(whole.toSeq == sliced.toSeq, "feed slices must compose")
      // delete events carry before-images
      val dels = feed(2, 3).where($"_change_type" === "delete")
      assert(dels.count() == 15) // %10==3 in [0,150)
      assert(dels.where($"lang".isin("w", "x")).count() == 15)
      // a destructive rewrite poisons the range — REFUSE, never lossy
      spark.sql(s"CALL $cat.system.compact('t', 1)")                // v4
      val e = intercept[Exception] { feed(3, 4).collect() }
      assert(e.getMessage.contains("before-images"), e.getMessage)
      // pre-destruction slices still replay (their files survive the
      // compact? compaction truncate-removes them — so they refuse too,
      // loudly, rather than emitting from gone files)
      val e2 = intercept[Exception] { feed(0, 2).collect() }
      assert(e2.getMessage.contains("reconstructable") ||
        e2.getMessage.contains("gone"), e2.getMessage)
    }
  }

  test("branched change feed: lineage walk, cross-lineage refusal, unbranched unchanged") {
    // the s52 planner semantics, pinned on a controlled interleave:
    // commits alternate main / dev / main, and each lineage's feed
    // must contain exactly its own commits — while an interval whose
    // endpoints live on DIFFERENT lineages refuses by name (there is
    // no lineage whose changes it names).
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def wave(lo: Int, hi: Int, lang: String) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit(lang).as("lang"),
          $"id".as("n_chars")).coalesce(1)
      wave(0, 50, "base").writeTo(s"$cat.t")
        .tableProperty("mor", "true").create()                     // v1
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
      wave(100, 130, "m").writeTo(s"$cat.t").append()              // v2 main
      wave(200, 220, "d").writeTo(s"$cat.t.branch_dev").append()   // v3 dev
      wave(300, 310, "m2").writeTo(s"$cat.t").append()             // v4 main
      val dir = new File(root, "t").getPath
      def feed(from: String, to: String) = spark.read
        .format("graft-ledger").option("changesFrom", from)
        .option("changesTo", to).load(dir)
      val dev = feed("1", "dev").collect()
      assert(dev.map(_.getLong(4)).toSet == Set(3L) &&
        dev.length == 20, "dev's feed = exactly its own commit")
      val main = feed("1", "main").collect()
      assert(main.map(_.getLong(4)).toSet == Set(2L, 4L) &&
        main.length == 40, "main's feed = exactly its own commits")
      // endpoints on different lineages: refuse by name
      val e = intercept[Exception] { feed("3", "main").collect() }
      assert(e.getMessage.contains("not an ancestor"), e.getMessage)
      // and the full-history feed from 0 through a lineage head works
      assert(feed("0", "dev").count() == 70)
      ()
    }
  }

  test("a main-following change stream survives fast_forward exactly once") {
    // FF's ancestry precondition is exactly stream continuity: the
    // checkpointed offset (old main head) is an ancestor of the new
    // head (the branch's), so the resumed walk delivers the branch's
    // commits once and nothing twice.
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def wave(lo: Int, hi: Int, lang: String) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit(lang).as("lang"),
          $"id".as("n_chars")).coalesce(1)
      wave(0, 40, "base").writeTo(s"$cat.t")
        .tableProperty("mor", "true").create()                     // v1
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
      val dir = new File(root, "t").getPath
      val sink = graft.queries.Portable.scratchPath(
        s"r15ff_sink_${System.nanoTime()}")
      val ckpt = graft.queries.Portable.scratchPath(
        s"r15ff_ckpt_${System.nanoTime()}")
      def drain(): Unit = {
        val q = spark.readStream.format("graft-ledger")
          .option("changesFrom", "0").load(dir) // branched → follows main
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // ships v1 (main head = 1)
      wave(100, 130, "d").writeTo(s"$cat.t.branch_dev").append()   // v2: dev
      drain() // main still at 1 — nothing new
      assert(spark.read.parquet(sink).count() == 40)
      spark.sql(s"CALL $cat.system.fast_forward('t', 'dev')")      // main → 2
      drain() // resumes: the FF'd-in branch commit, exactly once
      val rows = spark.read.parquet(sink)
      assert(rows.count() == 70, "v1 once + the FF'd branch wave once")
      assert(rows.where($"_commit_version" === 2L).count() == 30)
      ()
    }
  }

  test("CDF-driven MV refresh is snapshot-point independent") {
    // the s47 identity, quantified over the snapshot point: a view
    // full-built at ANY version v, refreshed with the signed fold of
    // changes (v, head], equals the full recompute at head. Running
    // the same mutation history against every possible build point
    // pins that inserts, MoR delete before-images, and update
    // delete+insert pairs all carry exactly their algebraic weight —
    // an off-by-one in the interval or a lossy before-image breaks
    // SOME build point even if the judged one survives.
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def wave(lo: Int, hi: Int, lang: String) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit(lang).as("lang"),
          $"id".as("n_chars")).coalesce(1)
      wave(0, 80, "w").writeTo(s"$cat.t")
        .tableProperty("mor", "true").create()                      // v1
      val dir = new File(root, "t").getPath
      // snapshot the view state at every version as it happens
      def viewNow(): Map[String, (Long, Long)] =
        spark.table(s"$cat.t").groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val states = scala.collection.mutable.Map(1L -> viewNow())
      wave(80, 140, "x").writeTo(s"$cat.t").append()                // v2
      states(2L) = viewNow()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 3 = 1")         // v3
      states(3L) = viewNow()
      spark.sql(s"UPDATE $cat.t SET n_chars = n_chars + 1000 " +
        s"WHERE lang = 'x'")                                        // v4
      states(4L) = viewNow()
      val head = 4L
      val full = states(head)
      (1L to head).foreach { v =>
        val refreshed: Map[String, (Long, Long)] =
          if (v == head) states(v)
          else {
            val sign = when($"_change_type" === "insert", lit(1L))
              .otherwise(lit(-1L))
            val delta = spark.read.format("graft-ledger")
              .option("changesFrom", v.toString)
              .option("changesTo", head.toString).load(dir)
              .select($"lang", sign.as("sgn"), $"n_chars")
              .groupBy($"lang")
              .agg(sum($"sgn").as("dn"), sum($"sgn" * $"n_chars").as("dc"))
              .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            (states(v).toSeq.map { case (l, (n, c)) => (l, n, c) } ++ delta)
              .groupBy(_._1)
              .map { case (l, xs) => l -> ((xs.map(_._2).sum, xs.map(_._3).sum)) }
              .filter(_._2._1 > 0)
          }
        assert(refreshed == full,
          s"refresh from build point v$v diverged from the recompute")
      }
    }
  }

  test("multipleWatermarkPolicy: global watermark is the laggard under min, the frontier under max") {
    // the semantics st24 rides, pinned on MemoryStream: two watermarked
    // inputs whose frontiers differ by 2 hours — under the default
    // `min` policy the GLOBAL watermark is the laggard's (nothing
    // finalizes until every input passed it), under `max` the fast
    // input's. A policy change or default flip fails here by name.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    def finalWatermark(policy: String): String =
      GraftSession.withConf(s, "spark.sql.streaming.multipleWatermarkPolicy" -> policy) {
        val a = MemoryStream[java.sql.Timestamp]
        val b = MemoryStream[java.sql.Timestamp]
        val counts = a.toDF().toDF("ts").withWatermark("ts", "10 minutes")
          .unionByName(b.toDF().toDF("ts").withWatermark("ts", "10 minutes"))
          .groupBy(window(col("ts"), "60 minutes")).count()
        val q = counts.writeStream.format("memory")
          .queryName(s"r15_wm_$policy").outputMode("append").start()
        try {
          a.addData(ts("2019-07-01 12:00:00"))
          b.addData(ts("2019-07-01 10:00:00"))
          q.processAllAvailable()
          a.addData(ts("2019-07-01 12:00:01")) // one more batch so the
          b.addData(ts("2019-07-01 10:00:01")) // watermark surfaces
          q.processAllAvailable()
          q.recentProgress.toSeq
            .flatMap(p => Option(p.eventTime.get("watermark"))).max
        } finally q.stop()
      }
    assert(finalWatermark("min") == "2019-07-01T09:50:01.000Z",
      "min policy: the laggard input's frontier bounds the global watermark")
    assert(finalWatermark("max") == "2019-07-01T11:50:01.000Z",
      "max policy: the fast input's frontier drives the global watermark")
  }

  test("TIMESTAMP AS OF resolves from the manifest-embedded instant, not mtimes") {
    withCatalog { (cat, root) =>
      val t = appendChain(cat)
      val dir = new File(root, "t").getPath
      val t2 = LedgerSource.commitTimeMillis(dir, 2L)
      // simulate a backup-restore: every manifest mtime is damaged
      val vdir = new File(dir, "_versions")
      Option(vdir.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => assert(f.setLastModified(1000L)))
      // v2's embedded commit instant → resolves v2 exactly (its 200
      // rows), even though every mtime now says 1970
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC) // the session timezone
        .format(java.time.Instant.ofEpochMilli(t2))
      val rows = spark.sql(
        s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF '$ts'")
        .collect().head.getLong(0)
      assert(rows == 200L,
        s"TIMESTAMP AS OF must resolve v2 from the embedded #ts ($rows)")
    }
  }
}
