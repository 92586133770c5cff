package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.LedgerSource

/** Round-17 position-scoped deletes (`.gp` overlays + `_pos` + the
  * `delete_at` verb) — Iceberg's position-delete form, the merge-on-read
  * delete that needs NO key and is therefore the only one that can
  * separate exact duplicate rows.
  *
  * Pins:
  *   - `_pos` is the physical ordinal (stable under filters: a pushed
  *     predicate never renumbers survivors);
  *   - `delete_at` kills exactly the named ordinals of exactly the
  *     named file — a duplicated row loses ONE copy (a key DELETE
  *     necessarily kills every copy);
  *   - the overlay rides the whole lifecycle: time travel replays it
  *     (and its absence), the change feed emits the before-images as
  *     `delete` events, clones count through it, and every REWRITE path
  *     (REPLACE WHERE clips, rewrite_tombstones folds) applies it so
  *     position-dead rows never resurrect under a fresh file name;
  *   - validation is loud: non-mor tables, non-live files, and
  *     out-of-range ordinals refuse. */
class PositionDeleteSpec extends SparkSpec {

  private def wave(lo: Int, hi: Int, lang: String = "w") = {
    val s = spark
    import s.implicits._
    spark.range(lo, hi).select($"id".as("doc_id"), lit(lang).as("lang"),
      $"id".as("n_chars")).coalesce(1)
  }

  private def onlyFile(tdir: String): String = {
    val fs = LedgerSource.ledgerFiles(tdir)
    assert(fs.length == 1, s"expected one data file, got ${fs.length}")
    fs.head.getName
  }

  test("_pos is the physical ordinal, stable under pushed filters") {
    withCatalog { (cat, root) =>
      wave(0, 10).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      // single writer task preserves range() order: ordinal == doc_id
      val rows = spark.table(s"$cat.t")
        .select(col("doc_id"), col("_pos"), col("_file"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == (0L until 10L).map(i => (i, i)).toSet)
      // a pushed filter must NOT renumber survivors — _pos addresses
      // file content, not the result set
      val filtered = spark.table(s"$cat.t").where(col("doc_id") >= 7)
        .select(col("doc_id"), col("_pos"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(filtered == Set((7L, 7L), (8L, 8L), (9L, 9L)))
    }
  }

  test("delete_at kills exactly the named ordinals; duplicates lose one copy") {
    withCatalog { (cat, root) =>
      // two EXACT copies of the same rows — no key can separate them
      wave(0, 6).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      wave(0, 6).writeTo(s"$cat.t").append()
      val tdir = new File(root, "t").getPath
      assert(spark.table(s"$cat.t").count() == 12)
      // kill the SECOND file's copies of doc_ids 1 and 4 (ordinal==id)
      val f2 = LedgerSource.ledgerFiles(tdir).map(_.getName).sorted.last
      val res = spark.sql(
        s"CALL $cat.system.delete_at('t', '$f2', '1, 4')").collect().head
      assert(res.getString(0) == f2 && res.getLong(1) == 2)
      val after = spark.table(s"$cat.t").groupBy("doc_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(after == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 2L,
        4L -> 1L, 5L -> 2L),
        s"exactly one copy of 1 and 4 must die: $after")
      // re-cutting a DEAD position is a NO-OP, not a second delete
      // event: nothing lands, the version chain does not move (a
      // duplicate event would drive the change feed's signed folds
      // negative — the discipline key deletes get from their
      // through-the-overlay scan)
      val vBefore = LedgerSource.listVersions(tdir).max
      val noop = spark.sql(
        s"CALL $cat.system.delete_at('t', '$f2', '1')").collect().head
      assert(noop.getLong(1) == 0 && noop.getLong(2) == vBefore)
      assert(LedgerSource.listVersions(tdir).max == vBefore)
      assert(spark.table(s"$cat.t").count() == 10)
      // a MIXED cut (one live, one dead position) cuts only the live one
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 0") // kills both copies
      val f1 = LedgerSource.ledgerFiles(tdir).map(_.getName).sorted.head
      val mixed = spark.sql(
        s"CALL $cat.system.delete_at('t', '$f1', '0,2')").collect().head
      assert(mixed.getLong(1) == 1,
        s"the key-tombstoned ordinal 0 must be dropped: $mixed")
      assert(spark.table(s"$cat.t").groupBy("doc_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
    }
  }

  test("positions ride time travel, history, lineage, and the change feed") {
    withCatalog { (cat, root) =>
      wave(0, 8, "aa").writeTo(s"$cat.t").tableProperty("mor", "true")
        .create()                                                 // v1
      val tdir = new File(root, "t").getPath
      val f = onlyFile(tdir)
      spark.sql(s"CALL $cat.system.delete_at('t', '$f', '2,5')")  // v2
      // time travel: v1 replays WITHOUT the overlay, v2 with it
      assert(spark.read.format("graft-ledger").option("versionAsOf", "1")
        .load(tdir).count() == 8)
      assert(spark.table(s"$cat.t").count() == 6)
      // history counts the .gp as a delete file
      val h = spark.table(s"$cat.t.history").where(col("version") === 2)
        .select("n_delete_files", "n_rows").collect().head
      assert(h.getLong(0) == 1)
      // lineage: v2 added 0 data rows, 2 tombstones
      val lin = spark.table(s"$cat.t.lineage").where(col("version") === 2)
        .select("rows_added", "tombstones_added").collect().head
      assert(lin.getLong(0) == 0 && lin.getLong(1) == 2)
      // change feed: the cut replays as delete events with full
      // before-images at v2
      val feed = spark.read.format("graft-ledger").option("changesFrom", "1")
        .load(tdir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getLong(4))).toSet
      assert(feed == Set((2L, "aa", 2L, "delete", 2L),
        (5L, "aa", 5L, "delete", 2L)), s"feed was $feed")
    }
  }

  test("rewrites apply the position overlay: no resurrection under fresh names") {
    withCatalog { (cat, root) =>
      wave(0, 10).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      val tdir = new File(root, "t").getPath
      val f = onlyFile(tdir)
      spark.sql(s"CALL $cat.system.delete_at('t', '$f', '0,9')")
      // also a KEY tombstone on the same file — both overlays must fold
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 4")
      assert(spark.table(s"$cat.t").count() == 7)
      // REPLACE WHERE clips the file (interval [6, 7]): survivors land
      // under a fresh name; ordinals 0 and 9 and key 4 must stay dead
      spark.sql(s"INSERT INTO $cat.t REPLACE WHERE doc_id >= 6 AND " +
        s"doc_id <= 7 SELECT CAST(id + 100 AS BIGINT), 'rw', id " +
        s"FROM range(2)")
      val ids = spark.table(s"$cat.t").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L, 5L, 8L, 100L, 101L),
        s"clip must keep both overlays applied: $ids")
    }
  }

  test("rewrite_tombstones folds .gp sections and drops them") {
    withCatalog { (cat, root) =>
      wave(0, 10).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      val tdir = new File(root, "t").getPath
      val f = onlyFile(tdir)
      spark.sql(s"CALL $cat.system.delete_at('t', '$f', '1,2,3,4')")
      val before = spark.table(s"$cat.t").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val res = spark.sql(
        s"CALL $cat.system.rewrite_tombstones('t', 0.2)").collect().head
      assert(res.getLong(0) == 1 && res.getLong(1) == 4,
        s"one hot file, four positions dropped: $res")
      // the overlay is gone, the read identical
      assert(LedgerSource.deleteFiles(tdir).isEmpty)
      assert(spark.table(s"$cat.t").select("doc_id")
        .collect().map(_.getLong(0)).toSet == before)
    }
  }

  test("clone counts live rows through the position overlay") {
    withCatalog { (cat, root) =>
      wave(0, 9).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      val tdir = new File(root, "t").getPath
      val f = onlyFile(tdir)
      spark.sql(s"CALL $cat.system.delete_at('t', '$f', '0,1,2')")
      val c = spark.sql(s"CALL $cat.system.clone('t', 'u')").collect().head
      assert(c.getLong(1) == 6, s"clone n_rows must be live rows: $c")
      assert(spark.table(s"$cat.u").count() == 6)
    }
  }

  test("t.files inventories stats and both overlay kinds' dead counts") {
    withCatalog { (cat, root) =>
      wave(0, 10, "aa").writeTo(s"$cat.t").tableProperty("mor", "true")
        .create()
      wave(10, 16, "bb").writeTo(s"$cat.t").append()
      val tdir = new File(root, "t").getPath
      val byMin = LedgerSource.ledgerFiles(tdir)
        .map(f => (LedgerSource.readStats(f)._1, f.getName)).toMap
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (3, 12)") // .gd both
      spark.sql(s"CALL $cat.system.delete_at('t', '${byMin(0L)}', '5,6')")
      val rows = spark.table(s"$cat.t.files")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(5), r.getLong(6))).toMap
      assert(rows(byMin(0L)) == ((10L, 0L, 9L, 1L, 2L)))
      assert(rows(byMin(10L)) == ((6L, 10L, 15L, 1L, 0L)))
      // .indexes now reports BOTH declared index kinds per file
      spark.sql(s"CALL $cat.system.build_bloom('t', 'lang')").collect()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      val idx = spark.table(s"$cat.t.indexes")
        .select("kind", "column", "indexed").distinct()
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getBoolean(2))).toSet
      assert(idx == Set(("bloom", "lang", true), ("zone", "n_chars", true)))
    }
  }

  test("on a branched table delete_at consults only main's lineage overlay") {
    withCatalog { (cat, root) =>
      wave(0, 8).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      val tdir = new File(root, "t").getPath
      val f = onlyFile(tdir)
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
      // a DEV-only key delete of doc 3 — its .gd lives in the shared
      // directory but applies only to dev's lineage
      spark.sql(s"DELETE FROM $cat.t.branch_dev WHERE doc_id = 3")
      assert(spark.table(s"$cat.t").count() == 8)
      // cutting ordinal 3 on MAIN must still fire: dev's tombstone is
      // not main's — a listing-scoped dead-check would wrongly no-op
      val res = spark.sql(
        s"CALL $cat.system.delete_at('t', '$f', '3')").collect().head
      assert(res.getLong(1) == 1,
        s"dev's overlay must not suppress a cut on main: $res")
      assert(spark.table(s"$cat.t").select("doc_id")
        .collect().map(_.getLong(0)).toSet ==
        Set(0L, 1L, 2L, 4L, 5L, 6L, 7L))
      // dev is blind to main's position cut (not in its manifest)
      assert(spark.table(s"$cat.t.branch_dev").select("doc_id")
        .collect().map(_.getLong(0)).toSet ==
        Set(0L, 1L, 2L, 4L, 5L, 6L, 7L))
    }
  }

  test("the streamed change feed replays a position cut as delete events") {
    withCatalog { (cat, root) =>
      wave(0, 6, "aa").writeTo(s"$cat.t").tableProperty("mor", "true")
        .create()                                                // v1
      val tdir = new File(root, "t").getPath
      val f = onlyFile(tdir)
      spark.sql(s"CALL $cat.system.delete_at('t', '$f', '2,4')") // v2
      val sink = s"pd_stream_${System.nanoTime()}"
      val q = spark.readStream.format("graft-ledger")
        .option("changesFrom", "0").load(tdir)
        .writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val events = spark.table(sink)
        .select("doc_id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val inserts = (0L until 6L).map(i => (i, "insert", 1L)).toSet
      assert(events == inserts ++ Set((2L, "delete", 2L), (4L, "delete", 2L)),
        s"the microbatch tail must carry the .gp cut: $events")
    }
  }

  test("dedup_rows cuts every surplus copy distributed, composes with prior overlays") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      // duplicates WITHIN one wave and ACROSS waves, nulls included:
      // content (doc_id%4, lang-or-null, n_chars%3) repeats heavily
      def grid(n: Int) = spark.range(0, n)
        .select(pmod($"id", lit(4)).as("doc_id"),
          when(pmod($"id", lit(5)) === 0, lit(null))
            .otherwise(concat(lit("l"), pmod($"id", lit(2)))).as("lang"),
          pmod($"id", lit(3)).as("n_chars"))
      grid(40).repartition(3).writeTo(s"$cat.t")
        .tableProperty("mor", "true").create()
      grid(40).repartition(2).writeTo(s"$cat.t").append()
      val tdir = new File(root, "t").getPath
      // a prior key delete: dedup must address only LIVE rows
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 3 AND n_chars = 2")
      val before = spark.table(s"$cat.t")
        .groupBy("doc_id", "lang", "n_chars").count().collect()
      val liveTotal = before.map(_.getLong(3)).sum
      val distinctGroups = before.length
      val res = spark.sql(s"CALL $cat.system.dedup_rows('t')").collect().head
      assert(res.getLong(0) == liveTotal - distinctGroups,
        s"cut = live rows minus one survivor per content group: $res")
      val after = spark.table(s"$cat.t")
        .groupBy("doc_id", "lang", "n_chars").count().collect()
      assert(after.length == distinctGroups &&
        after.forall(_.getLong(3) == 1L),
        "exactly one copy per content group must survive")
      // the cut is pure overlay: .gp files exist, data files untouched
      assert(LedgerSource.deleteFiles(tdir).exists(_.getName.endsWith(".gp")))
      // idempotent: nothing to cut, no commit
      val vNow = LedgerSource.listVersions(tdir).max
      val again = spark.sql(s"CALL $cat.system.dedup_rows('t')").collect().head
      assert(again.getLong(0) == 0 &&
        LedgerSource.listVersions(tdir).max == vNow)
    }
  }

  test("position deletes apply through bucketed (storage-partitioned) reads") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 40)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .repartitionByRange(4, $"doc_id")
        .writeTo(s"$cat.t")
        .tableProperty("bucket", "10").tableProperty("mor", "true")
        .create()
      val tdir = new File(root, "t").getPath
      // cut ordinal 0 of the file holding keys [10, 20) — its doc 10
      val f = LedgerSource.ledgerFiles(tdir)
        .find(x => LedgerSource.readStats(x)._1 == 10L).get.getName
      spark.sql(s"CALL $cat.system.delete_at('t', '$f', '0')")
      assert(spark.table(s"$cat.t").count() == 39)
      assert(!spark.table(s"$cat.t").select("doc_id")
        .collect().map(_.getLong(0)).contains(10L))
      // the bucketed self-join stays exchange-free AND overlay-exact
      // (auto-broadcast off: the honest stats make this tiny table
      // broadcastable, which would bypass the SPJ path under test)
      GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = spark.table(s"$cat.t").as("a")
          .join(spark.table(s"$cat.t").as("b"), "doc_id")
        assert(j.count() == 39)
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"the storage-partitioned join must stay exchange-free:\n$plan")
      }
    }
  }

  test("delete_at refuses non-mor tables, dead files, and out-of-range ordinals") {
    withCatalog { (cat, root) =>
      wave(0, 5).writeTo(s"$cat.cow").create()
      val e1 = intercept[Exception] {
        spark.sql(s"CALL $cat.system.delete_at('cow', 'x.gl', '0')").collect()
      }
      assert(e1.getMessage.contains("not merge-on-read"))
      wave(0, 5).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      val tdir = new File(root, "t").getPath
      val e2 = intercept[Exception] {
        spark.sql(s"CALL $cat.system.delete_at('t', 'ghost.gl', '0')")
          .collect()
      }
      assert(e2.getMessage.contains("not a live data file"))
      val f = onlyFile(tdir)
      val e3 = intercept[Exception] {
        spark.sql(s"CALL $cat.system.delete_at('t', '$f', '5')").collect()
      }
      assert(e3.getMessage.contains("outside"))
      val e4 = intercept[Exception] {
        spark.sql(s"CALL $cat.system.delete_at('t', '$f', 'abc')").collect()
      }
      assert(e4.getMessage.contains("not an integer"))
    }
  }
}
