package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.LedgerSource

/** MERGE-ON-READ on the ledger connector (`SupportsDelta`, `mor=true`
  * tables — judged end-to-end by `s37_merge_on_read`): row-level verbs
  * land tombstone `.gd` files instead of rewriting groups. The load-
  * bearing pins:
  *
  *   - a MoR DELETE leaves every data file byte-identical (the write-
  *     amplification claim) and suppresses exactly the predicate rows;
  *   - the soundness argument: tombstones are scoped to immutable FILE
  *     NAMES, so a key re-landed after the delete (fresh file) is NOT
  *     suppressed — the failure mode the r14 scaladoc said naive key
  *     tombstones have;
  *   - every other mutator that touches a tombstoned file folds the
  *     overlay in (interval-purge rewrites, compaction) — nothing
  *     resurrects;
  *   - time travel replays the overlay as of each version;
  *   - header-only aggregate pushdown declines while tombstones are
  *     live and returns after compaction consumes them. */
class LedgerMorSpec extends SparkSpec {

  private def withMorTable[T](body: (String, String) => T): T = {
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    spark.range(0, 400).select($"id".as("doc_id"),
        concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
        ($"id" * 3).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .writeTo(s"$cat.t").tableProperty("mor", "true").create()
    body(cat, new File(root, "t").getPath)
  }

  private def dataFileState(dir: String): Map[String, Long] =
    LedgerSource.ledgerFiles(dir).map(f => f.getName -> f.length()).toMap

  test("MoR DELETE writes a tombstone file and leaves every data file untouched") {
    withMorTable { (cat, dir) =>
      val before = dataFileState(dir)
      assert(LedgerSource.deleteFiles(dir).isEmpty)
      spark.sql(s"DELETE FROM $cat.t WHERE lang = 'l3'")
      assert(dataFileState(dir) == before,
        "merge-on-read must not rewrite or remove data files")
      assert(LedgerSource.deleteFiles(dir).nonEmpty,
        "the delete must land as .gd tombstones")
      val left = spark.table(s"$cat.t")
      assert(left.count() == 400 - 57) // doc_id % 7 == 3 → 57 rows in [0,400)
      assert(left.where(col("lang") === "l3").count() == 0)
    }
  }

  test("a key re-landed after a MoR delete is NOT suppressed (file-scoped tombstones)") {
    withMorTable { (cat, dir) =>
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 42 OR doc_id = 43")
      assert(spark.table(s"$cat.t").where(col("doc_id") === 42).count() == 0)
      // re-land key 42 via a plain append — a FRESH file the old
      // tombstone cannot name
      val s = spark
      import s.implicits._
      Seq((42L, "reborn", 777L)).toDF("doc_id", "lang", "n_chars")
        .writeTo(s"$cat.t").append()
      val reborn = spark.table(s"$cat.t").where(col("doc_id") === 42).collect()
      assert(reborn.length == 1, "the re-landed key must be visible")
      assert(reborn.head.getString(1) == "reborn")
      // and the sibling tombstone still applies to the original file
      assert(spark.table(s"$cat.t").where(col("doc_id") === 43).count() == 0)
    }
  }

  test("MoR UPDATE is tombstone + fresh-file insert; no data file removed") {
    withMorTable { (cat, dir) =>
      val before = dataFileState(dir)
      spark.sql(s"UPDATE $cat.t SET n_chars = n_chars + 1000000 WHERE lang = 'l5'")
      // old files all still present (a fresh insert file is ADDED)
      val after = dataFileState(dir)
      before.foreach { case (n, len) =>
        assert(after.get(n).contains(len), s"data file $n changed")
      }
      assert(after.size > before.size,
        "the new row versions must land as ADDED files")
      assert(LedgerSource.deleteFiles(dir).nonEmpty)
      val rows = spark.table(s"$cat.t").where(col("lang") === "l5")
      assert(rows.count() == 57) // doc_id % 7 == 5 in [0,400)
      assert(rows.where(col("n_chars") < 1000000L).count() == 0)
      // total cardinality unchanged: update = delete + insert
      assert(spark.table(s"$cat.t").count() == 400)
    }
  }

  test("MoR MERGE: update + insert + not-matched-by-source delete, zero files removed") {
    withMorTable { (cat, dir) =>
      val s = spark
      import s.implicits._
      val before = dataFileState(dir)
      spark.range(0, 500).select($"id".as("doc_id"),
          lit("merged").as("lang"), lit(1L).as("n_chars"))
        .where($"doc_id" % 100 === 0) // 0,100,200,300 matched; 400 new
        .createOrReplaceTempView("mor_merge_src")
      spark.sql(
        s"""MERGE INTO $cat.t t USING mor_merge_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET lang = s.lang, n_chars = s.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, s.lang, s.n_chars)
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id BETWEEN 7 AND 9
           |  THEN DELETE""".stripMargin)
      val after = dataFileState(dir)
      before.foreach { case (n, len) =>
        assert(after.get(n).contains(len), s"data file $n changed") }
      val t = spark.table(s"$cat.t")
      assert(t.count() == 400 + 1 - 3) // +400 inserted, -{7,8,9}
      assert(t.where(col("lang") === "merged").count() == 5)
      assert(t.where(col("doc_id") === 400).count() == 1)
      assert(t.where(col("doc_id").between(7, 9)).count() == 0)
    }
  }

  test("interval DELETE on a MoR table: pure unlinks keep the fast path, clips decline to tombstones") {
    withMorTable { (cat, dir) =>
      val before = dataFileState(dir)
      // clips the [100,199] file → the metadata fast path must DECLINE
      // (a boundary rewrite is the amplification mor=true opts out of)
      // and the delta op tombstones instead — zero data files touched
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id BETWEEN 150 AND 249")
      assert(dataFileState(dir).keySet == before.keySet,
        "a clipping interval on a MoR table must not rewrite files")
      assert(LedgerSource.deleteFiles(dir).nonEmpty)
      // fully covers the [300,399] file → pure unlink, still fast-path
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 300")
      assert(LedgerSource.ledgerFiles(dir).length == before.size - 1)
      assert(spark.table(s"$cat.t").count() == 400 - 100 - 100)
    }
  }

  test("purge rewrite folds live tombstones in — REPLACE WHERE never resurrects") {
    withMorTable { (cat, dir) =>
      // tombstone two rows inside the [100,199] file (MoR delete)
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 120 OR doc_id = 110")
      // REPLACE WHERE [150,249]: clips [100,199] → rewriteExcluding
      // lands its survivors under a FRESH name the tombstones cannot
      // reach, so the rewrite must apply them itself
      spark.sql(
        s"""INSERT INTO $cat.t REPLACE WHERE doc_id BETWEEN 150 AND 249
           |SELECT id AS doc_id, 'bf' AS lang, CAST(1 AS BIGINT) AS n_chars
           |FROM range(150, 250)""".stripMargin)
      val t = spark.table(s"$cat.t")
      assert(t.where(col("doc_id").isin(110, 120)).count() == 0,
        "tombstoned rows resurrected by the purge rewrite")
      assert(t.count() == 400 - 2)
      assert(t.where(col("lang") === "bf").count() == 100)
    }
  }

  test("time travel replays the tombstone overlay as of each version") {
    withMorTable { (cat, dir) =>
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 33")
      val versions = LedgerSource.listVersions(dir)
      val (v0, v1) = (versions.head, versions.last)
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $v0 " +
        s"WHERE doc_id = 33").count() == 1)
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $v1 " +
        s"WHERE doc_id = 33").count() == 0)
    }
  }

  test("compaction applies and drops tombstones; header agg pushdown declines until then") {
    withMorTable { (cat, dir) =>
      spark.sql(s"DELETE FROM $cat.t WHERE lang = 'l1'")
      // live tombstones: the header-only count must DECLINE (headers
      // over-count), and the executed count must still be exact
      val counted = spark.table(s"$cat.t").groupBy().count()
      assert(!counted.queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        "header aggregate pushdown must decline while tombstones are live")
      assert(counted.collect().head.getLong(0) == 400 - 57)
      // compact: reads THROUGH the overlay, truncate-commit consumes it
      spark.sql(s"CALL $cat.system.compact('t', 2)")
      assert(LedgerSource.deleteFiles(dir).isEmpty,
        "compaction must drop consumed tombstone files")
      assert(LedgerSource.ledgerFiles(dir).length == 2)
      assert(spark.table(s"$cat.t").count() == 400 - 57)
      assert(spark.table(s"$cat.t").where(col("lang") === "l1").count() == 0)
      // with the overlay consumed, the header-only count is exact again
      val repushed = spark.table(s"$cat.t").groupBy().count()
      assert(repushed.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(repushed.collect().head.getLong(0) == 400 - 57)
    }
  }

  // ── round 16: TARGETED tombstone maintenance (rewrite_tombstones,
  //    judged end-to-end as s55) — fold the overlay only where it is
  //    hot, keep cold files and their overlay byte-identical ──

  private def withBucketed[T](n: Long, width: Int)(
      body: (String, String) => T): T = {
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    spark.range(0, n).select($"id".as("doc_id"),
        concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
        ($"id" * 3).as("n_chars"))
      .coalesce(1)
      .writeTo(s"$cat.t").tableProperty("mor", "true")
      .tableProperty("bucket", width.toString).create()
    body(cat, new File(root, "t").getPath)
  }

  test("rewrite_tombstones folds ONLY hot files; cold bytes and overlay survive") {
    withBucketed(400, 100) { (cat, dir) =>
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 60")  // bucket0: 0.6
      spark.sql(s"DELETE FROM $cat.t " +
        s"WHERE doc_id % 101 = 0 AND doc_id >= 100")      // 101/202/303
      val before = dataFileState(dir)
      assert(before.size == 4)
      val row = spark.sql(
        s"CALL $cat.system.rewrite_tombstones('t', 0.3)").head()
      assert(row.getLong(0) == 1 && row.getLong(1) == 60,
        s"exactly bucket 0 folds its 60 tombstones, got $row")
      val after = dataFileState(dir)
      // the three cold files keep names AND bytes; bucket 0 is fresh
      assert((before.keySet intersect after.keySet).size == 3)
      (before.keySet intersect after.keySet).foreach(n =>
        assert(before(n) == after(n), s"cold file $n changed size"))
      // the scatter overlay survives for the cold files
      val overlay = spark.table(s"$cat.t")
        .where(col("doc_id") % 101 === 0 && col("doc_id") >= 100)
      assert(overlay.count() == 0, "scatter deletes must stay applied")
      assert(LedgerSource.deleteFiles(dir).nonEmpty,
        "cold sections must remain as live tombstones")
      // state identical through the fold
      assert(spark.table(s"$cat.t").count() == 400 - 60 - 3)
      assert(spark.table(s"$cat.t").where(col("doc_id") === 60).count() == 1)
      // compaction still consumes what remains
      spark.sql(s"CALL $cat.system.compact('t', 2)").collect()
      assert(LedgerSource.deleteFiles(dir).isEmpty)
      assert(spark.table(s"$cat.t").count() == 337)
    }
  }

  test("rewrite_tombstones: a fully-dead file unlinks outright; frac=1.0 never fires") {
    withBucketed(200, 100) { (cat, dir) =>
      // the lang conjunct forces the DELTA route (a bare full-cover
      // interval would take the metadata unlink path, never cutting
      // tombstones) — bucket 0 ends up 100% tombstoned
      spark.sql(s"DELETE FROM $cat.t " +
        s"WHERE doc_id < 100 AND lang IS NOT NULL")       // bucket0: 1.0
      val row = spark.sql(
        s"CALL $cat.system.rewrite_tombstones('t', 0.99)").head()
      assert(row.getLong(0) == 1 && row.getLong(1) == 100)
      assert(LedgerSource.ledgerFiles(dir).length == 1,
        "zero survivors leave no fresh file")
      assert(spark.table(s"$cat.t").count() == 100)
      // ratio can never EXCEED 1.0 — frac=1.0 is the explicit no-op
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 10 = 0")
      val noop = spark.sql(
        s"CALL $cat.system.rewrite_tombstones('t', 1.0)").head()
      assert(noop.getLong(0) == 0 && noop.getLong(1) == 0)
      assert(LedgerSource.deleteFiles(dir).nonEmpty)
      assert(spark.table(s"$cat.t").count() == 90)
    }
  }

  test("the change feed refuses across a tombstone rewrite — vacuumed-table honesty") {
    withBucketed(200, 100) { (cat, dir) =>
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 60")          // v2
      def feed(from: Long, to: Long) = spark.read.format("graft-ledger")
        .option("changesFrom", from.toString)
        .option("changesTo", to.toString).load(dir).count()
      assert(feed(0, 2) == 200 + 60) // total over MoR history
      spark.sql(s"CALL $cat.system.rewrite_tombstones('t', 0.3)") // v3
      // crossing the rewrite: the commit removed a data file
      val e1 = intercept[Exception] { feed(0, 3) }
      assert(e1.getMessage.contains("removed data files") ||
        e1.getMessage.contains("no longer reconstructable"), e1.getMessage)
      // a pre-rewrite interval whose files the rewrite unlinked
      val e2 = intercept[Exception] { feed(0, 2) }
      assert(e2.getMessage.contains("no longer reconstructable"),
        e2.getMessage)
    }
  }
}
