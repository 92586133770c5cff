package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.LedgerSource

/** Round-15 pins around `CALL system.clone` (judged end-to-end as
  * `s51_zero_copy_clone`):
  *
  *   - the clone copies ZERO data bytes — every linked file has
  *     nlink = 2, the filesystem-refcount proof;
  *   - independence in both directions, including after the SOURCE
  *     compacts away the very names the clone links;
  *   - `_props` travel: a cloned mor table keeps tombstone verbs, a
  *     cloned CHECK constraint keeps refusing bad writes;
  *   - a BRANCHED source clones its main lineage, never the mixed
  *     listing; the clone itself is independently branchable;
  *   - an existing target refuses. */
class LedgerCloneSpec extends SparkSpec {

  private def wave(lo: Int, hi: Int, lang: String = "w") = {
    val s = spark
    import s.implicits._
    spark.range(lo, hi).select($"id".as("doc_id"), lit(lang).as("lang"),
      $"id".as("n_chars")).coalesce(1)
  }

  private def nlink(f: File): Int =
    java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
      .asInstanceOf[Number].intValue()

  test("clone links, never copies: nlink = 2; both directions independent") {
    withCatalog { (cat, root) =>
      wave(0, 100).writeTo(s"$cat.t").tableProperty("mor", "true").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 0")   // tombstones
      val row = spark.sql(s"CALL $cat.system.clone('t', 't2')").head()
      assert(row.getLong(0) >= 2L, "data + tombstone files linked")
      // the summary counts THROUGH the linked MoR overlay: 100 raw
      // header rows minus the 20 tombstoned — not the raw file rows
      assert(row.getLong(1) == 80L,
        s"clone n_rows must be live rows through the overlay, got ${row.getLong(1)}")
      val ddir = new File(root, "t2")
      val linked = (LedgerSource.ledgerFiles(ddir.getPath) ++
        LedgerSource.deleteFiles(ddir.getPath))
      assert(linked.nonEmpty && linked.forall(nlink(_) == 2),
        "every cloned file must be a hard link (zero bytes copied)")
      // the clone reads THROUGH the linked overlay
      assert(spark.table(s"$cat.t2").count() == 80)
      // source compaction unlinks the shared names — clone unaffected
      spark.sql(s"CALL $cat.system.compact('t', 1)").collect()
      assert(linked.forall(nlink(_) == 1), "source dropped its links")
      assert(spark.table(s"$cat.t2").count() == 80)
      // clone-side mutation never reaches the source
      spark.sql(s"DELETE FROM $cat.t2 WHERE doc_id % 2 = 1")
      assert(spark.table(s"$cat.t").count() == 80)
      assert(spark.table(s"$cat.t2").count() == 40)
      ()
    }
  }

  test("props travel: the clone keeps mor verbs and the CHECK constraint") {
    withCatalog { (cat, root) =>
      wave(0, 50).writeTo(s"$cat.t")
        .tableProperty("mor", "true")
        .tableProperty("check", "n_chars >= 0").createOrReplace()
      spark.sql(s"CALL $cat.system.clone('t', 't2')")
      // mor carried: the DELETE must land a tombstone, not a rewrite
      spark.sql(s"DELETE FROM $cat.t2 WHERE doc_id % 3 = 1")
      assert(spark.table(s"$cat.t2").count() == 50 - 17)
      assert(LedgerSource.deleteFiles(new File(root, "t2").getPath)
        .nonEmpty, "mor=true must have traveled: delete → tombstone")
      // check carried: a violating append refuses on the CLONE
      val e = intercept[Exception] {
        spark.range(1).select(lit(9999L).as("doc_id"), lit("x").as("lang"),
          lit(-5L).as("n_chars")).writeTo(s"$cat.t2").append()
      }
      assert(e.getMessage.toLowerCase.contains("check") ||
        e.getMessage.contains("n_chars"), e.getMessage)
      ()
    }
  }

  test("a branched source clones its main lineage; the clone is branchable") {
    withCatalog { (cat, _) =>
      wave(0, 60).writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.create_branch('t', 'dev')")
      wave(100, 140, "d").writeTo(s"$cat.t.branch_dev").append()
      spark.sql(s"CALL $cat.system.clone('t', 't2')")
      assert(spark.table(s"$cat.t2").count() == 60,
        "the clone must take MAIN's lineage, not the mixed listing")
      // the clone has no refs of its own and branches independently
      spark.sql(s"CALL $cat.system.create_branch('t2', 'exp')")
      wave(200, 210, "e").writeTo(s"$cat.t2.branch_exp").append()
      assert(spark.table(s"$cat.t2").count() == 60)
      assert(spark.table(s"$cat.t2.branch_exp").count() == 70)
      ()
    }
  }

  test("an existing target refuses; the failed call creates nothing") {
    withCatalog { (cat, root) =>
      wave(0, 10).writeTo(s"$cat.t").create()
      wave(0, 10).writeTo(s"$cat.other").create()
      intercept[Exception] {
        spark.sql(s"CALL $cat.system.clone('t', 'other')").collect()
      }
      assert(spark.table(s"$cat.other").count() == 10,
        "the existing table is untouched")
      intercept[Exception] {
        spark.sql(s"CALL $cat.system.clone('ghost', 't3')").collect()
      }
      assert(!new File(root, "t3").exists())
      ()
    }
  }
}
