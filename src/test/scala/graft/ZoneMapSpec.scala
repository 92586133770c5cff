package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.{LedgerSource, SkipIndex}

/** Round-17 zone maps (`_zones/<file>.<col>` min/max sidecars + the
  * `build_zonemap` verb): the RANGE complement to the s64 Bloom skip.
  *
  * Pins:
  *   - ZERO FALSE NEGATIVES: for every probe shape (=, IN, <, <=, >,
  *     >=) over a sweep of values, the skipped plan returns exactly
  *     what an unindexed scan returns;
  *   - string zone maps order like Spark (UTF8String binary order);
  *   - an all-null file gets a no-values sidecar that refutes every
  *     comparison, while IS NULL (never pushed) still finds its rows;
  *   - back-off: a CoW clip lands a fresh unindexed name — the probe
  *     scans it rather than losing rows;
  *   - appends are born indexed; bloom + zone compose on one table. */
class ZoneMapSpec extends SparkSpec {

  test("range probes skip files and stay exact; impossible ranges plan empty") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      // 4 files with disjoint n_chars bands: [0,25) [25,50) [50,75) [75,100)
      spark.range(0, 100)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .repartitionByRange(4, $"n_chars")
        .writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      val tdir = new File(root, "t").getPath
      val nFiles = LedgerSource.ledgerFiles(tdir).length
      assert(nFiles >= 3, s"range partitioning must split files: $nFiles")
      val probe = spark.table(s"$cat.t").where($"n_chars" >= 80)
      assert(probe.rdd.getNumPartitions < nFiles,
        "a top-band probe must not plan every file")
      assert(probe.count() == 20)
      assert(spark.table(s"$cat.t").where($"n_chars" > 1000)
        .rdd.getNumPartitions == 0)
      assert(probe.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).contains("ZoneSkip"))
    }
  }

  test("zero false negatives across every probe shape") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 60)
        .select($"id".as("doc_id"), lit("w").as("lang"),
          ($"id" * 7 % 60).as("n_chars"))
        .repartitionByRange(3, $"n_chars")
        .writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      val t = spark.table(s"$cat.t")
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val expectAll = (0L until 60L).toSet
      for (v <- Seq(-5L, 0L, 13L, 41L, 59L, 70L)) {
        assert(ids(t.where($"n_chars" === v)) ==
          expectAll.filter(i => i * 7 % 60 == v), s"= $v")
        assert(ids(t.where($"n_chars" > v)) ==
          expectAll.filter(i => i * 7 % 60 > v), s"> $v")
        assert(ids(t.where($"n_chars" >= v)) ==
          expectAll.filter(i => i * 7 % 60 >= v), s">= $v")
        assert(ids(t.where($"n_chars" < v)) ==
          expectAll.filter(i => i * 7 % 60 < v), s"< $v")
        assert(ids(t.where($"n_chars" <= v)) ==
          expectAll.filter(i => i * 7 % 60 <= v), s"<= $v")
      }
      assert(ids(t.where($"n_chars".isin(3L, 17L, 999L))) ==
        expectAll.filter(i => Set(3L, 17L).contains(i * 7 % 60)))
    }
  }

  test("string zone maps order like Spark and serve range probes") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 80)
        .select($"id".as("doc_id"),
          format_string("l%d", pmod($"id", lit(8))).as("lang"),
          $"id".as("n_chars"))
        .repartitionByRange(4, $"lang")
        .writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'lang')").collect()
      val tdir = new File(root, "t").getPath
      val nFiles = LedgerSource.ledgerFiles(tdir).length
      val probe = spark.table(s"$cat.t").where($"lang" > "l6")
      assert(probe.rdd.getNumPartitions < nFiles,
        "a top-band string probe must skip files")
      assert(probe.select("lang").distinct().collect()
        .map(_.getString(0)).toSet == Set("l7"))
      assert(spark.table(s"$cat.t").where($"lang" < "a")
        .rdd.getNumPartitions == 0)
    }
  }

  test("all-null files refute comparisons; IS NULL still scans") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 10)
        .select($"id".as("doc_id"), lit("w").as("lang"),
          lit(null).cast("long").as("n_chars")).coalesce(1)
        .writeTo(s"$cat.t").create()
      spark.range(10, 20)
        .select($"id".as("doc_id"), lit("w").as("lang"),
          $"id".as("n_chars")).coalesce(1)
        .writeTo(s"$cat.t").append()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      // the all-null file's sidecar is no-values: any comparison skips it
      val probe = spark.table(s"$cat.t").where($"n_chars" >= 0)
      assert(probe.rdd.getNumPartitions == 1,
        "the all-null file must prove out of a comparison probe")
      assert(probe.count() == 10)
      // IS NULL is never pushed to the zone map — full scan, exact rows
      assert(spark.table(s"$cat.t").where($"n_chars".isNull).count() == 10)
    }
  }

  test("appends are born indexed; CoW clips back off to a scan") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 50)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .repartitionByRange(2, $"n_chars")
        .writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      val tdir = new File(root, "t").getPath
      // born indexed: the fresh file carries a sidecar without a backfill
      spark.range(50, 60)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .coalesce(1).writeTo(s"$cat.t").append()
      val unindexed0 = LedgerSource.ledgerFiles(tdir).filterNot(f =>
        SkipIndex.ZoneMap.sidecar(tdir, f.getName, "n_chars").isFile)
      assert(unindexed0.isEmpty, "an append must stamp its own sidecar")
      // a CoW clip rewrites survivors under a fresh UNINDEXED name —
      // the probe must scan it (back-off), never lose its rows
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id BETWEEN 10 AND 14")
      val unindexed1 = LedgerSource.ledgerFiles(tdir).filterNot(f =>
        SkipIndex.ZoneMap.sidecar(tdir, f.getName, "n_chars").isFile)
      assert(unindexed1.nonEmpty, "the clip must mint an unindexed name")
      val got = spark.table(s"$cat.t").where($"n_chars" < 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == (0L until 10L).toSet,
        s"back-off must scan the unindexed survivor: $got")
    }
  }

  test("zone skip: runtime join-delivered probes prune files (the DPP hand-off)") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
      import org.apache.spark.sql.sources.{EqualTo => SrcEq, In => SrcIn}
      def wave(lo: Int, hi: Int) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit("w").as("lang"),
          $"id".as("n_chars")).coalesce(1)
      wave(0, 100).writeTo(s"$cat.t")
        .tableProperty("zonemap", "n_chars").create()
      wave(100, 200).writeTo(s"$cat.t").append()
      wave(200, 300).writeTo(s"$cat.t").append()
      val dir = new File(root, "t").getPath
      def freshScan() = new graft.sources.LedgerScanBuilder(dir).build()
      assert(freshScan().toBatch.planInputPartitions().length == 3)
      // the scan advertises the zone column as a runtime-filter
      // attribute, so a broadcast join on n_chars hands its keys down
      val attrs = freshScan().asInstanceOf[SupportsRuntimeFiltering]
        .filterAttributes().map(_.fieldNames().mkString(".")).toSeq
      assert(attrs == Seq("doc_id", "n_chars"), attrs.toString)
      def planned(fs: org.apache.spark.sql.sources.Filter*): Int = {
        val rt = freshScan().asInstanceOf[SupportsRuntimeFiltering]
        rt.filter(fs.toArray)
        rt.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
          .toBatch.planInputPartitions().length
      }
      assert(planned(SrcIn("n_chars",
        Array[Any](java.lang.Long.valueOf(150L)))) == 1,
        "a single joined value must plan its one band file")
      assert(planned(SrcIn("n_chars",
        Array[Any](java.lang.Long.valueOf(50L),
          java.lang.Long.valueOf(250L)))) == 2)
      assert(planned(SrcEq("n_chars", java.lang.Long.valueOf(999L))) == 0,
        "a value outside every band must plan an empty scan")
      // end-to-end: the broadcast join stays correct through pruning
      val dim = Seq((150L, 1)).toDF("n_chars", "tag")
      assert(spark.table(s"$cat.t").join(broadcast(dim), "n_chars")
        .count() == 1L)
    }
  }

  test("static skips shrink the planner's statistics") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      spark.range(0, 100)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .repartitionByRange(4, $"n_chars")
        .writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      def leafBytes(df: org.apache.spark.sql.DataFrame): BigInt =
        df.queryExecution.optimizedPlan.collectLeaves().head
          .stats.sizeInBytes
      val full = leafBytes(spark.table(s"$cat.t"))
      val probe = leafBytes(spark.table(s"$cat.t").where($"n_chars" >= 90))
      // the probe's scan reports only the files the zone skip keeps —
      // what lets Catalyst auto-broadcast a narrow probe side
      assert(probe < full,
        s"a zone-skipped scan must report shrunk stats: $probe vs $full")
    }
  }

  test("CREATE-declared indexes; compaction re-indexes and sweeps orphan sidecars") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      // declared at CREATE: every file ever written is born indexed
      spark.range(0, 100)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .repartitionByRange(4, $"n_chars")
        .writeTo(s"$cat.t")
        .tableProperty("zonemap", "n_chars")
        .tableProperty("bloom", "lang")
        .create()
      val tdir = new File(root, "t").getPath
      def unindexed(): Seq[String] =
        LedgerSource.ledgerFiles(tdir).toSeq.map(_.getName).filterNot(n =>
          SkipIndex.ZoneMap.sidecar(tdir, n, "n_chars").isFile &&
            SkipIndex.Bloom.sidecar(tdir, n, "lang").isFile)
      assert(unindexed().isEmpty, "CREATE-declared indexes stamp at write")
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(props.get("zonemap").contains("n_chars") &&
        props.get("bloom").contains("lang"))
      // compaction: fresh files born indexed, dead names' sidecars swept
      spark.sql(s"CALL $cat.system.compact('t', 2)").collect()
      assert(unindexed().isEmpty, "compacted files must be born indexed")
      val live = LedgerSource.ledgerFiles(tdir).map(_.getName).toSet
      SkipIndex.all.map(_.subdir).foreach { sub =>
        val names = Option(new File(tdir, sub).listFiles())
          .getOrElse(Array.empty[File]).map(_.getName)
        assert(names.forall(n => live.contains(n.take(n.lastIndexOf('.')))),
          s"orphan sidecars must be swept from $sub: ${names.mkString(",")}")
      }
      // and the skip still proves out post-compaction
      assert(spark.table(s"$cat.t").where($"n_chars" > 1000)
        .rdd.getNumPartitions == 0)
      assert(spark.table(s"$cat.t").where($"n_chars" >= 50).count() == 50)
    }
  }

  test("zone skip applies under a time-travel pin") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      def wave(lo: Int, hi: Int) = spark.range(lo, hi)
        .select($"id".as("doc_id"), lit("w").as("lang"), $"id".as("n_chars"))
        .coalesce(1)
      wave(0, 50).writeTo(s"$cat.t")
        .tableProperty("zonemap", "n_chars").create()           // v1
      wave(50, 100).writeTo(s"$cat.t").append()                  // v2
      val tdir = new File(root, "t").getPath
      // pinned at v1 the second band does not exist; the zone skip
      // still prunes within the manifest's file set
      val pinned = spark.read.format("graft-ledger")
        .option("versionAsOf", "1").load(tdir)
      assert(pinned.where($"n_chars" >= 10).count() == 40)
      assert(pinned.where($"n_chars" >= 60).rdd.getNumPartitions == 0,
        "a band beyond the pinned version's range must plan empty")
      // current read: both bands, the probe plans one file of two
      assert(spark.table(s"$cat.t").where($"n_chars" >= 60)
        .rdd.getNumPartitions == 1)
    }
  }

  test("bloom and zone maps compose on one table") {
    withCatalog { (cat, root) =>
      val s = spark
      import s.implicits._
      val langs = Seq("de", "en", "fr", "zh")
      spark.range(0, 80)
        .select($"id".as("doc_id"),
          element_at(lit(langs.toArray), (pmod($"id", lit(4)) + 1).cast("int"))
            .as("lang"),
          $"id".as("n_chars"))
        .repartition(4, $"lang")
        .writeTo(s"$cat.t").create()
      spark.sql(s"CALL $cat.system.build_bloom('t', 'lang')").collect()
      spark.sql(s"CALL $cat.system.build_zonemap('t', 'n_chars')").collect()
      val probe = spark.table(s"$cat.t")
        .where($"lang" === "fr" && $"n_chars" < 40)
      val p = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      assert(p.contains("BloomSkip: lang") && p.contains("ZoneSkip: n_chars"))
      assert(probe.select("doc_id").collect().map(_.getLong(0)).toSet ==
        (0L until 40L).filter(_ % 4 == 2).toSet)
    }
  }
}
