package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

import graft.queries.Portable
import graft.sources.{LedgerProps, LedgerSource, LedgerTable}

/** Round-14 pins: the connector's row-level DELETE (judged end-to-end
  * by `s25_delete_where`) — the metadata-only file drop, the boundary
  * rewrite's re-stamped stats, the decline of non-interval predicates —
  * plus the catalog-SQL TRUNCATE route and the namespace-listing
  * contract. */
class Round14OpsSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(Portable.scratchRoot, s"r14_$tag").toString

  /** 4 range files over doc_id 0..399 (one per 100-wide interval). */
  private def rangeLayout(dir: String): Unit = {
    val s = spark
    import s.implicits._
    spark.range(0, 400).select($"id".as("doc_id"),
        concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
        ($"id" * 3).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .write.format("graft-ledger").mode("overwrite").save(dir)
    assert(LedgerSource.ledgerFiles(dir).length == 4)
  }

  test("delete: a fully-covered file is dropped by metadata alone — records never read") {
    val dir = tmpDir("meta")
    rangeLayout(dir)
    // truncate the [100,199] file to its 28-byte stats header: any code
    // path that decodes its records MUST now fail, so a successful
    // delete of exactly that interval proves the metadata-only path
    val victim = LedgerSource.ledgerFiles(dir)
      .find(f => LedgerSource.readStats(f)._1 == 100L).get
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try raf.setLength(28L) finally raf.close()
    new LedgerTable(dir, LedgerProps.read(dir)).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("doc_id", java.lang.Long.valueOf(100L)),
      LessThanOrEqual("doc_id", java.lang.Long.valueOf(199L))))
    val left = LedgerSource.ledgerFiles(dir)
    assert(left.length == 3, "fully-covered file should be unlinked")
    assert(!left.exists(_.getName == victim.getName))
    // the three untouched files decode in full — delete never opened them
    assert(spark.read.format("graft-ledger").load(dir).count() == 300L)
  }

  test("delete: a clipped file is rewritten with survivors and re-stamped stats") {
    val dir = tmpDir("rewrite")
    rangeLayout(dir)
    // [150, 249] clips two files: each keeps 50 survivors
    new LedgerTable(dir, LedgerProps.read(dir)).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("doc_id", java.lang.Long.valueOf(150L)),
      LessThanOrEqual("doc_id", java.lang.Long.valueOf(249L))))
    val stats = LedgerSource.ledgerFiles(dir).map(LedgerSource.readStats).toSet
    assert(stats == Set((0L, 99L, 100L), (100L, 149L, 50L),
      (250L, 299L, 50L), (300L, 399L, 100L)),
      s"stats headers after rewrite: $stats")
    val back = spark.read.format("graft-ledger").load(dir)
    assert(back.count() == 300L)
    // the rewritten files stay losslessly decodable, nulls and all
    assert(back.where(col("doc_id").between(150L, 249L)).count() == 0L)
    assert(back.agg(sum(col("n_chars"))).head().getLong(0) ==
      (0L until 400L).filterNot(i => i >= 150 && i <= 249).map(_ * 3).sum)
  }

  test("delete: the metadata path declines inexact predicates; SQL falls back to the group rewrite") {
    val dir = tmpDir("decline")
    rangeLayout(dir)
    val t = new LedgerTable(dir, LedgerProps.read(dir))
    // the interval fast path refuses what it cannot represent exactly…
    assert(!t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("lang", "l1"))))
    intercept[UnsupportedOperationException] {
      t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("lang", "l1")))
    }
    // …and the SQL verb then routes through the copy-on-write rewrite
    // (SupportsRowLevelOperations) instead of erroring: exactly the
    // predicate rows disappear, every other row survives
    val (cat, _) = freshCatalog()
    spark.range(0, 10).select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"),
        col("id").as("n_chars"))
      .writeTo(s"$cat.t").createOrReplace()
    spark.sql(s"DELETE FROM $cat.t WHERE lang = 'en'")
    val left = spark.table(s"$cat.t")
    assert(left.count() == 5L)
    assert(left.where(col("lang") === "en").count() == 0L)
  }

  test("UPDATE rewrites only the groups holding matching rows; others stay byte-identical") {
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    spark.range(0, 400).select($"id".as("doc_id"),
        concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
        ($"id" * 3).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .writeTo(s"$cat.t").createOrReplace()
    val tdir = new java.io.File(root, "t")
    val before = LedgerSource.ledgerFiles(tdir.getPath)
      .map(f => f.getName -> f.length()).toMap
    // key-range predicate: statically pushable, so only the two files
    // overlapping [100, 299] are groups — the other two never rewrite
    spark.sql(s"UPDATE $cat.t SET n_chars = n_chars + 100000 " +
      "WHERE doc_id BETWEEN 100 AND 299")
    val after = LedgerSource.ledgerFiles(tdir.getPath)
      .map(f => f.getName -> f.length()).toMap
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size == 2,
      s"exactly the two non-overlapping files should survive: $before -> $after")
    val back = spark.table(s"$cat.t")
    assert(back.count() == 400L)
    assert(back.where($"n_chars" >= 100000L).count() == 200L)
    assert(back.agg(sum($"n_chars")).head().getLong(0) ==
      (0L until 400L).map(_ * 3).sum + 200L * 100000L)
  }

  test("UPDATE with a NON-KEY predicate: runtime group filtering rewrites only matching files") {
    // the docstring claim under test: a predicate the scan cannot push
    // statically still prunes groups, because
    // RowLevelOperationRuntimeGroupFiltering hands the matching rows'
    // doc_ids to the scan as a runtime In-set before planning
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    // 'hot' lives ONLY in doc_id [100, 199] = the second of 4 range files
    spark.range(0, 400).select($"id".as("doc_id"),
        when($"id".between(100, 199), "hot").otherwise("cold").as("lang"),
        ($"id" * 3).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .writeTo(s"$cat.t").createOrReplace()
    val tdir = new java.io.File(root, "t").getPath
    val before = LedgerSource.ledgerFiles(tdir).map(_.getName).toSet
    spark.sql(s"UPDATE $cat.t SET n_chars = 0 WHERE lang = 'hot'")
    val after = LedgerSource.ledgerFiles(tdir).map(_.getName).toSet
    assert(before.intersect(after).size == 3,
      s"runtime group filter should spare the three 'cold'-only files: " +
        s"$before -> $after")
    val back = spark.table(s"$cat.t")
    assert(back.where($"n_chars" === 0 && $"lang" === "hot").count() == 100L)
    assert(back.count() == 400L)
  }

  test("MERGE INTO: matched update + not-matched insert + not-matched-by-source delete") {
    val (cat, _) = freshCatalog()
    val s = spark
    import s.implicits._
    spark.range(0, 100).select($"id".as("doc_id"),
        lit("old").as("lang"), $"id".as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .writeTo(s"$cat.t").createOrReplace()
    // source: keys 50..149 — 50 overlap (update), 50 new (insert);
    // target keys 0..49 are not matched by source (delete)
    spark.range(50, 150).select($"id".as("doc_id"),
        lit("new").as("lang"), ($"id" * 2).as("n_chars"))
      .createOrReplaceTempView("r14_mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING r14_mrg_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET lang = s.lang, n_chars = s.n_chars
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
         |  VALUES (s.doc_id, s.lang, s.n_chars)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val back = spark.table(s"$cat.t")
    assert(back.count() == 100L)
    assert(back.where($"lang" === "old").count() == 0L, "unmatched targets must delete")
    assert(back.agg(min($"doc_id"), max($"doc_id"), sum($"n_chars")).head()
      .toSeq == Seq(50L, 149L, (50L until 150L).map(_ * 2).sum))
  }

  test("_file metadata column: hidden from SELECT *, surfaced when named, matches the real file") {
    val (cat, root) = freshCatalog()
    spark.range(0, 20).select(col("id").as("doc_id"),
        lit("en").as("lang"), col("id").as("n_chars"))
      .repartitionByRange(2, col("doc_id"))
      .writeTo(s"$cat.t").createOrReplace()
    // hidden: star expansion stays at the declared schema
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("doc_id", "lang", "n_chars"))
    // surfaced by name, and the value is the actual ledger file name
    val real = LedgerSource.ledgerFiles(new java.io.File(root, "t").getPath)
      .map(_.getName).toSet
    val seen = spark.sql(s"SELECT DISTINCT _file FROM $cat.t")
      .collect().map(_.getString(0)).toSet
    assert(seen == real, s"seen=$seen real=$real")
  }

  test("TRUNCATE TABLE routes through deleteWhere(always-true): table empties, survives") {
    val (cat, _) = freshCatalog()
    spark.range(0, 50).select(col("id").as("doc_id"),
        lit("en").as("lang"), col("id").as("n_chars"))
      .writeTo(s"$cat.t").createOrReplace()
    spark.sql(s"TRUNCATE TABLE $cat.t")
    assert(spark.table(s"$cat.t").count() == 0L)
    // still a table: a new append lands in the (now empty) directory
    spark.range(0, 5).select(col("id").as("doc_id"),
        lit("fr").as("lang"), col("id").as("n_chars"))
      .writeTo(s"$cat.t").append()
    assert(spark.table(s"$cat.t").count() == 5L)
  }

  test("AQE splits a skewed sort-merge join at runtime (OptimizeSkewedJoin)") {
    // j06 judges the MANUAL salting form; this pins the AUTOMATIC
    // counterpart the 100 TB posture actually relies on — AQE detecting
    // a hot key's oversized shuffle partition at runtime and splitting
    // it across tasks. Thresholds are lowered so the skew is visible at
    // test scale; the observable is the AQEShuffleRead(skewed) node in
    // the final adaptive plan, which only appears when
    // OptimizeSkewedJoin actually rewrote the join.
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    GraftSession.withConf(s, confs: _*) {
      // one hot key carries ~99% of the left side's bytes; the right
      // side is uniform, so only the left partition is skew-split
      val left = s.range(0, 60000)
        .select(when($"id" % 100 =!= 0, lit(0L)).otherwise($"id" % 37).as("k"),
          concat(lit("payload_"), $"id").as("pay"))
      val right = s.range(0, 37).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = left.join(right, "k")
      // execute THIS dataframe's plan (count() would build a separate
      // execution whose adaptive plan finalizes independently)
      assert(joined.collect().length == 60000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin"), finalPlan.take(2000))
      assert("AQEShuffleRead.*skewed".r.findFirstIn(finalPlan).isDefined ||
        finalPlan.contains("isSkew=true") || finalPlan.contains("skewed"),
        s"OptimizeSkewedJoin left no skew marker:\n${finalPlan.take(4000)}")
    }
  }

  test("CALL system.compact: summary row, range-clustered output, named args, unknown proc errors") {
    val (cat, root) = freshCatalog()
    val docs = spark.range(0, 200).select(col("id").as("doc_id"),
      lit("en").as("lang"), (col("id") * 2).as("n_chars"))
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .writeTo(s"$cat.t").createOrReplace()
    docs.where(col("doc_id") % 2 === 1).coalesce(1)
      .writeTo(s"$cat.t").append()
    docs.where(col("doc_id") < 0).coalesce(1).writeTo(s"$cat.t").append()
    // named-argument CALL form; summary row is (files_before, files_after, n_rows)
    val out = spark.sql(
      s"CALL $cat.system.compact(table => 't', target_files => 3)").collect()
    assert(out.map(_.toSeq).toSeq == Seq(Seq(3L, 3L, 200L)), out.mkString)
    // post-compact: contiguous DISJOINT key ranges — the stats-header
    // skip is maximally selective again
    val stats = LedgerSource.ledgerFiles(new java.io.File(root, "t").getPath)
      .map(LedgerSource.readStats).sortBy(_._1)
    assert(stats.length == 3 && stats.map(_._3).sum == 200L, stats.mkString)
    stats.sliding(2).foreach { case Array((_, hi1, _), (lo2, _, _)) =>
      assert(hi1 < lo2, s"overlapping post-compact ranges: ${stats.mkString}")
    }
    assert(spark.table(s"$cat.t").agg(sum(col("n_chars"))).head().getLong(0) ==
      (0L until 200L).map(_ * 2).sum)
    intercept[Exception] { spark.sql(s"CALL $cat.system.vacuum('t')") }
    assert(spark.sql(s"SHOW PROCEDURES IN $cat.system").count() >= 1)
  }

  test("REPLACE WHERE: purges only the interval from old files; declines non-interval filters") {
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    spark.range(0, 400).select($"id".as("doc_id"),
        lit("old").as("lang"), ($"id" * 3).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .writeTo(s"$cat.t").createOrReplace()
    val tdir = new java.io.File(root, "t").getPath
    val before = LedgerSource.ledgerFiles(tdir).map(_.getName).toSet
    spark.sql(
      s"""INSERT INTO $cat.t REPLACE WHERE doc_id BETWEEN 100 AND 299
         |SELECT id AS doc_id, 'new' AS lang, id AS n_chars
         |FROM range(100, 300)""".stripMargin)
    val after = LedgerSource.ledgerFiles(tdir).map(_.getName).toSet
    // the two files fully outside [100, 299] were never touched
    assert(before.intersect(after).size == 2, s"$before -> $after")
    val back = spark.table(s"$cat.t")
    assert(back.count() == 400L)
    assert(back.where($"lang" === "new").count() == 200L)
    assert(back.where($"lang" === "old" && $"doc_id".between(100, 299)).count() == 0L)
    // a filter the interval model cannot represent must error, not over-delete
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t REPLACE WHERE lang = 'old' " +
        "SELECT 1L, 'x', 1L")
    }
    assert(spark.table(s"$cat.t").count() == 400L)
  }

  test("time travel: manifests pin versions; snapshots are read-only; dangling versions fail loudly") {
    val (cat, root) = freshCatalog()
    val docs = spark.range(0, 300).select(col("id").as("doc_id"),
      lit("en").as("lang"), col("id").as("n_chars"))
    docs.where(col("doc_id") < 100)
      .repartitionByRange(2, col("doc_id")).writeTo(s"$cat.t").createOrReplace()
    docs.where(col("doc_id") >= 100 && col("doc_id") < 200)
      .repartitionByRange(2, col("doc_id")).writeTo(s"$cat.t").append()
    docs.where(col("doc_id") >= 200)
      .repartitionByRange(2, col("doc_id")).writeTo(s"$cat.t").append()
    val tdir = new java.io.File(root, "t").getPath
    assert(LedgerSource.listVersions(tdir) == Seq(1L, 2L, 3L))
    // each version reconstructs its prefix of the append history
    Seq(1L -> 100L, 2L -> 200L, 3L -> 300L).foreach { case (v, n) =>
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t VERSION AS OF $v").head().getLong(0) == n)
    }
    // TIMESTAMP AS OF far-future resolves to the newest commit
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "TIMESTAMP AS OF '2999-01-01'").head().getLong(0) == 300L)
    // snapshots refuse every mutation verb
    val snap = new LedgerTable(tdir, LedgerProps.read(tdir), pinnedVersion = Some(1L))
    intercept[IllegalArgumentException] { snap.newWriteBuilder(null) }
    intercept[IllegalArgumentException] {
      snap.deleteWhere(Array[org.apache.spark.sql.sources.Filter]())
    }
    intercept[IllegalArgumentException] { snap.newRowLevelOperationBuilder(null) }
    // a delete that unlinks version-1 files makes v1 DANGLE: resolution
    // must fail loudly, never silently read different rows
    spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 100")
    assert(LedgerSource.listVersions(tdir) == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 4")
      .head().getLong(0) == 200L)
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("no longer reconstructable"), e.getMessage)
  }

  test("rewrite lands survivors under a FRESH name — names always denote immutable content") {
    val dir = tmpDir("freshname")
    rangeLayout(dir)
    val beforeNames = LedgerSource.ledgerFiles(dir).map(_.getName).toSet
    new LedgerTable(dir, LedgerProps.read(dir)).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("doc_id", java.lang.Long.valueOf(150L)),
      LessThanOrEqual("doc_id", java.lang.Long.valueOf(249L))))
    val afterNames = LedgerSource.ledgerFiles(dir).map(_.getName).toSet
    // the two clipped files were REPLACED under fresh names, never
    // mutated in place under their old ones
    assert((afterNames -- beforeNames).size == 2, s"$beforeNames -> $afterNames")
    assert((beforeNames -- afterNames).size == 2, s"$beforeNames -> $afterNames")
    assert((afterNames -- beforeNames).forall(_.contains("-rw")), afterNames)
  }

  test("storage-partitioned join: two bucketed ledger tables join with ZERO exchange") {
    val (cat, _) = freshCatalog()
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    GraftSession.withConf(s, confs: _*) {
      spark.range(0, 400).select($"id".as("doc_id"),
          lit("en").as("lang"), ($"id" * 3).as("n_chars"))
        .writeTo(s"$cat.a").tableProperty("bucket", "100").createOrReplace()
      spark.range(0, 400, 2).select($"id".as("doc_id"),
          lit("fr").as("lang"), ($"id" * 7).as("n_chars"))
        .writeTo(s"$cat.b").tableProperty("bucket", "100").createOrReplace()
      val joined = spark.table(s"$cat.a").as("a")
        .join(spark.table(s"$cat.b").as("b"), "doc_id")
        .select($"doc_id", $"a.n_chars".as("ca"), $"b.n_chars".as("cb"))
      val rows = joined.collect()
      assert(rows.length == 200)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 3 &&
        r.getLong(2) == r.getLong(0) * 7))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join should shuffle NOTHING:\n${plan.take(4000)}")
    }
  }

  test("storage-partitioned join with ASYMMETRIC bucket sets still runs exchange-free") {
    // one side covers buckets 0..3, the other only 1..2: Spark's
    // pushPartValues machinery aligns the partition value sets instead
    // of giving up — the realistic shape after retention deletes shrink
    // one table's key range
    val (cat, _) = freshCatalog()
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    GraftSession.withConf(s, confs: _*) {
      spark.range(0, 400).select($"id".as("doc_id"),
          lit("en").as("lang"), ($"id" * 3).as("n_chars"))
        .writeTo(s"$cat.a").tableProperty("bucket", "100").createOrReplace()
      spark.range(120, 280).select($"id".as("doc_id"),
          lit("fr").as("lang"), ($"id" * 7).as("n_chars"))
        .writeTo(s"$cat.b").tableProperty("bucket", "100").createOrReplace()
      val joined = spark.table(s"$cat.a").hint("merge")
        .join(spark.table(s"$cat.b").select($"doc_id"), "doc_id")
      assert(joined.count() == 160L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning(doc_id"),
        s"asymmetric SPJ still must not shuffle the join key:\n${plan.take(4000)}")
    }
  }

  test("bucket layout is validated, not trusted: an unbucketed write degrades the scan gracefully") {
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    spark.range(0, 200).select($"id".as("doc_id"), lit("en").as("lang"),
        ($"id" * 3).as("n_chars"))
      .writeTo(s"$cat.t").tableProperty("bucket", "100").createOrReplace()
    // smash the layout contract from OUTSIDE the option plumbing: a
    // raw writer lands one file whose range straddles two buckets
    val tdir = new java.io.File(root, "t").getPath
    val raw = new graft.sources.LedgerWriter(tdir, 99)
    Seq(0L, 199L).foreach { id =>
      raw.write(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](id,
          org.apache.spark.unsafe.types.UTF8String.fromString("xx"), 0L)))
    }
    raw.commit()
    // the straddling file exists: scan must fall back to per-file
    // partitioning (UnknownPartitioning), never mis-group rows
    val tbl = new LedgerTable(tdir, LedgerProps.read(tdir))
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    val part = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportPartitioning]
      .outputPartitioning()
    assert(!part.isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
      s"straddling file must demote the layout claim: $part")
    assert(spark.table(s"$cat.t").count() == 202L)
  }

  test("compaction preserves the bucket layout (and SPJ eligibility) of a bucketed table") {
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._
    val docs = spark.range(0, 300).select($"id".as("doc_id"),
      lit("en").as("lang"), ($"id" * 2).as("n_chars"))
    docs.where($"doc_id" % 2 === 0)
      .writeTo(s"$cat.t").tableProperty("bucket", "100").createOrReplace()
    docs.where($"doc_id" % 2 === 1).writeTo(s"$cat.t").append()
    spark.sql(s"CALL $cat.system.compact('t', 2)")
    val tdir = new java.io.File(root, "t").getPath
    // every post-compact file still lies inside one bucket, so the
    // scan still reports KeyGroupedPartitioning
    LedgerSource.ledgerFiles(tdir).map(LedgerSource.readStats).foreach {
      case (mn, mx, n) =>
        if (n > 0) assert(Math.floorDiv(mn, 100L) == Math.floorDiv(mx, 100L))
    }
    val scan = new LedgerTable(tdir, LedgerProps.read(tdir)).newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    assert(scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportPartitioning]
      .outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
    assert(spark.table(s"$cat.t").count() == 300L)
  }

  test("SHOW TABLES in an unknown namespace errors instead of listing empty") {
    val (cat, _) = freshCatalog()
    spark.range(0, 3).select(col("id").as("doc_id"),
        lit("en").as("lang"), col("id").as("n_chars"))
      .writeTo(s"$cat.ns1.t").createOrReplace()
    assert(spark.sql(s"SHOW TABLES IN $cat.ns1").count() == 1L)
    intercept[Exception] { spark.sql(s"SHOW TABLES IN $cat.bogus").collect() }
  }

  test("PERMISSIVE ingest keeps the raw malformed line; DROPMALFORMED drops it; FAILFAST fails") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("s36_modes")
    // 2 valid lines + 1 truncated object + 1 non-JSON line
    Seq(
      """{"doc_id": 1, "lang": "en", "n_chars": 10}""",
      """{"doc_id": 2, "lang": "de", "n_chars": 20}""",
      """{"doc_id": 3, "lang": "fr""",
      "garbage").toDS().coalesce(1).write.mode("overwrite").text(dir)
    val schema = "doc_id LONG, lang STRING, n_chars LONG, _bad STRING"
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(dir)
    // every input row survives; malformed ones carry the RAW line in the
    // corrupt column with NULL data columns — s36's judged accounting
    assert(perm.count() == 4L)
    val bad = perm.where($"_bad".isNotNull)
      .select($"_bad", $"doc_id", $"lang").collect()
    assert(bad.length == 2, bad.mkString(";"))
    assert(bad.map(_.getString(0)).toSet ==
      Set("""{"doc_id": 3, "lang": "fr""", "garbage"))
    assert(bad.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    // DROPMALFORMED silently keeps only the parseable rows …
    val dropped = spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() == 2L)
    // … and FAILFAST refuses the batch outright
    intercept[org.apache.spark.SparkException] {
      spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
        .option("mode", "FAILFAST").json(dir).collect()
    }
  }

  test("state reader: state-metadata names the operator; batchId option time-travels the state") {
    val s = spark
    import s.implicits._
    val stage = tmpDir("st23_pin_stage")
    val ckpt = tmpDir("st23_pin_ckpt")
    // three single-row arrival files for the same key → running count 1, 2, 3
    for (i <- 0 until 3) {
      Seq((1L, i.toLong)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(stage)
    }
    val q = spark.readStream.schema("k LONG, v LONG")
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .groupBy($"k").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the metadata source names the aggregation's store and batch range
    val md = spark.read.format("state-metadata").load(ckpt).collect().head
    assert(md.getAs[String]("operatorName") == "stateStoreSave")
    assert(md.getAs[Long]("minBatchId") == 0L)
    assert(md.getAs[Long]("maxBatchId") == 2L, md.toString)
    // batchId picks the state AS OF a committed batch — the agg buffer
    // must show the running count of that moment, not the final one
    def countAt(b: Int): Long = spark.read.format("statestore")
      .option("batchId", b.toString).load(ckpt)
      .selectExpr("value.count").head().getLong(0)
    assert(countAt(0) == 1L)
    assert(countAt(1) == 2L)
    assert(countAt(2) == 3L)
  }

  test("Observation metrics ride the job — no second scan, values equal a direct aggregate") {
    val s = spark
    import s.implicits._
    // the production idiom for pipeline QA counters (rows kept, nulls
    // seen, money moved) without paying a second pass over the input:
    // observe() attaches an accumulator-backed aggregate to the plan
    // and the action that runs the job also materializes the metrics
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val obs = new org.apache.spark.sql.Observation("r14_obs")
    val kept = docs.observe(obs,
        count(lit(1)).as("n_in"),
        sum($"n_chars").as("chars_in"),
        max($"doc_id").as("max_id"))
      .where($"n_chars" % 2 === 0)
      .count()
    val m = obs.get
    val direct = docs.agg(count(lit(1)), sum($"n_chars"), max($"doc_id"))
      .head()
    assert(m("n_in") == direct.getLong(0))
    assert(m("chars_in") == direct.getLong(1))
    assert(m("max_id") == direct.getLong(2))
    // the observed point sits UPSTREAM of the filter: n_in counts every
    // input row, not the kept subset
    assert(m("n_in").asInstanceOf[Long] > kept)
  }

  test("fuzz: INTERSECT ALL / EXCEPT ALL match multiset min / truncated difference (u08 semantics)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1408)
    for (round <- 0 until 5) {
      val a = Seq.fill(rnd.nextInt(60) + 10)(rnd.nextInt(12).toLong)
      val b = Seq.fill(rnd.nextInt(60) + 10)(rnd.nextInt(12).toLong)
      a.toDF("k").createOrReplaceTempView("ms_a")
      b.toDF("k").createOrReplaceTempView("ms_b")
      def multiplicities(sql: String): Map[Long, Long] =
        spark.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inter = multiplicities(
        "SELECT k, count(*) FROM (SELECT k FROM ms_a INTERSECT ALL SELECT k FROM ms_b) GROUP BY k")
      val except = multiplicities(
        "SELECT k, count(*) FROM (SELECT k FROM ms_a EXCEPT ALL SELECT k FROM ms_b) GROUP BY k")
      val ca = a.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cb = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val refInter = ca.flatMap { case (k, n) =>
        val m = math.min(n, cb.getOrElse(k, 0L)); if (m > 0) Some(k -> m) else None }
      val refExcept = ca.flatMap { case (k, n) =>
        val m = n - cb.getOrElse(k, 0L); if (m > 0) Some(k -> m) else None }
      assert(inter == refInter, s"round=$round inter")
      assert(except == refExcept, s"round=$round except")
    }
  }

  test("year-month interval addition clamps at short month ends (f25 semantics)") {
    val r = spark.sql(
      """SELECT CAST(TIMESTAMP '2024-01-31 10:00:00' + INTERVAL '1' MONTH AS STRING) AS a,
        |       CAST(TIMESTAMP '2024-02-29 10:00:00' + INTERVAL '12' MONTH AS STRING) AS b,
        |       CAST(TIMESTAMP '2024-03-31 00:00:00' - INTERVAL '1' MONTH AS STRING) AS c
        |""".stripMargin).head()
    // Jan 31 + 1 month lands on leap-Feb's END, not an invalid Mar 2
    assert(r.getString(0) == "2024-02-29 10:00:00")
    // leap day + 12 months clamps to non-leap Feb 28
    assert(r.getString(1) == "2025-02-28 10:00:00")
    // subtraction clamps the same way (Mar 31 − 1 month = Feb 29)
    assert(r.getString(2) == "2024-02-29 00:00:00")
  }

  test("fuzz: NOT IN equals the anti-complement iff the probe is null-free (j17 semantics)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1405)
    for (round <- 0 until 6) {
      val base = Seq.fill(40)(rnd.nextInt(25).toLong)
      val probeVals = Seq.fill(rnd.nextInt(12) + 1)(rnd.nextInt(25).toLong)
      val withNull = round % 2 == 1
      base.toDF("k").createOrReplaceTempView("f_base")
      val probe = probeVals.map(Option(_)) ++ (if (withNull) Seq(None) else Nil)
      probe.toDF("k").createOrReplaceTempView("f_probe")
      val notIn = spark.sql(
        "SELECT count(*) FROM f_base WHERE k NOT IN (SELECT k FROM f_probe)")
        .head().getLong(0)
      val expected =
        if (withNull) 0L // one NULL → every comparison UNKNOWN → no row passes
        else base.count(v => !probeVals.contains(v)).toLong
      assert(notIn == expected, s"round=$round withNull=$withNull got=$notIn")
      // NOT EXISTS never sees the tri-valued trap: equality with the
      // NULL row is UNKNOWN, so that probe row simply never matches
      val notExists = spark.sql(
        """SELECT count(*) FROM f_base b
          |WHERE NOT EXISTS (SELECT 1 FROM f_probe p WHERE p.k = b.k)""".stripMargin)
        .head().getLong(0)
      assert(notExists == base.count(v => !probeVals.contains(v)).toLong)
    }
  }
}
