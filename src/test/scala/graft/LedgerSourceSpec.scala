package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.queries.Portable
import graft.sources.LedgerSource

/** Connector-contract pins for the graft-ledger DataSource V2
  * ([[graft.sources.LedgerSource]]): roundtrip fidelity incl. nulls,
  * overwrite-as-truncate, stats-header FILE SKIPPING under pushed
  * doc_id predicates (the partition count IS the observable), pruned
  * decode, and plan-visible pushdown. The judged end-to-end path is
  * `s16_ledger_roundtrip`. */
class LedgerSourceSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(Portable.scratchRoot, s"ledger_$tag").toString

  private def sample: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "en", 10L), (2L, "fr", 20L), (3L, null.asInstanceOf[String], 30L),
      (4L, "de", 40L), (5L, "en", 50L), (6L, "zh", 60L))
      .toDF("doc_id", "lang", "n_chars")
      .withColumn("n_chars", when($"doc_id" === 4L, lit(null)).otherwise($"n_chars"))
  }

  test("roundtrip preserves rows, including null lang and null n_chars") {
    val dir = tmpDir("rt")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val back = spark.read.format("graft-ledger").load(dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toSet
    val expect = sample.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1),
      if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toSet
    assert(back == expect)
  }

  test("overwrite truncates: a second write replaces the first") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ow")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    sample.where($"doc_id" <= 2L)
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft-ledger").load(dir).count() == 2L)
  }

  test("pushed doc_id bounds skip whole files via the stats header") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("skip")
    // 4 range-partitioned files with disjoint doc_id intervals
    val docs = spark.range(0, 400).select($"id".as("doc_id"),
      concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
      ($"id" * 3).as("n_chars"))
    docs.repartitionByRange(4, $"doc_id")
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    assert(LedgerSource.ledgerFiles(dir).length == 4)
    val all = spark.read.format("graft-ledger").load(dir)
    assert(all.rdd.getNumPartitions == 4)
    // a tight interval lands in ONE file's [min,max]
    val one = all.where($"doc_id" >= 120L && $"doc_id" < 140L)
    assert(one.rdd.getNumPartitions == 1,
      s"expected 1 surviving partition, got ${one.rdd.getNumPartitions}")
    assert(one.count() == 20L)
    // an impossible interval skips everything
    val none = all.where($"doc_id" > 1000L)
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0L)
  }

  test("the scan plan advertises pushdown and the pruned read schema") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("plan")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val q = spark.read.format("graft-ledger").load(dir)
      .where($"doc_id" >= 3L).select($"doc_id", $"n_chars")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(doc_id,3)"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"), plan)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L, 6L))
  }

  test("a filter Spark keeps (non-key column) still evaluates correctly") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("resid")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val got = spark.read.format("graft-ledger").load(dir)
      .where($"lang" === "en" && $"doc_id" > 1L)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L))
  }

  test("strict bounds at the Long extremes prune everything, not nothing") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("satur")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val all = spark.read.format("graft-ledger").load(dir)
    // doc_id > Long.MaxValue / < Long.MinValue are unsatisfiable; the
    // pre-fix v±1 arithmetic wrapped these into full-range bounds that
    // silently disabled the file skip
    val gt = all.where($"doc_id" > Long.MaxValue)
    assert(gt.rdd.getNumPartitions == 0 && gt.count() == 0L)
    val lt = all.where($"doc_id" < Long.MinValue)
    assert(lt.rdd.getNumPartitions == 0 && lt.count() == 0L)
  }

  test("global count/min/max push down completely and decode zero records") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("agg")
    val docs = spark.range(0, 300).select($"id".as("doc_id"),
      concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
      ($"id" * 3).as("n_chars"))
    docs.repartitionByRange(3, $"doc_id")
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val q = spark.read.format("graft-ledger").load(dir)
      .agg(count(lit(1)).as("n"), min($"doc_id").as("mn"), max($"doc_id").as("mx"))
    // complete pushdown: the plan carries the PushedAggregates marker
    // and no Spark-side aggregate shape survives above the scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"), plan)
    val row = q.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((300L, 0L, 299L)))

    // zero-decode proof: truncate one file to its 28-byte stats header —
    // any attempt to decode a record now hits EOF, but the pushed
    // aggregate still answers from the header
    val f = LedgerSource.ledgerFiles(dir).head
    val (_, _, nFirst) = LedgerSource.readStats(f)
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(28L) finally raf.close()
    val row2 = spark.read.format("graft-ledger").load(dir)
      .agg(count(lit(1)).as("n"), min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .collect().head
    assert((row2.getLong(0), row2.getLong(1), row2.getLong(2)) == ((300L, 0L, 299L)))
    assert(nFirst > 0L)
    // while a real ROW scan over the truncated layout cannot return all
    // rows — count() alone won't do as the decode-proof probe, because
    // count() is itself answered by the pushed aggregate (which is the
    // very point of this test); collect() forces record decodes
    val full = scala.util.Try(
      spark.read.format("graft-ledger").load(dir).collect().length.toLong)
      .getOrElse(-1L)
    assert(full != 300L, "truncation should have made a full decode impossible")
  }

  test("aggregate pushdown declines when a key filter is in play") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("aggdecl")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    // header stats cannot answer a FILTERED count — the connector must
    // leave the aggregate to Spark and results must still be exact
    val q = spark.read.format("graft-ledger").load(dir)
      .where($"doc_id" >= 3L)
      .agg(count(lit(1)).as("n"), max($"doc_id").as("mx"))
    assert(q.collect().head.getLong(0) == 4L)
    assert(q.collect().head.getLong(1) == 6L)
    // grouped aggregates can't come from global headers either
    val g = spark.read.format("graft-ledger").load(dir)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
    assert(g.collect().map(r => Option(r.getString(0)).getOrElse("∅") -> r.getLong(1))
      .toMap == Map("en" -> 2L, "fr" -> 1L, "de" -> 1L, "zh" -> 1L, "∅" -> 1L))
  }

  test("empty table: pushed count is 0 and min/max are null") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("aggempty")
    sample.where($"doc_id" < 0L) // writes only empty ledger files
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val row = spark.read.format("graft-ledger").load(dir)
      .agg(count(lit(1)).as("n"), min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .collect().head
    assert(row.getLong(0) == 0L && row.isNullAt(1) && row.isNullAt(2))
  }

  test("reading a nonexistent path fails fast instead of an empty table") {
    val bogus = tmpDir("gone") + "/definitely_missing"
    val e = intercept[Exception] {
      spark.read.format("graft-ledger").load(bogus).count()
    }
    assert(e.getMessage != null)
  }

  test("stream offset json round-trips, including escapes") {
    import graft.sources.LedgerStreamOffset
    val names = Seq("part-00001-ab.gl", "part-00000-cd.gl")
    val rt = LedgerStreamOffset.fromJson(LedgerStreamOffset(names).json())
    assert(rt.files.sorted == names.sorted)
    assert(LedgerStreamOffset.fromJson(LedgerStreamOffset(Nil).json()).files.isEmpty)
    val odd = Seq("a\"b.gl", "c\\d.gl")
    assert(LedgerStreamOffset.fromJson(LedgerStreamOffset(odd).json())
      .files.sorted == odd.sorted)
    // names outside the writer's part-NNNNN-hex.gl shape must round-trip
    // too (user dirs can hold renamed files): commas and control chars
    val hostile = Seq("a,b.gl", "tab\there.gl", "nl\nthere.gl")
    assert(LedgerStreamOffset.fromJson(LedgerStreamOffset(hostile).json())
      .files.sorted == hostile.sorted)
  }

  test("set-equal offsets are equal regardless of construction order") {
    import graft.sources.LedgerStreamOffset
    // the streaming Offset contract compares offsets via json(); a
    // restart deserializes sorted while latestOffset assembles in set
    // order — the two must compare equal or the engine schedules a
    // spurious empty microbatch after recovery
    val a = LedgerStreamOffset(Seq("part-00001-ab.gl", "part-00000-cd.gl"))
    val b = LedgerStreamOffset(Seq("part-00000-cd.gl", "part-00001-ab.gl"))
    assert(a.json() == b.json())
    assert(a == b, "Offset equality must be construction-order independent")
  }

  test("streaming read drains in maxFilesPerTrigger batches and equals the batch read") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("stream")
    val docs = spark.range(0, 400).select($"id".as("doc_id"),
      concat(lit("l"), ($"id" % 7).cast("string")).as("lang"),
      ($"id" * 3).as("n_chars"))
    docs.repartitionByRange(4, $"doc_id")
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = spark.readStream.format("graft-ledger")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect()
        batchSizes.synchronized {
          batchSizes += rows.length.toLong
          seen ++= rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        }: Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // admission control: 4 files -> 4 one-file microbatches of 100 rows
    assert(batchSizes.toSeq == Seq(100L, 100L, 100L, 100L), batchSizes)
    val expect = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(seen.toSet == expect && seen.size == 400)
  }

  test("streaming restart from a checkpoint processes only newly-arrived files") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("streamrestart")
    val ckpt = tmpDir("streamrestart_ckpt")
    def wave(lo: Long, hi: Long) = spark.range(lo, hi).select($"id".as("doc_id"),
      lit("xx").as("lang"), ($"id" * 2).as("n_chars"))
    wave(0, 100).coalesce(1)
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    def drain(into: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
      val q = spark.readStream.format("graft-ledger").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          into.synchronized { into ++= b.collect().map(_.getLong(0)) }: Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val run1 = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(run1)
    assert(run1.toSet == (0L until 100L).toSet)
    // second wave lands as NEW files (append leaves wave-1 files alone)
    wave(100, 150).coalesce(1)
      .write.format("graft-ledger").mode(SaveMode.Append).save(dir)
    val run2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(run2)
    assert(run2.toSet == (100L until 150L).toSet,
      s"restart must ingest exactly the new files, got ${run2.size} rows")
  }

  test("runtime join filters prune files before any partition is planned") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.{In => SrcIn}
    val dir = tmpDir("rtf")
    spark.range(0, 400).select($"id".as("doc_id"),
      lit("xx").as("lang"), ($"id" * 3).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    // drive the Scan contract exactly as BatchScanExec does once the
    // join's build side has materialized its key set
    def freshScan() = new graft.sources.LedgerScanBuilder(dir).build()
    assert(freshScan().toBatch.planInputPartitions().length == 4)
    val rt = freshScan().asInstanceOf[SupportsRuntimeFiltering]
    assert(rt.filterAttributes().head.fieldNames().toSeq == Seq("doc_id"))
    rt.filter(Array[org.apache.spark.sql.sources.Filter](
      SrcIn("doc_id", Array[Any](java.lang.Long.valueOf(150L),
        java.lang.Long.valueOf(160L)))))
    assert(rt.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
      .toBatch.planInputPartitions().length == 1,
      "both join keys live in one range file — three files must prune")
    val none = freshScan().asInstanceOf[SupportsRuntimeFiltering]
    none.filter(Array[org.apache.spark.sql.sources.Filter](
      SrcIn("doc_id", Array[Any](java.lang.Long.valueOf(9999L)))))
    assert(none.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
      .toBatch.planInputPartitions().isEmpty,
      "a key outside every file's range must prune the whole scan")
    // multiple runtime filters arrive as a CONJUNCTION: a file must
    // satisfy every set. In {150,350} ∧ In {350} → only 350's file may
    // survive; a union of the two key sets would keep 150's file too
    val conj = freshScan().asInstanceOf[SupportsRuntimeFiltering]
    conj.filter(Array[org.apache.spark.sql.sources.Filter](
      SrcIn("doc_id", Array[Any](java.lang.Long.valueOf(150L),
        java.lang.Long.valueOf(350L))),
      SrcIn("doc_id", Array[Any](java.lang.Long.valueOf(350L)))))
    assert(conj.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
      .toBatch.planInputPartitions().length == 1,
      "conjunctive runtime filters must intersect, not union, the file sets")
  }

  test("reported statistics let a small ledger side auto-broadcast") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("stats")
    sample.write.format("graft-ledger").mode(SaveMode.Overwrite).save(dir)
    val big = spark.range(0, 10000).select($"id".as("doc_id"), ($"id" % 9).as("grp"))
    val joined = big.join(
      spark.read.format("graft-ledger").load(dir), Seq("doc_id"))
    // no broadcast() hint anywhere: the 6-row ledger side must broadcast
    // purely on its reported header statistics
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() == 6L)
  }
}
