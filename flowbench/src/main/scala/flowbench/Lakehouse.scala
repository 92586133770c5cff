package flowbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A seeded sequence of ledger operations against one `GraftCatalog`
  * table that starts empty in the run's directory and grows every pass.
  *
  * Each pass: append, pushdown scan, MERGE INTO, time-travel read,
  * UPDATE, DELETE, one AvailableNow streamed append, pushdown scan,
  * change-feed read, pushdown scan, `CALL system.compact`. Five of the
  * eleven operations are reads. The table is merge-on-read, so row-level verbs add tombstones
  * and keep the files that time travel and the change feed read back to
  * the pass's start; compaction, which removes them, ends the pass.
  * Every batch is staged as parquet during set-up, so the engine only
  * sees generated files. A driver-side model replays the same sequence;
  * reads and the final table are checked against it. */
final class Lakehouse(spark: SparkSession, seed: Long, dir: String) extends Workload {
  val name = "lakehouse"
  val warmPasses = 1
  val setupReps = 3
  def steadyPasses(seconds: Int): Int = Workloads.steadyPasses(seconds, warmPasses)
  def samePerPass = false

  // rows per pass: append, merge (half matched, half new), stream
  private val AppendRows = 250000L
  private val MergeRows = 60000L
  private val StreamRows = 60000L
  private val NewPerPass = AppendRows + MergeRows / 2 + StreamRows
  // row-level verbs hit every 5th (update) or 41st (delete) key across the
  // whole table, so a seed changes which rows they touch but not how many
  private val UpdateEvery = 5
  private val DeleteEvery = 41
  private val ScanWidth = 20000L
  private val CompactFiles = 8
  private val Langs = Array("en", "de", "fr", "es", "zh")

  private val cat = "flowbench_lh"
  private val table = s"$cat.ledger"
  private val root = s"$dir/ledger"
  private val tableDir = new File(root, "ledger")
  private val stage = s"$dir/stage"
  def storageDir: File = tableDir

  /** Total passes of the run; set before [[setup]] so every batch is staged. */
  var totalPasses = 0

  // value formulas, shared verbatim by the staged batches and the model
  private def mix(id: Long, salt: Long): Long =
    Math.floorMod(id * 1103515245L + seed * 12345L + salt * 2654435761L, 2147483647L)
  private def langOf(id: Long, salt: Long): Int = (mix(id, salt) % 5).toInt
  private def charsOf(id: Long, salt: Long): Long = 50 + mix(id, salt + 7) % 2000
  private def mixCol(id: Column, salt: Column) =
    pmod(id * 1103515245L + lit(seed * 12345L) + salt * 2654435761L, lit(2147483647L))
  /** One staged batch: ids from `ids`, values salted with `salt`. */
  private def batch(kind: String, p: Int, ids: org.apache.spark.sql.Dataset[_], salt: Long): DataFrame = {
    val sc = lit(salt)
    ids.select(lit(kind).as("kind"), lit(p).as("pass"), col("id").as("doc_id"),
      element_at(array(Langs.toSeq.map(lit): _*), (pmod(mixCol(col("id"), sc), lit(5L)) + 1).cast("int")).as("lang"),
      (lit(50L) + pmod(mixCol(col("id"), sc + 7L), lit(2000L))).as("n_chars"))
  }
  private def staged(kind: String, p: Int): String = s"$stage/kind=$kind/pass=$p"

  /** Seeded parameters of pass `p`. The merge matches every
    * `mergeStride`-th key from `mergeFrom`, spread over the whole table. */
  private case class Plan(base: Long, mergeFrom: Long, mergeStride: Long, updResidue: Int,
                          updLang: Int, delResidue: Int, scans: Seq[Long]) {
    def matched: Seq[Long] = (0L until MergeRows / 2).map(i => mergeFrom + i * mergeStride)
    def inserted: Seq[Long] = base + AppendRows until base + AppendRows + MergeRows / 2
    def streamed: Seq[Long] = base + AppendRows + MergeRows / 2 until base + NewPerPass
  }
  private def plan(p: Int): Plan = {
    val r = new java.util.SplittableRandom(seed * 1000003L + p)
    val base = p * NewPerPass
    val live = base + AppendRows
    val stride = live / (MergeRows / 2)
    Plan(base, r.nextLong(stride), stride, r.nextInt(UpdateEvery), r.nextInt(Langs.length),
      r.nextInt(DeleteEvery), Seq.fill(3)(r.nextLong(live - ScanWidth)))
  }
  private def mergeIds(p: Int): DataFrame = {
    val pl = plan(p)
    spark.range(0, MergeRows, 1, 1).select(
      when(col("id") < MergeRows / 2, col("id") * pl.mergeStride + pl.mergeFrom)
        .otherwise(col("id") - MergeRows / 2 + pl.base + AppendRows).as("id"))
  }

  // ---- model -------------------------------------------------------------
  private var present: Array[Boolean] = Array.empty
  private var lang: Array[Byte] = Array.empty
  private var chars: Array[Long] = Array.empty
  private var logical = 0L
  def inputBytes: Long = logical

  private def modelPut(id: Long, salt: Long): Unit = {
    val i = id.toInt
    present(i) = true; lang(i) = langOf(id, salt).toByte; chars(i) = charsOf(id, salt)
    logical += 16 + Langs(lang(i)).length
  }
  private def modelRange(from: Long, until: Long): (Long, Long) = {
    var n = 0L; var s = 0L; var i = from.toInt
    while (i < until && i < present.length) { if (present(i)) { n += 1; s += chars(i) }; i += 1 }
    (n, s)
  }

  /** (lang, rows, sum of n_chars) of the live model rows, by lang. */
  private def modelByLang(): Seq[(String, Long, Long)] = {
    val n = new Array[Long](Langs.length); val s = new Array[Long](Langs.length)
    var i = 0
    while (i < present.length) { if (present(i)) { n(lang(i)) += 1; s(lang(i)) += chars(i) }; i += 1 }
    Langs.indices.filter(n(_) > 0).map(l => (Langs(l), n(l), s(l))).sorted
  }

  // ---- set-up ------------------------------------------------------------
  def setup(): Double = {
    require(totalPasses > 0, "totalPasses must be set before setup")
    val t0 = System.nanoTime()
    val cap = (totalPasses * NewPerPass).toInt
    present = new Array[Boolean](cap); lang = new Array[Byte](cap); chars = new Array[Long](cap)
    logical = 0L
    // every batch of the run in one write job, one directory per batch
    (0 until totalPasses).flatMap { p =>
      val pl = plan(p)
      Seq(batch("append", p, spark.range(pl.base, pl.base + AppendRows, 1, 4), 0),
        batch("merge", p, mergeIds(p), p + 1L),
        batch("stream", p, spark.range(pl.base + AppendRows + MergeRows / 2, pl.base + NewPerPass, 1, 1), 0))
    }.reduce(_ unionAll _).write.mode("overwrite").partitionBy("kind", "pass").parquet(stage)
    val ingest = (System.nanoTime() - t0) / 1e9
    // the table starts empty; a repeated set-up starts it over
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.range(0).select(col("id").as("doc_id"), lit("en").as("lang"), col("id").as("n_chars"))
      .writeTo(table).tableProperty("mor", "true").createOrReplace()
    ingest
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(): Unit
  }

  def inputFingerprints(): Seq[(String, Fp)] = (0 until totalPasses).flatMap { p =>
    Seq("append", "merge", "stream").map(k =>
      s"${k}_$p" -> Fingerprint.of(spark.read.parquet(staged(k, p))))
  }

  // ---- operations --------------------------------------------------------
  private def version(): Long =
    spark.sql(s"SELECT max(version) FROM $table.history").head().getLong(0)

  private val mismatches = mutable.ArrayBuffer.empty[String]
  private def expect(what: String, got: (Long, Long), want: (Long, Long)): Unit =
    if (got != want) mismatches += s"$what: table gives $got, model gives $want"

  /** Pushdown-read file counts: (files scanned, files in the table). */
  val pushdownFiles = mutable.ArrayBuffer.empty[(Long, Long)]
  var tracePushdown = false

  private def countSum(df: DataFrame): (Long, Long) = {
    val r: Row = df.head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def scan(p: Int, from: Long, tag: String): Op = {
    var df: DataFrame = null
    Op(s"scan_pushdown_$tag", "read",
      run = () => {
        df = spark.sql(s"SELECT count(*), sum(n_chars) FROM $table " +
          s"WHERE doc_id >= $from AND doc_id < ${from + ScanWidth}")
        val (n, s) = countSum(df)
        Fp(n, s)
      },
      post = fp => {
        expect(s"pass $p scan $tag", (fp.rows, fp.hash), modelRange(from, from + ScanWidth))
        if (tracePushdown) {
          val scanned = Meter.nodes(df.queryExecution.executedPlan).collect {
            case b: BatchScanExec => b.inputPartitions.size.toLong
          }.sum
          pushdownFiles += ((scanned, liveFiles()))
        }
      })
  }

  private def liveFiles(): Long =
    spark.sql(s"SELECT n_data_files FROM $table.history ORDER BY version DESC LIMIT 1")
      .head().getLong(0)

  def pass(p: Int): Seq[Op] = ops(p).map(o => o.copy(post = fp => { o.post(fp); recordFiles() }))

  private def ops(p: Int): Seq[Op] = {
    val pl = plan(p)
    var v0 = 0L
    var v1 = 0L
    var before = Seq.empty[(String, Long, Long)]
    var travelled = Seq.empty[(String, Long, Long)]
    Seq(
      Op("append", "write",
        prep = () => { v0 = version(); before = modelByLang() },
        run = () => {
          spark.read.parquet(staged("append", p)).writeTo(table).append()
          Fp(0, 0)
        },
        post = _ => (pl.base until pl.base + AppendRows).foreach(modelPut(_, 0))),
      scan(p, pl.scans(0), "a"),
      Op("merge", "write",
        prep = () => spark.read.parquet(staged("merge", p)).createOrReplaceTempView("flowbench_merge_src"),
        run = () => {
          spark.sql(
            s"""MERGE INTO $table t USING flowbench_merge_src s ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET lang = s.lang, n_chars = s.n_chars
               |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
               |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)
          Fp(0, 0)
        },
        post = _ => (pl.matched ++ pl.inserted).foreach(modelPut(_, p + 1L))),
      Op("time_travel", "read",
        run = () => {
          travelled = spark.sql(s"SELECT lang, count(*), sum(n_chars) FROM $table " +
            s"VERSION AS OF $v0 GROUP BY lang").collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
          Fp(travelled.map(_._2).sum, travelled.map(_._3).sum)
        },
        post = _ => if (travelled != before)
          mismatches += s"pass $p time travel to v$v0: table gives $travelled, model gives $before"),
      Op("update", "write",
        run = () => {
          spark.sql(s"UPDATE $table SET n_chars = n_chars + 7 WHERE pmod(doc_id, $UpdateEvery) = " +
            s"${pl.updResidue} AND lang = '${Langs(pl.updLang)}'")
          Fp(0, 0)
        },
        post = _ => present.indices.foreach { i =>
          if (present(i) && i % UpdateEvery == pl.updResidue && lang(i) == pl.updLang) chars(i) += 7
        }),
      Op("delete", "write",
        run = () => {
          spark.sql(s"DELETE FROM $table WHERE pmod(doc_id, $DeleteEvery) = ${pl.delResidue}")
          Fp(0, 0)
        },
        post = _ => present.indices.foreach { i =>
          if (i % DeleteEvery == pl.delResidue) present(i) = false
        }),
      Op("stream_append", "write",
        prep = () => deleteTree(new File(s"$dir/ckpt_$p")),
        run = () => {
          val src = staged("stream", p)
          val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
            .writeStream.option("checkpointLocation", s"$dir/ckpt_$p")
            .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
              b.writeTo(table).append()
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          Fp(0, 0)
        },
        post = _ => pl.streamed.foreach(modelPut(_, 0))),
      scan(p, pl.scans(1), "b"),
      Op("change_feed", "read",
        prep = () => v1 = version(),
        run = () => Fingerprint.of(spark.read.format("graft-ledger")
          .option("changesFrom", v0.toString).option("changesTo", v1.toString)
          .load(tableDir.getPath)
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids"), sum(col("n_chars")).as("chars")))),
      scan(p, pl.scans(2), "c"),
      Op("compact", "write",
        run = () => {
          spark.sql(s"CALL $cat.system.compact('ledger', $CompactFiles)")
          Fp(0, 0)
        }))
  }

  override def finalCheck(): Seq[String] = {
    val got = Fingerprint.ledger(spark.table(table))
    var n = 0L; var h = 0L; var i = 0
    while (i < present.length) {
      if (present(i)) { n += 1; h += Fingerprint.ledgerRow(i, Langs(lang(i)), chars(i)) }
      i += 1
    }
    val want = Fp(n, h)
    mismatches.toSeq ++ (if (got != want) Seq(s"final table $got, model $want") else Nil)
  }

  /** Ledger data (`.gl`) and tombstone (`.gd`) files ever seen in the
    * table directory, with their sizes: compaction deletes files, so
    * they are recorded after every operation. */
  private val written = mutable.Map.empty[String, Long]
  private def recordFiles(): Unit =
    Option(tableDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && (f.getName.endsWith(".gl") || f.getName.endsWith(".gd")))
      .foreach(f => written(f.getName) = f.length)

  override def layerMetric(op: String): String =
    "sources." + op.stripSuffix("_a").stripSuffix("_b").stripSuffix("_c")

  override def storageFigures(): Map[String, Double] = {
    val live = liveFiles()
    val skipped = pushdownFiles.toSeq
    Map(
      "sources.files_written" -> written.size.toDouble,
      "sources.bytes_written_mb" -> written.values.sum / 1048576.0,
      "sources.live_files" -> live.toDouble,
      "sources.files_skipped_ratio" ->
        (if (skipped.isEmpty) 0.0
        else 1.0 - skipped.map(_._1).sum.toDouble / math.max(1L, skipped.map(_._2).sum)))
  }
}
