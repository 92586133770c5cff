package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.queries.Portable
import graft.sources.{LedgerProps, LedgerSource, LedgerTable}

/** Seeded-fuzz equivalence for the connector's row-level verbs: on
  * arbitrary row sets (duplicate keys, nulls, negative keys, empty
  * tables) and arbitrary key intervals, DELETE through the two-tier
  * metadata/rewrite machinery must equal the reference filter EXACTLY,
  * composed deletes must compose, and append-history versions must
  * reconstruct their prefixes. Deterministic seed — failures replay. */
class LedgerVerbFuzzSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  private def rows(rng: scala.util.Random, n: Int): Seq[(Long, String, Option[Long])] =
    Seq.fill(n)((
      (rng.nextInt(500) - 100).toLong, // duplicates and negatives on purpose
      if (rng.nextInt(5) == 0) null else s"l${rng.nextInt(4)}",
      if (rng.nextInt(6) == 0) None else Some(rng.nextInt(1000).toLong)))

  private def writeLedger(data: Seq[(Long, String, Option[Long])],
                          parts: Int, byRange: Boolean): String = {
    val dir = Files.createTempDirectory(Portable.scratchRoot, "ledger_fuzz").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        data.map(t => Row(t._1, t._2, t._3.map(Long.box).orNull)), 2),
      schema)
    val laid =
      if (byRange) df.repartitionByRange(parts, col("doc_id"))
      else df.repartition(parts)
    laid.write.format("graft-ledger").mode("overwrite").save(dir)
    dir
  }

  private def readBack(dir: String): Seq[(Long, String, Option[Long])] =
    spark.read.format("graft-ledger").load(dir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq

  private def sortRows(s: Seq[(Long, String, Option[Long])]) =
    s.sortBy(t => (t._1, Option(t._2).getOrElse(""), t._3.getOrElse(-1L)))

  test("fuzz: interval DELETE equals the reference filter on arbitrary layouts") {
    val rng = new scala.util.Random(140001L)
    (1 to 20).foreach { i =>
      val data = rows(rng, rng.nextInt(250))
      val dir = writeLedger(data, 1 + rng.nextInt(4), rng.nextBoolean())
      val lo = (rng.nextInt(600) - 150).toLong
      val hi = lo + rng.nextInt(300) - 50 // sometimes empty (hi < lo)
      new LedgerTable(dir, LedgerProps.read(dir)).deleteWhere(Array[Filter](
        GreaterThanOrEqual("doc_id", java.lang.Long.valueOf(lo)),
        LessThanOrEqual("doc_id", java.lang.Long.valueOf(hi))))
      val expect = data.filterNot(t => t._1 >= lo && t._1 <= hi)
      assert(sortRows(readBack(dir)) == sortRows(expect),
        s"case $i: delete [$lo,$hi] over ${data.size} rows diverged")
      // surviving stats headers must stay exact (min/max/count per file)
      LedgerSource.ledgerFiles(dir).foreach { f =>
        val (mn, mx, n) = LedgerSource.readStats(f)
        if (n > 0) assert(mn <= mx && !(mn >= lo && mx <= hi))
      }
    }
  }

  test("fuzz: composed deletes compose — two intervals equal the union filter") {
    val rng = new scala.util.Random(140002L)
    (1 to 10).foreach { i =>
      val data = rows(rng, 100 + rng.nextInt(150))
      val dir = writeLedger(data, 1 + rng.nextInt(4), byRange = true)
      val t = new LedgerTable(dir, LedgerProps.read(dir))
      val (lo1, hi1) = { val l = rng.nextInt(300) - 100L; (l, l + rng.nextInt(120)) }
      val (lo2, hi2) = { val l = rng.nextInt(300) - 100L; (l, l + rng.nextInt(120)) }
      Seq((lo1, hi1), (lo2, hi2)).foreach { case (lo, hi) =>
        t.deleteWhere(Array[Filter](
          GreaterThanOrEqual("doc_id", java.lang.Long.valueOf(lo)),
          LessThanOrEqual("doc_id", java.lang.Long.valueOf(hi))))
      }
      val expect = data.filterNot(r =>
        (r._1 >= lo1 && r._1 <= hi1) || (r._1 >= lo2 && r._1 <= hi2))
      assert(sortRows(readBack(dir)) == sortRows(expect), s"case $i diverged")
    }
  }

  test("fuzz: REPLACE WHERE equals delete-interval-then-union on arbitrary layouts") {
    val rng = new scala.util.Random(140004L)
    (1 to 8).foreach { i =>
      val (cat, root) = freshCatalog()
      val base = rows(rng, 80 + rng.nextInt(120))
      val incoming = rows(rng, rng.nextInt(60))
      def df(d: Seq[(Long, String, Option[Long])]) = spark.createDataFrame(
        spark.sparkContext.parallelize(
          d.map(t => Row(t._1, t._2, t._3.map(Long.box).orNull)), 2), schema)
      df(base).repartitionByRange(1 + rng.nextInt(4), col("doc_id"))
        .writeTo(s"$cat.t").createOrReplace()
      val lo = (rng.nextInt(400) - 100).toLong
      val hi = lo + rng.nextInt(200)
      df(incoming).createOrReplaceTempView(s"fuzz_ow_src_$i")
      spark.sql(s"INSERT INTO $cat.t REPLACE WHERE doc_id >= $lo AND doc_id <= $hi " +
        s"SELECT * FROM fuzz_ow_src_$i")
      val got = spark.table(s"$cat.t").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      // semantics: rows of the interval give way; incoming rows land as
      // written (wherever their keys lie)
      val expect = base.filterNot(t => t._1 >= lo && t._1 <= hi) ++ incoming
      assert(sortRows(got) == sortRows(expect), s"case $i diverged [$lo,$hi]")
    }
  }

  test("fuzz: verbs on a BUCKETED table preserve the every-file-in-one-bucket invariant") {
    val rng = new scala.util.Random(140005L)
    (1 to 6).foreach { i =>
      val (cat, root) = freshCatalog()
      val width = Seq(50L, 100L, 128L)(rng.nextInt(3))
      val base = rows(rng, 100 + rng.nextInt(150))
      def df(d: Seq[(Long, String, Option[Long])]) = spark.createDataFrame(
        spark.sparkContext.parallelize(
          d.map(t => Row(t._1, t._2, t._3.map(Long.box).orNull)), 3), schema)
      df(base).writeTo(s"$cat.t")
        .tableProperty("bucket", width.toString).createOrReplace()
      val extra = rows(rng, rng.nextInt(60))
      df(extra).writeTo(s"$cat.t").append()
      val lo = (rng.nextInt(400) - 100).toLong
      val hi = lo + rng.nextInt(150)
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= $lo AND doc_id <= $hi")
      val expect = (base ++ extra).filterNot(t => t._1 >= lo && t._1 <= hi)
      val got = spark.table(s"$cat.t").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      assert(sortRows(got) == sortRows(expect), s"case $i diverged")
      // layout invariant survives appends, deletes and clips alike
      LedgerSource.ledgerFiles(new java.io.File(root, "t").getPath)
        .map(LedgerSource.readStats).foreach { case (mn, mx, n) =>
          if (n > 0) assert(Math.floorDiv(mn, width) == Math.floorDiv(mx, width),
            s"case $i: file [$mn,$mx] straddles width-$width buckets")
        }
    }
  }

  test("fuzz: every append version reconstructs exactly its prefix") {
    val rng = new scala.util.Random(140003L)
    (1 to 6).foreach { i =>
      val (cat, root) = freshCatalog()
      val waves = (0 until 1 + rng.nextInt(3)).map(_ => rows(rng, 1 + rng.nextInt(80)))
      waves.zipWithIndex.foreach { case (w, idx) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(
            w.map(t => Row(t._1, t._2, t._3.map(Long.box).orNull)), 2), schema)
        if (idx == 0) df.writeTo(s"$cat.t").createOrReplace()
        else df.writeTo(s"$cat.t").append()
      }
      waves.indices.foreach { v =>
        val got = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF ${v + 1}")
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
        val expect = waves.take(v + 1).flatten
        assert(sortRows(got) == sortRows(expect),
          s"case $i version ${v + 1}: ${got.size} vs ${expect.size} rows")
      }
    }
  }

  test("fuzz: MERGE-ON-READ verb interleavings equal the reference state machine") {
    // arbitrary interleavings of MoR deletes / updates / appends /
    // interval deletes on a mor=true table, replayed against a driver-
    // side Map — the overlay composition (tombstones over tombstones,
    // re-landed keys, fast-path unlinks between delta commits) must
    // stay exact. Keys are UNIQUE per table: the rowId contract MoR
    // documents (same as Iceberg identifier fields).
    val rng = new scala.util.Random(150001L)
    (1 to 6).foreach { i =>
      val (cat, root) = freshCatalog()
      // reference state: doc_id -> (lang, n_chars); unique dense keys
      val state = scala.collection.mutable.LinkedHashMap.empty[Long, (String, Long)]
      var nextKey = 0L
      def freshRows(n: Int): Seq[(Long, String, Long)] = (1 to n).map { _ =>
        val k = nextKey; nextKey += 1
        (k, s"l${rng.nextInt(4)}", rng.nextInt(1000).toLong)
      }
      def df(data: Seq[(Long, String, Long)]) = spark.createDataFrame(
        spark.sparkContext.parallelize(
          data.map(t => Row(t._1, t._2, Long.box(t._3))), 2), schema)
      val init = freshRows(30 + rng.nextInt(40))
      init.foreach(t => state(t._1) = (t._2, t._3))
      val w = df(init).repartitionByRange(1 + rng.nextInt(4), col("doc_id"))
        .writeTo(s"$cat.t")
      w.tableProperty("mor", "true").create()
      (1 to 7).foreach { _ =>
        rng.nextInt(8) match {
          case 0 => // MoR delete by non-key predicate
            val l = s"l${rng.nextInt(4)}"
            spark.sql(s"DELETE FROM $cat.t WHERE lang = '$l'")
            state.filterInPlace { case (_, (lang, _)) => lang != l }
          case 1 => // MoR update by non-key predicate
            val r = rng.nextInt(3)
            spark.sql(s"UPDATE $cat.t SET n_chars = n_chars * 2 + 1 " +
              s"WHERE n_chars % 3 = $r")
            state.mapValuesInPlace { case (_, (lang, c)) =>
              if (c % 3 == r) (lang, c * 2 + 1) else (lang, c)
            }
          case 2 => // append fresh unique keys (re-lands after deletes)
            val wave = freshRows(5 + rng.nextInt(20))
            wave.foreach(t => state(t._1) = (t._2, t._3))
            df(wave).writeTo(s"$cat.t").append()
          case 3 => // interval delete: pure-unlink fast path or tombstones
            val lo = rng.nextLong(math.max(1L, nextKey))
            val hi = lo + rng.nextInt(30)
            spark.sql(s"DELETE FROM $cat.t WHERE doc_id BETWEEN $lo AND $hi")
            state.filterInPlace { case (k, _) => k < lo || k > hi }
          case 4 => // REPLACE WHERE: purge rewrite folds tombstones in
            val lo = rng.nextLong(math.max(1L, nextKey))
            val hi = lo + rng.nextInt(40)
            val wave = (lo to math.min(hi, lo + 10)).map(k =>
              (k, "bf", k % 17))
            spark.sql(
              s"""INSERT INTO $cat.t REPLACE WHERE doc_id BETWEEN $lo AND $hi
                 |SELECT id AS doc_id, 'bf' AS lang,
                 |       id % 17 AS n_chars
                 |FROM range($lo, ${math.min(hi, lo + 10) + 1})""".stripMargin)
            state.filterInPlace { case (k, _) => k < lo || k > hi }
            wave.foreach(t => state(t._1) = (t._2, t._3))
            nextKey = math.max(nextKey, math.min(hi, lo + 10) + 1)
          case 5 => // maintenance: compact consumes the overlay
            spark.sql(s"CALL $cat.system.compact('t', ${1 + rng.nextInt(3)})")
          case 7 => // MoR POSITION delete (round 17): random LIVE
            // ordinals of one file through delete_at — interleaved
            // with every other verb, the (_file, _pos) address must
            // kill exactly the addressed rows (keys unique here, so
            // the model removes by the address's doc_id)
            val addr = spark.table(s"$cat.t")
              .select(col(LedgerSource.FileColumn), col("_pos"),
                col("doc_id")).collect()
            if (addr.nonEmpty) {
              val f = addr(rng.nextInt(addr.length)).getString(0)
              val inFile = addr.filter(_.getString(0) == f)
              val picks = Seq.fill(1 + rng.nextInt(4))(
                inFile(rng.nextInt(inFile.length))).distinct
              spark.sql(s"CALL $cat.system.delete_at('t', '$f', " +
                s"'${picks.map(_.getLong(1)).mkString(",")}')")
              picks.foreach(r => state.remove(r.getLong(2)))
            }
          case 6 => rng.nextInt(2) match {
            case 0 => // retention: expire old versions, current read intact
              spark.sql(s"CALL $cat.system.expire_versions('t', " +
                s"${1 + rng.nextInt(3)})")
            case _ => // TARGETED maintenance: fold only the hot overlay at
              // a random threshold; state invariant + tombstone
              // accounting (dropped + remaining = before) must hold at
              // every frac, including the 0.0 fold-everything and the
              // 1.0 no-op ends
              val before = LedgerSource.deleteFiles(root + "/t")
                .map(LedgerSource.tombstoneTotal).sum
              val frac = rng.nextInt(5) match {
                case 0 => 0.0
                case 4 => 1.0
                case _ => rng.nextDouble()
              }
              val row = spark.sql(
                s"CALL $cat.system.rewrite_tombstones('t', $frac)").head()
              val after = LedgerSource.deleteFiles(root + "/t")
                .map(LedgerSource.tombstoneTotal).sum
              assert(before == after + row.getLong(1),
                s"case $i: tombstone accounting broke at frac=$frac " +
                  s"($before != $after + ${row.getLong(1)})")
          }
        }
        val got = spark.table(s"$cat.t").collect()
          .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
        assert(got == state.toMap,
          s"case $i diverged: ${got.size} vs ${state.size} live rows")
      }
    }
  }
}
