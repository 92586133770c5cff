package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, LessThan}

import graft.sources.{LedgerSource, SkipIndex}

/** The writers and the `build_<prop>` backfill build sidecars through
  * one [[SkipIndex.Fold]]; these cases pin that the two paths agree. For
  * each kind and indexed column a table is written with the index
  * declared, its writer-stamped sidecars are set aside and deleted, and
  * the backfill rebuilds them:
  *   - on a copy-on-write table the rebuilt sidecars are byte-identical,
  *     an all-null file included (the writer's empty fold and the
  *     backfill's unseen-file arm);
  *   - on a merge-on-read table after a DELETE the backfill folds live
  *     rows only: its sidecar is the fold of the live values, so it
  *     keeps every live value and admits a subset of what the writer's
  *     admits (exactly so for zone intervals; a Bloom filter over fewer
  *     values is smaller and may false-positive elsewhere). */
class SkipIndexSpec extends SparkSpec {

  private val cases: Seq[(SkipIndex, String)] =
    for (ix <- SkipIndex.all; c <- Seq("lang", "n_chars")) yield (ix, c)

  /** 200 rows over 4 key-range files with nulls and negative n_chars,
    * plus one all-null file. */
  private def create(table: String, ix: SkipIndex, c: String, mor: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val langs = array(lit("en"), lit("fr"), lit("de"), lit("zh"), lit("ja"))
    spark.range(0, 200)
      .select($"id".as("doc_id"),
        when($"id" % 11 === 0, lit(null).cast("string"))
          .otherwise(element_at(langs, ($"id" % 5 + 1).cast("int"))).as("lang"),
        when($"id" % 7 === 0, lit(null).cast("long"))
          .otherwise($"id" * 37 % 101 - 50).as("n_chars"))
      .repartitionByRange(4, $"doc_id")
      .writeTo(table).tableProperty(ix.prop, c)
      .tableProperty("mor", mor.toString).create()
    spark.range(200, 210)
      .select($"id".as("doc_id"), lit(null).cast("string").as("lang"),
        lit(null).cast("long").as("n_chars"))
      .coalesce(1).writeTo(table).append()
  }

  /** Move the writer-stamped sidecars of `tdir` to a fresh directory
    * and return it. */
  private def setAside(tdir: String, ix: SkipIndex): String = {
    val keep = Files.createTempDirectory(
      graft.queries.Portable.scratchRoot, "sidecars").toString
    val from = new File(tdir, ix.subdir)
    val to = new File(keep, ix.subdir)
    to.mkdirs()
    from.listFiles().foreach(f => Files.move(f.toPath, new File(to, f.getName).toPath))
    keep
  }

  test("writer and backfill sidecars are byte-identical, per kind and column") {
    cases.foreach { case (ix, c) =>
      withCatalog { (cat, root) =>
        create(s"$cat.t", ix, c, mor = false)
        val tdir = new File(root, "t").getPath
        val files = LedgerSource.ledgerFiles(tdir).map(_.getName).toSeq
        assert(files.length == 5)
        val written = setAside(tdir, ix)
        assert(files.forall(ix.sidecar(written, _, c).isFile),
          s"${ix.prop}($c): every write must stamp its sidecar")
        spark.sql(s"CALL $cat.system.build_${ix.prop}('t', '$c')").collect()
        files.foreach { f =>
          def bytes(dir: String) = Files.readAllBytes(ix.sidecar(dir, f, c).toPath).toSeq
          assert(bytes(tdir) == bytes(written), s"${ix.prop}($c) differs on $f")
        }
      }
    }
  }

  test("after a merge-on-read DELETE the backfill admits a subset of the writer's sidecar") {
    cases.foreach { case (ix, c) =>
      withCatalog { (cat, root) =>
        create(s"$cat.t", ix, c, mor = true)
        def values(): Map[String, Seq[Any]] = spark.table(s"$cat.t")
          .select(col(LedgerSource.FileColumn), col(c)).where(col(c).isNotNull)
          .collect().toSeq.groupBy(_.getString(0)).map { case (f, rs) => f -> rs.map(_.get(1)).distinct }
        val raw = values()
        // tombstones only: every data file keeps its name
        spark.sql(s"DELETE FROM $cat.t WHERE lang = 'zh' OR n_chars > 30 OR doc_id < 20")
        val live = values()
        val tdir = new File(root, "t").getPath
        val written = setAside(tdir, ix)
        spark.sql(s"CALL $cat.system.build_${ix.prop}('t', '$c')").collect()
        val expected = Files.createTempDirectory(
          graft.queries.Portable.scratchRoot, "livefold").toString
        def probes(v: Any): Seq[Filter] =
          if (ix == SkipIndex.Bloom) Seq(EqualTo(c, v))
          else Seq(EqualTo(c, v), GreaterThan(c, v), LessThan(c, v))
        val files = LedgerSource.ledgerFiles(tdir).map(_.getName).toSeq
        files.foreach { f =>
          val vs = live.getOrElse(f, Nil)
          // the backfill folds exactly the file's live values ...
          val fold = ix.fold(c)
          vs.foreach {
            case v: String => fold.add(v.getBytes("UTF-8"))
            case v: java.lang.Long => fold.add(v.longValue())
          }
          fold.publish(expected, f)
          def bytes(dir: String) = Files.readAllBytes(ix.sidecar(dir, f, c).toPath).toSeq
          assert(bytes(tdir) == bytes(expected), s"${ix.prop}($c) on $f")
          // ... so it keeps every one of them
          vs.foreach(v => assert(ix.keeps(tdir, f, c, Seq(EqualTo(c, v))),
            s"${ix.prop}($c): the backfill must keep live value $v of $f"))
          // a zone interval over a subset nests in the writer's interval
          if (ix == SkipIndex.ZoneMap) raw.values.flatten.toSeq.distinct.flatMap(probes)
            .foreach { p =>
              assert(!ix.keeps(tdir, f, c, Seq(p)) || ix.keeps(written, f, c, Seq(p)),
                s"zonemap($c): $p admitted only by the backfill on $f")
            }
        }
        // and the deleted values narrow it: some probe the writer's
        // sidecar admits, the backfill's refutes
        val narrowed = files.exists { f =>
          raw.getOrElse(f, Nil).diff(live.getOrElse(f, Nil)).flatMap(probes).exists(p =>
            ix.keeps(written, f, c, Seq(p)) && !ix.keeps(tdir, f, c, Seq(p)))
        }
        assert(narrowed, s"${ix.prop}($c): the deleted rows must narrow some sidecar")
      }
    }
  }

  test(".indexes reports a sidecar torn after its magic as unindexed, as the scan treats it") {
    cases.filter(_._2 == "lang").foreach { case (ix, c) =>
      withCatalog { (cat, root) =>
        create(s"$cat.t", ix, c, mor = false)
        val tdir = new File(root, "t").getPath
        val torn = LedgerSource.ledgerFiles(tdir).map(_.getName).min
        val side = ix.sidecar(tdir, torn, c).toPath
        Files.write(side, Files.readAllBytes(side).take(4))
        assert(ix.keeps(tdir, torn, c, Seq(EqualTo(c, "no such value"))),
          s"${ix.prop}: a torn sidecar must back off to a scan")
        val indexed = spark.table(s"$cat.t.indexes").where(col("kind") === ix.kind)
          .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
        assert(indexed.size == 5 && indexed.count(!_._2) == 1 && !indexed(torn),
          s"${ix.prop}: $indexed")
      }
    }
  }
}
