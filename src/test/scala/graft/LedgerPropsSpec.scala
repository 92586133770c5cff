package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

import graft.sources.LedgerSource

/** The ledger table-property surface end to end: what each verb accepts
  * and refuses for every property (CREATE, ALTER SET/UNSET, the path-API
  * options, the index and MV procedures, clone), the exact `_props`
  * bytes a fixed sequence of verbs leaves, the SHOW TBLPROPERTIES and
  * `constraints()` views of the file, and that no write leaves a
  * temporary file behind. */
class LedgerPropsSpec extends SparkSpec {
  private val ddl = "(doc_id BIGINT, lang STRING, n_chars BIGINT)"
  private val wide = (Int.MaxValue.toLong + 1).toString

  /** `_props` as a string, or None when the table has no file. */
  private def props(dir: File): Option[String] = {
    val f = new File(dir, "_props")
    if (f.isFile) Some(new String(Files.readAllBytes(f.toPath), "UTF-8")) else None
  }

  /** Every `.tmp` file under `dir`, recursively. */
  private def tmpFiles(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) tmpFiles(f)
      else if (f.getName.endsWith(".tmp")) Seq(f.getPath) else Nil
    }

  /** The message of the failure `body` raises, or of its cause: Spark
    * wraps ALTER TABLE failures in "Unsupported table change". */
  private def refusal(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
      .getOrElse(e.getMessage)
  }

  private def sql(q: String): Unit = spark.sql(q).collect(): Unit

  private def tableOf(cat: String, t: String) =
    spark.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array.empty, t))

  private def showProps(cat: String, t: String): Seq[(String, String)] =
    spark.sql(s"SHOW TBLPROPERTIES $cat.$t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq.sortBy(_._1)

  test("CREATE accepts each property's good values and refuses its bad ones") {
    withCatalog { (cat, root) =>
      val good = Seq(
        "'bucket'='100'" -> Some("bucket=100\n"),
        "'mor'='true'" -> Some("mor=true\n"),
        "'mor'='TRUE'" -> Some("mor=true\n"),
        "'mor'='false'" -> None,
        "'check'='  doc_id >= 0 '" -> Some("check=doc_id >= 0\n"),
        "'check'='   '" -> None,
        "'bloom'='lang'" -> Some("bloom=lang\n"),
        "'zonemap'='n_chars'" -> Some("zonemap=n_chars\n"),
        "'foo'='bar'" -> None,
        "'zonemap'='lang','bloom'='n_chars','check'='n_chars > 0','mor'='true','bucket'='7'" ->
          Some("bucket=7\nmor=true\ncheck=n_chars > 0\nbloom=n_chars\nzonemap=lang\n"))
      good.zipWithIndex.foreach { case ((tblProps, bytes), i) =>
        sql(s"CREATE TABLE $cat.g$i $ddl TBLPROPERTIES ($tblProps)")
        assert(props(new File(root, s"g$i")) == bytes, tblProps)
      }
      val bad = Seq(
        "'bucket'='abc'" -> "table property 'bucket' must be a positive integer; got 'abc'",
        "'bucket'=' 7 '" -> "table property 'bucket' must be a positive integer; got ' 7 '",
        "'bucket'='0'" -> "got 0 from table property 'bucket' of b2",
        s"'bucket'='$wide'" -> s"got $wide from table property 'bucket' of b3",
        "'mor'='yes'" -> "table property 'mor' must be true or false; got 'yes'",
        "'bloom'='doc_id'" -> "table property 'bloom' must name a non-key column (lang, n_chars); got 'doc_id'",
        "'zonemap'='foo'" -> "table property 'zonemap' must name a non-key column (lang, n_chars); got 'foo'",
        "'check'='doc_id >= 0\\n AND n_chars >= 0'" -> "the 'check' predicate must be one line",
        // the first bad property in CREATE order names the failure
        "'zonemap'='x','mor'='x','bucket'='x'" -> "'bucket' must be a positive integer")
      bad.zipWithIndex.foreach { case ((tblProps, msg), i) =>
        val m = refusal(sql(s"CREATE TABLE $cat.b$i $ddl TBLPROPERTIES ($tblProps)"))
        assert(m.contains(msg), s"$tblProps: $m")
        assert(tmpFiles(new File(root, s"b$i")).isEmpty)
      }
    }
  }

  test("ALTER SET/UNSET: each key's good and bad values, refused keys, and line order") {
    withCatalog { (cat, root) =>
      val dir = new File(root, "t")
      sql(s"CREATE TABLE $cat.t $ddl TBLPROPERTIES ('bucket'='100','mor'='true'," +
        "'check'='doc_id >= 0','bloom'='lang','zonemap'='n_chars')")
      // "" stands for "no file"
      var expected = "bucket=100\nmor=true\ncheck=doc_id >= 0\nbloom=lang\nzonemap=n_chars\n"
      def same(): Boolean = props(dir) == Some(expected).filter(_.nonEmpty)
      assert(same())
      def ok(clause: String, after: String): Unit = {
        sql(s"ALTER TABLE $cat.t $clause")
        expected = after
        assert(same(), clause)
        assert(tmpFiles(dir).isEmpty, clause)
      }
      def refused(clause: String, msg: String): Unit = {
        val m = refusal(sql(s"ALTER TABLE $cat.t $clause"))
        assert(m.contains(msg), s"$clause: $m")
        assert(same(), s"$clause changed the file")
      }
      // a set key moves to the end; mor=false removes the line
      ok("SET TBLPROPERTIES ('mor'='false')", "bucket=100\ncheck=doc_id >= 0\nbloom=lang\nzonemap=n_chars\n")
      ok("SET TBLPROPERTIES ('mor'='TRUE')", "bucket=100\ncheck=doc_id >= 0\nbloom=lang\nzonemap=n_chars\nmor=true\n")
      refused("SET TBLPROPERTIES ('mor'='maybe')", "table property 'mor' must be true or false; got 'maybe'")
      ok("UNSET TBLPROPERTIES ('mor')", "bucket=100\ncheck=doc_id >= 0\nbloom=lang\nzonemap=n_chars\n")
      ok("SET TBLPROPERTIES ('bucket'='50')", "check=doc_id >= 0\nbloom=lang\nzonemap=n_chars\nbucket=50\n")
      refused("SET TBLPROPERTIES ('bucket'='x')", "table property 'bucket' must be a positive integer; got 'x'")
      refused("SET TBLPROPERTIES ('bucket'='-5')", "got -5 from ALTER TABLE t SET TBLPROPERTIES('bucket')")
      refused(s"SET TBLPROPERTIES ('bucket'='$wide')", s"got $wide from ALTER TABLE t SET TBLPROPERTIES('bucket')")
      ok("UNSET TBLPROPERTIES ('bucket')", "check=doc_id >= 0\nbloom=lang\nzonemap=n_chars\n")
      ok("SET TBLPROPERTIES ('bloom'='n_chars')", "check=doc_id >= 0\nzonemap=n_chars\nbloom=n_chars\n")
      refused("SET TBLPROPERTIES ('bloom'='doc_id')",
        "table property 'bloom' must name a non-key column (lang, n_chars); got 'doc_id'")
      ok("UNSET TBLPROPERTIES ('bloom')", "check=doc_id >= 0\nzonemap=n_chars\n")
      ok("SET TBLPROPERTIES ('zonemap'='lang')", "check=doc_id >= 0\nzonemap=lang\n")
      refused("SET TBLPROPERTIES ('zonemap'='nope')",
        "table property 'zonemap' must name a non-key column (lang, n_chars); got 'nope'")
      ok("UNSET TBLPROPERTIES ('zonemap')", "check=doc_id >= 0\n")
      // the CHECK slot changes only through ADD/DROP CONSTRAINT
      Seq("SET TBLPROPERTIES ('check'='doc_id > 5')", "SET TBLPROPERTIES ('check_name'='x')",
        "UNSET TBLPROPERTIES ('check')", "SET TBLPROPERTIES ('foo'='bar')",
        "SET TBLPROPERTIES ('mv.x'='y')").foreach { c =>
        val e = intercept[UnsupportedOperationException](sql(s"ALTER TABLE $cat.t $c"))
        assert(e.getMessage.contains("only constraint changes"), c)
        assert(same(), c)
      }
      refused("ADD CONSTRAINT c2 CHECK (n_chars >= 0)", "DROP CONSTRAINT ledger_check first")
      refused("DROP CONSTRAINT nope", "no constraint named nope on t (present: ledger_check)")
      ok("DROP CONSTRAINT IF EXISTS nope", "check=doc_id >= 0\n")
      // removing the last key removes the file
      ok("DROP CONSTRAINT LEDGER_CHECK", "")
      ok("ADD CONSTRAINT c2 CHECK (n_chars >= 0)", "check_name=c2\ncheck=n_chars >= 0\n")
      // one ALTER is all-or-nothing: a later bad value drops the earlier ones too
      refused("SET TBLPROPERTIES ('bucket'='10','mor'='bad')", "got 'bad'")
    }
  }

  test("path-API bucket and mor options: good values read and write, bad ones are refused") {
    withCatalog { (_, root) =>
      val s = spark
      import s.implicits._
      val df = Seq((1L, "a", 1L), (250L, "b", 2L)).toDF("doc_id", "lang", "n_chars")
      def write(d: File, k: String, v: String): Long = {
        df.write.format("graft-ledger").mode("append").option(k, v).save(d.getPath)
        spark.read.format("graft-ledger").option(k, v).load(d.getPath).count()
      }
      Seq("bucket" -> "100", "mor" -> "TRUE", "mor" -> "false").foreach { case (k, v) =>
        val d = new File(root, s"ok_${k}_$v"); d.mkdirs()
        assert(write(d, k, v) == 2L, s"$k=$v")
        assert(props(d).isEmpty, "path options are not persisted")
      }
      Seq("bucket" -> "abc", "bucket" -> " 5 ", "bucket" -> "0", "bucket" -> wide,
        "mor" -> "yes", "mor" -> "").foreach { case (k, v) =>
        val d = new File(root, s"bad_${k}_${v.trim}"); d.mkdirs()
        intercept[IllegalArgumentException](write(d, k, v))
        assert(LedgerSource.ledgerFiles(d.getPath).isEmpty, s"$k=$v wrote data")
      }
    }
  }

  test("SHOW TBLPROPERTIES and constraints() report the file") {
    withCatalog { (cat, _) =>
      sql(s"CREATE TABLE $cat.t $ddl TBLPROPERTIES ('bucket'='100','mor'='true'," +
        "'check'='doc_id >= 0','bloom'='lang','zonemap'='n_chars','foo'='bar')")
      assert(showProps(cat, "t") == Seq("bloom" -> "lang", "bucket" -> "100",
        "check" -> "doc_id >= 0", "check_name" -> "ledger_check", "mor" -> "true",
        "zonemap" -> "n_chars"))
      assert(tableOf(cat, "t").constraints().map(_.toDDL).toSeq ==
        Seq("CONSTRAINT ledger_check CHECK (doc_id >= 0) ENFORCED NORELY"))
      sql(s"ALTER TABLE $cat.t DROP CONSTRAINT ledger_check")
      sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('mor')")
      sql(s"INSERT INTO $cat.t VALUES (1, 'en', 1)")
      sql(s"CALL $cat.system.create_tag('t', 'v0', 1)")
      assert(showProps(cat, "t").map(_._1) == Seq("bloom", "bucket", "ref.tag.v0", "zonemap"))
      assert(showProps(cat, "t").filterNot(_._1.startsWith("ref.")) ==
        Seq("bloom" -> "lang", "bucket" -> "100", "zonemap" -> "n_chars"))
      assert(tableOf(cat, "t").constraints().isEmpty)
      sql(s"ALTER TABLE $cat.t ADD CONSTRAINT pos CHECK (n_chars > 0)")
      assert(showProps(cat, "t").filter(_._1.startsWith("check")) ==
        Seq("check" -> "n_chars > 0", "check_name" -> "pos"))
      assert(tableOf(cat, "t").constraints().map(_.toDDL).toSeq ==
        Seq("CONSTRAINT pos CHECK (n_chars > 0) ENFORCED NORELY"))
      val e = intercept[Exception](sql(s"INSERT INTO $cat.t VALUES (1, 'en', 0)"))
      assert(e.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"), e.getMessage)
    }
  }

  test("exact _props bytes after CREATE, ALTER, the index and MV procedures and clone") {
    withCatalog { (cat, root) =>
      val dir = new File(root, "t")
      sql(s"CREATE TABLE $cat.t $ddl TBLPROPERTIES ('bucket'='100','mor'='true')")
      sql(s"INSERT INTO $cat.t VALUES (1,'en',10),(2,'fr',20),(150,'de',5)")
      sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bloom'='n_chars')")
      sql(s"CALL $cat.system.build_zonemap('t', 'lang')")
      sql(s"ALTER TABLE $cat.t ADD CONSTRAINT pos CHECK (n_chars > 0)")
      sql(s"CALL $cat.system.create_mv('t', 'm1', 'lang', 'count::n,sum:n_chars:s')")
      sql(s"CALL $cat.system.create_mv('t', 'm2', 'lang', 'count::n')")
      sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bucket'='200')")
      sql(s"CALL $cat.system.build_bloom('t', 'lang')")
      sql(s"INSERT INTO $cat.t VALUES (3,'en',30)")
      sql(s"CALL $cat.system.refresh_mv('t', 'm2')")
      sql(s"CALL $cat.system.drop_mv('t', 'm1')")
      val mv2 = s"mv.m2=${new File(new File(dir, "_mv"), "m2").getPath}|2|lang|count::n\n"
      val expected = "mor=true\nzonemap=lang\ncheck_name=pos\ncheck=n_chars > 0\n" +
        "bucket=200\nbloom=lang\n" + mv2
      assert(props(dir).contains(expected))
      assert(tmpFiles(dir).isEmpty)
      // refused procedure arguments leave the file as it was
      Seq(s"build_bloom('t', 'doc_id')", s"build_zonemap('t', 'foo')",
        s"refresh_mv('t', 'nope')", s"drop_mv('t', 'm1')").foreach { c =>
        intercept[IllegalArgumentException](sql(s"CALL $cat.system.$c"))
        assert(props(dir).contains(expected), c)
      }
      // clone copies the file byte for byte
      sql(s"CALL $cat.system.clone('t', 't2')")
      assert(props(new File(root, "t2")).contains(expected))
      assert(showProps(cat, "t2") == showProps(cat, "t"))
      // dropping every key removes the file
      sql(s"CALL $cat.system.drop_mv('t', 'm2')")
      sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('bucket')")
      sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('bloom')")
      sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('zonemap')")
      sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('mor')")
      sql(s"ALTER TABLE $cat.t DROP CONSTRAINT pos")
      assert(props(dir).isEmpty)
      assert(tmpFiles(dir).isEmpty)
      assert(props(new File(root, "t2")).contains(expected), "the clone is independent")
    }
  }

  test("hand-edited files: unknown index columns disable the index, a bad bucket fails the read") {
    withCatalog { (cat, root) =>
      def hand(t: String, bytes: String): Unit = {
        sql(s"CREATE TABLE $cat.$t $ddl")
        sql(s"INSERT INTO $cat.$t VALUES (1,'en',10)")
        Files.write(new File(new File(root, t), "_props").toPath, bytes.getBytes("UTF-8"))
      }
      hand("h1", "bloom=foo\nzonemap=bar\n")
      assert(showProps(cat, "h1").isEmpty)
      assert(spark.sql(s"SELECT * FROM $cat.h1.indexes").count() == 0L)
      assert(spark.table(s"$cat.h1").where("lang = 'en'").count() == 1L)
      hand("h2", "bucket=abc\n")
      intercept[IllegalArgumentException](spark.table(s"$cat.h2").count())
      hand("h3", "check=n_chars > 0\ncheck_name=pos\nmor=false\n")
      assert(showProps(cat, "h3") == Seq("check" -> "n_chars > 0", "check_name" -> "pos"))
      sql(s"ALTER TABLE $cat.h3 DROP CONSTRAINT POS")
      assert(props(new File(root, "h3")).contains("mor=false\n"))
    }
  }
}
