package graft

import org.apache.spark.sql.functions._

/** Contracts of the ledger TableCatalog (`graft.sources.GraftCatalog`)
  * beyond what the judged s24 roundtrip can show: replace really drops
  * the old rows, DROP TABLE removes the directory, the fixed-schema and
  * no-partition-transform gates reject bad DDL, rename moves the
  * directory, and the catalog-resolved read path is the SAME pruned
  * ledger scan the path API plans. */
class GraftCatalogSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.engine.Tables(spark, dir, "documents")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  test("createOrReplace replaces — the first build's rows are gone") {
    withCatalog { (cat, _) =>
      docs.where(col("doc_id") < 50).writeTo(s"$cat.t1").createOrReplace()
      assert(spark.table(s"$cat.t1").count() == 50)
      docs.where(col("doc_id") >= 50 && col("doc_id") < 60)
        .writeTo(s"$cat.t1").createOrReplace()
      val after = spark.table(s"$cat.t1")
      assert(after.count() == 10, "replace kept the first build's rows")
      assert(after.agg(min(col("doc_id"))).collect()(0).getLong(0) == 50)
    }
  }

  test("append adds to the existing table; DROP TABLE removes it") {
    withCatalog { (cat, root) =>
      docs.where(col("doc_id") < 30).writeTo(s"$cat.t2").createOrReplace()
      docs.where(col("doc_id") >= 30 && col("doc_id") < 40)
        .writeTo(s"$cat.t2").append()
      assert(spark.table(s"$cat.t2").count() == 40)
      spark.sql(s"DROP TABLE $cat.t2")
      assert(!new java.io.File(root, "t2").exists(), "directory survived DROP")
      intercept[Exception] { spark.table(s"$cat.t2").count() }
    }
  }

  test("the fixed schema and the no-partition-transform gate bind") {
    withCatalog { (cat, _) =>
      intercept[Exception] {
        docs.select(col("doc_id"), col("lang")) // missing n_chars
          .writeTo(s"$cat.t3").createOrReplace()
      }
      intercept[Exception] {
        docs.writeTo(s"$cat.t4").partitionedBy(col("lang")).createOrReplace()
      }
    }
  }

  test("rename moves the table; reads resolve the new name only") {
    withCatalog { (cat, _) =>
      docs.where(col("doc_id") < 20).writeTo(s"$cat.t5").createOrReplace()
      // the rename TARGET resolves inside the source's catalog — a
      // $cat.t6 target would nest as the namespace again
      spark.sql(s"ALTER TABLE $cat.t5 RENAME TO t6")
      assert(spark.table(s"$cat.t6").count() == 20)
      intercept[Exception] { spark.table(s"$cat.t5").count() }
    }
  }

  test("catalog-resolved reads plan the connector's pruned scan (pushdown rides along)") {
    withCatalog { (cat, _) =>
      docs.repartitionByRange(4, col("doc_id"))
        .writeTo(s"$cat.t7").createOrReplace()
      val q = spark.table(s"$cat.t7").where(col("doc_id") < 5)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft-ledger"), plan)
      // the doc_id range filter compiles to the min/max file-skip test:
      // of the 4 range files only the lowest survives planning
      assert(q.rdd.getNumPartitions < 4,
        s"no file was skipped: ${q.rdd.getNumPartitions} partitions")
      assert(q.count() == 5)
    }
  }

  test("register accepts a name twice at one root and refuses a second root") {
    withCatalog { (cat, root) =>
      graft.sources.GraftCatalog.register(spark, cat, root) // the rerun path
      val e = intercept[IllegalArgumentException] {
        graft.sources.GraftCatalog.register(spark, cat, s"${root}_other")
      }
      assert(e.getMessage.contains(s"catalog '$cat' is already registered at $root"))
      docs.where(col("doc_id") < 10).writeTo(s"$cat.t8").create()
      assert(new java.io.File(root, "t8").isDirectory, "the table left the first root")
    }
  }

  test("procedure signatures and metadata-table schemas match their pinned snapshot") {
    // the CALL surface and the metadata tables are public API: a change
    // to a name, description, parameter (name, type, comment, order) or
    // a metadata table's schema has to show up here
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.StructType
    val root = graft.queries.Portable.scratchPath(s"catsnap_${System.nanoTime()}")
    val catalog = new graft.sources.GraftCatalog
    catalog.initialize("snap", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root)))
    val t = "table STRING 'table name in this catalog (flattened form)'"
    val ref = "name STRING 'ref name ([A-Za-z_][A-Za-z0-9_-]*)'"
    val view = "name STRING 'view name ([A-Za-z_][A-Za-z0-9_-]*)'"
    val expected = Seq(
      s"compact($t, target_files INT 'number of range-clustered output files')" +
        ": merge a ledger table's files into target_files range-clustered files",
      s"expire_versions($t, keep INT 'number of newest versions to retain (>= 1)')" +
        ": drop version manifests older than the newest `keep` and reclaim files " +
        "no surviving manifest references",
      s"create_tag($t, $ref, version BIGINT 'commit id the tag names')" +
        ": name a commit: VERSION AS OF '<name>' resolves it",
      s"drop_tag($t, $ref): remove a tag ref",
      s"create_branch($t, $ref): fork a writable branch at the current main head " +
        "(metadata-only)",
      s"drop_branch($t, $ref): remove a branch ref (files stay until converge)",
      s"fast_forward($t, $ref): advance main to a branch head when main is its ancestor",
      s"merge_branch($t, from STRING 'branch whose lineage merges in', " +
        "into STRING 'branch that receives the merge ('main' included)')" +
        ": merge a diverged branch into another lineage by file-set union",
      s"rewrite_tombstones($t, frac DOUBLE 'rewrite a data file when tombstones/rows > frac')" +
        ": fold the merge-on-read overlay for data files whose tombstone fraction " +
        "exceeds frac; cold files keep their overlay",
      s"delete_at($t, file STRING 'live data file name (a `_file` value)', " +
        "positions STRING 'comma-separated row ordinals (`_pos` values)')" +
        ": merge-on-read delete of one data file's rows by _pos ordinals",
      s"dedup_rows($t): physically dedup exact duplicate rows via distributed " +
        "position deletes",
      s"converge($t): reconcile a branched table to its main lineage and drop all refs",
      "clone(source STRING 'existing table name in this catalog (flattened form)', " +
        "target STRING 'new table name; must not exist')" +
        ": zero-copy clone: hard-link the source's current state into a new " +
        "independent table with a fresh version chain",
      s"build_bloom($t, column STRING 'the non-key column to index (lang, n_chars)')" +
        ": declare a Bloom-indexed column and backfill per-file sidecars",
      s"build_zonemap($t, column STRING 'the non-key column to zone-map (lang, n_chars)')" +
        ": declare a zone-mapped (min/max) column and backfill per-file sidecars",
      "txn_begin(tables STRING 'comma-separated table names in this catalog')" +
        ": open a cross-table transaction: a work branch per participant",
      "txn_commit(txn_id STRING 'the id txn_begin returned')" +
        ": atomically publish every participant's work branch",
      "txn_abort(txn_id STRING 'the id txn_begin returned')" +
        ": abort a cross-table transaction before its commit point",
      s"create_mv($t, $view, group_cols STRING 'comma-separated group columns', " +
        "aggs STRING 'kind:col:alias list, e.g. 'count::n_docs,sum:n_chars:total_chars''" +
        "): full-build, register, and persist a materialized view the auto-rewrite " +
        "answers from",
      s"refresh_mv($t, $view): rebuild a view's state at the current head",
      s"drop_mv($t, $view): unregister a materialized view")
    val actual = catalog.listProcedures(Array("system")).toSeq.map { id =>
      val p = catalog.loadProcedure(id)
      val params = p.bind(new StructType()).parameters().map { q =>
        s"${q.name()} ${q.dataType().sql} '${q.comment()}'"
      }
      s"${p.name()}(${params.mkString(", ")}): ${p.description()}"
    }
    actual.zipAll(expected, "", "").foreach { case (a, e) => assert(a == e) }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
      catalog.loadProcedure(Identifier.of(Array("system"), "no_such_verb"))
    }

    new java.io.File(root, "t").mkdirs()
    Seq(
      "history" -> ("version BIGINT NOT NULL, committed_at TIMESTAMP NOT NULL, " +
        "n_data_files BIGINT NOT NULL, n_delete_files BIGINT NOT NULL, " +
        "n_rows BIGINT, reconstructable BOOLEAN NOT NULL"),
      "refs" -> ("kind STRING NOT NULL, name STRING NOT NULL, " +
        "version BIGINT NOT NULL, reconstructable BOOLEAN NOT NULL"),
      "lineage" -> ("version BIGINT NOT NULL, parent BIGINT NOT NULL, " +
        "rows_added BIGINT, tombstones_added BIGINT, on_current BOOLEAN NOT NULL"),
      "indexes" -> ("file STRING NOT NULL, kind STRING NOT NULL, " +
        "`column` STRING NOT NULL, indexed BOOLEAN NOT NULL"),
      "files" -> ("file STRING NOT NULL, n_rows BIGINT NOT NULL, min_doc_id BIGINT, " +
        "max_doc_id BIGINT, bytes BIGINT NOT NULL, dead_keys BIGINT NOT NULL, " +
        "dead_positions BIGINT NOT NULL")
    ).foreach { case (suffix, ddl) =>
      val table = catalog.loadTable(Identifier.of(Array("t"), suffix))
      assert(table.name() == s"t.$suffix")
      assert(table.columns().toSeq.map(c => (c.name, c.dataType, c.nullable)) ==
        StructType.fromDDL(ddl).fields.toSeq.map(f => (f.name, f.dataType, f.nullable)), suffix)
    }
  }
}
