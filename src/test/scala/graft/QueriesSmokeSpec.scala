package graft

/** Wiring guard: every declared query runs at sf0.001 and every query
  * with an oracle entry has matching column names (the driver's compare
  * sorts columns by name before hashing — a name drift fails the round
  * even when values agree). The same runs record the plan census (see
  * [[Census]]) that the last test checks against `CENSUS.json`. */
class QueriesSmokeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("no duplicate query names across modules") {
    // SparkEntry merges the per-module maps with toMap — a name collision
    // would silently drop one module's query from the judged surface
    val names = Seq(
      graft.queries.Relational.queries, graft.queries.GeoQueries.queries,
      graft.queries.EpiQueries.queries, graft.queries.TextQueries.queries,
      graft.queries.VectorQueries.queries, graft.queries.MultimodalQueries.queries,
      graft.queries.StreamingQueries.queries)
      .flatMap(_.keys)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  test("select takes the whole catalog or the named queries, and refuses unknown names") {
    assert(SparkEntry.select(Nil).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.select(Seq("s01_csv_roundtrip", "g04_region_assign")).keySet ==
      Set("s01_csv_roundtrip", "g04_region_assign"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("g04_region_assign", "g28_siar_sweep", "nope", "nope"))
    }
    assert(e.getMessage.endsWith("unknown query names: g28_siar_sweep nope"), e.getMessage)
  }

  private val recorded = scala.collection.mutable.Map.empty[String, Census.Facts]

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      // a cache left by an earlier query or suite would change the plan
      GraftSession.release(spark)
      recorded(name) = Census.record(spark) {
        val df = fn(spark, sfDir)
        assert(df.columns.nonEmpty)
        df
      }
    }
  }

  /** Every query's plan facts against the committed `CENSUS.json`; the
    * recorded census is always written to `target/census.json`. */
  test("the plan census matches CENSUS.json") {
    val committed = Census.read(new java.io.File("CENSUS.json"))
    val text = Census.render(recorded.toMap, committed.exemptions)
    Census.write(new java.io.File("target/census.json"), text)
    val diff = Census.diff(committed, text, SparkEntry.queries.keySet -- recorded.keySet)
    if (diff.nonEmpty) fail(diff.mkString(s"${diff.size} census differences:\n  ", "\n  ",
      "\nIf the change is intended, copy target/census.json over CENSUS.json."))
  }
}
