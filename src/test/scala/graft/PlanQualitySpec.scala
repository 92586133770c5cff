package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression guards: the scale-posture properties the README
  * promises must stay visible in the physical plans (a refactor that
  * silently drops a broadcast or un-pushes a filter should fail CI, not
  * surface at 100 TB).
  *
  * A catalog query's plan facts live in `CENSUS.json`, which
  * `QueriesSmokeSpec` checks against the plan each query actually runs.
  * A [[pin]] states, over those committed facts, WHY a fact must hold, so
  * a census refresh that loses a broadcast or adds a scan fails with its
  * reason. Only what the census cannot express is planned live: per-round
  * sub-plans, conf-scoped CBO choices, MV-rewrite variants, operator
  * order, builtin expressions and plans below a recursion. */
class PlanQualitySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val census = Census.read(new java.io.File("CENSUS.json"))

  /** Registers test `name`: the committed census facts of the query
    * whose id opens the name (`"g04: …"` is g04_region_assign) are `ok`. */
  private def pin(name: String)(ok: Census.Facts => Boolean): Unit = test(name) {
    val id = name.takeWhile(_ != ':') + "_"
    val q = census.queries.keys.filter(_.startsWith(id)).toSeq
    assert(q.size == 1, s"$name names ${q.size} census queries")
    val f = census.facts(q.head)
    assert(ok(f), s"${q.head}: $f")
  }

  private def plan(name: String): String = {
    // a cache another suite left in the shared session would change the very plan shapes asserted here
    GraftSession.release(spark)
    try explain(SparkEntry.queries(name)(spark, dir))
    finally GraftSession.release(spark)
  }

  private def explain(df: DataFrame): String = df.queryExecution.explainString(SimpleMode)

  /** No cartesian product and no nested-loop join. */
  private def equi(f: Census.Facts): Boolean =
    !f.has("joins", "CartesianProduct") && !f.has("joins", "NestedLoopJoin")

  /** No sort-merge join and no cartesian product. */
  private def noSmj(f: Census.Facts): Boolean =
    !f.has("joins", "SortMergeJoin") && !f.has("joins", "CartesianProduct")

  private def bnlj(f: Census.Facts): Int = f.n("joins", "BroadcastNestedLoopJoin")
  private def hashed(f: Census.Facts): Seq[String] = f("exchanges").filter(_.startsWith("hash["))

  /** Every ledger scan reads the change feed, never the base table. */
  private def feedOnly(f: Census.Facts): Boolean = {
    val ledger = f("scans").filter(_.startsWith("graft-ledger"))
    ledger.nonEmpty && ledger.forall(_.contains("#changes("))
  }

  /** Every file scan reads one of `names`. */
  private def filesOnly(f: Census.Facts, names: String*): Boolean = {
    val files = f("scans").filter(_.startsWith("Parquet"))
    files.nonEmpty && files.forall(s => names.exists(s.contains))
  }

  pin("s03: quantity filter is pushed into the parquet scan")(
    _.has("scans", "pushed[IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,49.0)]"))

  pin("s03: scan reads only the three projected columns")(
    _.has("scans", "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"))

  pin("j01: dimension joins are broadcast hash joins") { f =>
    f.n("joins", "BroadcastHashJoin") == 2 && !f.has("joins", "SortMergeJoin") }

  // both levels are one region_lookup: no join, one scan, the distinct + sort exchanges
  pin("g04: cascading region assignment never shuffles the fact side") { f =>
    f("joins").isEmpty && f("scans").size == 1 && f("exprs") == Seq("region_lookup(2 levels)") &&
      f.n("exchanges", "hash[") == 1 && f.n("exchanges", "range[") == 1 }

  // all 7 levels probe one driver-built dictionary: no join, no persisted base, one scan
  pin("g13b: 7-level cascade is one region_lookup, fact side unshuffled") { f =>
    f("joins").isEmpty && f("cached").isEmpty && f("scans").size == 1 &&
      f.n("exprs", "region_lookup(7 levels)") == 1 &&
      f.n("exchanges", "hash[hour") == 1 && f("exchanges").size == 2 }

  pin("j07: as-of join is one partitioned window pass, no join operator") { f =>
    f.has("operators", "Window") && f("joins").isEmpty && f.n("exchanges", "hash[user_id") == 1 }

  pin("j08: range join buckets broadcast, no cartesian product") { f =>
    equi(f) && f.has("joins", "BroadcastHashJoin") }

  pin("j10: semi-join reduction is a broadcast semi join, fact never shuffled by it") { f =>
    f.has("joins", "BroadcastHashJoin LeftSemi") && !f.has("joins", "SortMergeJoin") }

  pin("o03: aggregator top-k has a map-side partial and no window sort") { f =>
    f.has("aggregates", "ObjectHashAggregate(partial_topkaggregator)") && !f.has("operators", "Window") }

  pin("o02: global top-k plans as TakeOrderedAndProject, not a full sort") { f =>
    f.has("operators", "TakeOrderedAndProject") && !f.has("exchanges", "range[") }

  // state agg + trajectory windows + the shared (hour, src) repartition, nothing more
  pin("g10: one shuffle serves both the OD count-agg and the frac window")(hashed(_).size == 3)

  pin("g10b: no (hour, src, dst) agg exchange — the repartition carries it") { f =>
    !f.has("exchanges", "hash[hour, src, dst") && f.has("exchanges", "REPARTITION_BY_COL") }

  pin("f01: aggregation has a map-side partial before the exchange")(
    _.has("aggregates", "partial_count(distinct)"))

  pin("q01: whole-stage codegen covers the agg pipeline")(_.codegen > 0)

  pin("s07: bucketed join runs without shuffling either side") { f =>
    f.has("joins", "SortMergeJoin") &&
      !f.has("exchanges", "hash[o_custkey") && !f.has("exchanges", "hash[c_custkey") }

  pin("t06: dedup pair generation joins on band keys, never cross-joins")(equi)
  // the maintained shingle + band indexes are read from parquet state
  pin("t31: index maintenance reads the two state artifacts; pair generation stays equi-join") { f =>
    equi(f) && f.has("scans", "t31_idx") && f.has("scans", "t31_bands") }

  pin("v02: ANN candidates come from a bucket equi-join, never a cross join")(equi)

  pin("v01: query side broadcasts, corpus side stays partitioned") { f =>
    bnlj(f) > 0 || f.has("exchanges", "broadcast") }

  pin("t07: simhash pair generation joins on band keys, never cross-joins")(equi)
  pin("v04: cosine-dedup pair generation joins on buckets, never cross-joins")(equi)
  pin("m06: phash pair generation joins on band keys, never cross-joins")(equi)

  // the correlated ORDER BY+LIMIT is a rank window over the join, not a repeated subquery
  pin("j11: lateral top-k decorrelates — no per-row nested-loop re-execution") { f =>
    equi(f) && f.has("operators", "Window") }

  pin("a11b: exact percentile keeps values distributed — no buffer agg, sizes broadcast") { f =>
    !f.has("aggregates", "percentile") && f.has("operators", "Window") &&
      f.has("joins", "BroadcastHashJoin") }

  pin("g20: triangle joins are equi-joins on vertex keys, never cartesian")(equi)

  pin("u03: changelog compaction is one agg with map-side partial, no window sort") { f =>
    !f.has("operators", "Window") && f.has("aggregates", "partial_max_by") }

  // the only nested-loop joins are the count(*) scalar and centroid attaches
  pin("v07: multi-probe IVF probes via an equi-join; centroid set broadcasts") { f =>
    !f.has("joins", "CartesianProduct") && bnlj(f) <= 2 }

  // range-partitioned pass 1; the ONLY single partition is the 32-row offset cumsum
  pin("t13b: no single-task global sort; the offset pass is partition-count-sized") { f =>
    f.has("exchanges", "range[") && f.n("exchanges", "single") <= 1 &&
      f.has("joins", "BroadcastHashJoin") }

  // a global dense_rank would single-partition every key (the region.py:51-52 hazard)
  pin("w04b: ID minting range-partitions the keys; only the offset pass single-partitions") { f =>
    f.has("exchanges", "range[") && f.n("exchanges", "single") <= 1 &&
      f.has("joins", "BroadcastHashJoin") }

  test("g22: SIAR move step broadcasts its matrix; no cartesian products") {
    // the judged plan ends at the LAST checkpointed chain frame, so the
    // move join is planned on the step operator itself: the #areas²-bounded
    // matrix broadcasts and the wide state never reshuffles for it
    import org.apache.spark.sql.functions.{col, lit}
    val state = graft.queries.EpiQueries.siarInputs(spark, dir)._1
    val mat = state.select(col("area").as("src"), col("area").as("dst"),
      lit(1L).as("cnt"), lit(1L).as("tot"))
    val p = explain(graft.queries.EpiQueries.moveStep(state, mat))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!census.facts("g22_siar_step").has("joins", "CartesianProduct"))
  }

  // seed assignment and training output each broadcast 8 rows; the probe joins on cell
  pin("v11: trained centroids broadcast back to the corpus side") { f => noSmj(f) && bnlj(f) <= 2 }

  test("g17: window filter sits under the pivot agg; min broadcasts") {
    // the h < 48 cut runs before the pivot's region exchange (operator order: read live)
    assert(noSmj(census.facts("g17_wide_hour_matrix")))
    val p = plan("g17_wide_hour_matrix")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(region")
    assert(exchangeIdx >= 0 && p.indexOf("< 48") > exchangeIdx, p)
  }

  // the only nested loops are the max-|x| scale and query-set attaches
  pin("v09: quantization scale broadcasts; candidates never cartesian-join unbroadcast") { f =>
    !f.has("joins", "CartesianProduct") && bnlj(f) <= 3 && f.has("exchanges", "broadcast") }

  // a non-doc_id exchange would mean per-doc work acquired cross-doc movement
  pin("t14: both repetition aggs key by doc_id; the stitch join never shuffles a third time") { f =>
    !f.has("joins", "CartesianProduct") && hashed(f).nonEmpty &&
      hashed(f).forall(_.startsWith("hash[doc_id")) }

  // user_id alone satisfies every downstream ClusteredDistribution
  pin("w07: sessionize rides ONE user_id exchange through window + both aggs")(
    hashed(_) == Seq("hash[user_id]"))

  pin("w08: range frame + per-user agg share the single user_id exchange")(
    hashed(_) == Seq("hash[user_id]"))

  pin("q04: KMV side broadcasts back; no sort-merge join anywhere") { f =>
    noSmj(f) && f.has("joins", "BroadcastHashJoin") }

  // stratum counts combine map-side
  pin("q07: stratum thresholds broadcast; the corpus never shuffles for the sample") { f =>
    f.has("joins", "BroadcastHashJoin") && !f.has("joins", "SortMergeJoin") &&
      f.has("aggregates", "partial_count") }

  // a row_number window would land every copy of a span on one reducer
  pin("t18: first-occurrence keep is a map-side-combinable agg, not a window") { f =>
    f.has("aggregates", "partial_min") && !f.has("operators", "Window") }

  // the eviction agg combines map-side; the only cross joins are the ≤32-row centroid broadcasts
  pin("v15: dedup pairs come from a cell equi-join; centroid sets broadcast") { f =>
    !f.has("joins", "CartesianProduct") && f.has("aggregates", "partial_min") &&
      !f.has("joins", "NestedLoopJoin Cross BuildLeft") }

  // nested loops only for the ≤10 queries and ≤8 centroids; broadcast cell probe; barriers persist
  pin("v32: pipeline stages keep their scale shapes — bucketed pairs, broadcast probe") { f =>
    !f.has("joins", "CartesianProduct") && !f.has("joins", "NestedLoopJoin Cross BuildLeft") &&
      f("joins").exists(j => j.startsWith("BroadcastHashJoin") && j.contains("[cell]=")) &&
      f.has("cached", "InMemoryRelation") }

  // one hash exchange per side, reused by the join — none between
  pin("j12: both sides pre-aggregate on the join grain; the agg exchanges serve the join") { f =>
    f.has("joins", "FullOuter") && f.n("aggregates", "partial_count") == 2 && hashed(f).size == 2 }

  test("o04: custom top-k plans as partial-heap → exchange → final, no window, no sort") {
    // the only sort is the presentation orderBy
    val f = census.facts("o04_native_topk")
    assert(f.has("operators", "TopKPerKeyFinal") && f.has("operators", "TopKPerKeyPartial") &&
      !f.has("operators", "Window") && f.n("operators", "Sort ") == 1 && hashed(f).size == 1, f)
    // partial must sit BELOW the exchange (operator order: read live)
    val p = plan("o04_native_topk")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0 && p.indexOf("TopKPerKeyPartial") > exchangeIdx, p)
  }

  test("o04: the top-k exchange elides on a bucketed input") {
    // ClusteredDistribution(keys) is satisfiable by a bucketed scan's
    // HashPartitioning — same as s07's join
    val t = "graft_buck_topk"
    dropStale(t)
    graft.engine.Tables(spark, dir, "orders").selectExpr("o_custkey", "o_orderkey", "o_totalprice")
      .write.mode("overwrite").format("parquet").bucketBy(8, "o_custkey").saveAsTable(t)
    val p = explain(graft.operators.TopKPerKey(spark.table(t), Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 2))
    assert(p.contains("TopKPerKeyFinal") && !p.contains("Exchange hashpartitioning"), p)
  }

  pin("a16: unpivot is one scan + Expand, not a union of re-scans") { f =>
    f.has("operators", "Expand") && f("scans").size == 1 && !f.has("operators", "Union") }

  // (region, h) counts pre-aggregate map-side; the non-codegen `pivotfirst` stays gone
  pin("g17b: the 744-wide matrix rides a pre-counted (region, hour) aggregate") { f =>
    !f.has("aggregates", "pivotfirst") && f.has("aggregates", "partial_count") &&
      f.has("aggregates", "collect_list") && !f.has("joins", "CartesianProduct") }

  // cent is one row per USER — broadcasting it is a driver OOM at scale
  pin("g25: the per-user centroid join never broadcasts a fact-derived frame") { f =>
    !f.has("exchanges", "broadcast") && f.n("exchanges", "hash[user_id") <= 2 &&
      (f.has("joins", "ShuffledHashJoin") || f.has("joins", "SortMergeJoin")) }

  test("q08/v18: quota joins broadcast; the hash prefilter sits below the rank window") {
    // the h6 < thr prefilter runs BEFORE the rank window (operator order: read live)
    for (q <- Seq("q08_temperature_mix", "q09_unimax_sample", "v18_cluster_balanced_sample")) {
      val f = census.facts(q)
      assert(!f.has("joins", "SortMergeJoin") && f.has("joins", "BroadcastHashJoin"), s"$q: $f")
      val p = plan(q)
      val windowAt = p.indexOf("Window")
      assert(windowAt >= 0 && windowAt < p.indexOf("(h6"), s"$q: prefilter must sit below the window:\n$p")
    }
  }

  test("g19: one PageRank iteration = 2 broadcast joins + exactly 1 shuffle") {
    // over checkpointed loop state, as the real loop runs, each round
    // broadcasts ranks in and inc back out and shuffles ONLY at the partial-agg'd groupBy(dst)
    GraftSession.release(spark)
    val (ew, nodes, r0) = graft.queries.GeoQueries.pagerankInputs(spark, dir)
    val p = explain(graft.queries.GeoQueries.pagerankIterate(
      ew.localCheckpoint(true), nodes.localCheckpoint(true), r0.localCheckpoint(true)))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("Scan ExistingRDD"), p)
    GraftSession.release(spark)
  }

  test("g39: one peel round = 2 broadcast semi-joins + exactly 1 shuffle") {
    // survivors are region-bounded (broadcast); the only exchange is the partial-agg'd degree fold
    val s = spark
    import s.implicits._
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")).toDF("a", "b").localCheckpoint(true)
    val core = Seq("a", "b", "c", "d").toDF("region").localCheckpoint(true)
    val p = explain(graft.queries.GeoQueries.kcoreRound(und, core))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2 && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  // the judged frame hangs off the LAST checkpointed state and never re-derives the corpus
  pin("t23b: the BPE training loop's state is checkpoint-truncated each merge") { f =>
    f.has("cached", "ExistingRDD") && !f.has("scans", "Parquet") && !f.has("operators", "Window") }

  // segmentation comes from the checkpointed training state; one corpus scan, hash-agg rollup
  pin("t24: encode joins the corpus to per-word token counts; no window, no re-train") { f =>
    f.has("cached", "ExistingRDD") && f.n("scans", "Parquet") == 1 &&
      !f.has("operators", "Window") && f.n("aggregates", "HashAggregate") >= 2 }

  // the top-12 is a TakeOrderedAndProject instead of a global sort
  pin("t23: pair counting is two partial-final agg pairs, no window, no corpus sort") { f =>
    !f.has("operators", "Window") && f.has("operators", "TakeOrderedAndProject") &&
      f.n("aggregates", "HashAggregate") >= 4 && !f.has("operators", "Sort ") }

  // the compressed corpus joins the ADC table by BROADCAST; the ADC sum combines map-side
  pin("v19: the IVFADC probe broadcasts the ADC table; the corpus codes never sort-merge") { f =>
    noSmj(f) && f.has("joins", "BroadcastHashJoin") && f.has("aggregates", "partial_sum") }

  // decode + features run in ONE mapPartitions stage; the only exchange is the presentation sort's
  pin("m08: the audio feature pass is scan-shaped — one pipeline, no shuffle before the sort") { f =>
    f.has("operators", "MapPartitions") && f.n("scans", "Parquet") == 1 &&
      f("exchanges").size == 1 && f.has("exchanges", "range[") }

  // ONE broadcast sweep feeds both stages; rank<=16 prunes map-side below the exchange
  pin("v21: funnel stage 1 broadcasts the queries; stage 2 never rejoins the corpus") { f =>
    bnlj(f) == 1 && noSmj(f) && f.n("operators", "Window [row_number") == 2 &&
      f.n("scans", "Parquet") == 2 && f.has("operators", "WindowGroupLimit row_number 16 Partial") }

  pin("g31: centroid joins broadcast; the regression is one partial-aggregated reduce") { f =>
    f.n("joins", "BroadcastHashJoin") == 2 && noSmj(f) && f.has("aggregates", "partial_sum") }

  pin("q10: DSIR terms broadcast onto doc buckets; top-40 is TakeOrdered, no global sort") { f =>
    noSmj(f) && f.has("joins", "BroadcastHashJoin") && f.has("aggregates", "partial_sum") &&
      f.has("operators", "TakeOrderedAndProject") }

  // the circle test is ONE nested loop of the corridors against the broadcast region table
  pin("g32: the region dimension broadcasts everywhere; the circle sweep is corridor × broadcast") { f =>
    bnlj(f) == 1 && f.n("joins", "BroadcastHashJoin") >= 3 && noSmj(f) &&
      f.has("operators", "TakeOrderedAndProject") }

  pin("t25: dedup eval generates pairs only through equi-joins; only the 1-row folds nest-loop") { f =>
    !f.has("joins", "CartesianProduct") && bnlj(f) == 2 }

  test("v25: the Hamming probe is pure-integer codegen with a partial top-3 below the shuffle") {
    // one broadcast sweep, map-side rank<=3, and integer popcount(xor) (a builtin: read live)
    val f = census.facts("v25_binary_hamming")
    assert(bnlj(f) == 1 && noSmj(f) && f.has("operators", "WindowGroupLimit row_number 3 Partial"), f)
    assert(plan("v25_binary_hamming").contains("bit_count"))
  }

  pin("w10: funnel steps are min-aggs with map-side partials; only the 1-row folds nest-loop") { f =>
    !f.has("joins", "CartesianProduct") && bnlj(f) == 2 &&
      f.has("aggregates", "partial_min") && !f.has("operators", "Window") }

  pin("u04: both SCD2 window passes ride ONE user_id exchange") { f =>
    hashed(f).size == 1 && f.n("exchanges", "range[") == 1 && noSmj(f) }

  pin("q11: weighted sampling is one scan + one bounded-lang rank window, no joins") { f =>
    f("joins").isEmpty && hashed(f).size == 1 && f.has("operators", "WindowGroupLimit") }

  test("j13: fuzzy candidates come from a variant equi-join, never an all-pairs product") {
    assert(equi(census.facts("j13_fuzzy_join")))
    assert(plan("j13_fuzzy_join").contains("levenshtein")) // a builtin, read live
  }

  pin("g33: the BFS chain is checkpoint-truncated — the judged plan never rescans parquet") { f =>
    f.has("cached", "ExistingRDD") && !f.has("scans", "Parquet") }

  pin("q12: the DP mechanism costs one distinct-agg — noise is a codegen'd projection") { f =>
    f("joins").isEmpty && !f.has("operators", "Window") && f.n("exchanges", "range[") == 1 }

  pin("v24: the power-iteration chain is checkpoint-truncated — judged plan never rescans the corpus") { f =>
    f.has("cached", "ExistingRDD") && !f.has("scans", "Parquet") &&
      !f.has("joins", "SortMergeJoin") && !f.has("operators", "Window") }

  // parquet appears ONLY in the k-bounded center-row joins (2 scans for
  // the seed, 1 per later round = 7 at k=6); an un-checkpointed dmin
  // re-derives recursively and the scan count explodes
  pin("v28: the k-center chain is checkpoint-truncated — no recursive dmin re-derivation") { f =>
    f.n("cached", "ExistingRDD") >= 5 && f.n("scans", "Parquet") <= 7 }

  // every pick plans off the previous round's checkpoint; parquet only via the shortlist
  pin("v29: the MMR greedy chain is checkpoint-truncated and shortlist-bounded") { f =>
    f.n("cached", "ExistingRDD") >= 4 && f.n("scans", "Parquet") <= 2 }

  pin("g36: the LPA chain is checkpoint-truncated — judged labels never rescan parquet") { f =>
    f.has("cached", "ExistingRDD") && !f.has("scans", "Parquet") }

  test("t30: BM25 takes the inverted-index path — term filter below the aggs, dims broadcast") {
    // df and corpus totals ride broadcasts; the term filter is not pushed, so it is read live
    val f = census.facts("t30_bm25_retrieval")
    assert(f.n("exchanges", "broadcast") >= 2 && !f.has("joins", "CartesianProduct") &&
      f.has("operators", "TakeOrderedAndProject"), f)
    val p = plan("t30_bm25_retrieval")
    assert(p.contains("word#") && p.contains("scan,join,merge"), p)
  }

  // refresh = O(|changelog| + |state|): the two artifacts, one fold, no join
  pin("u05: the maintenance plan scans state + changelog only — never the base table") { f =>
    f.has("scans", "u05_agg_v1") && f.has("scans", "u05_changelog") &&
      filesOnly(f, "u05_agg_v1", "u05_changelog") && f.n("scans", "Parquet") == 2 &&
      f("joins").isEmpty }

  // V2−V1 = ΔO⋈C1 + O1⋈ΔC + ΔO⋈ΔC: 7 scans over the 5 artifacts (each
  // changelog feeds two delta terms), every delta term a broadcast join
  pin("u06: the join-IVM plan scans the five artifacts, deltas broadcast, never the live base") { f =>
    filesOnly(f, "u06_view_v1", "u06_orders_v1", "u06_customer_v1", "u06_orders_delta",
      "u06_customer_delta") && f.n("scans", "Parquet") == 7 &&
      !f.has("joins", "SortMergeJoin") && f.n("joins", "BroadcastHashJoin") == 3 }

  // one parquet state scan + one ledger CHANGES scan over (1, 4]
  pin("s47: the CDF refresh scans the state + the change feed — never the base files") { f =>
    f.has("scans", "s47_mv_state") && f.has("scans", "Changes: (1, 4]") &&
      f.n("scans", "Parquet") == 1 && f("joins").isEmpty }

  pin("w09: ntile folds need exactly one shuffle — the bounded lang partition") { f =>
    f.n("operators", "Window") == 1 && hashed(f).size == 1 && f.n("exchanges", "range[") == 1 }

  // the persisted hourly state is the ONLY barrier, with two consumers; it
  // reads events once with one region_lookup, the one join is the tail's
  // broadcast presence lookup, and the only fact-side exchanges are the
  // (user_id, hour) state agg and the (user_id) trajectory window
  pin("g40: composed pipeline fuses — one events scan, one region_lookup, one join") { f =>
    f.n("cached", "InMemoryRelation") == 2 && f.n("scans", "events.parquet") == 1 &&
      f("exprs") == Seq("region_lookup(2 levels)") && f.n("exchanges", "hash[user_id") == 2 &&
      f("joins").size == 1 && f.has("joins", "BroadcastHashJoin LeftOuter BuildRight [hour") }

  // one rank window broadcast-joined with the driving keys, not a per-row re-invocation
  pin("f20: correlated lateral TVF decorrelates to one rank window, no cartesian") { f =>
    equi(f) && f.n("operators", "Window [") == 1 && f.has("joins", "BroadcastHashJoin") }

  pin("f21: catalog function resolves via the magic Invoke, not row-boxed produceResult")(
    _("exprs") == Seq("invoke"))

  pin("f22: catalog aggregate runs partial-aggregable — map-side combine before the shuffle") { f =>
    f.has("aggregates", "partial_v2aggregator") && f.n("aggregates", "v2aggregator") >= 2 }

  // both bucketed scans feed the merge join pre-grouped by the reported KeyGroupedPartitioning
  pin("s35: storage-partitioned join shuffles NOTHING on the join key") { f =>
    f.has("joins", "SortMergeJoin") && !f.has("joins", "BroadcastHashJoin") &&
      !f.has("exchanges", "hash[doc_id") }

  test("g41: recursion scans the persisted edge frame, never re-derives it") {
    // the recursive member plans below UnionLoop only at execution, so
    // this is read live: anchor and member reference the SAME cached edge
    // frame, and the only parquet scans are inside it
    val p = plan("g41_recursive_reach")
    val cached = "InMemoryRelation".r.findAllIn(p).size
    assert(p.contains("UnionLoopRef") && cached == 2, p)
    assert("FileScan parquet".r.findAllIn(p).size == cached, p)
  }

  test("j16: correlated scalar subqueries fully decorrelate — zero survive optimization") {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    GraftSession.release(spark)
    val qe = SparkEntry.queries("j16_scalar_subqueries")(spark, dir).queryExecution
    // the WHERE scalar becomes an inner join, the SELECT scalar a LEFT OUTER join
    val survivors = qe.optimizedPlan.collectWithSubqueries {
      case p => p.expressions.flatMap(_.collect { case s: SubqueryExpression => s })
    }.flatten
    assert(survivors.isEmpty, survivors.toString)
    val op = qe.optimizedPlan.toString
    assert(op.contains("Join LeftOuter") && "Join Inner".r.findAllIn(op).size >= 2, op)
  }

  // tri-valued NOT IN needs isNullAwareAntiJoin; NOT EXISTS stays plain
  pin("j17: NOT IN plans the dedicated null-aware anti join") { f =>
    val anti = f("joins").filter(_.contains("LeftAnti BuildRight"))
    anti.exists(_.endsWith("null-aware")) && anti.exists(!_.endsWith("null-aware")) }

  // flag-tagged union legs, a map-side-partial dual-count agg and a replicaterows Generate
  pin("u08: multiset set ops rewrite to multiplicity arithmetic — replicate generator, no sort") { f =>
    f.n("operators", "Generate replicaterows") == 2 && noSmj(f) &&
      f.has("aggregates", "partial_count, partial_count") }

  pin("a22: three grouping sets expand ONE scan — never a union of three aggregates") { f =>
    f.has("operators", "Expand") && f("scans").size == 1 && !f.has("operators", "Union") &&
      f.has("aggregates", "partial_count") }

  // the dynamic pivot's distinct-values pass would be a second scan
  pin("a21: the PIVOT clause inlines its literal values — one linear plan, no distinct job") { f =>
    f.has("aggregates", "partial_pivotfirst") && f("scans").size == 1 }

  pin("f27: observed metrics ride the query's own scan — CollectMetrics, ONE FileScan") { f =>
    f.has("operators", "CollectMetrics") && f.n("scans", "Parquet") == 1 }

  /** Drops table `t` and a previous JVM's warehouse directory of it. */
  private def dropStale(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val stale = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath, t)
    if (stale.exists()) {
      val walk = java.nio.file.Files.walk(stale.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
      finally walk.close()
    }
  }

  /** The join's dim-side size estimate under the session's estimator. */
  private def dimEstimate(sql: String): BigInt = spark.sql(sql).queryExecution.optimizedPlan
    .collectFirst { case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
      j.right.stats.sizeInBytes
    }.get

  test("s40: column stats flip a filtered-dim self-join to broadcast — CBO, no hint") {
    // with the threshold between the two estimates, default sizing (a
    // Filter's estimate is its child's) cannot broadcast, but CBO's
    // FilterEstimation shrinks the lang='zh' side via the column stats
    val s = spark
    dropStale("s40cbo_docs")
    graft.engine.Tables(s, dir, "documents").selectExpr("doc_id", "lang", "n_chars")
      .createOrReplaceTempView("s40cbo_src")
    s.sql("CREATE TABLE s40cbo_docs USING parquet AS SELECT * FROM s40cbo_src")
    s.sql("ANALYZE TABLE s40cbo_docs COMPUTE STATISTICS")
    s.sql("ANALYZE TABLE s40cbo_docs COMPUTE STATISTICS FOR COLUMNS doc_id, lang")
    try GraftSession.withConf(s, "spark.sql.cbo.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val sql =
        "SELECT f.doc_id, f.lang, f.n_chars, d.lang AS d_lang FROM s40cbo_docs f " +
          "JOIN s40cbo_docs d ON f.doc_id = d.doc_id WHERE d.lang = 'zh'"
      s.conf.set("spark.sql.cbo.enabled", "false")
      val sizeOnlyEstimate = dimEstimate(sql)
      s.conf.set("spark.sql.cbo.enabled", "true")
      val cboEstimate = dimEstimate(sql)
      assert(cboEstimate < sizeOnlyEstimate,
        s"column stats must SHRINK the estimate (cbo=$cboEstimate, size-only=$sizeOnlyEstimate)")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((cboEstimate + sizeOnlyEstimate) / 2).toString)
      s.conf.set("spark.sql.cbo.enabled", "false")
      val sizeOnly = explain(s.sql(sql))
      assert(!sizeOnly.contains("BroadcastHashJoin") && sizeOnly.contains("SortMergeJoin"),
        s"default sizing must NOT broadcast:\n$sizeOnly")
      s.conf.set("spark.sql.cbo.enabled", "true")
      val cbo = explain(s.sql(sql))
      assert(cbo.contains("BroadcastHashJoin") && !cbo.contains("SortMergeJoin"),
        s"CBO + column stats must flip the filtered dim to broadcast:\n$cbo")
    } finally s.sql("DROP TABLE IF EXISTS s40cbo_docs")
  }

  test("s54: the histogram corrects the uniform estimate's provably-wrong broadcast") {
    // the s40 flip's counterpoint on a skewed column: on its 90%-hot
    // value the 1/ndv uniform estimate calls the dim side tiny and
    // broadcasts 0.9·n rows; equi-height histograms see the real
    // selectivity and keep the join sort-merge
    val s = spark
    dropStale("s54cbo_docs")
    graft.engine.Tables(s, dir, "documents").createOrReplaceTempView("s54cbo_src")
    s.sql("CREATE TABLE s54cbo_docs USING parquet AS SELECT doc_id, " +
      "CASE WHEN doc_id % 10 < 9 THEN CAST(0 AS BIGINT) ELSE doc_id END AS skew_key FROM s54cbo_src")
    try GraftSession.withConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.statistics.histogram.enabled" -> "false",
        "spark.sql.statistics.histogram.numBins" -> "16") {
      s.sql("ANALYZE TABLE s54cbo_docs COMPUTE STATISTICS")
      def analyzeCols(withHistogram: Boolean): Unit = {
        s.conf.set("spark.sql.statistics.histogram.enabled", withHistogram.toString)
        s.conf.set("spark.sql.statistics.histogram.numBins", "16")
        s.sql("ANALYZE TABLE s54cbo_docs COMPUTE STATISTICS FOR COLUMNS doc_id, skew_key")
      }
      val sql =
        "SELECT f.doc_id, d.skew_key FROM s54cbo_docs f " +
          "JOIN s54cbo_docs d ON f.doc_id = d.doc_id WHERE d.skew_key = 0"
      s.conf.set("spark.sql.cbo.enabled", "true")
      analyzeCols(withHistogram = false)
      val uniformEstimate = dimEstimate(sql)
      analyzeCols(withHistogram = true)
      val histEstimate = dimEstimate(sql)
      assert(histEstimate > uniformEstimate * 4,
        s"histogram must expose the hot-value skew (hist=$histEstimate, uniform=$uniformEstimate)")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((histEstimate + uniformEstimate) / 2).toString)
      val withHist = explain(s.sql(sql))
      assert(!withHist.contains("BroadcastHashJoin") && withHist.contains("SortMergeJoin"),
        s"histogram selectivity must keep the 0.9·n side off broadcast:\n$withHist")
      analyzeCols(withHistogram = false)
      val uniform = explain(s.sql(sql))
      assert(uniform.contains("BroadcastHashJoin"),
        s"the uniform estimate must make the provably-wrong broadcast (the pin's premise):\n$uniform")
    } finally s.sql("DROP TABLE IF EXISTS s54cbo_docs")
  }

  test("s56: the MV auto-rewrite removes the base scan; non-subsumed shapes keep it") {
    // the judged aggregate over the BASE table plans as view-state + change-feed fold
    val f = census.facts("s56_mv_auto_rewrite")
    assert(f.has("scans", "s56_mv_state") && f.has("scans", "#changes(1,") && feedOnly(f), f)
    // the controls are variants of the judged frame over the table it builds
    SparkEntry.queries("s56_mv_auto_rewrite")(spark, dir)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, sum}
    val docs = s.table("graft_ar.s56docs")
    val subsumed = Seq(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    // a shape the view does NOT subsume (max) keeps the base scan
    val control = explain(docs.groupBy($"lang").agg(max($"n_chars").as("m")))
    assert(!control.contains("#changes(") && control.linesIterator.exists(l =>
      l.contains("BatchScan graft-ledger") && l.contains("s56docs[")), control)
    // a NON-GROUP-column filter must not rewrite (group-col filters do — s60)
    val filtered = explain(docs.where($"n_chars" > 0).groupBy($"lang").agg(subsumed.head, subsumed(1)))
    assert(!filtered.contains("#changes("), filtered)
    // min/max are NOT retraction-maintainable: the rule declines them
    val extrema = explain(docs.groupBy($"lang").agg(subsumed.head, max($"n_chars").as("mx")))
    assert(!extrema.contains("#changes("), extrema)
    // HAVING sits ABOVE the aggregate, so the aggregate under it rewrites
    val having = explain(docs.groupBy($"lang").agg(subsumed.head, subsumed(1)).where($"n_docs" > 3))
    assert(having.contains("#changes(") && having.contains("s56_mv_state") && !having.linesIterator
      .exists(l => l.contains("BatchScan graft-ledger") && !l.contains("#changes(")), having)
  }

  // the subset+avg query rewrites from the COARSE state (fewest group
  // columns wins); the extremum entry's judged frame is the POST-DELETE
  // arm, which must scan the base once a delete enters the window
  pin("s63: the generalized MV rewrite picks the cheaper view; the extremum gate refuses under deletes") { f =>
    val g = census.facts("s63b_mv_extremum_gate")
    f.has("scans", "s63_mv_coarse") && !f.has("scans", "s63_mv_fine") &&
      f.has("scans", "#changes(1,") && feedOnly(f) &&
      !g.has("scans", "#changes(") && g.has("scans", "graft-ledger:s63bdocs ") }

  // the equality probe reaches the connector and the scan declares the sidecar consultation
  pin("s64: the Bloom probe is pushed and the plan says the skip is live")(
    _("scans").exists(s => s.contains("PushedFilters: [EqualTo(lang,fr)]") && s.contains("BloomSkip: lang")))

  // the re-applied group-col predicate lands in the state scan's filters
  pin("s60: the filtered MV rewrite pushes the group predicate into the view-state scan") { f =>
    f.has("scans", "#changes(1,") && feedOnly(f) &&
      f("scans").exists(s => s.contains("s60_mv_state") && s.contains("LessThan(lang,m)")) }

  // the index artifacts, the CHANGE FEED, and content only under a feed-built broadcast join
  pin("t33: CDF index maintenance scans state + the change feed; content fetch is Δ-bounded") { f =>
    f.has("scans", "#changes(1,3]") && feedOnly(f) &&
      f.has("scans", "t33_idx") && f.has("scans", "t33_bands") &&
      filesOnly(f, "t33_idx", "t33_bands", "documents.parquet") &&
      f.n("scans", "documents.parquet") ==
        f.n("joins", "BroadcastHashJoin Inner BuildRight [doc_id]=[content_id]") }

  // as t33, and the query terms are PUSHED into the postings state scan
  pin("t34: BM25 state maintenance scans postings/dl state + the feed; Δ-bounded tokenize") { f =>
    f.has("scans", "#changes(1,") && feedOnly(f) &&
      f.has("scans", "t34_postings") && f.has("scans", "t34_dl") &&
      filesOnly(f, "t34_postings", "t34_dl", "documents.parquet") &&
      f.n("scans", "documents.parquet") ==
        f.n("joins", "BroadcastHashJoin Inner BuildRight [doc_id]=[doc_id]") &&
      f.has("scans", "In(word, [join,merge,scan])") }

  // each embedding scan is a feed-built broadcast fetch or the pushed 8-row centroid read
  pin("v34: CDF IVF maintenance scans state + the change feed; Δ-assign and centroids bounded") { f =>
    f.has("scans", "#changes(1,3]") && feedOnly(f) && !f.has("joins", "SortMergeJoin") &&
      f.has("scans", "v34_ivf_state") && filesOnly(f, "v34_ivf_state", "embeddings.parquet") &&
      f.n("scans", "embeddings.parquet") ==
        f.n("joins", "BroadcastHashJoin Inner BuildRight [vec_id]=[vec_id]") +
          f("scans").count(s => s.contains("embeddings.parquet") && s.contains("LessThan(vec_id,8)")) }
}
