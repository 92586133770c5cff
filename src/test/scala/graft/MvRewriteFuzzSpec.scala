package graft

import java.io.File

import scala.util.Random

import org.apache.spark.sql.functions._

/** Seeded fuzz for the MV auto-rewrite (judged as s56/s57/s59/s60 and,
  * since round 17, the generalized s63/s63b): random mor-table lives —
  * appends, MoR deletes/updates, POSITION deletes (`.gp` cuts, which
  * must replay through the feed and trip the extremum gate exactly
  * like key deletes), compactions — with TWO views (a fine
  * (lang, n_chars) histogram carrying min/max(doc_id) extrema and a
  * coarse (lang) rollup) registered at a RANDOM build point. After
  * every op, five subsumed shapes run twice — exact fine grouping,
  * subset grouping with a DERIVED avg, global rollup, group-filtered
  * subset, and a subset extremum — once with the registry live and
  * once unregistered (the base scan, the reference semantics). The two
  * answers must be identical at every step: the optimizer can change
  * the PLAN, never the rows.
  *
  * Beyond equivalence, each shape's ARM is asserted exactly:
  * count/sum/avg shapes must rewrite IFF no compaction broke the feed
  * window, and the extremum shape additionally requires a DELETE-FREE
  * window — ground truth for "window has deletes" is read from the
  * change feed's own rows (data level), not from the helper the rule
  * consults, so the gate is checked against independent evidence. The
  * avg/subset/filtered/global shapes must also pick the CHEAPER
  * (coarse) state whenever they fire — the multi-view cost choice. */
class MvRewriteFuzzSpec extends SparkSpec {

  private def runScenario(seed: Int): Unit = {
    val rnd = new Random(seed)
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._

    var nextId = 0L
    def wave(n: Int) = {
      val lo = nextId
      nextId += n
      spark.range(lo, nextId).select($"id".as("doc_id"),
        concat(lit("l"), pmod($"id", lit(5)).cast("string")).as("lang"),
        ($"id" % 97).as("n_chars")).coalesce(1)
    }
    wave(40 + rnd.nextInt(40)).writeTo(s"$cat.t")
      .tableProperty("mor", "true").create()                      // v1
    val tdir = new File(root, "t").getPath
    graft.plans.MvRegistry.unregister(tdir)

    // a few ops BEFORE the build point, so builtAt > 1 is exercised
    val preOps = rnd.nextInt(3)
    (1 to preOps).foreach { _ =>
      wave(10 + rnd.nextInt(10)).writeTo(s"$cat.t").append()
    }
    val finePath = graft.queries.Portable.scratchPath(
      s"mvfuzz_fine_${seed}_${System.nanoTime()}")
    spark.table(s"$cat.t").groupBy($"lang", $"n_chars")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .write.mode("overwrite").parquet(finePath)
    val coarsePath = graft.queries.Portable.scratchPath(
      s"mvfuzz_coarse_${seed}_${System.nanoTime()}")
    spark.table(s"$cat.t").groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .write.mode("overwrite").parquet(coarsePath)
    val builtAt = graft.sources.LedgerSource.listVersions(tdir).max
    import graft.plans.MvRegistry.{MvAgg, MvDef}
    def register(): Unit = {
      graft.plans.MvRegistry.register(MvDef(tdir, finePath, builtAt,
        Seq("lang", "n_chars"), Seq(
          MvAgg("count", "", "n_docs"),
          MvAgg("sum", "n_chars", "total_chars"),
          MvAgg("min", "doc_id", "min_id"),
          MvAgg("max", "doc_id", "max_id"))))
      graft.plans.MvRegistry.register(MvDef(tdir, coarsePath, builtAt,
        Seq("lang"), Seq(
          MvAgg("count", "", "n_docs"),
          MvAgg("sum", "n_chars", "total_chars"))))
    }
    register()

    // shape index → (frame, needsDeleteFreeWindow, mustUseCoarse)
    def shapes(): Seq[(org.apache.spark.sql.DataFrame, Boolean, Boolean)] = Seq(
      (spark.table(s"$cat.t").groupBy($"lang", $"n_chars")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars")),
        false, false),
      (spark.table(s"$cat.t").groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
          avg($"n_chars").as("avg_chars")),
        false, true),
      (spark.table(s"$cat.t")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars")),
        false, true),
      (spark.table(s"$cat.t").where($"lang" < "l3").groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars")),
        false, true),
      (spark.table(s"$cat.t").groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_id"),
          max($"doc_id").as("max_id")),
        true, false))

    var sawCompact = false
    var sawRewrite = false
    var sawFallback = false
    var sawExtremumRefusal = false
    // data-level ground truth: does the feed window hold delete rows?
    def windowHasDeleteRows(): Boolean =
      spark.read.format("graft-ledger")
        .option("changesFrom", builtAt.toString).load(tdir)
        .where($"_change_type" === "delete").limit(1).count() > 0

    def checkAll(step: String): Unit = {
      val deletesInWindow = !sawCompact && windowHasDeleteRows()
      shapes().zipWithIndex.foreach {
        case ((q, needsDeleteFree, mustUseCoarse), i) =>
          val plan = q.queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode)
          val fired = plan.contains("#changes(")
          val expected = !sawCompact && (!needsDeleteFree || !deletesInWindow)
          assert(fired == expected,
            s"[seed=$seed $step shape$i] rewrite arm: fired=$fired, " +
              s"expected=$expected (compacted=$sawCompact, " +
              s"deletesInWindow=$deletesInWindow)\n$plan")
          // match on the directory-name PREFIX, not the full path: the
          // explain output truncates scan locations at
          // spark.sql.maxMetadataStringLength (~100 chars), and the
          // nanoTime suffix grows with JVM uptime — a full-path
          // contains() passes in a young JVM and fails late in a long
          // suite (the flake this comment memorializes)
          if (fired && mustUseCoarse)
            assert(plan.contains("mvfuzz_coarse_") &&
              !plan.contains("mvfuzz_fine_"),
              s"[seed=$seed $step shape$i] the cheaper (coarse) view " +
                s"must win the cost choice\n$plan")
          if (fired) sawRewrite = true else sawFallback = true
          if (!fired && needsDeleteFree && !sawCompact && deletesInWindow)
            sawExtremumRefusal = true
          val rewritten = q.collect()
            .map(r => r.toSeq.map(x => Option(x).map(_.toString).orNull))
            .sortBy(_.mkString("|"))
          graft.plans.MvRegistry.unregister(tdir)
          val reference =
            try shapes()(i)._1.collect()
              .map(r => r.toSeq.map(x => Option(x).map(_.toString).orNull))
              .sortBy(_.mkString("|"))
            finally register()
          assert(rewritten.toSeq == reference.toSeq,
            s"[seed=$seed $step shape$i] rewrite diverged from the base scan")
      }
    }

    checkAll("post-build") // empty window: the extremum shape REWRITES
    // deterministic refusal arm: the initial wave always populates l1,
    // so this delete puts retraction rows in the window before any
    // compaction can break it — the extremum shape must now fall back
    // while the count/sum/avg shapes keep rewriting
    spark.sql(s"DELETE FROM $cat.t WHERE lang = 'l1'")
    checkAll("post-delete")
    val ops = 6 + rnd.nextInt(4)
    (1 to ops).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => // ingest
          wave(8 + rnd.nextInt(15)).writeTo(s"$cat.t").append()
        case 2 => // MoR delete by non-key predicate
          spark.sql(s"DELETE FROM $cat.t WHERE lang = 'l${rnd.nextInt(5)}'")
        case 3 => // MoR update
          spark.sql(s"UPDATE $cat.t SET n_chars = n_chars + 7 " +
            s"WHERE n_chars % 3 = ${rnd.nextInt(3)}")
        case 4 => // DESTRUCTIVE: compaction breaks the feed window —
          // from here on every shape must silently fall back
          spark.sql(s"CALL $cat.system.compact('t', ${1 + rnd.nextInt(2)})")
          sawCompact = true
        case 5 => // MoR POSITION delete (round 17): random ordinals of
          // one live file — its `.gp` replays as delete rows, so the
          // feed-derived deletesInWindow ground truth and the signed
          // fold must both see it exactly like a key delete
          val fs = graft.sources.LedgerSource.ledgerFiles(tdir)
          val f = fs(rnd.nextInt(fs.length))
          val n = graft.sources.LedgerSource.readStats(f)._3
          if (n > 0) {
            val ps = (1 to 1 + rnd.nextInt(3))
              .map(_ => rnd.nextInt(n.toInt)).distinct
            spark.sql(s"CALL $cat.system.delete_at('t', '${f.getName}', " +
              s"'${ps.mkString(",")}')")
          }
      }
      checkAll(s"op$step")
    }
    // force the fallback arm if the random walk never compacted
    if (!sawCompact) {
      spark.sql(s"CALL $cat.system.compact('t', 2)")
      sawCompact = true
      checkAll("forced-compact")
    }
    assert(sawRewrite, s"[seed=$seed] the rewrite arm never fired")
    assert(sawFallback, s"[seed=$seed] the fallback arm never fired")
    assert(sawExtremumRefusal,
      s"[seed=$seed] the extremum-refusal arm never fired")
    graft.plans.MvRegistry.unregister(tdir)
    ()
  }

  test("edge shapes keep the base-scan answer: count(NULL), UDF filter, NULL group") {
    val s = spark
    import s.implicits._
    val (cat, root) = freshCatalog()
    // lang is NULL for every fifth row, so the view carries a NULL group
    spark.range(0, 60).select($"id".as("doc_id"),
      when($"id" % 5 =!= 0, concat(lit("l"), ($"id" % 3).cast("string"))).as("lang"),
      ($"id" % 97).as("n_chars")).coalesce(1)
      .writeTo(s"$cat.t").tableProperty("mor", "true").create()
    val tdir = new File(root, "t").getPath
    val viewPath = graft.queries.Portable.scratchPath(s"mvedge_view_${System.nanoTime()}")
    spark.table(s"$cat.t").groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .write.mode("overwrite").parquet(viewPath)
    import graft.plans.MvRegistry.{MvAgg, MvDef}
    val view = MvDef(tdir, viewPath, graft.sources.LedgerSource.listVersions(tdir).max,
      Seq("lang"), Seq(MvAgg("count", "", "n_docs"), MvAgg("sum", "n_chars", "total_chars")))
    val early = udf((l: String) => l != null && l < "l2")
    def t = spark.table(s"$cat.t")
    // every shape rewrites and must agree with the base scan: count(NULL)
    // counts nothing (Spark folds it to 0 before the rule, which then
    // answers a group-only aggregate), a Scala UDF filter has no
    // re-parseable SQL text, and the NULL group must stay nullable
    val shapes: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => t.groupBy($"lang").agg(count(lit(null)).as("n")),
      () => t.where(early($"lang")).groupBy($"lang").agg(count(lit(1)).as("n")),
      () => t.groupBy($"lang").agg(count(lit(1)).as("n"), sum($"n_chars").as("total"))
        .where($"lang".isNull))
    def rows(df: org.apache.spark.sql.DataFrame) =
      (df.schema.map(_.dataType), df.collect().map(_.toSeq.mkString("|")).sorted.toSeq)
    shapes.zipWithIndex.foreach { case (q, i) =>
      graft.plans.MvRegistry.register(view)
      val (plan, rewritten) =
        try (q().queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode), rows(q()))
        finally graft.plans.MvRegistry.unregister(tdir)
      assert(plan.contains("#changes("), s"shape$i did not rewrite\n$plan")
      assert(rewritten == rows(q()), s"shape$i diverged from the base scan")
    }
    assert(rows(shapes(2)())._2.nonEmpty, "the NULL group must survive")
  }

  (1 to 3).foreach { seed =>
    test(s"fuzz: MV rewrite ≡ base scan under random lives and build points (seed $seed)") {
      runScenario(seed)
    }
  }
}
