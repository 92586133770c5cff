package graft

import java.io.File

import scala.util.Random

import org.apache.spark.sql.functions._

/** Seeded fuzz over the REF verbs (the `LedgerVerbFuzzSpec` discipline
  * applied to branching): random interleavings of fork / append-to-ref
  * / MoR-delete-on-ref / drop / fast-forward run against a reference
  * state machine that models each lineage as a plain row set, with
  * every lineage's readback checked after EVERY op. The model also
  * tracks whether main moved since each fork, so `fast_forward`'s
  * accept/refuse decision is itself fuzzed (containment = ancestry).
  * Ends each scenario by converging and proving main survived and
  * destructive verbs re-enabled. */
class LakehouseRefsFuzzSpec extends SparkSpec {

  private def runScenario(seed: Int): Unit = {
    val rnd = new Random(seed)
    val (cat, root) = freshCatalog()
    val s = spark
    import s.implicits._

    var nextId = 0L
    def wave(n: Int, lang: String) = {
      val lo = nextId
      nextId += n
      val rows = (lo until nextId).map(i => (i, lang, i))
      (rows.toSet,
        spark.createDataFrame(rows).toDF("doc_id", "lang", "n_chars")
          .coalesce(1))
    }

    // model: lineage name -> row set; "main" is the trunk
    val model = scala.collection.mutable.Map.empty[String, Set[(Long, String, Long)]]
    def asTuples(rows: Set[(Long, String, Long)]) = rows
    val tdir = new File(root, "t").getPath
    // fast_forward's accept/refuse expectation, computed from the SAME
    // definition the engine uses (manifest containment = ancestry for
    // append-only lineages) so merge commits — which grow main's
    // manifest by another lineage's files — feed it correctly
    def manifestOf(ref: String): Set[String] =
      graft.sources.LedgerSource.readManifest(tdir,
        graft.sources.LedgerSource.readRef(tdir, "branch", ref).get).toSet
    // rows at a pinned commit — the merge model's ancestor state
    def rowsAt(v: Long): Set[(Long, String, Long)] =
      if (v == 0) Set.empty
      else spark.read.format("graft-ledger")
        .option("versionAsOf", v.toString).load(tdir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet

    val (w0, df0) = wave(40 + rnd.nextInt(40), "base")
    df0.writeTo(s"$cat.t").tableProperty("mor", "true").create()
    model("main") = w0.map { case (a, b, c) => (a.toLong, b, c.toLong) }

    def handle(ref: String): String =
      if (ref == "main") s"$cat.t" else s"$cat.t.branch_$ref"

    def checkAll(step: String): Unit = model.foreach { case (ref, want) =>
      val got = spark.table(handle(ref)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == asTuples(want),
        s"[seed=$seed $step] lineage '$ref' diverged from the model: " +
          s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }

    val ops = 12 + rnd.nextInt(6)
    (1 to ops).foreach { step =>
      val branches = model.keys.filter(_ != "main").toSeq.sorted
      rnd.nextInt(7) match {
        case 0 if branches.size < 3 => // fork from main
          val name = s"b${step}_$seed"
          spark.sql(s"CALL $cat.system.create_branch('t', '$name')")
          model(name) = model("main")
          checkAll(s"fork $name")
        case 1 | 2 => // append to a random lineage
          val ref = rnd.shuffle("main" +: branches).head
          val (rows, df) = wave(10 + rnd.nextInt(20), s"w$step")
          df.writeTo(handle(ref)).append()
          model(ref) = model(ref) ++
            rows.map { case (a, b, c) => (a.toLong, b, c.toLong) }
          checkAll(s"append $ref")
        case 3 => // MoR delete on a random lineage
          val ref = rnd.shuffle("main" +: branches).head
          val k = 2 + rnd.nextInt(4)
          val r = rnd.nextInt(k)
          spark.sql(
            s"DELETE FROM ${handle(ref)} WHERE doc_id % $k = $r")
          model(ref) = model(ref).filterNot(_._1 % k == r)
          checkAll(s"mor-delete $ref %$k=$r")
        case 4 if branches.nonEmpty => // fast-forward: accept iff ancestry
          val br = rnd.shuffle(branches).head
          if (!manifestOf("main").subsetOf(manifestOf(br))) {
            val e = intercept[Exception] {
              spark.sql(s"CALL $cat.system.fast_forward('t', '$br')")
            }
            assert(e.getMessage.contains("diverged"),
              s"[seed=$seed] FF of moved-main must refuse: ${e.getMessage}")
          } else {
            spark.sql(s"CALL $cat.system.fast_forward('t', '$br')")
            model("main") = model(br)
          }
          checkAll(s"ff $br")
        case 5 if branches.nonEmpty => // drop a branch
          val br = rnd.shuffle(branches).head
          spark.sql(s"CALL $cat.system.drop_branch('t', '$br')")
          model.remove(br)
          checkAll(s"drop $br")
        case 6 if branches.nonEmpty => // merge a branch into main
          val br = rnd.shuffle(branches).head
          // the reference semantics of a file-level union merge, in row
          // algebra: shared rows live; one-sided rows live iff they are
          // post-fork additions (a one-sided ANCESTOR row was deleted on
          // the other side, and that side's tombstone rides the union).
          // Ancestor state read via time travel at the engine's own
          // merge-base, so FF interleavings are mirrored exactly.
          val fromV = graft.sources.LedgerSource
            .readRef(tdir, "branch", br).get
          val intoV = graft.sources.LedgerSource
            .readRef(tdir, "branch", "main").get
          val anc = rowsAt(graft.sources.LedgerSource
            .commonAncestor(tdir, fromV, intoV))
          spark.sql(s"CALL $cat.system.merge_branch('t', '$br', 'main')")
          val f = model(br); val i = model("main")
          model("main") = (f intersect i) ++
            (((f diff i) ++ (i diff f)) diff anc)
          checkAll(s"merge $br into main")
        case _ => () // fork/ff/drop/merge not applicable this step
      }
    }

    // the s52 invariant, quantified by the fuzz: every lineage's
    // change feed from 0, folded by sign, equals that lineage's
    // modeled state — whatever interleaving of forks, appends,
    // MoR deletes, drops, and fast-forwards produced the chain
    model.keys.toSeq.sorted.foreach { ref =>
      val dir0 = new File(root, "t").getPath
      // a never-forked scenario has no 'main' ref — its head is the
      // numeric chain head
      val to =
        if (graft.sources.LedgerSource.readRef(dir0, "branch", ref)
          .isDefined) ref
        else graft.sources.LedgerSource.listVersions(dir0).max.toString
      val folded = spark.read.format("graft-ledger")
        .option("changesFrom", "0").option("changesTo", to).load(dir0)
        .groupBy($"doc_id", $"lang", $"n_chars")
        .agg(sum(when($"_change_type" === "insert", 1L)
          .otherwise(-1L)).as("net"))
        .where($"net" > 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(folded == model(ref),
        s"[seed=$seed] lineage feed of '$ref' does not fold to its state")
    }

    // close out: drop everything, converge, destructive verbs return
    model.keys.filter(_ != "main").toSeq.foreach { br =>
      spark.sql(s"CALL $cat.system.drop_branch('t', '$br')")
      model.remove(br)
    }
    val didConverge = graft.sources.LedgerSource.readRef(
      new File(root, "t").getPath, "branch", "main").isDefined
    if (didConverge)
      spark.sql(s"CALL $cat.system.converge('t')").collect()
    checkAll("post-converge")
    // CDF continuity ACROSS converge: the converge commit's lineage
    // parent must be main's old head (not the numeric chain head, which
    // may be a dropped branch's last commit) — so the feed from 0 to
    // the post-converge head still walks main's lineage and folds to
    // main's state. Guards the ConvergeProcedure base=Some(mainV) fix:
    // without it this feed refuses on a dropped branch's appends or
    // silently replays its MoR-delete events.
    if (didConverge) {
      val dir0 = new File(root, "t").getPath
      val head = graft.sources.LedgerSource.listVersions(dir0).max
      val folded = spark.read.format("graft-ledger")
        .option("changesFrom", "0").option("changesTo", head.toString)
        .load(dir0)
        .groupBy($"doc_id", $"lang", $"n_chars")
        .agg(sum(when($"_change_type" === "insert", 1L)
          .otherwise(-1L)).as("net"))
        .where($"net" > 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(folded == model("main"),
        s"[seed=$seed] post-converge feed does not fold to main's state")
    }
    // compaction is the destructive verb converge re-enables: it must
    // run, fold every live tombstone, and leave the state identical
    spark.sql(s"CALL $cat.system.compact('t', 2)").collect()
    checkAll("post-compact")
    ()
  }

  (1 to 5).foreach { seed =>
    test(s"fuzz: ref verb interleavings equal the lineage state machine (seed $seed)") {
      runScenario(seed)
    }
  }
}
