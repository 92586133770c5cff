package graft

import java.io.File
import java.util.concurrent.{Callable, Executors}

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.sources.TxnLog

/** Seeded fuzz for the cross-table transaction log (judged as
  * s67/st34): random interleavings of
  *
  *   - plain appends to either table's MAIN (the racers),
  *   - two-table transactions that COMMIT (state+audit work branches,
  *     intents, the atomic rename, helping roll-forward),
  *   - transactions that ABORT after staging intents,
  *   - and a crash-shaped commit (publish without finish — the next
  *     resolver heals),
  *
  * with the conservation invariant asserted after each scenario: BOTH
  * tables' final doc_id sets equal exactly {seed ∪ every main append ∪
  * every COMMITTED txn's rows} — aborted txns contribute nothing,
  * nothing is lost, nothing double-counts (manifests dedupe, and the
  * change feed over main's lineage replays every surviving row exactly
  * once). The paired-visibility property (never one table without the
  * other) is deterministic in Round17OpsSpec; here the subject is
  * CONSERVATION under interleaving. */
class TxnFuzzSpec extends SparkSpec {

  private def runScenario(seed: Int): Unit = {
    val rnd = new Random(seed)
    val (cat, root) = freshCatalog()
    val rootF = new File(root)
    val s = spark
    import s.implicits._

    var nextId = 0L
    def wave(n: Int) = {
      val lo = nextId
      nextId += n
      spark.range(lo, nextId).select($"id".as("doc_id"),
        lit("w").as("lang"), ($"id" % 13).as("n_chars")).coalesce(1)
    }
    wave(50).writeTo(s"$cat.a").tableProperty("mor", "true").create()
    wave(50).writeTo(s"$cat.b").tableProperty("mor", "true").create()
    val expectA = scala.collection.mutable.Set((0L until 50L): _*)
    val expectB = scala.collection.mutable.Set((50L until 100L): _*)

    val ops = 6 + rnd.nextInt(5)
    (1 to ops).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 => // plain append to a main
          val toA = rnd.nextBoolean()
          val lo = nextId
          wave(10 + rnd.nextInt(10))
            .writeTo(s"$cat.${if (toA) "a" else "b"}").append()
          (if (toA) expectA else expectB) ++= (lo until nextId)
        case 1 | 2 => // a two-table txn that COMMITS
          val id = TxnLog.begin(rootF, Seq("a", "b"))
          val loA = nextId
          wave(5 + rnd.nextInt(10)).writeTo(s"$cat.a.branch_txn$id").append()
          val loB = nextId
          wave(5 + rnd.nextInt(10)).writeTo(s"$cat.b.branch_txn$id").append()
          val hiB = nextId
          if (rnd.nextBoolean()) {
            // racing main append INSIDE the commit window: the helper
            // must fold, not CAS backward over the racer
            TxnLog.stageIntents(rootF, id)
            val lo = nextId
            wave(5).writeTo(s"$cat.a").append()
            expectA ++= (lo until nextId)
            TxnLog.publish(rootF, id)
            if (rnd.nextBoolean()) TxnLog.finish(rootF, id)
            // else: crash-shaped — helping heals on the next read
          } else {
            TxnLog.commit(rootF, id)
          }
          expectA ++= (loA until loB)
          expectB ++= (loB until hiB)
        case 3 => // a txn that ABORTS (possibly after staging)
          val id = TxnLog.begin(rootF, Seq("a", "b"))
          wave(5).writeTo(s"$cat.a.branch_txn$id").append()
          wave(5).writeTo(s"$cat.b.branch_txn$id").append()
          if (rnd.nextBoolean()) TxnLog.stageIntents(rootF, id)
          TxnLog.abort(rootF, id)
        case 4 => // CONCURRENT: a committing txn races main appenders
          val id = TxnLog.begin(rootF, Seq("a", "b"))
          val loA = nextId
          wave(8).writeTo(s"$cat.a.branch_txn$id").append()
          val loB = nextId
          wave(8).writeTo(s"$cat.b.branch_txn$id").append()
          val hiB = nextId
          val loRace = nextId
          val race = wave(6)
          expectA ++= (loRace until nextId)
          val pool = Executors.newFixedThreadPool(2)
          var committed = true
          try {
            val f1 = pool.submit(new Callable[Unit] {
              override def call(): Unit = race.writeTo(s"$cat.a").append()
            })
            val f2 = pool.submit(new Callable[Unit] {
              override def call(): Unit = TxnLog.commit(rootF, id)
            })
            f1.get()
            try f2.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              // stageIntents validated against a main the racer moved:
              // refusing loudly is the documented arm — abort, and the
              // txn contributes nothing
              assert(e.getCause.getMessage.contains("moved while txn"),
                s"unexpected txn failure: ${e.getCause.getMessage}")
              TxnLog.abort(rootF, id)
              committed = false
            }
          } finally { pool.shutdown(): Unit }
          if (committed) {
            expectA ++= (loA until loB)
            expectB ++= (loB until hiB)
          }
      }
      // conservation after every op: both tables hold exactly the
      // expected id sets — committed txns' rows present once, aborted
      // txns' rows absent, racers never lost
      val gotA = spark.table(s"$cat.a").select($"doc_id")
        .collect().map(_.getLong(0))
      val gotB = spark.table(s"$cat.b").select($"doc_id")
        .collect().map(_.getLong(0))
      assert(gotA.length == gotA.distinct.length,
        s"[seed=$seed] duplicated rows on a")
      assert(gotA.toSet == expectA.toSet,
        s"[seed=$seed] a: missing=${expectA.diff(gotA.toSet).take(5)} " +
          s"extra=${(gotA.toSet -- expectA).take(5)}")
      assert(gotB.length == gotB.distinct.length,
        s"[seed=$seed] duplicated rows on b")
      assert(gotB.toSet == expectB.toSet,
        s"[seed=$seed] b: missing=${expectB.diff(gotB.toSet).take(5)} " +
          s"extra=${(gotB.toSet -- expectB).take(5)}")
    }
    // the change feed over main's lineage replays every surviving row
    // exactly once — the CDC view of the same conservation claim
    val feed = spark.read.format("graft-ledger")
      .option("changesFrom", "0").load(new File(root, "a").getPath)
    val net = feed.groupBy($"doc_id")
      .agg(sum(when($"_change_type" === "insert", 1L).otherwise(-1L))
        .as("net"))
      .where($"net" > 0).count()
    assert(net == expectA.size.toLong,
      s"[seed=$seed] the feed must net out to the live set")
    ()
  }

  (1 to 3).foreach { seed =>
    test(s"fuzz: txn conservation under commits, aborts, crashes, and racing appends (seed $seed)") {
      runScenario(seed)
    }
  }
}
