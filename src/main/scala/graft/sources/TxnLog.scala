package graft.sources

import java.io.File
import java.util.UUID

/** CROSS-TABLE ATOMIC COMMIT — the catalog-level transaction manifest
  * (s67): a MERGE into one table and its audit append into another land
  * as ONE commit, so no reader can ever observe one without the other.
  * The Delta commit-coordinator / Iceberg multi-table-transaction idea,
  * at ledger scale:
  *
  *   - `begin(root, tables)` forks a WORK BRANCH `txn<id>` on every
  *     participant (branch machinery: metadata-only, main stays
  *     isolated) and records the participant list in
  *     `<root>/_txns/<id>.pending`;
  *   - the client writes through the branch handles — MERGE, append,
  *     MoR delete: everything additive works, with st22/s53 semantics;
  *   - `commit(root, id)` stages a tiny INTENT file inside every
  *     participant's own directory (`_txn_intents/<id>`: the target
  *     version + the txn file's state-less base path), validates the
  *     fast-forward precondition per table, then performs THE ONE
  *     ATOMIC ACT: `rename(<id>.pending → <id>.committed)`. That
  *     rename is the commit point for every participant at once.
  *
  * Visibility: ref resolution HELPS ([[LedgerSource.readRef]] on
  * `main`). A resolver that finds an intent whose txn file is
  * COMMITTED rolls main forward before answering — CAS when main still
  * sits where the txn validated it, idempotent re-commit of the txn
  * head's missing files when a racing append moved main independently
  * (manifests union by `.distinct`, so the retry can never
  * double-count). A PENDING intent is invisible; an intent whose txn
  * file vanished is an aborted leftover and is swept. Because every
  * reader and writer resolves main through the same helping step, the
  * observable state of ALL participants flips at the rename instant —
  * a crash between commit and cleanup only leaves work for the next
  * resolver (lock-free recovery, nobody waits).
  *
  * `Round17OpsSpec` pins the judged property by crashing the
  * coordinator on purpose: after `publish` alone (no cleanup), both
  * tables already read the transaction's rows; before it, neither. */
private[graft] object TxnLog {
  private val TxnsDir = "_txns"
  private[graft] val IntentsDir = "_txn_intents"

  // helping runs inside readRef(main); the roll-forward's own
  // re-commits re-resolve main, which must not re-enter the helper
  private val helping = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  private def txnBase(root: File, id: String): String =
    new File(new File(root, TxnsDir), id).getPath

  private def parseTables(root: File, id: String,
                          state: String): Seq[String] = {
    val f = new File(txnBase(root, id) + state)
    require(f.isFile, s"graft-txn: no $state transaction '$id' at $root")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Start a transaction over `tables`: one work branch each, the
    * participant list durably in `_txns/<id>.pending`. Returns the id
    * (also the work branches' name suffix: `txn<id>`). */
  def begin(root: File, tables: Seq[String]): String = {
    require(tables.nonEmpty && tables.distinct == tables,
      s"graft-txn: participants must be non-empty and distinct: $tables")
    val id = UUID.randomUUID().toString.replace("-", "").take(12)
    val forked = scala.collection.mutable.ArrayBuffer.empty[String]
    try tables.foreach { t =>
      val d = new File(root, t)
      require(d.isDirectory, s"graft-txn: no table '$t' under $root")
      LedgerSource.forkBranch(d.getPath, s"txn$id"): Unit
      forked += t
    } catch {
      case e: Throwable =>
        // a half-opened txn must not leak work branches (they would
        // gate destructive verbs forever with no pending file to abort)
        forked.foreach(t => scala.util.Try(
          LedgerSource.dropRef(new File(root, t).getPath,
            "branch", s"txn$id")))
        throw e
    }
    val tdir = new File(root, TxnsDir)
    tdir.mkdirs()
    java.nio.file.Files.write(new File(txnBase(root, id) + ".pending").toPath,
      tables.mkString("", "\n", "\n").getBytes("UTF-8"))
    id
  }

  /** Stage per-table intents and validate the promotion precondition
    * (main must be the work branch's ancestor — the FF condition; a
    * main that moved means the txn raced a writer: refuse, abort, and
    * retry the transaction). Crash-safe: intents of a still-pending
    * txn are invisible to helpers. */
  private[graft] def stageIntents(root: File, id: String): Unit = {
    val tables = parseTables(root, id, ".pending")
    tables.foreach { t =>
      val d = new File(root, t).getPath
      val headV = LedgerSource.readRefRaw(d, "branch", s"txn$id").getOrElse(
        throw new IllegalStateException(
          s"graft-txn: work branch txn$id of $t vanished"))
      val mainV = LedgerSource.readRef(d, "branch", "main").getOrElse(
        throw new IllegalStateException(s"graft-txn: $t has no main ref"))
      val mainSet = LedgerSource.readManifest(d, mainV).toSet
      require(mainSet.subsetOf(
        LedgerSource.readManifest(d, headV).toSet),
        s"graft-txn: main of $t moved while txn $id was open (v$mainV " +
          s"is not an ancestor of the work branch v$headV) — abort and " +
          s"retry the transaction")
      val idir = new File(new File(root, t), IntentsDir)
      idir.mkdirs()
      // atomic publication of the intent itself: a helper must never
      // read a torn intent (it would either mis-skip or mis-sweep)
      LedgerSource.publish(new File(idir, id),
        s"$headV\n${txnBase(root, id)}\n".getBytes("UTF-8"))
    }
  }

  /** THE COMMIT POINT: one atomic rename makes every participant's
    * intent actionable at the same instant. */
  private[graft] def publish(root: File, id: String): Unit =
    java.nio.file.Files.move(
      new File(txnBase(root, id) + ".pending").toPath,
      new File(txnBase(root, id) + ".committed").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit

  /** Post-commit cleanup — all of it redundant with helping (any
    * resolver finishes a crashed coordinator's work): roll every
    * participant forward, drop work branches, remove the txn file
    * once no intent references it. */
  private[graft] def finish(root: File, id: String): Unit = {
    val tables = parseTables(root, id, ".committed")
    tables.foreach { t =>
      val d = new File(root, t).getPath
      LedgerSource.readRef(d, "branch", "main"): Unit // helps + sweeps
      if (LedgerSource.readRefRaw(d, "branch", s"txn$id").isDefined)
        LedgerSource.dropRef(d, "branch", s"txn$id")
    }
    val leftover = tables.exists(t =>
      new File(new File(new File(root, t), IntentsDir), id).isFile)
    if (!leftover)
      java.nio.file.Files.deleteIfExists(
        new File(txnBase(root, id) + ".committed").toPath): Unit
  }

  def commit(root: File, id: String): Unit = {
    stageIntents(root, id)
    publish(root, id)
    finish(root, id)
  }

  /** Abort: remove any staged intents, the pending file, and the work
    * branches. Refuses once committed — the rename is the point of no
    * return. */
  def abort(root: File, id: String): Unit = {
    require(!new File(txnBase(root, id) + ".committed").isFile,
      s"graft-txn: transaction '$id' already committed — aborts must " +
        s"happen before publish")
    val tables = parseTables(root, id, ".pending")
    tables.foreach { t =>
      java.nio.file.Files.deleteIfExists(
        new File(new File(new File(root, t), IntentsDir), id).toPath): Unit
      val d = new File(root, t).getPath
      if (LedgerSource.readRefRaw(d, "branch", s"txn$id").isDefined)
        LedgerSource.dropRef(d, "branch", s"txn$id")
    }
    java.nio.file.Files.deleteIfExists(
      new File(txnBase(root, id) + ".pending").toPath): Unit
  }

  /** The helping step [[LedgerSource.readRef]] runs on every `main`
    * resolution: committed-but-unrolled intents roll main forward
    * BEFORE anyone builds on the stale value; stale intents (txn file
    * gone = aborted) are swept; pending intents stay invisible. */
  private[sources] def helpIntents(dir: String): Unit = {
    if (helping.get()) return
    val idir = new File(dir, IntentsDir)
    val intents = idir.listFiles()
    if (intents == null || intents.isEmpty) return
    helping.set(true)
    // tmp files are filtered by NAME before any read: a committer's
    // atomic rename can whisk one away between the listing and the
    // read, and a helper that threw on that would fail the resolving
    // READER for a transient it should never have touched — the same
    // reasoning tolerates an intent another helper swept first
    try intents.filter(f => f.isFile && !f.getName.endsWith(".tmp"))
      .foreach { f =>
      val lines =
        try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty)
        catch { case _: java.io.IOException => Array.empty[String] }
      // intents are published atomically, so a malformed one is a
      // stray anomaly: SKIP it (deleting could sweep a live txn's
      // visibility)
      if (lines.length >= 2) {
        val toV = lines(0).toLong
        val base = lines(1)
        if (new File(base + ".committed").isFile) {
          // roll forward — three cases by MANIFEST ancestry, never by
          // version-number order (a racer's independent advance has a
          // larger number but lacks the txn head's files; a blind CAS
          // onto toV would silently lose the racer's rows):
          //   cur ⊇ head  → already folded in, nothing to do;
          //   cur ⊆ head  → cur is the txn's validated ancestor: CAS
          //                 (a lost CAS re-reads and retries);
          //   diverged    → fold the txn head's missing files onto
          //                 main's lineage (idempotent: manifests
          //                 union by .distinct — closeForkRace's
          //                 discipline)
          var guard = 0
          var done = false
          while (!done && guard < 100) {
            guard += 1
            LedgerSource.readRefRaw(dir, "branch", "main") match {
              case None => done = true
              case Some(cur) if cur == toV => done = true
              case Some(cur) =>
                val curSet = LedgerSource.readManifest(dir, cur).toSet
                val headSet = LedgerSource.readManifest(dir, toV).toSet
                if (headSet.subsetOf(curSet)) done = true
                else if (curSet.subsetOf(headSet))
                  done = LedgerSource.casAdvanceRef(
                    dir, "branch", "main", cur, toV)
                else {
                  LedgerSource.refAdditiveCommit(dir, "main",
                    (headSet -- curSet).toSeq): Unit
                  done = true
                }
            }
          }
          f.delete(): Unit
        } else if (!new File(base + ".pending").isFile) {
          // neither committed nor pending: an aborted txn's leftover
          f.delete(): Unit
        } // pending: invisible, leave the intent in place
      }
    } finally helping.set(false)
  }
}
