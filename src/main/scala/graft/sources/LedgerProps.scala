package graft.sources

import java.io.File
import java.nio.file.Files

/** A ledger table's properties, as one parsed snapshot of its `_props`
  * file. [[LedgerProps$ the companion]] is the only code that names,
  * reads or writes that file, and the one statement of what each key
  * accepts.
  *
  * Format: UTF-8 text, one `key=value` line per property, each ending in
  * "\n"; a line's key is everything before its first '='. Setting a key
  * replaces its line and moves it to the end, removing the last key
  * removes the file, and every write publishes the whole file
  * atomically ([[LedgerSource.publish]]).
  *
  * Vocabulary:
  *   - `bucket=<width>` — the doc_id range-bucket width every writer
  *     partitions files by and every scan reports as its
  *     `KeyGroupedPartitioning` transform;
  *   - `mor=true` — row-level verbs write MERGE-ON-READ tombstone files
  *     instead of copy-on-write group rewrites ([[LedgerDeltaOperation]]);
  *     absent means copy-on-write;
  *   - `check=<sql>` — a table-level CHECK constraint the table reports
  *     as ENFORCED, so Spark's analyzer validates every V2 write against
  *     it; `check_name=<name>` names it (default `ledger_check`, the
  *     name a CREATE-time `check` property gets);
  *   - `bloom=<col>` / `zonemap=<col>` — the non-key column every writer
  *     stamps a per-file Bloom / min-max sidecar for (s64 / s71); an
  *     unknown column in the file disables the index instead of failing;
  *   - `mv.<name>=<def>` — a durable materialized view
  *     ([[graft.plans.MvRegistry.formatDef]]), re-registered by a fresh
  *     session's first load of the table. */
final class LedgerProps private (private val dir: String,
                                 private val entries: Seq[(String, String)])
    extends Serializable {
  private def get(key: String): Option[String] =
    entries.collectFirst { case (`key`, v) => v }

  /** Validated on first use, so a malformed line fails the handle that
    * needs the layout, not every reader of the file. */
  lazy val bucket: Option[Long] =
    get("bucket").map(v => LedgerProps.bucket(v.trim, LedgerProps.file(dir).getPath))
  val mor: Boolean = get("mor").contains("true")
  /** The CHECK constraint as `(name, predicate sql)`. */
  val check: Option[(String, String)] =
    get("check").map(_.trim).filter(_.nonEmpty).map { sql =>
      (get("check_name").map(_.trim).getOrElse("ledger_check"), sql)
    }
  /** The declared skip indexes with their columns, in [[SkipIndex.all]]
    * order. */
  val indexes: Seq[(SkipIndex, String)] =
    SkipIndex.all.flatMap(ix => get(ix.prop).filter(LedgerProps.IndexColumns).map(ix -> _))
  /** The definition persisted for materialized view `name`. */
  def mv(name: String): Option[String] = get(s"mv.$name")
  def mvs: Seq[String] = entries.collect { case (k, v) if k.startsWith("mv.") => v }

  /** This snapshot with `key` replaced by `value` (removed when None),
    * a set key moving to the end as in the file: ALTER folds its changes
    * this way, and the path API's `bucket`/`mor` options override the
    * file this way. */
  private[sources] def updated(key: String, value: Option[String]): LedgerProps =
    new LedgerProps(dir, entries.filter(_._1 != key) ++ value.map(key -> _))
}

object LedgerProps {
  private val FileName = "_props"
  private def file(dir: String): File = new File(dir, FileName)

  /** The columns a Bloom or zone-map index may cover: the non-key ones. */
  private val IndexColumns = Set("lang", "n_chars")

  /** The file's non-empty lines, trimmed. */
  private def lines(dir: String): Seq[String] = {
    val f = file(dir)
    if (!f.isFile) Seq.empty
    else new String(Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def read(dir: String): LedgerProps =
    new LedgerProps(dir, lines(dir).filter(_.contains("=")).map { l =>
      val cut = l.indexOf('=')
      l.take(cut) -> l.drop(cut + 1)
    })

  /** Write `after`, a snapshot derived from `before` by `updated`, in
    * one publish — or not at all when it holds the same lines. */
  def publish(before: LedgerProps, after: LedgerProps): Unit =
    if (after.entries != before.entries)
      write(after.dir, after.entries.map { case (k, v) => s"$k=$v" })

  /** Set each `key -> value`, in order, keeping every other line. */
  def set(dir: String, kvs: (String, String)*): Unit =
    write(dir, without(dir, kvs.map(_._1)) ++ kvs.map { case (k, v) => s"$k=$v" })

  def remove(dir: String, keys: String*): Unit = write(dir, without(dir, keys))

  private def without(dir: String, keys: Seq[String]): Seq[String] =
    lines(dir).filterNot(l => keys.exists(k => l.startsWith(s"$k=")))

  private def write(dir: String, ls: Seq[String]): Unit =
    if (ls.isEmpty) Files.deleteIfExists(file(dir).toPath): Unit
    else LedgerSource.publish(file(dir), ls.mkString("", "\n", "\n").getBytes("UTF-8"))

  /** Copy `from`'s file byte for byte to the new table `to` (clone). */
  private[sources] def copy(from: String, to: String): Unit =
    if (file(from).isFile) Files.copy(file(from).toPath, file(to).toPath): Unit

  // ── what each key accepts: the one statement, shared by CREATE, ALTER,
  //    the path-API options and the procedures ──

  /** A width in [1, Int.MaxValue]: the reported `Expressions.bucket(
    * width.toInt, …)` transform truncates to Int, so a wider width
    * would let two tables whose widths differ by a multiple of 2^32
    * report IDENTICAL transforms while bucketing rows differently — a
    * storage-partitioned join would run exchange-free over incompatible
    * layouts and silently lose matches. `where` names the source. */
  private def bucket(v: String, where: String): Long = {
    val w = v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"table property 'bucket' must be a positive integer; got '$v'"))
    require(w > 0 && w <= Int.MaxValue,
      s"graft-ledger bucket width must be in [1, ${Int.MaxValue}] " +
        s"(the reported bucket transform carries it as an Int); " +
        s"got $w from $where")
    w
  }

  private def mor(v: String): Boolean = v.toBooleanOption.getOrElse(
    throw new IllegalArgumentException(
      s"table property 'mor' must be true or false; got '$v'"))

  /** `what` names the predicate's source in the message. */
  def checkSql(sql: String, what: String): String = {
    require(!sql.contains("\n"), s"the $what predicate must be one line")
    sql.trim
  }

  /** `key` is `bloom` or `zonemap`. */
  def indexColumn(key: String, c: String): String = {
    require(IndexColumns(c), s"table property '$key' must name a non-key " +
      s"column (${IndexColumns.toSeq.sorted.mkString(", ")}); got '$c'")
    c
  }

  /** The keys CREATE takes, in the order it validates and writes them;
    * ALTER SET/UNSET takes all but `check`. */
  val Settable: Seq[String] = Seq("bucket", "mor", "check", "bloom", "zonemap")

  /** The line value a settable `key` persists for `v`, or None when the
    * value means "absent" (`mor=false`, a blank `check`). `where` names
    * the source of a bucket width. */
  def parse(key: String, v: String, where: => String): Option[String] = key match {
    case "bucket" => Some(bucket(v, where).toString)
    case "mor" => Some("true").filter(_ => mor(v))
    case "check" => Some(v).filter(_.trim.nonEmpty).map(checkSql(_, "'check'"))
    case _ => Some(indexColumn(key, v))
  }
}
