package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
import org.apache.spark.sql.sources.{AlwaysTrue, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A complete DataSource V2 connector for the "graft ledger" format — a
  * length-delimited binary record file with per-file key statistics.
  * This is the library's custom-source credential: not a wrapper over a
  * built-in format but the full connector surface implemented directly
  * against the `org.apache.spark.sql.connector` API —
  *
  *   - **batch write** (`DataWriterFactory`/`DataWriter`): one file per
  *     task, records streamed through a small buffer, per-file min/max
  *     doc_id + row count folded as rows pass and stamped into the
  *     fixed-offset stats header on close; `SupportsTruncate` makes
  *     `mode("overwrite")` work by having commit remove every ledger
  *     file not in the committed set (task files are UUID-suffixed, so
  *     concurrent attempts never collide and abort can delete its own
  *     output precisely);
  *   - **batch read** (`Batch`/`PartitionReader`): one input partition
  *     per file — the scan parallelism IS the file layout;
  *   - **column pruning** (`SupportsPushDownRequiredColumns`): the
  *     reader materializes only the pruned schema (a skipped string
  *     field is `skipBytes`, never decoded to UTF-8);
  *   - **filter pushdown** (`SupportsPushDownFilters`): comparison
  *     predicates on the `doc_id` key are accepted, evaluated
  *     row-level in the reader, AND — the real scale lever — compiled
  *     to a key interval that prunes WHOLE FILES against the stats
  *     header in `planInputPartitions` (the parquet row-group-skip
  *     idea at file granularity). Pushed filters are still returned to
  *     Spark for re-evaluation, the standard belt-and-braces contract
  *     (`pushFilters` returns its argument), and the scan's
  *     `description` advertises them so `.explain` shows the pushdown;
  *   - **aggregate pushdown** (`SupportsPushDownAggregates`, round 12):
  *     global count/min/max on the key answered entirely from the
  *     stats headers — complete pushdown, zero record decodes — and
  *     declined whenever a key filter or grouping makes headers
  *     inexact;
  *   - **reported statistics** (`SupportsReportStatistics`, round 12):
  *     post-skip sizeInBytes/numRows from the same headers, so
  *     Catalyst auto-broadcasts a small ledger side without a hint;
  *   - **streaming read** (`MicroBatchStream` + admission control +
  *     `SupportsTriggerAvailableNow`, round 12): the offset is the set
  *     of ingested file names, microbatches are the newly-arrived
  *     files under a `maxFilesPerTrigger` read limit, AvailableNow
  *     drains against a prepare-time snapshot, and the microbatch
  *     reader IS the pruned/filtering batch reader;
  *   - **row-level verbs** (round 14): `SupportsDelete` gives DELETE a
  *     metadata/interval fast path (whole-file drops against the stats
  *     header), and `SupportsRowLevelOperations` gives UPDATE / MERGE /
  *     residual DELETEs the copy-on-write group rewrite;
  *   - **merge-on-read** (round 15, `SupportsDelta`, opt-in per table
  *     via `mor=true`): deletes/updates land as TOMBSTONE files
  *     (`.gd`) instead of rewriting whole groups — the write path a
  *     trickle of row updates against large files needs at 100 TB,
  *     where copy-on-write pays file-size × update-frequency write
  *     amplification (why Delta ships deletion vectors and Iceberg
  *     ships MoR). Naive KEY tombstones without per-file sequence
  *     numbers would be unsound (they would keep suppressing a doc_id
  *     after a later rewrite re-lands it); this format gets soundness
  *     WITHOUT sequence numbers by scoping every tombstone to the
  *     immutable FILE NAME it was cut against — a re-landed key lives
  *     in a fresh-named file the tombstone cannot reach, and dangling
  *     sections never apply. Scans apply the overlay executor-side
  *     (sorted per-file key sections, binary-searched); interval
  *     purges fold it into their rewrites; compaction applies and
  *     drops it; version manifests capture `.gd` files so time travel
  *     replays the overlay as of each commit;
  *   - **`_file` metadata column** (`SupportsMetadataColumns`,
  *     round 14): per-row file provenance, partition-constant, hidden
  *     from `SELECT *`; also the row-level write path's required
  *     metadata attribute;
  *   - **time travel** (round 14): every committed mutation stamps a
  *     `_versions/<N>.mf` manifest of the live file set; names denote
  *     immutable content, so `VERSION AS OF` either reconstructs a
  *     version exactly or fails loudly after destructive verbs;
  *   - **table properties** (`_props`: bucket layout, mor mode, CHECK
  *     constraint, Bloom / zone-map columns, durable MVs): read,
  *     validated and written only through [[LedgerProps]], whose doc is
  *     the one description of the file's format and vocabulary.
  *
  * File layout (all little-endian via DataOutput's big-endian writers —
  * endianness is internal to the format, symmetric on read):
  * magic "GLF1" | minDocId i64 | maxDocId i64 | nRows i64 | records…
  * record: doc_id i64 | flags u8 (bit0 lang null, bit1 n_chars null) |
  *         langLen i32 + UTF-8 bytes (if lang non-null) | n_chars i64.
  *
  * Schema is the fixed documents-ledger projection (doc_id BIGINT,
  * lang STRING, n_chars BIGINT) — a single-relation connector, like a
  * system's feed-format reader. `LedgerSourceSpec` pins the file-skip
  * count, the pruned decode, and the plan-visible pushdown;
  * `s16_ledger_roundtrip` judges the full write→read path against
  * DuckDB over the original parquet. */
class LedgerSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ledger"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LedgerSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // time travel through the PATH API (the Delta option spelling —
    // the catalog's VERSION AS OF / TIMESTAMP AS OF twins):
    // `versionAsOf` = a commit id, `timestampAsOf` = epoch millis or a
    // `yyyy-MM-dd HH:mm:ss[.SSS]` instant resolved against the
    // manifest-embedded commit times
    val tablePath = properties.get("path")
    // the path API's `bucket` and `mor` options override the table's
    // properties and take the same values: a bucketed write through
    // `option("bucket", w)` keeps a bucketed directory's layout contract
    // (what lets the compaction procedure preserve
    // storage-partitioned-join eligibility)
    val props = Seq("bucket", "mor").foldLeft(LedgerProps.read(tablePath)) {
      (p, k) => Option(properties.get(k)).fold(p)(v =>
        p.updated(k, LedgerProps.parse(k, v, s"option '$k'")))
    }
    // getTable receives the reader options in ORIGINAL case — match
    // the camelCase spellings case-insensitively like every option
    def opt(key: String): Option[String] = {
      val it = properties.entrySet().iterator()
      var found: Option[String] = None
      while (it.hasNext && found.isEmpty) {
        val e = it.next()
        if (e.getKey.equalsIgnoreCase(key)) found = Option(e.getValue)
      }
      found
    }
    val pinned: Option[Long] =
      opt("versionAsOf").map { v =>
        // a commit id, or a NAMED REF (tag/branch) resolved against
        // `_refs/` — the Iceberg `VERSION AS OF 'name'` spelling
        val ver = v.toLongOption
          .orElse(LedgerSource.resolveRefVersion(tablePath, v))
          .getOrElse(throw new IllegalArgumentException(
            s"graft-ledger: versionAsOf must be a commit id or a " +
              s"tag/branch name; got '$v' (refs: " +
              s"${(LedgerSource.listRefs(tablePath, "tag").keys ++
                LedgerSource.listRefs(tablePath, "branch").keys)
                .toSeq.sorted.mkString(", ")})"))
        require(LedgerSource.listVersions(tablePath).contains(ver),
          s"no version $ver at $tablePath (available: " +
            s"${LedgerSource.listVersions(tablePath).mkString(", ")})")
        ver
      }.orElse(opt("timestampAsOf").map { t =>
        val millis = t.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(t).getTime)
        val candidates = LedgerSource.listVersions(tablePath)
          .filter(v => LedgerSource.commitTimeMillis(tablePath, v) <= millis)
        require(candidates.nonEmpty,
          s"no version of $tablePath existed at or before '$t'")
        candidates.max
      })
    require(opt("versionAsOf").isEmpty || opt("timestampAsOf").isEmpty,
      "graft-ledger: versionAsOf and timestampAsOf are mutually exclusive")
    // the CHANGE FEED spelling (Delta's readChangeFeed): rows that
    // changed in the version interval (changesFrom, changesTo]
    opt("changesFrom") match {
      case Some(fromS) =>
        require(pinned.isEmpty,
          "graft-ledger: changesFrom cannot combine with versionAsOf/timestampAsOf")
        val versions = LedgerSource.listVersions(tablePath)
        // both endpoints take a commit id, a ref name, OR a TIMESTAMP
        // string (Delta's startingTimestamp): `changesTo = 'dev'` is
        // the branch-lineage feed (the planner walks the #parent
        // chain), and a timestamp resolves — via the same `#ts=`
        // manifest instants timestampAsOf uses — to the last version
        // at or before it, i.e. "changes AFTER the state as of T" for
        // changesFrom. Timestamps are strings only (a bare long is a
        // commit id), and a pre-genesis FROM is the feed from 0.
        def endpoint(which: String, s0: String): Long =
          s0.toLongOption
            .orElse(LedgerSource.resolveRefVersion(tablePath, s0))
            .orElse(scala.util.Try(
                java.sql.Timestamp.valueOf(s0).getTime).toOption
              .map { millis =>
                val c = versions.filter(v =>
                  LedgerSource.commitTimeMillis(tablePath, v) <= millis)
                if (c.nonEmpty) c.max
                else {
                  require(which == "changesFrom",
                    s"graft-ledger: no version of $tablePath existed " +
                      s"at or before '$s0'")
                  0L
                }
              })
            .getOrElse(throw new IllegalArgumentException(
              s"graft-ledger: $which must be a commit id, a " +
                s"tag/branch name, or a timestamp; got '$s0'"))
        val from = endpoint("changesFrom", fromS)
        // default head: MAIN's ref on a branched table (the chain head
        // may belong to any lineage), the chain head otherwise
        val to = opt("changesTo").map(endpoint("changesTo", _))
          .orElse(LedgerSource.readRef(tablePath, "branch", "main"))
          .getOrElse(versions.lastOption.getOrElse(0L))
        require(from >= 0 && (from == 0 || versions.contains(from)),
          s"no version $from at $tablePath")
        // an EMPTY interval (from == to) is a legitimate feed of zero
        // changes — what a STREAM started at the current head sees
        // before the next commit arrives
        require(to == from || (versions.contains(to) && to > from),
          s"graft-ledger: need versions ($from, $to] at $tablePath " +
            s"(available: ${versions.mkString(", ")})")
        // a STREAM follows a LIVE frontier: the named branch when
        // changesTo is a branch ref, main on a branched table, else
        // the chain head (batch reads keep the fixed `to` endpoint)
        val followRef = opt("changesTo") match {
          case Some(s0) if s0.toLongOption.isEmpty &&
            LedgerSource.readRef(tablePath, "branch", s0).isDefined =>
            Some(s0)
          case None if LedgerSource
            .readRef(tablePath, "branch", "main").isDefined => Some("main")
          case _ => None
        }
        new LedgerChangesTable(tablePath, from, to, followRef)
      case None =>
        // once the table has branched, the live listing holds every
        // lineage's files — unpinned handles read/write through the
        // implicit main ref; an explicit `branch` option addresses a
        // named branch through the path API
        val branchOpt = opt("branch")
        val mainRef =
          if (pinned.isEmpty && branchOpt.isEmpty &&
              LedgerSource.readRef(tablePath, "branch", "main").isDefined)
            Some("main")
          else None
        new LedgerTable(tablePath, props, pinnedVersion = pinned,
          ref = branchOpt.orElse(mainRef))
    }
  }
  override def supportsExternalMetadata(): Boolean = false
}

object LedgerSource {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))
  private[sources] val Magic = 0x474C4631 // "GLF1"
  private[sources] val StatsOffset = 4L
  /** Name of the `_file` metadata column (SupportsMetadataColumns). */
  private[graft] val FileColumn = "_file"
  /** Name of the `_pos` metadata column: a row's PHYSICAL ordinal
    * within its ledger file (0-based, counted over every stored record
    * — dead or filtered rows still occupy their ordinal, so the value
    * is a stable address into immutable file content). `( _file, _pos )`
    * identifies a row without any key — the coordinate position-scoped
    * deletes are cut against. */
  private[graft] val PosColumn = "_pos"

  private[graft] def ledgerFiles(dir: String): Array[File] = {
    val d = new File(dir)
    // a MISSING path lists as empty here (reads fail fast in
    // planInputPartitions via requireDir instead), but a directory that
    // EXISTS and still won't list (IO/permission failure — the only way
    // listFiles() returns null once isDirectory passed) must throw:
    // silently scanning it as empty would defeat the fail-fast intent
    if (!d.isDirectory) Array.empty
    else Option(d.listFiles()).getOrElse(
        throw new IllegalStateException(
          s"graft-ledger: directory exists but cannot be listed: $dir"))
      .filter(f => f.isFile && f.getName.endsWith(".gl"))
      .sortBy(_.getName)
  }

  /** One file's stats header (minDocId, maxDocId, nRows) — the 28-byte
    * metadata read shared by the file-skip test and the pushed-aggregate
    * path; record bytes are never touched. */
  private[graft] def readStats(f: File): (Long, Long, Long) = {
    val in = new DataInputStream(new FileInputStream(f))
    try {
      require(in.readInt() == Magic, s"${f.getName}: not a ledger file")
      (in.readLong(), in.readLong(), in.readLong())
    } finally in.close()
  }

  private[sources] def requireDir(path: String): Unit =
    require(new File(path).isDirectory,
      s"graft-ledger: path does not exist or is not a directory: $path")

  /** Publish `bytes` at `target` atomically: written to a uniquely named
    * `.tmp` sibling, then renamed over the target, so a reader sees the
    * old content or the new, never a torn file. */
  private[sources] def publish(target: File, bytes: Array[Byte]): Unit = {
    val tmp = new File(target.getParentFile,
      s"${target.getName}.${UUID.randomUUID()}.tmp")
    java.nio.file.Files.write(tmp.toPath, bytes)
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  // ── delete files (merge-on-read) ──
  //
  // A `.gd` file is a set of TOMBSTONES, each scoped to one data FILE:
  // sections of (data file name, sorted deleted doc_ids). Scoping by
  // file name is what makes merge-on-read sound WITHOUT Iceberg's
  // sequence numbers: ledger file names denote immutable content and
  // every rewrite/compaction/append lands under a FRESH name, so a
  // tombstone can only ever suppress rows of the exact file it was cut
  // against — a key re-landed later lives in a new file the tombstone
  // cannot name. Sections whose data file has since been rewritten or
  // dropped simply never apply (and compaction clears them).
  //
  // Layout: magic "GDF1" | totalKeys i64 | nSections i32 |
  //         sections: nameLen i32, name UTF-8, nKeys i32, keys i64…
  // (keys sorted ascending within a section — readers binary-search).
  //
  // POSITION deletes (round 17 — Iceberg's position-delete form, the
  // one that works WITHOUT a key): the same section layout under a
  // `.gp` extension and "GPF1" magic, except the longs are ROW
  // ORDINALS within the named file (the `_pos` metadata column's
  // value), not doc_ids. File-name scoping makes positions sound for
  // free: ordinals address immutable file content, and every rewrite
  // lands under a fresh name the old section cannot reach — so any
  // verb that REWRITES a file must apply its position overlay during
  // the copy or dead rows would resurrect (the same resurrection rule
  // key tombstones already obey).
  private[sources] val DeleteMagic = 0x47444631 // "GDF1"
  private[sources] val PositionDeleteMagic = 0x47504631 // "GPF1"

  /** Both overlay kinds: key tombstones (`.gd`) and position deletes
    * (`.gp`). Listed together because every LIFECYCLE sweep (commit
    * listing snapshots, clone links, converge/expire reclamation, the
    * scan's live overlay set) treats them identically — only the
    * APPLICATION differs, and readers dispatch on extension. */
  private[graft] def deleteFiles(dir: String): Array[File] = {
    val d = new File(dir)
    if (!d.isDirectory) Array.empty
    else Option(d.listFiles()).getOrElse(
        throw new IllegalStateException(
          s"graft-ledger: directory exists but cannot be listed: $dir"))
      .filter(f => f.isFile &&
        (f.getName.endsWith(".gd") || f.getName.endsWith(".gp")))
      .sortBy(_.getName)
  }

  private def writeSectionsFile(dir: String, name: String, magic: Int,
                                sections: Map[String, Array[Long]]): String = {
    val sorted = sections.toSeq.sortBy(_._1)
      .map { case (f, ks) => (f, ks.distinct.sorted) }
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(new File(new File(dir), name)), 1 << 16))
    try {
      out.writeInt(magic)
      out.writeLong(sorted.map(_._2.length.toLong).sum)
      out.writeInt(sorted.length)
      sorted.foreach { case (f, ks) =>
        val b = f.getBytes("UTF-8")
        out.writeInt(b.length); out.write(b)
        out.writeInt(ks.length)
        ks.foreach(out.writeLong)
      }
    } finally out.close()
    name
  }

  /** Land one task's tombstones as a fresh `.gd` file; returns its name.
    * Keys are deduped and sorted per section (the reader's binary-search
    * contract). */
  private[graft] def writeDeleteFile(
      dir: String, sections: Map[String, Array[Long]]): String =
    writeSectionsFile(dir,
      s"delete-${UUID.randomUUID().toString.take(8)}.gd",
      DeleteMagic, sections)

  /** Land position deletes as a fresh `.gp` file; same section shape,
    * longs are row ordinals of the named file. */
  private[graft] def writePositionDeleteFile(
      dir: String, sections: Map[String, Array[Long]]): String =
    writeSectionsFile(dir,
      s"posdelete-${UUID.randomUUID().toString.take(8)}.gp",
      PositionDeleteMagic, sections)

  private def requireOverlayMagic(m: Int, what: String): Unit =
    require(m == DeleteMagic || m == PositionDeleteMagic,
      s"$what: not a delete/position-delete file")

  /** Header-only dead-row count (stats estimation) — key tombstones
    * and position deletes both subtract live rows, so either magic
    * answers. */
  private[graft] def tombstoneTotal(f: File): Long = {
    val in = new DataInputStream(new FileInputStream(f))
    try {
      requireOverlayMagic(in.readInt(), f.getName)
      in.readLong()
    } finally in.close()
  }

  /** The merged tombstone set for ONE data file, read from `paths` —
    * the executor-side application path: sections for other files are
    * `skipBytes`, never materialized, so a task's cost is its own keys
    * plus section headers. Returns a sorted array (binary-search
    * membership), or null when nothing applies. */
  private[graft] def tombstonesFor(paths: Seq[String],
                                   dataFile: String): Array[Long] =
    sectionValuesFor(paths.filter(_.endsWith(".gd")), dataFile)

  /** The merged POSITION set for one data file — same shape as
    * [[tombstonesFor]], over the `.gp` members of the shipped overlay:
    * sorted row ordinals the reader kills by physical position. */
  private[graft] def positionsFor(paths: Seq[String],
                                  dataFile: String): Array[Long] =
    sectionValuesFor(paths.filter(_.endsWith(".gp")), dataFile)

  private def sectionValuesFor(paths: Seq[String],
                               dataFile: String): Array[Long] = {
    val buf = ArrayBuffer.empty[Long]
    paths.foreach { p =>
      readSections(new File(p), _ == dataFile)(requireOverlayMagic(_, p))
        .foreach(buf ++= _._2)
    }
    // sorted DISTINCT: several overlay files may name one value (e.g. a
    // key deleted again after partial compaction lineage) — membership
    // via binary search is unaffected, but the distinct contract lets
    // callers count dead rows from the array length directly
    if (buf.isEmpty) null
    else {
      val a = buf.distinct.toArray
      java.util.Arrays.sort(a)
      a
    }
  }

  /** The one reader of the `.gd`/`.gp` section layout: the header magic
    * (checked by `checkMagic` before anything else is read), the total
    * value count, then per section the data file's name and its longs.
    * Returns the sections `want` selects, in stored order; every other
    * section is `skipBytes`-ed, never materialized, so the executor-side
    * application path costs its own values plus section headers. */
  private[sources] def readSections(f: File, want: String => Boolean = _ => true)(
      checkMagic: Int => Unit = requireOverlayMagic(_, f.getName))
      : Seq[(String, Array[Long])] = {
    val out = ArrayBuffer.empty[(String, Array[Long])]
    val in = new DataInputStream(
      new java.io.BufferedInputStream(new FileInputStream(f), 1 << 16))
    try {
      checkMagic(in.readInt())
      in.skipBytes(8)
      val nSections = in.readInt()
      var i = 0
      while (i < nSections) {
        val nameBytes = new Array[Byte](in.readInt()); in.readFully(nameBytes)
        val name = new String(nameBytes, "UTF-8")
        val nKeys = in.readInt()
        if (want(name)) {
          val ks = new Array[Long](nKeys)
          var k = 0
          while (k < nKeys) { ks(k) = in.readLong(); k += 1 }
          out += ((name, ks))
        } else in.skipBytes(nKeys * 8)
        i += 1
      }
    } finally in.close()
    out.toSeq
  }

  /** Every live tombstone, grouped by data file — the DRIVER-side read
    * the purge/rewrite verbs use so a clipped file's rewrite never
    * resurrects merge-on-read-deleted rows. */
  private[sources] def deleteOverlay(dir: String): Map[String, Array[Long]] =
    overlayOf(dir, ".gd")

  /** Every live POSITION delete, grouped by data file — the rewrite
    * verbs consult this beside [[deleteOverlay]]: a rewritten file's
    * fresh name detaches its old ordinals, so the copy must drop them
    * itself. */
  private[sources] def positionOverlay(dir: String): Map[String, Array[Long]] =
    overlayOf(dir, ".gp")

  private def overlayOf(dir: String,
                        ext: String): Map[String, Array[Long]] =
    deleteFiles(dir).filter(_.getName.endsWith(ext)).toSeq
      .flatMap(readSections(_)()).groupBy(_._1).map { case (n, secs) =>
        val a = secs.flatMap(_._2).toArray; java.util.Arrays.sort(a); (n, a)
      }

  // ── version manifests (time travel) ──
  //
  // Every committed mutation (batch write, row-level replace, delete,
  // truncate) records the table's live file set as `_versions/<N>.mf`.
  // Ledger files are immutable under their names (rewrites land under
  // FRESH names), so a manifest is a complete, trustworthy snapshot:
  // either all its files still exist and the version reconstructs
  // exactly, or resolution fails loudly — it can never silently read
  // different rows. History costs one tiny listing file per commit;
  // files removed by later mutations are unlinked immediately (no undo
  // log), so old versions survive APPEND-ONLY history and dangle after
  // destructive verbs — the same contract as a vacuumed Delta table.
  private[graft] val VersionsDir = "_versions"

  private[graft] def listVersions(dir: String): Seq[Long] = {
    val vdir = new File(dir, VersionsDir)
    Option(vdir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".mf"))
      .flatMap(f => f.getName.stripSuffix(".mf").toLongOption)
      .sorted.toSeq
  }

  private[graft] def readManifest(dir: String, v: Long): Array[String] = {
    val mf = new File(new File(dir, VersionsDir), s"$v.mf")
    require(mf.isFile, s"graft-ledger: no version $v at $dir " +
      s"(available: ${listVersions(dir).mkString(", ")})")
    val text = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    // '#'-prefixed lines are manifest METADATA (the commit timestamp),
    // not file names; pre-r15 manifests have none and parse identically
    text.split("\n").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** The commit instant of version `v`, millis since epoch — read from
    * the manifest's own `#ts=` header so `TIMESTAMP AS OF` resolution
    * survives a directory copy / backup-restore / coarse-mtime
    * filesystem (file mtimes do not). Manifests written before the
    * header existed fall back to their mtime, the best remaining
    * evidence. */
  private[graft] def commitTimeMillis(dir: String, v: Long): Long = {
    val mf = new File(new File(dir, VersionsDir), s"$v.mf")
    require(mf.isFile, s"graft-ledger: no version $v at $dir")
    val text = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    text.split("\n").map(_.trim).collectFirst {
      case l if l.startsWith("#ts=") => l.stripPrefix("#ts=").toLong
    }.getOrElse(mf.lastModified())
  }

  /** The LINEAGE parent of version `v` — the `#parent=` header a
    * round-15 commit stamps (its ref's head for a ref-scoped commit);
    * manifests written before the header existed are numeric-chain
    * history by construction (no branches existed), so `v − 1` is
    * their true parent. */
  private[graft] def parentVersion(dir: String, v: Long): Long = {
    val mf = new File(new File(dir, VersionsDir), s"$v.mf")
    require(mf.isFile, s"graft-ledger: no version $v at $dir " +
      s"(available: ${listVersions(dir).mkString(", ")})")
    val text = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    text.split("\n").map(_.trim).collectFirst {
      case l if l.startsWith("#parent=") => l.stripPrefix("#parent=").toLong
    }.getOrElse(v - 1)
  }

  /** Can the change feed reconstruct `(fromV, head]`? The MV rewrite's
    * eligibility gate: a destructive commit in the interval (rewrite /
    * purge / compaction / expiry) destroyed before-images, so the
    * rewritten query would refuse where the base scan succeeds — the
    * rule must fall back to the base instead. Driver-side manifest
    * walks only. */
  private[graft] def changeFeedReconstructs(dir: String,
                                            fromV: Long): Boolean =
    scala.util.Try {
      val head = readRef(dir, "branch", "main")
        .getOrElse(listVersions(dir).lastOption.getOrElse(0L))
      LedgerChangesScan.changePartitions(dir, fromV, head)
    }.isSuccess

  /** Does the reconstructable window `(fromV, head]` contain any DELETE
    * content — a `.gd` tombstone commit (MoR deletes, and the delete
    * half of MoR updates)? The MV rewrite's extremum gate: min/max fold
    * forward over inserts but are not retraction-maintainable, so any
    * delete in the window refuses the rewrite for queries that ask for
    * them. An unreconstructable window answers `true` — unknown is
    * unsafe (the reconstructs gate falls the query back anyway). */
  private[graft] def changeWindowHasDeletes(dir: String,
                                            fromV: Long): Boolean =
    scala.util.Try {
      val head = readRef(dir, "branch", "main")
        .getOrElse(listVersions(dir).lastOption.getOrElse(0L))
      LedgerChangesScan.changePartitions(dir, fromV, head)
        .exists(_.asInstanceOf[LedgerChangePartition].isDelete)
    }.getOrElse(true)

  /** The FORK POINT of two lineages: the latest commit on both `#parent`
    * chains (0 = the empty pre-history when they share nothing). The
    * git merge-base, computed the same way — collect one side's
    * ancestors, walk the other until it lands in the set. Cost is two
    * tiny header reads per commit, bounded by chain length. */
  private[graft] def commonAncestor(dir: String, a: Long, b: Long): Long = {
    val ancestors = scala.collection.mutable.Set(0L)
    var c = a
    while (c > 0) {
      ancestors += c
      val p = parentVersion(dir, c)
      require(p < c, s"graft-ledger: corrupt parent chain at $c of $dir")
      c = p
    }
    var d = b
    while (d > 0 && !ancestors.contains(d)) {
      val p = parentVersion(dir, d)
      require(p < d, s"graft-ledger: corrupt parent chain at $d of $dir")
      d = p
    }
    d
  }

  /** Stamp the CURRENT live file set as the next version, claiming the
    * version number by OPTIMISTIC CONCURRENCY (round 15): the manifest
    * content is written to a private temp file, then published under
    * `<next>.mf` with `Files.createLink` — hard-link creation is the
    * one POSIX primitive that is both atomic and EXCLUSIVE (a plain
    * rename(2), the previous implementation, silently REPLACES an
    * existing target: two committers racing to the same version number
    * would both "succeed" and one manifest — one commit's visibility —
    * would be lost). A loser re-lists and retries at the next number;
    * the append-commute invariant makes the retry sound: a winner's
    * data files are on disk BEFORE its commit runs, so the loser's
    * fresh listing is a superset of every claimed predecessor's and
    * append manifests grow monotonically (`ConcurrentCommitSpec` pins
    * this under a real thread race). Destructive verbs (truncate,
    * purge, row-level rewrites) keep the documented single-committer
    * contract — OCC here makes the VERSION CHAIN corruption-free, not
    * their semantics commutative.
    *
    * PRECISE SNAPSHOTS for additive commits: a commit that only ADDS
    * files (append, MoR delta) passes its file names in `added`, and
    * its manifest is `predecessor manifest ∪ added` — never the live
    * directory listing, which under a race would capture a STILL
    * IN-FLIGHT neighbor's files and misattribute them to this version
    * (time travel to N would show rows commit N+1 owns, and the change
    * feed's per-version diff would double-count). Destructive verbs
    * (truncate, purge, row-level rewrites — single-committer by
    * contract) keep the listing snapshot: they mutate the live set in
    * ways only the listing reflects.
    *
    * The commit instant is persisted INSIDE the manifest (`#ts=`
    * header): mtimes are not content, and a copied/restored table must
    * keep resolving `TIMESTAMP AS OF` to the same versions. */
  private[sources] def commitVersion(dir: String,
                                     added: Option[Seq[String]] = None,
                                     base: Option[Long] = None): Long = {
    val vdir = new File(dir, VersionsDir)
    vdir.mkdirs()
    var attempt = 0
    var claimed = -1L
    while (claimed < 0) {
      val prev = listVersions(dir).lastOption
      val next = prev.getOrElse(0L) + 1
      // strictly monotonic past the predecessor: two commits inside one
      // clock tick must stay distinguishable to TIMESTAMP AS OF
      val ts = math.max(System.currentTimeMillis(),
        prev.map(commitTimeMillis(dir, _) + 1).getOrElse(Long.MinValue))
      // the commit's LINEAGE parent (its ref's head for a ref-scoped
      // commit, the chain head otherwise) — what lets the change feed
      // walk ONE lineage through a chain that interleaves several
      val parent = base.orElse(prev).getOrElse(0L)
      val header = s"#ts=$ts\n#parent=$parent"
      // temp name carries a UUID: concurrent losers must never share it
      val tmp = new File(vdir, s"$next.mf.${UUID.randomUUID()}.tmp")
      // the live state is data files PLUS delete files: a merge-on-read
      // version only reconstructs with the tombstones that existed then.
      // Recomputed per retry attempt: a loser's predecessor changed.
      // A ref-scoped (branch) commit builds on its REF's manifest
      // (`base`), not the chain head: the chain is shared, lineage is
      // per ref — exactly Iceberg's snapshots-vs-refs split.
      val names: Seq[String] = added match {
        case Some(mine) if base.orElse(prev).isDefined =>
          (readManifest(dir, base.getOrElse(prev.get)).toSeq ++ mine).distinct
        // first commit ever: anchor the chain from the listing (which
        // already contains `mine` — files land before commit)
        case _ => ledgerFiles(dir).map(_.getName).toSeq ++
          deleteFiles(dir).map(_.getName).toSeq
      }
      java.nio.file.Files.write(tmp.toPath,
        (header +: names).mkString("\n").getBytes("UTF-8"))
      try {
        java.nio.file.Files.createLink(
          new File(vdir, s"$next.mf").toPath, tmp.toPath)
        claimed = next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          require(attempt < 1000,
            s"graft-ledger: lost the commit race at $dir $attempt times " +
              s"— giving up rather than spinning")
      } finally {
        tmp.delete(): Unit
      }
    }
    claimed
  }

  /** A manifest resolved against the live directory: every listed file
    * must still exist (names are immutable content, so existence is
    * sufficient), else the version is gone and says so. */
  private[sources] def resolvePinned(dir: String, v: Long): Array[File] = {
    val names = readManifest(dir, v)
    val files = names.map(n => new File(new File(dir), n))
    val missing = files.filterNot(_.isFile)
    require(missing.isEmpty,
      s"graft-ledger: version $v is no longer reconstructable — " +
        s"${missing.length} of its files were removed by later " +
        s"deletes/rewrites/compaction (the ledger keeps no undo log): " +
        missing.map(_.getName).mkString(", "))
    files
  }

  // ── named refs: TAGS and BRANCHES (round 15) ──
  //
  // A ref is a tiny `_refs/<kind>.<name>` file holding a version number
  // — a NAME for a point in the one shared version chain (Iceberg's
  // refs over snapshots, git's refs over commits). A TAG is immutable
  // observability: `VERSION AS OF 'name'` resolution, nothing more. A
  // BRANCH is a writable lineage: appends through a branch handle
  // commit new versions whose manifests extend the BRANCH head (not the
  // chain head) and then advance the ref — data files all live in the
  // one directory, so a fork is METADATA-ONLY (zero bytes copied, the
  // only branch a 100 TB table can afford) and isolation is purely
  // which manifest a reader resolves. Creating the first branch also
  // pins an implicit `branch.main`: from then on unpinned reads resolve
  // through main's ref instead of the live listing (branch files share
  // the directory), appends to main advance it, and DESTRUCTIVE verbs
  // are refused while branches exist — they unlink files other refs'
  // manifests reference. One writer per REF at a time (the OCC claim
  // keeps the shared chain itself corruption-free under racing refs).
  private[graft] val RefsDir = "_refs"
  // never purely numeric (would shadow commit ids in VERSION AS OF)
  private[sources] val RefNameRe = "[A-Za-z_][A-Za-z0-9_-]*".r

  /** A ref's on-disk form encodes its VALUE in the file NAME —
    * `_refs/<kind>.<name>.v<version>` (the file itself is an empty
    * marker). The point is [[casAdvanceRef]]: POSIX `rename(2)` of the
    * value-named file is the one widely-portable primitive that is an
    * atomic COMPARE-and-swap on the value (the move fails iff the
    * source name — i.e. the expected current value — is gone), which
    * upgrades refs from last-writer-wins to LOST-UPDATE-FREE under
    * concurrent advancement. Ref names exclude dots, so the `.v`
    * split is unambiguous. */
  private[sources] def refFile(dir: String, kind: String, name: String,
                               v: Long): File =
    new File(new File(dir, RefsDir), s"$kind.$name.v$v")

  private[sources] def validRefName(name: String): String = {
    require(RefNameRe.pattern.matcher(name).matches(),
      s"graft-ledger: invalid ref name '$name' (want " +
        s"[A-Za-z_][A-Za-z0-9_-]*)")
    name
  }

  private[graft] def readRef(dir: String, kind: String,
                             name: String): Option[Long] = {
    // cross-table transactions (s67): resolving MAIN first HELPS any
    // committed-but-unrolled txn intent forward, so no reader or
    // writer can build on a main that predates a committed txn — the
    // lock-free "helping" discipline; a cheap no-op (one missing-dir
    // stat) on tables that never saw a transaction
    if (kind == "branch" && name == "main") TxnLog.helpIntents(dir)
    readRefRaw(dir, kind, name)
  }

  private[sources] def readRefRaw(dir: String, kind: String,
                                  name: String): Option[Long] = {
    val rdir = new File(dir, RefsDir)
    val prefix = s"$kind.$name.v"
    val vs = Option(rdir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith(prefix))
      .flatMap(_.getName.stripPrefix(prefix).toLongOption)
    // atomic moves keep exactly one value file per ref; max is the
    // defensive tiebreak for a torn external copy of the directory
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Unconditional SET — the ref-CREATION verbs' spelling (create_tag,
    * create_branch, the main pin): single-actor by those verbs'
    * contracts. Concurrent ADVANCEMENT goes through [[casAdvanceRef]],
    * never through this.
    *
    * The stale-value sweep removes only files STRICTLY OLDER than the
    * value being set: a casAdvanceRef racing this write (e.g. an append
    * CAS-advancing the just-pinned `main`) may have already renamed our
    * fresh file forward, and a delete-all-siblings sweep would unlink
    * that advanced value — losing the ref entirely. Every writeRef
    * caller sets a value at or above the ref's prior one (ref creation,
    * or a commit the caller itself just claimed), so an OLDER sibling
    * is always a superseded value, and a NEWER one is a concurrent
    * advancement that must win — which is also how [[readRef]]'s max()
    * tiebreak resolves the pair if both briefly coexist. */
  private[graft] def writeRef(dir: String, kind: String, name: String,
                              v: Long): Unit = {
    validRefName(name)
    val rdir = new File(dir, RefsDir)
    rdir.mkdirs()
    val fresh = refFile(dir, kind, name, v)
    java.nio.file.Files.write(fresh.toPath, Array.empty[Byte])
    val prefix = s"$kind.$name.v"
    Option(rdir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith(prefix) &&
        f.getName.stripPrefix(prefix).toLongOption.exists(_ < v))
      .foreach(_.delete())
  }

  /** Atomic compare-and-swap of a ref: advance `kind.name` from `from`
    * to `to` iff its current value IS `from`. Returns false when a
    * concurrent writer moved it first — the caller re-reads and
    * retries (additive commits) or refuses loudly (human verbs like
    * fast_forward/merge, where a moved ref means the precondition was
    * validated against a stale head). */
  private[sources] def casAdvanceRef(dir: String, kind: String, name: String,
                                     from: Long, to: Long): Boolean = {
    if (from == to) return true
    try {
      java.nio.file.Files.move(
        refFile(dir, kind, name, from).toPath,
        refFile(dir, kind, name, to).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case _: java.nio.file.NoSuchFileException => false
    }
  }

  private[sources] def dropRef(dir: String, kind: String, name: String): Unit = {
    val v = readRef(dir, kind, name).getOrElse(
      throw new IllegalArgumentException(
        s"graft-ledger: no $kind '$name' at $dir"))
    val f = refFile(dir, kind, name, v)
    require(f.delete(), s"graft-ledger: cannot remove ref ${f.getPath}")
  }

  /** All refs of a kind, `name -> version`. */
  private[graft] def listRefs(dir: String, kind: String): Map[String, Long] = {
    val rdir = new File(dir, RefsDir)
    Option(rdir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith(s"$kind."))
      .flatMap { f =>
        val rest = f.getName.stripPrefix(s"$kind.")
        val cut = rest.lastIndexOf(".v")
        if (cut <= 0) None
        else rest.drop(cut + 2).toLongOption.map(v => rest.take(cut) -> v)
      }
      // one value file per ref under atomic moves; max = defensive
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).max }
  }

  /** EVERY additive commit (append, MoR delta) funnels here. A handle
    * with a ref — or an unbranched handle on a table that has gained
    * `main` since load (the mid-flight-fork race) — takes the ref-CAS
    * loop. A genuinely unbranched commit claims on the chain, then
    * RE-CHECKS for a fork that landed inside its claim window: if the
    * new main pin is exactly our parent, CAS-advancing it to us makes
    * the commit visible (our manifest extends the pin's); any other
    * pin missed us, so the same files re-commit onto main's lineage
    * and the chain claim dangles as a dead side commit. Net effect:
    * no interleaving of appends and create_branch can silently lose
    * rows — the scenario where two individually-legal operations
    * orphaned a commit is closed from BOTH sides without asking
    * writers to quiesce: here when the commit's re-check sees the pin,
    * and by [[closeForkRace]] (the brancher's post-pin sweep) when the
    * re-check ran before the pin was visible. */
  private[sources] def additiveCommit(dir: String, ref: Option[String],
                                      added: Seq[String]): Long =
    ref.orElse(if (readRef(dir, "branch", "main").isDefined) Some("main")
               else None) match {
      case Some(r) => refAdditiveCommit(dir, r, added)
      case None =>
        val v = commitVersion(dir, Some(added), None)
        readRef(dir, "branch", "main") match {
          case None => v // still unbranched: a later fork pins at >= v
          case Some(m) if m == parentVersion(dir, v) &&
              casAdvanceRef(dir, "branch", "main", m, v) => v
          case Some(_) => refAdditiveCommit(dir, "main", added)
        }
    }

  /** The LOST-UPDATE-FREE additive commit onto a ref: re-read the ref,
    * commit `added` on ITS manifest, CAS-advance — retry on a lost
    * race. A loser's claimed version becomes a DEAD SIDE COMMIT: its
    * manifest references only files the retry re-commits onto the
    * ref's lineage (never double-counted — lineage walks follow
    * `#parent`, and converge's keep-set is the ref manifest that
    * includes the files), so concurrent appends to ONE branch are now
    * safe, not just concurrent appends to the chain. */
  private[sources] def refAdditiveCommit(dir: String, ref: String,
                                         added: Seq[String]): Long = {
    var attempts = 0
    while (true) {
      val base = readRef(dir, "branch", ref).getOrElse(
        throw new IllegalStateException(
          s"graft-ledger: branch '$ref' of $dir vanished mid-commit"))
      val v = commitVersion(dir, Some(added), Some(base))
      if (casAdvanceRef(dir, "branch", ref, base, v)) return v
      attempts += 1
      require(attempts < 100,
        s"graft-ledger: lost the '$ref' ref race at $dir $attempts " +
          s"times — giving up rather than spinning")
    }
    -1L // unreachable
  }

  /** FORK-SIDE closure of the mid-flight create_branch race (the
    * commit side closes its half in [[additiveCommit]]'s re-check).
    * The remaining interleaving: an unbranched append claims chain
    * version v, re-checks `main`, sees NO pin yet (create_branch has
    * read the head but not written the pin), returns success — then
    * the pin lands BELOW v, orphaning a commit whose writer believes
    * it visible. Dekker-style, the brancher re-reads the chain AFTER
    * its pin is visible: every such orphan committed before the pin
    * write (its re-check preceded it), so this sweep is guaranteed to
    * see it. Each chain commit above the fork whose files `main`'s
    * manifest misses gets its missing files re-committed onto main's
    * lineage. Folding a commit whose own writer is still mid-flight
    * (post-pin, it will land the same files via the ref path) is
    * IDEMPOTENT: manifests union by `.distinct`
    * ([[commitVersion]]), so a second commit of the same names adds
    * nothing and the change feed's per-version file-set diff shows
    * zero rows for it. The guard bound is safe to hit: anything still
    * uncovered after it is a post-pin commit whose writer sees the
    * pin and lands it itself. */
  private[graft] def closeForkRace(dir: String, pinned: Long): Unit = {
    var guard = 0
    while (guard < 1000) {
      guard += 1
      val mainV = readRef(dir, "branch", "main").getOrElse(pinned)
      val mainSet = readManifest(dir, mainV).toSet
      listVersions(dir).filter(_ > pinned)
        .find(v => !readManifest(dir, v).forall(mainSet.contains)) match {
        case None => return
        case Some(v) =>
          val missing = readManifest(dir, v).filterNot(mainSet.contains)
          refAdditiveCommit(dir, "main", missing.toSeq): Unit
      }
    }
  }

  /** Fork a writable branch at the current main head — create_branch's
    * engine half, shared with [[TxnLog]] (transaction work branches):
    * pins the implicit `main` ref on first fork and closes the
    * fork-side race. Returns the fork head. */
  private[graft] def forkBranch(dir: String, name: String): Long = {
    validRefName(name)
    require(name != "main", "'main' is the implicit trunk ref")
    require(resolveRefVersion(dir, name).isEmpty,
      s"a tag or branch named '$name' already exists at $dir — " +
        s"names share one resolution namespace")
    val head = readRef(dir, "branch", "main").getOrElse {
      val vs = listVersions(dir)
      require(vs.nonEmpty, s"$dir has no committed versions to branch from")
      vs.max
    }
    // pin the trunk FIRST: from here on the live listing stops being
    // the table's state, so main must resolve by ref; then close the
    // fork-side race (an append that re-checked before the pin landed)
    if (readRefRaw(dir, "branch", "main").isEmpty) {
      writeRef(dir, "branch", "main", head)
      closeForkRace(dir, head)
    }
    writeRef(dir, "branch", name, head)
    head
  }

  /** Branches OTHER than the implicit main — what gates destructive
    * verbs. */
  private[graft] def forkedBranches(dir: String): Seq[String] =
    listRefs(dir, "branch").keys.filterNot(_ == "main").toSeq.sorted

  /** `VERSION AS OF '<name>'` resolution: tags first, then branches —
    * creation refuses cross-kind collisions so the order never
    * matters in practice. */
  private[graft] def resolveRefVersion(dir: String,
                                       name: String): Option[Long] =
    readRef(dir, "tag", name).orElse(readRef(dir, "branch", name))

  /** Per-file header stats for every ledger file in `path`, as one
    * snapshot: `(file, minDocId, maxDocId, nRows)`. Reads parallelize
    * over a bounded pool once the listing is large — each header is a
    * 28-byte pread, so at big file counts the cost is IO round-trips,
    * not bytes, and serial driver-side reads would make planning the
    * slowest part of a 100-TB query (the same reasoning as
    * InMemoryFileIndex's parallel listing). Small listings stay serial:
    * pool setup would dominate. */
  private[sources] val ParallelStatsThreshold = 64

  /** Shared header-read pool: snapshots are driver-side planning steps
    * that can repeat per query, so the pool is allocated once (daemon
    * threads — it must never block JVM exit) instead of built and torn
    * down per snapshot. */
  private lazy val statsPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-ledger-stats")
        t.setDaemon(true)
        t
      })

  private[sources] def statsSnapshot(path: String): Array[(File, Long, Long, Long)] =
    statsOf(ledgerFiles(path))

  private[sources] def statsOf(files: Array[File]): Array[(File, Long, Long, Long)] = {
    def one(f: File): (File, Long, Long, Long) = {
      val (mn, mx, n) = readStats(f)
      (f, mn, mx, n)
    }
    if (files.length < ParallelStatsThreshold) files.map(one)
    else files
      .map(f => statsPool.submit(
        new java.util.concurrent.Callable[(File, Long, Long, Long)] {
          override def call(): (File, Long, Long, Long) = one(f)
        }))
      .map(fut =>
        // surface the same exception the serial path would throw, not
        // the pool's ExecutionException wrapper around it
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        })
  }

  /** The conjunctions the key-interval model represents EXACTLY — the
    * acceptance gate shared by DELETE's metadata fast path and
    * REPLACE WHERE's overwrite filter: anything else must be declined
    * (an over-approximation would delete rows the predicate spared). */
  private[sources] def exactBounds(filters: Array[Filter]): Option[KeyBounds] = {
    val exact = filters.forall {
      case EqualTo("doc_id", _: java.lang.Long) => true
      case GreaterThan("doc_id", _: java.lang.Long) => true
      case GreaterThanOrEqual("doc_id", _: java.lang.Long) => true
      case LessThan("doc_id", _: java.lang.Long) => true
      case LessThanOrEqual("doc_id", _: java.lang.Long) => true
      case IsNotNull("doc_id") => true // key is non-nullable: always true
      case _: AlwaysTrue => true
      case _ => false
    }
    if (exact) Some(KeyBounds(filters)) else None
  }

  /** Remove every row inside `bounds` from the table's files (minus
    * `exclude`, a commit's freshly-written set): whole files inside the
    * interval unlink by metadata alone, clipped files rewrite under
    * fresh names, missed files are never opened. The shared engine of
    * DELETE and filter-overwrite. */
  private[sources] def purgeInterval(path: String, bounds: KeyBounds,
                                     exclude: Set[String]): Unit = {
    // a clipped file's rewrite lands under a FRESH name, which detaches
    // any merge-on-read tombstones scoped to the old name — so the
    // rewrite must apply them itself or deleted rows would resurrect
    // (key tombstones and position deletes alike)
    val overlay = deleteOverlay(path)
    val posOverlay = positionOverlay(path)
    statsOf(ledgerFiles(path).filterNot(f => exclude.contains(f.getName)))
      .foreach { case (f, minId, maxId, nRows) =>
        if (nRows > 0 && bounds.overlaps(minId, maxId)) {
          if (bounds.contains(minId) && bounds.contains(maxId)) {
            // full cover: every row dies regardless of tombstones
            require(f.delete(), s"graft-ledger: cannot delete ${f.getPath}")
          } else rewriteExcluding(f, bounds,
            overlay.getOrElse(f.getName, null),
            posOverlay.getOrElse(f.getName, null))
        }
      }
  }

  /** DELETE's rewrite path for a file the delete interval only clips:
    * survivors stream byte-for-byte to a sibling temp file (same record
    * encoding — a skipped `lang` is still copied verbatim, never
    * decoded to UTF-8), min/max/count fold as rows pass exactly like
    * the writer's. The survivor file takes a FRESH name and the
    * original is unlinked — never an in-place replace — preserving the
    * format-wide invariant that a file NAME always denotes immutable
    * content (what makes version manifests trustworthy: a stale
    * manifest can dangle, but can never silently resolve to different
    * rows). A file left with zero survivors is removed outright.
    * `tombs` (sorted, nullable) is the file's merge-on-read tombstone
    * set: those rows are already dead and must not survive into the
    * fresh name their old tombstones cannot reach. `positions` (sorted,
    * nullable) is the file's position-delete set — dead by physical
    * ordinal, applied against a running record counter during the copy
    * for the same no-resurrection reason. */
  private[sources] def rewriteExcluding(f: File, bounds: KeyBounds,
                                        tombs: Array[Long] = null,
                                        positions: Array[Long] = null): Unit = {
    val fresh = f.getName.stripSuffix(".gl") +
      s"-rw${UUID.randomUUID().toString.take(8)}.gl"
    val tmp = new File(f.getParentFile, fresh + ".tmp")
    var minId = Long.MaxValue
    var maxId = Long.MinValue
    var nRows = 0L
    val in = new DataInputStream(
      new java.io.BufferedInputStream(new FileInputStream(f), 1 << 16))
    try {
      require(in.readInt() == Magic, s"${f.getName}: not a ledger file")
      in.skipBytes(24)
      val out = new DataOutputStream(
        new java.io.BufferedOutputStream(new FileOutputStream(tmp), 1 << 16))
      try {
        out.writeInt(Magic)
        out.writeLong(0L); out.writeLong(0L); out.writeLong(0L)
        var eof = false
        var ordinal = -1L // this record's physical position in `f`
        while (!eof) {
          val docId =
            try in.readLong()
            catch { case _: EOFException => eof = true; 0L }
          if (!eof) {
            ordinal += 1
            val flags = in.readByte()
            val langBytes: Array[Byte] =
              if ((flags & 1) != 0) null
              else {
                val len = in.readInt()
                val b = new Array[Byte](len); in.readFully(b); b
              }
            val nChars = in.readLong()
            val tombstoned = (tombs != null &&
              java.util.Arrays.binarySearch(tombs, docId) >= 0) ||
              (positions != null &&
                java.util.Arrays.binarySearch(positions, ordinal) >= 0)
            if (!bounds.contains(docId) && !tombstoned) { // survivor
              minId = math.min(minId, docId)
              maxId = math.max(maxId, docId)
              nRows += 1
              out.writeLong(docId)
              out.writeByte(flags)
              if (langBytes != null) {
                out.writeInt(langBytes.length); out.write(langBytes)
              }
              out.writeLong(nChars)
            }
          }
        }
      } finally out.close()
    } finally in.close()
    if (nRows == 0) {
      require(tmp.delete() && f.delete(),
        s"graft-ledger: cannot delete ${f.getPath}")
    } else {
      val raf = new java.io.RandomAccessFile(tmp, "rw")
      try {
        raf.seek(StatsOffset)
        raf.writeLong(minId); raf.writeLong(maxId); raf.writeLong(nRows)
      } finally raf.close()
      // land the survivor under its fresh name first, then unlink the
      // original — a reader that raced the swap sees old rows or both
      // pruned consistently, never a torn file
      java.nio.file.Files.move(tmp.toPath,
        new File(f.getParentFile, fresh).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      require(f.delete(), s"graft-ledger: cannot delete ${f.getPath}")
    }
  }
}

/** One handle of the ledger table at `path`, with the properties
  * snapshot it was loaded with. */
final class LedgerTable(path: String, props: LedgerProps,
                        pinnedVersion: Option[Long] = None,
                        ref: Option[String] = None)
    extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** The on-disk table directory — what the MV auto-rewrite rule keys
    * its registry on ([[graft.plans.MvAutoRewrite]]). */
  private[graft] def tablePath: String = path
  /** True for a plain current-state read (no time-travel pin, no branch
    * handle) — the only relation shape the MV rewrite may replace. */
  private[graft] def isPlainCurrentRead: Boolean =
    pinnedVersion.isEmpty && ref.forall(_ == "main")

  /** The REF this handle reads and writes through (`Some("main")` once
    * the table has branched, `Some(<branch>)` for a `branch_<name>`
    * pseudo-table): reads pin at the ref's version, append commits
    * extend the ref's manifest and advance the ref. Resolved at handle
    * load — the catalog loads a fresh handle per query. */
  private lazy val refVersion: Option[Long] = ref.map { r =>
    LedgerSource.readRef(path, "branch", r).getOrElse(
      throw new IllegalStateException(
        s"graft-ledger: branch '$r' of $path does not exist"))
  }
  /** What the scans resolve: explicit time travel wins, then the ref. */
  private def readPin: Option[Long] = pinnedVersion.orElse(refVersion)

  private def requireMutable(verb: String): Unit =
    require(pinnedVersion.isEmpty,
      s"graft-ledger: cannot $verb a time-travel snapshot " +
        s"(version ${pinnedVersion.get} of $path is read-only)")

  /** Destructive verbs (interval purge, truncate, REPLACE WHERE,
    * copy-on-write rewrite, compaction, version expiry) require a
    * table with NO branch refs at all — they unlink or rewrite files
    * other lineages' manifests reference, and once `branch.main`
    * exists the live listing is no longer the table's state (a dropped
    * branch's files stay in the directory until reclaimed), so a
    * listing-snapshot manifest would misfold them back in. `CALL
    * system.converge` reconciles an ever-branched table back to a
    * single lineage and re-enables these verbs. MoR tombstone verbs
    * stay available throughout: they only ADD files, scoped to their
    * own lineage's manifest. */
  private def requireUnbranched(verb: String): Unit = {
    val branches = LedgerSource.listRefs(path, "branch")
    require(branches.isEmpty,
      s"graft-ledger: cannot $verb while branch refs exist " +
        s"(${branches.keys.toSeq.sorted.mkString(", ")}) — destructive " +
        s"verbs unlink files other lineages reference; drop/fast-forward " +
        s"the branches and CALL system.converge first")
  }

  /** `_file` — the file-provenance METADATA column (the parquet
    * source's `_metadata.file_name` idea on the custom format): hidden
    * from `SELECT *`, surfaced when named, and partition-constant so
    * the reader materializes it from the partition path without
    * touching record bytes. Doubles as the row-level operations'
    * required metadata attribute (see
    * [[LedgerRowLevelOperation.requiredMetadataAttributes]]). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = LedgerSource.FileColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "ledger file this row was read from"
    },
    new MetadataColumn {
      override def name(): String = LedgerSource.PosColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row ordinal within its ledger file — (_file, _pos) addresses " +
          "a row without a key (position-scoped deletes)"
    })
  require(path != null, "graft-ledger requires a path")

  /** The persisted `_props` surfaced as TABLE PROPERTIES, so `SHOW
    * TBLPROPERTIES` / DESCRIBE EXTENDED report the layout and verb
    * contracts a reader should know (bucket width, merge-on-read mode,
    * the check predicate). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    props.bucket.foreach(w => m.put("bucket", w.toString))
    if (props.mor) m.put("mor", "true")
    // declared skip indexes — DESCRIBE EXTENDED / SHOW TBLPROPERTIES
    // should say which columns probe through sidecars
    props.indexes.foreach { case (ix, c) => m.put(ix.prop, c) }
    props.check.foreach { case (name, sql) =>
      m.put("check", sql)
      m.put("check_name", name)
    }
    // refs surface through SHOW TBLPROPERTIES — the cheapest ref listing
    LedgerSource.listRefs(path, "tag").foreach { case (n, v) =>
      m.put(s"ref.tag.$n", v.toString)
    }
    LedgerSource.listRefs(path, "branch").foreach { case (n, v) =>
      m.put(s"ref.branch.$n", v.toString)
    }
    m
  }

  /** An ENFORCED table-level CHECK constraint (`check=<sql>` in
    * `_props`, set at CREATE via the `check` table property): Spark's
    * `ResolveTableConstraints` validates every V2 write against it —
    * a violating row fails the job before commit, so the table can
    * never hold a row the predicate rejects. Enforcement at the
    * ENGINE boundary is the point: every writer (append, overwrite,
    * MERGE insert, streaming foreachBatch) passes through the same
    * gate. */
  override def constraints(): Array[org.apache.spark.sql.connector
      .catalog.constraints.Constraint] =
    props.check.map { case (name, sql) =>
      import org.apache.spark.sql.connector.catalog.constraints.Constraint
      Constraint.check(name).predicateSql(sql).enforced(true).build(): Constraint
    }.toArray

  override def name(): String =
    s"graft-ledger:$path" + pinnedVersion.map(v => s"@v$v").getOrElse("") +
      ref.filterNot(_ == "main").map(r => s"@branch($r)").getOrElse("")
  override def schema(): StructType = LedgerSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    if (pinnedVersion.isDefined) // a snapshot is a batch-read-only relation
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else if (ref.exists(_ != "main")) // a branch handle: append-only
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LedgerScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      pinned = readPin, bucketWidth = props.bucket)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireMutable("write to")
    new LedgerWriteBuilder(path, props.bucket, ref)
  }

  /** Row-level DELETE — the lakehouse verb (`DELETE FROM t WHERE …`) on
    * the connector's own storage, with the two-tier cost model every
    * production table format uses:
    *
    *   - a file whose stats-header key range falls ENTIRELY inside the
    *     delete interval is dropped by metadata alone — a directory
    *     unlink, zero record decodes (Delta/Iceberg's
    *     delete-by-partition-predicate, here at file granularity);
    *   - a file the interval only CLIPS is rewritten: survivors stream
    *     through to a FRESH-named sibling (names denote immutable
    *     content — the time-travel invariant) with min/max/count
    *     re-folded into its stats header so every later scan's
    *     file-skip stays exact;
    *   - a file the interval misses is never opened (the same 28-byte
    *     header test the read path's file skip uses).
    *
    * At 100 TB the delete predicate is typically a key range aligned
    * with the range-partitioned layout, so almost every affected file
    * takes the metadata path and the rewrite cost is bounded by the two
    * boundary files. `canDeleteWhere` accepts only conjunctions this
    * interval model represents EXACTLY — anything else is declined and
    * Spark routes the DELETE through the copy-on-write group rewrite
    * instead (`SupportsRowLevelOperations` below), so a non-key
    * predicate deletes correctly rather than erroring; the decline can
    * never silently delete wrong rows because a delete executes its
    * predicate for real. `SupportsDeleteV2`'s default `truncateTable()`
    * routes TRUNCATE through the same path as an always-true
    * interval.
    *
    * On a MERGE-ON-READ table the fast path narrows to intervals the
    * headers answer with ZERO rewrites (every overlapping file fully
    * covered — pure unlinks): a boundary-clipping interval would
    * rewrite a whole file to drop a few rows, exactly the write
    * amplification `mor=true` opts out of, so those route to the delta
    * operation's tombstones instead. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty &&
      // the interval fast path UNLINKS/REWRITES files — destructive, so
      // a branched table declines it and (on mor) routes to tombstones
      LedgerSource.listRefs(path, "branch").isEmpty &&
      (LedgerSource.exactBounds(filters) match {
        case None => false
        case Some(b) =>
          !props.mor || LedgerSource.statsSnapshot(path).forall {
            case (_, mn, mx, n) => n == 0 || !b.overlaps(mn, mx) ||
              (b.contains(mn) && b.contains(mx))
          }
      })

  /** Group-based (copy-on-write) UPDATE / MERGE / fallback DELETE — the
    * other half of the row-level surface: Spark's rewrite rules turn
    * the command into a [[org.apache.spark.sql.catalyst.plans.logical.ReplaceData]]
    * plan that (1) scans the GROUPS (files) that may hold matching rows
    * through the operation's own scan, (2) computes every surviving row
    * of those groups — updated, merged, or retained — Spark-side, and
    * (3) writes them back through the operation's write, whose commit
    * atomically-per-file swaps exactly the scanned files for the new
    * ones. The contract that makes this correct: the operation scan
    * uses pushed/runtime filters ONLY to prune whole files and never
    * drops rows inside a surviving file (a row the CASE WHEN needs to
    * retain must reach it), which is the one semantic difference from
    * the read path's scan. DELETE keeps its two routes: the metadata
    * interval path above when `canDeleteWhere` holds, this rewrite for
    * every predicate it declines. MERGE's non-static ON condition
    * prunes via `SupportsRuntimeFiltering` — the source's matched keys
    * arrive as a runtime In-set and files outside it never rewrite. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireMutable("run a row-level operation against")
    // copy-on-write REWRITES groups — destructive, so a branched table
    // refuses it; MoR tombstones are ADDITIVE and stay available on
    // every lineage: the verb's scan pins at the handle's ref, the .gd
    // lands in that ref's manifest only, and a tombstone cut on a
    // pre-fork file SHARED with other lineages still cannot reach them
    // (the overlay is resolved per manifest, not per directory)
    if (!props.mor) {
      require(ref.forall(_ == "main"),
        s"graft-ledger: branch handles of a copy-on-write table are " +
          s"append-only — row-level verbs need mor=true " +
          s"(branch '${ref.get}' of $path)")
      requireUnbranched("copy-on-write rewrite")
    }
    new RowLevelOperationBuilder {
      // `mor=true` switches the table's verbs to MERGE-ON-READ
      // ([[LedgerDeltaOperation]]): deletes/updates land as tombstone
      // files instead of group rewrites — the write-amplification
      // trade every production format offers (Delta deletion vectors,
      // Iceberg MoR), here made sound WITHOUT sequence numbers by
      // scoping every tombstone to an immutable file name
      override def build(): RowLevelOperation =
        if (props.mor)
          new LedgerDeltaOperation(path, info.command(), props.bucket, ref)
        else new LedgerRowLevelOperation(path, info.command(), props.bucket)
    }
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireMutable("delete from")
    requireUnbranched("interval-delete from")
    val bounds = LedgerSource.exactBounds(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-ledger can only delete by doc_id intervals; got " +
          s"[${filters.mkString(", ")}]"))
    LedgerSource.requireDir(path)
    LedgerSource.purgeInterval(path, bounds, exclude = Set.empty)
    LedgerSource.commitVersion(path): Unit
  }
}

// ───────────────────────────── read path ─────────────────────────────

final class LedgerScanBuilder(path: String,
                              maxFilesPerTrigger: Option[Int] = None,
                              group: Option[LedgerRowLevelOperation] = None,
                              pinned: Option[Long] = None,
                              bucketWidth: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var required: StructType = LedgerSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[Aggregation] = None
  private var pushedLimit: Option[Int] = None
  private var topNAscending: Option[Boolean] = None

  /** LIMIT pushdown — FILE-level: the stats headers' exact row counts
    * let the plan open only enough files to cover `n` rows (a `LIMIT
    * 10` over a million-file table opens one file). PARTIAL pushdown:
    * Spark still applies the final limit, so over-delivery is always
    * safe — what must never happen is UNDER-delivery, which is why the
    * push is declined whenever pushed filters could make header counts
    * over-counts (and the scan itself backs off when runtime filters
    * or a live tombstone overlay arrive, or under a bucketed layout
    * whose partition-count promise file selection would change). */
  override def pushLimit(n: Int): Boolean = {
    val ok = group.isEmpty && bucketWidth.isEmpty && pushed.isEmpty && n > 0
    if (ok) pushedLimit = Some(n)
    ok
  }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY doc_id [DESC] LIMIT n — the headers' min/max make a
    * SOUND file cutoff: order files by maxId, prefix-sum row counts to
    * the first point covering n rows, and every file whose minId lies
    * beyond that cutoff can only hold rows strictly greater than n
    * already-kept rows (symmetrically for DESC). Partial: Spark
    * re-sorts and re-limits the kept files' rows. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector
      .expressions.SortOrder], n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    val ok = group.isEmpty && bucketWidth.isEmpty && pushed.isEmpty &&
      n > 0 && orders.length == 1 && (orders.head.expression() match {
        case nr: NamedReference => nr.fieldNames.sameElements(Array("doc_id"))
        case _ => false
      })
    if (ok) {
      pushedLimit = Some(n)
      topNAscending =
        Some(orders.head.direction() == SortDirection.ASCENDING)
    }
    ok
  }

  /** The table's declared skip indexes, read from `_props` once and
    * handed to the scan. */
  private lazy val indexes = LedgerProps.read(path).indexes
  /** Accept doc_id comparisons — plus the probes a declared skip index
    * can refute ([[SkipIndex.accepts]]), which the scan turns into
    * per-file sidecar tests. Everything else stays Spark-side. The
    * accepted ones are STILL returned for Spark re-evaluation (the
    * conservative contract), so reader-level filtering is a pure
    * optimization and can never change results. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("doc_id", _: java.lang.Long) => true
      case GreaterThan("doc_id", _: java.lang.Long) => true
      case GreaterThanOrEqual("doc_id", _: java.lang.Long) => true
      case LessThan("doc_id", _: java.lang.Long) => true
      case LessThanOrEqual("doc_id", _: java.lang.Long) => true
      case f => SkipIndex.accepts(indexes, f)
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown — the DSv2 surface production connectors
    * (parquet, Delta, JDBC) actually use: a global `count(*)` /
    * `count(doc_id)` / `min(doc_id)` / `max(doc_id)` is answered
    * entirely from the per-file stats headers, without decoding a
    * single record. Complete pushdown, and only when it is provably
    * exact: no grouping (headers hold no per-group stats) and no
    * pushed key filters (a filtered count can't come from whole-file
    * counts). `count(doc_id)` qualifies because the key field is
    * non-nullable in the format — every record contributes. */
  private def statsAnswerable(agg: Aggregation): Boolean = {
    def isDocId(e: V2Expression): Boolean = e match {
      case nr: NamedReference => nr.fieldNames.sameElements(Array("doc_id"))
      case _ => false
    }
    // merge-on-read tombstones make the headers over-counts: decline
    // whenever any delete file is live (compaction re-enables the path)
    pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      LedgerSource.deleteFiles(path).isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count => !c.isDistinct && isDocId(c.column)
        case m: Min => isDocId(m.column)
        case m: Max => isDocId(m.column)
        case _ => false
      }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    group.isEmpty && pinned.isEmpty && statsAnswerable(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (group.nonEmpty || pinned.nonEmpty || !statsAnswerable(agg)) false
    else { pushedAgg = Some(agg); true }
  }

  override def build(): Scan = pushedAgg match {
    // agg pushdown answers from CURRENT headers — decline under a pin
    // (statsAnswerable is also gated below, belt and braces)
    case Some(agg) if pinned.isEmpty => new LedgerAggScan(path, agg)
    case _ =>
      new LedgerScan(path, required, pushed, maxFilesPerTrigger, group,
        pinned, bucketWidth, pushedLimit, topNAscending, indexes)
  }
}

/** The stats-only scan a pushed aggregate builds: `planInputPartitions`
  * folds every file's 28-byte header on the driver (the same metadata
  * read the file-skip test already does) and emits ONE single-row
  * partition carrying the final values — the record region of the
  * files is never opened. LedgerSourceSpec proves that by truncating
  * the record bytes out of a file and still counting it. */
final class LedgerAggScan(path: String, agg: Aggregation)
    extends Scan with Batch {
  private val funcs: Array[AggregateFunc] = agg.aggregateExpressions

  override def readSchema(): StructType = StructType(funcs.map {
    case _: CountStar => StructField("count(*)", LongType, nullable = false)
    case _: Count => StructField("count(doc_id)", LongType, nullable = false)
    case _: Min => StructField("min(doc_id)", LongType, nullable = true)
    case _: Max => StructField("max(doc_id)", LongType, nullable = true)
    case f => throw new IllegalStateException(s"unexpected pushed aggregate $f")
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ledger $path, PushedAggregates: [${funcs.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    LedgerSource.requireDir(path)
    var n = 0L
    var minId = Long.MaxValue
    var maxId = Long.MinValue
    LedgerSource.statsSnapshot(path).foreach { case (_, mn, mx, rows) =>
      n += rows
      if (rows > 0) { // empty files carry min>max placeholders
        minId = math.min(minId, mn)
        maxId = math.max(maxId, mx)
      }
    }
    val values: Array[java.lang.Long] = funcs.map {
      case _: CountStar | _: Count => java.lang.Long.valueOf(n)
      case _: Min => if (n == 0) null else java.lang.Long.valueOf(minId)
      case _: Max => if (n == 0) null else java.lang.Long.valueOf(maxId)
      case f => throw new IllegalStateException(s"unexpected pushed aggregate $f")
    }
    Array(LedgerAggPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new LedgerAggReader(p.asInstanceOf[LedgerAggPartition].values)
    }
}

private[sources] final case class LedgerAggPartition(values: Array[java.lang.Long])
  extends InputPartition

final class LedgerAggReader(values: Array[java.lang.Long])
    extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = if (done) false else { done = true; true }
  override def get(): InternalRow = {
    val row = new GenericInternalRow(values.length)
    values.zipWithIndex.foreach {
      case (null, i) => row.setNullAt(i)
      case (v, i) => row.setLong(i, v.longValue())
    }
    row
  }
  override def close(): Unit = ()
}

/** The pushed doc_id predicates folded to one closed interval — the
  * file-skip test is then two long comparisons against the stats
  * header. */
private[sources] final case class KeyBounds(lo: Long, hi: Long) {
  def overlaps(min: Long, max: Long): Boolean = max >= lo && min <= hi
  def contains(k: Long): Boolean = k >= lo && k <= hi
}

private[sources] object KeyBounds {
  def apply(pushed: Array[Filter]): KeyBounds = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    pushed.foreach {
      case EqualTo("doc_id", v: java.lang.Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v)
      // strict bounds at the Long extremes are unsatisfiable — saturate
      // to an explicitly empty interval (lo > hi) instead of wrapping
      // via v ± 1, which would silently widen the bounds to everything
      // and disable the file/row skip for those edge values
      case GreaterThan("doc_id", v: java.lang.Long) =>
        if (v == Long.MaxValue) { lo = Long.MaxValue; hi = Long.MinValue }
        else lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("doc_id", v: java.lang.Long) =>
        lo = math.max(lo, v)
      case LessThan("doc_id", v: java.lang.Long) =>
        if (v == Long.MinValue) { lo = Long.MaxValue; hi = Long.MinValue }
        else hi = math.min(hi, v - 1)
      case LessThanOrEqual("doc_id", v: java.lang.Long) =>
        hi = math.min(hi, v)
      case _ => ()
    }
    KeyBounds(lo, hi)
  }
}

final class LedgerScan(path: String, required: StructType,
                       pushed: Array[Filter],
                       maxFilesPerTrigger: Option[Int] = None,
                       group: Option[LedgerRowLevelOperation] = None,
                       pinned: Option[Long] = None,
                       bucketWidth: Option[Long] = None,
                       pushedLimit: Option[Int] = None,
                       topNAscending: Option[Boolean] = None,
                       indexes: Seq[(SkipIndex, String)] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ledger $path, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (group.isDefined) ", GroupScan: true" else "") +
      pinned.map(v => s", Version: $v").getOrElse("") +
      // surface the merge-on-read overlay in .explain — an operator
      // reading through tombstones should say so
      (if (deletePaths.nonEmpty) s", DeleteFiles: ${deletePaths.length}"
       else "") +
      // surface each skip index in .explain whenever a pushed probe
      // can consult its sidecars — the plan should say why files vanish
      indexes.collect { case (ix, c) if pushed.exists(ix.refutes(_, c)) =>
        s", ${ix.tag}: $c" }.mkString +
      pushedLimit.map(n => topNAscending match {
        case Some(asc) =>
          s", PushedTopN: ORDER BY doc_id ${if (asc) "ASC" else "DESC"} LIMIT $n"
        case None => s", PushedLimit: LIMIT $n"
      }).getOrElse("")

  /** Runtime (join-driven) filtering — the dynamic-partition-pruning
    * contract for DSv2 sources: after the build side of a join
    * materializes, Spark hands the scan the concrete key set / bounds
    * it observed, and `planInputPartitions` (invoked lazily by
    * BatchScanExec after this call) re-plans against them — files the
    * joined keys can't touch are never opened. Purely an optimization:
    * the join still re-applies its condition, so an over-broad plan is
    * slower, never wrong. */
  @volatile private var runtime: Array[Filter] = Array.empty
  // the indexed columns are also RUNTIME filter attributes: a
  // broadcast dim-join on an indexed content column hands its
  // observed key set down (DPP), and the sidecars prune files the
  // joined values can't touch — content-column partition pruning.
  // Advertised attributes are GATED by the pruned read schema:
  // Spark's PartitionPruning resolves EVERY advertised attribute
  // against the scan's output and THROWS (not skips) on a miss, so a
  // count-style query that pruned doc_id away must not see it offered
  override def filterAttributes(): Array[NamedReference] =
    (Seq("doc_id") ++ indexes.map(_._2)).distinct
      .filter(required.fieldNames.contains(_))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters

  /** The key sets the runtime filters delivered, ONE PER FILTER — Spark
    * hands multiple runtime doc_id filters down as a conjunction, so a
    * file must satisfy EVERY set ("some key of each set falls inside
    * this file's [min, max]"); unioning them first would keep any file
    * touched by any set — correct (the join re-applies its condition)
    * but strictly weaker skipping when DPP delivers both an In and an
    * EqualTo. Each set is the build side's distinct keys: bounded by
    * the joined dimension, not the fact. */
  private def runtimeInSets: Seq[Array[Long]] =
    runtime.toSeq.collect {
      case In("doc_id", values) =>
        values.collect { case v: java.lang.Long => v.longValue() }.sorted
      case EqualTo("doc_id", v: java.lang.Long) => Array(v.longValue())
    }

  /** Listing + 28-byte headers snapshotted ONCE per Scan instance:
    * Catalyst may call `estimateStatistics` several times while
    * planning, and re-opening every file per call is O(#files)
    * small-file IO repeated per query plan. Ledger files are immutable
    * once committed and a Scan lives for one query execution, so the
    * snapshot cannot go stale within its lifetime. (Not shared with
    * the runtime-filter re-plan's VALUES — only the header bytes;
    * `planInputPartitions` re-evaluates its predicates against this
    * same snapshot after `filter()` delivers the join keys.) */
  private lazy val pinnedFiles: Option[Array[File]] =
    pinned.map(v => LedgerSource.resolvePinned(path, v))

  private lazy val fileStats: Array[(File, Long, Long, Long)] = pinnedFiles match {
    // a time-travel scan reads the version's manifest, not the listing;
    // resolution fails loudly if later mutations removed any of its files
    case Some(fs) =>
      LedgerSource.statsOf(fs.filter(_.getName.endsWith(".gl")))
    case None => LedgerSource.statsSnapshot(path)
  }

  /** The merge-on-read tombstone files this scan must apply — the LIVE
    * `.gd` set, or (pinned) exactly the version's manifest entries, so
    * time travel replays the overlay state as of that commit. Shipped
    * to every partition; readers skip sections for other files, so the
    * common no-deletes case costs nothing and the with-deletes case
    * costs each task its own keys plus section headers. */
  private lazy val deletePaths: Seq[String] = pinnedFiles match {
    case Some(fs) =>
      fs.filter(f => f.getName.endsWith(".gd") || f.getName.endsWith(".gp"))
        .map(_.getAbsolutePath).toSeq
    case None =>
      LedgerSource.deleteFiles(path).map(_.getAbsolutePath).toSeq
  }

  /** The bucket layout is TRUSTED only after validation: every
    * non-empty file must lie inside one width-sized bucket (an
    * unbucketed path-API write into the same directory, or a
    * compaction, silently degrades the scan to plain per-file
    * partitioning — correctness never depends on the layout claim).
    * Group-mode and pinned scans never report partitioning. */
  private lazy val bucketedWidth: Option[Long] =
    if (group.nonEmpty || pinned.nonEmpty) None
    else bucketWidth.filter { w =>
      fileStats.forall { case (_, mn, mx, n) =>
        n == 0 || Math.floorDiv(mn, w) == Math.floorDiv(mx, w)
      }
    }

  /** Each declared index with the probes among `filters` it can
    * refute, indexes without any dropped. */
  private def indexProbes(filters: Array[Filter])
      : Seq[(SkipIndex, String, Seq[Filter])] =
    indexes.map { case (ix, c) => (ix, c, filters.toSeq.filter(ix.refutes(_, c))) }
      .filter(_._3.nonEmpty)

  /** Does every index keep `fileName` against its probes? A file failing
    * any probe provably holds no match and never becomes a partition;
    * back-off is per file, inside [[SkipIndex.keeps]]. */
  private def indexesKeep(probes: Seq[(SkipIndex, String, Seq[Filter])],
                          fileName: String): Boolean =
    probes.forall { case (ix, c, ps) => ix.keeps(path, fileName, c, ps) }

  /** Verdicts for the STATIC pushed probes, memoized once per Scan:
    * survivors() runs several times (planInputPartitions,
    * outputPartitioning, statistics) and sidecar probes are file
    * reads — at large file counts re-probing per call would make
    * planning IO-quadratic. */
  private lazy val indexKept: String => Boolean = {
    val probes = indexProbes(pushed)
    if (probes.isEmpty) _ => true
    else fileStats.iterator.map(_._1.getName)
      .filter(indexesKeep(probes, _)).toSet
  }

  /** Post-file-skip survivors. Bucketed scans ignore runtime join-key
    * re-planning so the partition grouping `outputPartitioning()`
    * promised stays exactly what executes (a narrower re-plan would
    * change the bucket count after the planner consumed it; the index
    * skip is STATIC — derived from pushed filters known before the
    * promise — so it applies in both modes consistently). */
  private def survivors(): Array[(File, Long, Long, Long)] = {
    val bucketMode = bucketedWidth.isDefined
    val bounds =
      if (bucketMode) KeyBounds(pushed) else KeyBounds(pushed ++ runtime)
    val inSets = if (bucketMode) Seq.empty else runtimeInSets
    // runtime probes on the indexed columns (join-delivered value
    // sets): a file survives each probe iff ANY of its values might be
    // present; like-for-like with runtimeInSets, non-bucket only, one
    // sidecar load per file and index
    val runtimeProbes = if (bucketMode) Nil else indexProbes(runtime)
    fileStats.filter { case (f, minId, maxId, nRows) =>
      // stats-header file skip: a file whose key range misses the
      // pushed/runtime interval — or misses any runtime join-key set —
      // never becomes a partition
      // sorted-set probe: first key ≥ min, then ≤ max — O(log |keys|)
      // per file rather than a scan of the build side's key set
      def anyKeyInRange(arr: Array[Long]): Boolean = {
        val i = java.util.Arrays.binarySearch(arr, minId)
        val idx = if (i >= 0) i else -i - 1
        idx < arr.length && arr(idx) <= maxId
      }
      nRows > 0 && bounds.overlaps(minId, maxId) &&
        inSets.forall(anyKeyInRange) &&
        indexKept(f.getName) && indexesKeep(runtimeProbes, f.getName)
    }
  }

  /** The LIMIT / TopN FILE CUTOFF — sound only when header row counts
    * are exact live-row counts for every file: no pushed or runtime
    * row filters, no tombstone overlay (each would make headers
    * over-counts and risk UNDER-delivering rows Spark's final limit
    * still expects). Over-delivery is always fine (partial pushdown).
    *
    * Plain LIMIT: any prefix covering n rows (LIMIT promises no
    * order). TopN ASC: order files by maxId, cut at the first prefix
    * covering n rows — an excluded file's minId exceeds the cutoff
    * maxId, so its every row is greater than n kept rows and cannot be
    * in the true top-n (DESC mirrors with minId descending). */
  private def limitSelect(fs: Array[(File, Long, Long, Long)])
      : Array[(File, Long, Long, Long)] =
    pushedLimit match {
      case Some(n) if pushed.isEmpty && runtime.isEmpty &&
          deletePaths.isEmpty && group.isEmpty =>
        topNAscending match {
          case None =>
            // LIMIT promises no order: any prefix covering n rows
            var cum = 0L
            fs.takeWhile { t => val need = cum < n; cum += t._4; need }
          case Some(asc) =>
            // ASC: walk files by maxId until the prefix covers n rows;
            // every row of those files is <= that cutoff maxId, so a
            // file whose minId exceeds it holds only rows greater than
            // n already-kept rows — exclude it. Keeping every file
            // whose RANGE crosses the cutoff stays sound when ranges
            // overlap (a wide file can hide small keys). DESC mirrors.
            val byFrontier =
              if (asc) fs.sortBy(_._3) else fs.sortBy(t => -t._2)
            var cum = 0L
            var cutoff = if (asc) Long.MinValue else Long.MaxValue
            byFrontier.foreach { t =>
              if (cum < n) {
                cum += t._4
                cutoff = if (asc) t._3 else t._2
              }
            }
            if (cum < n) fs // fewer than n rows exist: keep everything
            else if (asc) fs.filter(_._2 <= cutoff)
            else fs.filter(_._3 >= cutoff)
        }
      case _ => fs
    }

  override def planInputPartitions(): Array[InputPartition] = {
    LedgerSource.requireDir(path)
    val planned = limitSelect(survivors())
    // group mode: the surviving files ARE the groups this row-level
    // operation will replace — record them for the write's commit.
    // Re-planning (e.g. after a runtime filter lands) overwrites the
    // record, so commit always swaps exactly what execution read.
    group.foreach(_.scannedFiles = planned.map(_._1.getName))
    bucketedWidth match {
      case Some(w) =>
        // one partition per BUCKET (several files can share one): the
        // partition key is the bucket start, the value the reported
        // range_bucket(doc_id, w) transform produces for every row in
        // it — what lets two same-width ledger tables join with NO
        // exchange (storage-partitioned join)
        planned.groupBy { case (_, mn, _, _) => Math.floorDiv(mn, w) * w }
          .toArray.sortBy(_._1)
          .map { case (bucket, fs) =>
            LedgerBucketPartition(fs.map(_._1.getAbsolutePath).toSeq,
              bucket, deletePaths): InputPartition
          }
      case None =>
        planned.map(t => LedgerPartition(t._1.getAbsolutePath,
          deletePaths): InputPartition)
    }
  }

  /** Storage-partitioned-join contract: the scan's rows arrive grouped
    * by `bucket(w, doc_id)` — the catalog's range-bucket function (see
    * [[GraftCatalog.loadFunction]]), resolved by Catalyst against
    * `GraftCatalog` when it checks two sides' partitionings for
    * compatibility. The BUCKET transform shape is load-bearing:
    * Catalyst's `KeyGroupedPartitioning.supportsExpressions` admits
    * only transforms over a single column reference, with the numeric
    * argument carried out-of-band — exactly what
    * `Expressions.bucket(n, col)` encodes (a generic
    * `Expressions.apply` with a literal child is silently demoted to
    * UnknownPartitioning). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketedWidth match {
      case Some(w) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val nBuckets = survivors()
          .map { case (_, mn, _, _) => Math.floorDiv(mn, w) }.distinct.length
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.bucket(w.toInt, "doc_id")), nBuckets)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }
  override def createReaderFactory(): PartitionReaderFactory =
    // group mode must return EVERY row of a surviving file: the pushed
    // filters prune files above but never rows (a retained row must
    // reach the Spark-side CASE WHEN), so readers get no row filter
    new LedgerReaderFactory(required,
      if (group.isDefined) Array.empty else pushed)

  /** Planning statistics from the same stats headers the file skip
    * reads — what lets Catalyst AUTO-broadcast a small ledger table
    * (a V2 relation without stats defaults to "huge" and never
    * broadcasts without a hint). Post-filter estimate: only files
    * surviving the pushed-bounds skip contribute, matching how the
    * parquet source reports post-pruning sizes. */
  override def estimateStatistics(): Statistics = {
    val bounds = KeyBounds(pushed)
    var bytes = 0L
    var rows = 0L
    if (new File(path).isDirectory) {
      fileStats.foreach { case (f, minId, maxId, nRows) =>
        // count only files the STATIC skips keep (key bounds + index
        // verdicts, all derived from pushed filters available at
        // stats time) — a narrow indexed probe then reports the few
        // files it will actually open, and Catalyst can AUTO-broadcast
        // the probe side of a join instead of assuming the whole table
        if (nRows > 0 && bounds.overlaps(minId, maxId) &&
            indexKept(f.getName)) {
          bytes += f.length()
          rows += nRows
        }
      }
    }
    // merge-on-read tombstones shrink the row estimate (header-only
    // reads); bytes stay un-shrunk — a conservative broadcast signal
    val tombs = deletePaths
      .map(p => LedgerSource.tombstoneTotal(new File(p))).sum
    val (b, r) = (bytes, math.max(0L, rows - tombs))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r)
    }
  }

  /** Streaming read — the same connector as a Structured Streaming
    * source: the offset is the SET of ingested file names (ledger
    * files are immutable once committed and UUID-suffixed, so set
    * difference is the only order-independent "what's new" that
    * survives files whose names sort before already-seen ones), a
    * microbatch is the newly-arrived files (one partition each, the
    * batch scan's parallelism rule), admission control honors
    * `maxFilesPerTrigger`, and Trigger.AvailableNow snapshots the
    * listing up front so a drain has a fixed endpoint even while
    * writers keep appending. Column pruning and filter pushdown
    * compose: the microbatch reader is the SAME pruned/filtering
    * reader as the batch path, and pushed-bounds file skip applies
    * per batch (a skipped file is still marked ingested by the
    * offset — skipping is an optimization, never a semantics
    * change). Merge-on-read note: the stream is the APPEND FEED —
    * new `.gl` files as they commit; tombstones are not retracted
    * from batches already emitted and not applied to future ones
    * (the same contract as streaming a Delta table without
    * skipChangeCommits — a CDC-complete feed is what st22's
    * foreachBatch MERGE composition is for). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // the stream ingests by LIVE file arrival; on a branched table the
    // directory holds every lineage's files, so a main stream would
    // ingest branch rows — refuse rather than leak across lineages
    // (the change feed stream is the branched-era tail)
    require(LedgerSource.listRefs(path, "branch").isEmpty,
      s"graft-ledger: cannot stream $path while branch refs exist — " +
        s"the live-file feed cannot scope to one lineage; stream the " +
        s"change feed (changesFrom) instead")
    new LedgerMicroBatchStream(path, required, pushed, maxFilesPerTrigger)
  }
}

/** Offset = sorted set of ingested ledger file names, serialized as a
  * JSON array. The same asymptotics as the built-in file source's
  * seen-files log, with restart-safe set semantics.
  *
  * A plain class, NOT a case class: the streaming `Offset` base defines
  * equality over the serialized `json()` form, and a generated
  * equals/hashCode over the raw `files` Seq would break that contract —
  * `latestOffset` assembles files in set order while a checkpoint
  * restart yields them sorted, so set-equal offsets could compare
  * unequal and trigger a spurious empty microbatch after restart.
  * Sorting once here makes `json()` (and thus base-class equality)
  * canonical for any construction order. */
private[graft] final class LedgerStreamOffset(files0: Seq[String])
    extends Offset {
  val files: Seq[String] = files0.sorted
  override def json(): String =
    files.map(LedgerStreamOffset.quote).mkString("[", ",", "]")
}

private[graft] object LedgerStreamOffset {
  def apply(files: Seq[String]): LedgerStreamOffset =
    new LedgerStreamOffset(files)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Inverse of [[LedgerStreamOffset.json]] — a real little scanner
    * (quoted strings with `\"`, `\\` and `\uXXXX` escapes, comma
    * separators OUTSIDE quotes), so the round-trip holds for any file
    * name, not just the writer's comma-free `part-NNNNN-hex.gl` shape
    * (user-supplied dirs may contain renamed files). */
  def fromJson(json: String): LedgerStreamOffset = {
    val t = json.trim
    require(t.startsWith("[") && t.endsWith("]"), s"bad ledger offset: $json")
    val names = ArrayBuffer.empty[String]
    var i = 1
    val end = t.length - 1
    while (i < end) {
      while (i < end && (t(i) == ',' || t(i).isWhitespace)) i += 1
      if (i < end) {
        require(t(i) == '"', s"bad ledger offset at index $i: $json")
        i += 1
        val sb = new StringBuilder
        while (i < end && t(i) != '"') {
          if (t(i) == '\\') {
            require(i + 1 < end, s"dangling escape in ledger offset: $json")
            t(i + 1) match {
              case '"' => sb += '"'; i += 2
              case '\\' => sb += '\\'; i += 2
              case 'u' =>
                require(i + 6 <= end, s"bad \\u escape in ledger offset: $json")
                sb += Integer.parseInt(t.substring(i + 2, i + 6), 16).toChar
                i += 6
              case c => throw new IllegalArgumentException(
                s"unsupported escape \\$c in ledger offset: $json")
            }
          } else { sb += t(i); i += 1 }
        }
        require(i < end && t(i) == '"', s"unterminated string in ledger offset: $json")
        i += 1
        names += sb.toString
      }
    }
    LedgerStreamOffset(names.toSeq)
  }
}

final class LedgerMicroBatchStream(path: String, required: StructType,
                                   pushed: Array[Filter],
                                   maxFilesPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // AvailableNow contract: the drain's endpoint is the listing at
  // prepare time — files arriving mid-drain wait for the next run
  private var snapshot: Option[Array[String]] = None

  private def listNow(): Array[String] =
    LedgerSource.ledgerFiles(path).map(_.getName)

  override def prepareForTriggerAvailableNow(): Unit =
    snapshot = Some(listNow())

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = LedgerStreamOffset(Nil)
  override def deserializeOffset(json: String): Offset =
    LedgerStreamOffset.fromJson(json)

  // MicroBatchStream's plain form is unused once SupportsAdmissionControl
  // is implemented — Spark drives the two-arg overload below
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this admission-controlled source")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[LedgerStreamOffset].files.toSet
    val visible = snapshot.getOrElse(listNow())
    val fresh = visible.filterNot(seen).sorted
    val admitted = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    LedgerStreamOffset(seen.toSeq ++ admitted)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[LedgerStreamOffset].files.toSet
    val batch = end.asInstanceOf[LedgerStreamOffset].files.filterNot(seen)
    val bounds = KeyBounds(pushed)
    batch.sorted.flatMap { name =>
      val f = new File(new File(path), name)
      val (minId, maxId, nRows) = LedgerSource.readStats(f)
      if (nRows > 0 && bounds.overlaps(minId, maxId))
        Some(LedgerPartition(f.getAbsolutePath): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LedgerReaderFactory(required, pushed)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] final case class LedgerPartition(file: String,
                                                  deleteFiles: Seq[String] = Nil)
  extends InputPartition

/** One range BUCKET of a bucketed layout: possibly several files, all
  * inside the same width-sized key interval; `partitionKey` carries the
  * bucket start (what `range_bucket(doc_id, w)` evaluates to for every
  * row here), the value Spark's storage-partitioned join matches across
  * sides. */
private[sources] final case class LedgerBucketPartition(files: Seq[String],
                                                        bucket: Long,
                                                        deleteFiles: Seq[String] = Nil)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val row = new GenericInternalRow(1)
    row.setLong(0, bucket)
    row
  }
}

final class LedgerReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case LedgerPartition(file, dels) =>
        new LedgerReader(file, required, pushed, dels)
      case LedgerBucketPartition(files, _, dels) =>
        new ChainedLedgerReader(files, required, pushed, dels)
      case other => throw new IllegalStateException(
        s"unexpected ledger partition $other")
    }
}

/** A bucket's files read back to back — one task, sequential IO, each
  * delegate computing its own `_file` value. */
final class ChainedLedgerReader(files: Seq[String], required: StructType,
                                pushed: Array[Filter],
                                deleteFiles: Seq[String] = Nil)
    extends PartitionReader[InternalRow] {
  private val it = files.iterator
  private var current: LedgerReader = _
  override def next(): Boolean = {
    while (true) {
      if (current == null) {
        if (!it.hasNext) return false
        current = new LedgerReader(it.next(), required, pushed, deleteFiles)
      }
      if (current.next()) return true
      current.close()
      current = null
    }
    false
  }
  override def get(): InternalRow = current.get()
  override def close(): Unit = if (current != null) current.close()
}

final class LedgerReader(file: String, required: StructType,
                         pushed: Array[Filter],
                         deleteFiles: Seq[String] = Nil)
    extends PartitionReader[InternalRow] {
  // merge-on-read overlay: this file's tombstones, merged+sorted from
  // the shipped delete files (null — the fast common path — when none);
  // position deletes ride the same shipped set, applied by ordinal
  private val tombstones: Array[Long] =
    if (deleteFiles.isEmpty) null
    else LedgerSource.tombstonesFor(deleteFiles, new File(file).getName)
  private val posDeletes: Array[Long] =
    if (deleteFiles.isEmpty) null
    else LedgerSource.positionsFor(deleteFiles, new File(file).getName)
  private val in = new DataInputStream(
    new java.io.BufferedInputStream(new FileInputStream(file), 1 << 16))
  // header: magic + stats
  require(in.readInt() == LedgerSource.Magic, s"$file: not a ledger file")
  in.skipBytes(24)
  private val bounds = KeyBounds(pushed)
  // pruned projection: the ordinal of each required field in the record
  private val wantDoc = required.fieldNames.contains("doc_id")
  private val wantLang = required.fieldNames.contains("lang")
  private val wantChars = required.fieldNames.contains("n_chars")
  private val docOrd = required.fieldNames.indexOf("doc_id")
  private val langOrd = required.fieldNames.indexOf("lang")
  private val charsOrd = required.fieldNames.indexOf("n_chars")
  // the `_file` METADATA column (SupportsMetadataColumns): constant per
  // partition, so it is decoded from the partition path, never the bytes
  private val fileOrd = required.fieldNames.indexOf(LedgerSource.FileColumn)
  private val fileNameValue: UTF8String =
    if (fileOrd < 0) null else UTF8String.fromString(new File(file).getName)
  // the `_pos` METADATA column: a row's physical ordinal in this file —
  // counted over every stored record (dead or filtered rows keep their
  // ordinal), so the value addresses immutable content
  private val posOrd = required.fieldNames.indexOf(LedgerSource.PosColumn)
  private var ordinal = -1L
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      val docId =
        try in.readLong()
        catch { case _: EOFException => return false }
      ordinal += 1
      val flags = in.readByte()
      val langBytes: Array[Byte] =
        if ((flags & 1) != 0) null
        else {
          val len = in.readInt()
          if (wantLang) {
            val b = new Array[Byte](len); in.readFully(b); b
          } else { in.skipBytes(len); null } // pruned: never decoded
        }
      val nChars = in.readLong()
      val dead = (tombstones != null &&
        java.util.Arrays.binarySearch(tombstones, docId) >= 0) ||
        (posDeletes != null &&
          java.util.Arrays.binarySearch(posDeletes, ordinal) >= 0)
      if (!dead && bounds.contains(docId)) { // tombstone + pushed filter
        val row = new GenericInternalRow(required.length)
        if (wantDoc) row.setLong(docOrd, docId)
        if (wantLang) row.update(langOrd,
          if ((flags & 1) != 0) null else UTF8String.fromBytes(langBytes))
        if (wantChars) {
          if ((flags & 2) != 0) row.setNullAt(charsOrd)
          else row.setLong(charsOrd, nChars)
        }
        if (fileOrd >= 0) row.update(fileOrd, fileNameValue)
        if (posOrd >= 0) row.setLong(posOrd, ordinal)
        current = row
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

// ─────────────────────── row-level operation path ───────────────────────

/** One UPDATE / MERGE / rewrite-DELETE execution: the scan side prunes
  * and RECORDS the affected files (the "groups"), the write side lands
  * the recomputed survivors as fresh files, and commit swaps the two
  * sets. Scan and write share this instance (both live on the driver),
  * which is the whole coordination mechanism — the same design as a
  * format's copy-on-write snapshot commit, minus the catalog atomicity
  * a directory listing cannot provide (documented like the catalog's
  * non-atomic replace). */
final class LedgerRowLevelOperation(path: String,
                                    cmd: RowLevelOperation.Command,
                                    bucketWidth: Option[Long] = None)
    extends RowLevelOperation {
  /** File NAMES the operation's scan last planned — written by
    * `LedgerScan.planInputPartitions` (driver-side), read by commit. */
  @volatile private[sources] var scannedFiles: Array[String] = Array.empty

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-ledger $cmd $path"
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LedgerScanBuilder(path, None, Some(this))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new LedgerReplaceDataWrite(path, LedgerRowLevelOperation.this,
            bucketWidth)
      }
    }

  /** The `_file` metadata column must flow through the rewrite: with NO
    * metadata attributes, Spark's ReplaceDataExec takes the projection-
    * less writing task and the writer would receive the plan's RAW rows
    * — hidden `__row_operation` column included (the upstream test
    * connector always declares metadata attributes, so that layout is
    * what the engine actually exercises). Requiring `_file` keeps the
    * projected two-row (metadata, data) write path, and costs nothing:
    * the value is partition-constant. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(LedgerSource.FileColumn))
}

/** The ReplaceData commit: task writers have already landed the
  * recomputed rows as fresh UUID-named files (never colliding with the
  * old ones), so commit only unlinks the scanned groups; abort deletes
  * the fresh files and leaves the originals untouched. */
final class LedgerReplaceDataWrite(path: String, op: LedgerRowLevelOperation,
                                   bucketWidth: Option[Long] = None)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LedgerWriterFactory(path, bucketWidth)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    op.scannedFiles.foreach { name =>
      val f = new File(dir, name)
      if (f.exists() && !f.delete())
        throw new IllegalStateException(
          s"graft-ledger: cannot replace group file ${f.getPath}")
    }
    LedgerSource.commitVersion(path): Unit
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LedgerCommit(names) =>
        names.foreach(n => new File(new File(path), n).delete())
      case _ => ()
    }
}

// ───────────────────────── change feed path ─────────────────────────

/** The table's CHANGE FEED over a version interval (Delta CDF's
  * `readChangeFeed`, reconstructed from what the format already
  * persists): for each commit v in `(fromV, toV]`, the manifest DIFF
  * against v−1 yields the changes —
  *
  *   - an ADDED data file's rows are `insert`s at v;
  *   - an ADDED tombstone file's (file, key) sections are `delete`s at
  *     v, with the BEFORE-IMAGE read from the still-live data file the
  *     tombstone is scoped to (merge-on-read's no-rewrite property is
  *     exactly what keeps before-images readable);
  *   - a MoR UPDATE therefore appears as its honest decomposition, a
  *     `delete` + `insert` pair at the same version.
  *
  * A commit that REMOVED a data file (copy-on-write rewrite, interval
  * purge, REPLACE WHERE, compaction, truncate, version expiry of a
  * referenced file) destroyed before-images the feed would need — the
  * feed REFUSES such ranges loudly (the same honesty contract as
  * VERSION AS OF) instead of emitting a lossy stream: on a mor=true
  * table the row-level verbs never remove files, so the feed is total
  * over MoR + append history. Planning is manifest diffs (tiny
  * listings); reading is bounded by the changed files only. */
final class LedgerChangesTable(path: String, fromV: Long, toV: Long,
                               followRef: Option[String] = None)
    extends Table with SupportsRead {
  override def name(): String = s"graft-ledger:$path#changes($fromV,$toV]" +
    followRef.map(r => s"@follow($r)").getOrElse("")
  override def schema(): StructType = LedgerChangesTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LedgerChangesScan(path, fromV, toV, followRef)
}

object LedgerChangesTable {
  val Schema: StructType = StructType(LedgerSource.Schema.fields ++ Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false)))
}

final class LedgerChangesScan(path: String, fromV: Long, toV: Long,
                              followRef: Option[String] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = LedgerChangesTable.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ledger $path, Changes: ($fromV, $toV]"

  override def planInputPartitions(): Array[InputPartition] =
    LedgerChangesScan.changePartitions(path, fromV, toV)

  override def createReaderFactory(): PartitionReaderFactory =
    LedgerChangesScan.readerFactory

  /** STREAMING the feed — the CDC tail: offsets are COMMIT VERSIONS
    * (the natural exactly-once cursor a versioned table gives for
    * free), a microbatch is the manifest-diff changes of the versions
    * committed since the last offset, and AvailableNow drains to a
    * prepare-time snapshot of the version chain. Restart = resume from
    * the checkpointed version — every change event is delivered
    * exactly once however the commits interleave with triggers. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // A stream follows a LIVE frontier; a numeric/tag `changesTo` on a
    // BRANCHED table names a fixed commit on one lineage while the raw
    // chain head can belong to another — the stream would crash
    // mid-run ("not an ancestor") or tail a frontier the endpoint never
    // named. Refuse at plan time: branch-lineage streams name a BRANCH
    // ref (followRef), batch reads keep fixed endpoints.
    require(followRef.isDefined ||
      LedgerSource.readRef(path, "branch", "main").isEmpty,
      s"graft-ledger: streaming a change feed of branched table $path " +
        s"requires changesTo to be a BRANCH name (a live frontier); a " +
        s"numeric/tag endpoint is a fixed commit — use a batch read " +
        s"for ($fromV, $toV]")
    new LedgerChangesMicroBatchStream(path, fromV, followRef)
  }
}

object LedgerChangesScan {
  private[sources] val readerFactory: PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val cp = p.asInstanceOf[LedgerChangePartition]
        if (cp.isDelete)
          new LedgerDeleteChangeReader(cp.file, cp.version, cp.isPositional)
        else new LedgerInsertChangeReader(cp.file, cp.version)
      }
    }

  /** The manifest-diff planner shared by the batch interval and every
    * streaming microbatch: one partition per file ADDED in (fromV,
    * toV]; refuses ranges whose before-images are gone (see the class
    * scaladoc). */
  private[sources] def changePartitions(path: String, fromV: Long,
                                        toV: Long): Array[InputPartition] = {
    // the versions between fromV and toV ON toV's LINEAGE, walked via
    // the manifests' #parent headers: on a never-branched table the
    // parent chain IS numeric succession (identical behavior), while
    // on a branched table the chain interleaves lineages and a numeric
    // walk would diff manifests of DIFFERENT branches — showing
    // phantom removals/additions that never happened on either. A
    // `fromV` that is not an ancestor of `toV` refuses loudly: there
    // is no lineage whose changes that interval names.
    val lineage = ArrayBuffer.empty[Long]
    var cursor = toV
    while (cursor > fromV) {
      lineage += cursor
      val p = LedgerSource.parentVersion(path, cursor)
      require(p < cursor, s"graft-ledger: corrupt parent chain at " +
        s"version $cursor of $path (parent $p)")
      cursor = p
    }
    require(cursor == fromV,
      s"graft-ledger: version $fromV is not an ancestor of $toV at " +
        s"$path — they live on different lineages (the walk reached " +
        s"$cursor); a change feed follows ONE lineage")
    val out = ArrayBuffer.empty[InputPartition]
    var prev: Set[String] =
      if (fromV == 0) Set.empty
      else LedgerSource.readManifest(path, fromV).toSet
    lineage.reverseIterator.foreach { v =>
      val cur = LedgerSource.readManifest(path, v).toSet
      val removedData = (prev -- cur).filter(_.endsWith(".gl"))
      require(removedData.isEmpty,
        s"graft-ledger: version $v of $path removed data files " +
          s"(${removedData.mkString(", ")}) — a rewrite/purge/compaction " +
          s"destroyed the before-images this change feed would need; " +
          s"feeds are total only over merge-on-read + append history")
      (cur -- prev).toSeq.sorted.foreach { name =>
        val f = new File(new File(path), name)
        require(f.isFile, s"graft-ledger: $name of version $v is gone — " +
          "the change-feed range is no longer reconstructable")
        if (name.endsWith(".gl"))
          out += LedgerChangePartition(f.getAbsolutePath, v, isDelete = false)
        else if (name.endsWith(".gd"))
          out += LedgerChangePartition(f.getAbsolutePath, v, isDelete = true)
        else if (name.endsWith(".gp"))
          out += LedgerChangePartition(f.getAbsolutePath, v,
            isDelete = true, isPositional = true)
      }
      prev = cur
    }
    out.toArray
  }
}

/** See [[LedgerChangesScan.toMicroBatchStream]]. The offset is just the
  * last PROCESSED commit version — a long, serialized as its decimal
  * string. */
final class LedgerChangesMicroBatchStream(path: String, fromV: Long,
                                          followRef: Option[String] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  @volatile private var availableNowCap: Option[Long] = None

  /** The stream's frontier: the FOLLOWED branch ref's head when one
    * is set (the branch-lineage CDC tail — the chain head may belong
    * to any lineage on a branched table), else the chain head (the
    * unbranched st26 behavior, unchanged). Offsets stay ancestors of
    * the frontier as the ref advances — appends extend the lineage,
    * and even a fast_forward of main preserves continuity because FF
    * admits only descendants (ancestry is its precondition). */
  private def latestVersion(): Long = followRef match {
    case Some(r) => LedgerSource.readRef(path, "branch", r).getOrElse(
      throw new IllegalStateException(
        s"graft-ledger: followed branch '$r' of $path no longer exists"))
    // an unbranched stream follows the chain head; if the table BRANCHES
    // mid-stream, main pins at the chain head and trunk appends advance
    // it — following main's ref is the continuation of the same lineage
    // (the chain head may now belong to another branch)
    case None => LedgerSource.readRef(path, "branch", "main").getOrElse(
      LedgerSource.listVersions(path).lastOption.getOrElse(0L))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latestVersion())
  override def initialOffset(): Offset = LedgerVersionOffset(fromV)
  override def deserializeOffset(json: String): Offset =
    LedgerVersionOffset(json.trim.toLong)
  override def latestOffset(): Offset =
    LedgerVersionOffset(availableNowCap.getOrElse(latestVersion()))
  // SupportsTriggerAvailableNow extends SupportsAdmissionControl: no
  // read limit here (a microbatch is whatever versions committed), so
  // the limited form delegates to the cap-aware latest
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    LedgerChangesScan.changePartitions(path,
      start.asInstanceOf[LedgerVersionOffset].v,
      end.asInstanceOf[LedgerVersionOffset].v)
  override def createReaderFactory(): PartitionReaderFactory =
    LedgerChangesScan.readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] final case class LedgerVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[sources] object LedgerChangeTypes {
  val InsertType: UTF8String = UTF8String.fromString("insert")
  val DeleteType: UTF8String = UTF8String.fromString("delete")
}

private[sources] final case class LedgerChangePartition(file: String,
                                                        version: Long,
                                                        isDelete: Boolean,
                                                        isPositional: Boolean = false)
  extends InputPartition

/** An added data file replayed as `insert` rows at its birth version.
  * No tombstone overlay: later deletes are separate feed events. */
final class LedgerInsertChangeReader(file: String, version: Long)
    extends PartitionReader[InternalRow] {
  private val inner =
    new LedgerReader(file, LedgerSource.Schema, Array.empty)
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val r = inner.get()
    val row = new GenericInternalRow(5)
    row.setLong(0, r.getLong(0))
    if (r.isNullAt(1)) row.setNullAt(1) else row.update(1, r.getUTF8String(1))
    if (r.isNullAt(2)) row.setNullAt(2) else row.setLong(2, r.getLong(2))
    row.update(3, LedgerChangeTypes.InsertType)
    row.setLong(4, version)
    row
  }
  override def close(): Unit = inner.close()
}

/** An added tombstone file replayed as `delete` rows: each section's
  * keys are looked up in the (still-live) data file the section is
  * scoped to, recovering the full before-image. A POSITIONAL overlay
  * file (`.gp`) replays the same way, except a row matches when its
  * physical ordinal — counted as the data file streams — is in the
  * section set, instead of its doc_id. */
final class LedgerDeleteChangeReader(deleteFile: String, version: Long,
                                     positional: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val sections: Iterator[(String, Array[Long])] = {
    val f = new File(deleteFile)
    LedgerSource.readSections(f) { m =>
      require(m ==
        (if (positional) LedgerSource.PositionDeleteMagic
         else LedgerSource.DeleteMagic),
        s"$deleteFile: wrong overlay magic for " +
          s"${if (positional) "position-delete" else "delete"} replay")
    }.iterator.map { case (n, ks) =>
      (new File(f.getParentFile, n).getAbsolutePath, ks)
    }
  }
  private var inner: LedgerReader = _
  private var keys: Array[Long] = _
  private var ordinal = -1L // physical position within the data file
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (inner == null) {
        if (!sections.hasNext) return false
        val (dataFile, ks) = sections.next()
        require(new File(dataFile).isFile,
          s"graft-ledger: ${new File(dataFile).getName} is gone — the " +
            "change-feed range is no longer reconstructable")
        inner = new LedgerReader(dataFile, LedgerSource.Schema, Array.empty)
        keys = ks // already sorted (the writer's contract)
        ordinal = -1L
      }
      if (!inner.next()) { inner.close(); inner = null }
      else {
        ordinal += 1 // the unfiltered reader surfaces EVERY record
        val r = inner.get()
        val matchKey = if (positional) ordinal else r.getLong(0)
        if (java.util.Arrays.binarySearch(keys, matchKey) >= 0) {
          val row = new GenericInternalRow(5)
          row.setLong(0, r.getLong(0))
          if (r.isNullAt(1)) row.setNullAt(1)
          else row.update(1, r.getUTF8String(1))
          if (r.isNullAt(2)) row.setNullAt(2) else row.setLong(2, r.getLong(2))
          row.update(3, LedgerChangeTypes.DeleteType)
          row.setLong(4, version)
          current = row
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (inner != null) inner.close()
}

// ───────────────────── merge-on-read (delta) path ─────────────────────

/** One MERGE-ON-READ row-level execution ([[SupportsDelta]]): instead of
  * rewriting every scanned group, the write emits per-row ACTIONS —
  * `delete(file, key)` tombstones and fresh-file inserts — and commit
  * registers them as a new version. The row identity is the `doc_id`
  * key (the table's documented unique-key contract, the same contract
  * MERGE's ON condition already relies on), and the `_file` metadata
  * attribute scopes every tombstone to the exact immutable file the
  * deleted row was read from — what makes the overlay sound without
  * Iceberg's sequence numbers (see the class scaladoc).
  *
  * The scan side is the PLAIN read scan (not the group scan): a delta
  * write only needs the matching rows, so pushed/runtime filters may
  * drop rows, not just files — strictly cheaper than the CoW group
  * scan, on top of not rewriting a single surviving row. */
final class LedgerDeltaOperation(path: String,
                                 cmd: RowLevelOperation.Command,
                                 bucketWidth: Option[Long] = None,
                                 ref: Option[String] = None)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-ledger MoR $cmd $path"
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // a branched table's state is its REF's manifest, not the live
    // listing (which holds other lineages' files): the verb must scan
    // exactly the rows it may tombstone, so the scan pins at the ref
    new LedgerScanBuilder(path, None, None,
      pinned = ref.flatMap(r => LedgerSource.readRef(path, "branch", r)),
      bucketWidth = None)
  override def rowId(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("doc_id"))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(LedgerSource.FileColumn))
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new LedgerDeltaBatchWrite(path, bucketWidth, ref)
      }
    }
}

/** The delta commit: task writers have already landed tombstone `.gd`
  * files and inserted `.gl` files under fresh UUID names — commit only
  * stamps the version (nothing is unlinked: that is the whole point);
  * abort removes exactly the fresh files. */
final class LedgerDeltaBatchWrite(path: String,
                                  bucketWidth: Option[Long] = None,
                                  ref: Option[String] = None)
    extends DeltaBatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new LedgerDeltaWriterFactory(path, bucketWidth)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // MoR deltas only ADD files (tombstones + fresh inserts) — precise
    // snapshot from the commit's own names, like the append path; on a
    // branched table the delta extends the REF's manifest and advances
    // the ref, keeping the other lineages blind to the tombstones.
    // Same lossless protocol as the append path (ref-CAS loop, incl.
    // the mid-flight-fork re-target; chain claim + fork recheck when
    // genuinely unbranched).
    LedgerSource.additiveCommit(path, ref, messages.toSeq.flatMap {
      case LedgerCommit(names) => names
      case _ => Seq.empty
    }): Unit
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LedgerCommit(names) =>
        names.foreach(n => new File(new File(path), n).delete())
      case _ => ()
    }
}

final class LedgerDeltaWriterFactory(path: String,
                                     bucketWidth: Option[Long] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new LedgerDeltaWriter(path, partitionId, bucketWidth)
}

/** Per-task delta writer: tombstones buffer in memory grouped by the
  * data file they apply to (bounded by the task's matched rows — the
  * same working set the CoW path would REWRITE), inserts stream through
  * a regular ledger writer opened on first use. `update` is
  * delete-then-insert: the new row version lands in a fresh file, so
  * its own key is never in reach of the tombstone that killed the old
  * one. */
final class LedgerDeltaWriter(dir: String, partitionId: Int,
                              bucketWidth: Option[Long] = None)
    extends DeltaWriter[InternalRow] {
  private val tombstones =
    scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Long]]
  private var inserts: DataWriter[InternalRow] = _

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    tombstones.getOrElseUpdate(meta.getUTF8String(0).toString,
      ArrayBuffer.empty[Long]) += id.getLong(0)

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (inserts == null)
      inserts = new LedgerWriterFactory(dir, bucketWidth)
        .createWriter(partitionId, 0L)
    inserts.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val inserted =
      if (inserts == null) Seq.empty
      else inserts.commit() match { case LedgerCommit(names) => names }
    val deleted =
      if (tombstones.isEmpty) Seq.empty
      else Seq(LedgerSource.writeDeleteFile(dir,
        tombstones.map { case (f, ks) => (f, ks.toArray) }.toMap))
    LedgerCommit(inserted ++ deleted)
  }
  override def abort(): Unit = if (inserts != null) inserts.abort()
  override def close(): Unit = if (inserts != null) inserts.close()
}

// ───────────────────────────── write path ─────────────────────────────

/** Batch writes in three modes: plain append, truncate-overwrite
  * (`mode("overwrite")` / `INSERT OVERWRITE`), and FILTER overwrite
  * (`INSERT INTO … REPLACE WHERE <doc_id interval>` — the idempotent
  * backfill verb): commit first purges the interval's rows from the
  * PRE-EXISTING files through the delete machinery (metadata drops +
  * fresh-named clips), then the freshly-written files stand. Only
  * conjunctions the interval model represents exactly are accepted —
  * a declined filter errors rather than over-deleting. */
final class LedgerWriteBuilder(path: String,
                               bucketWidth: Option[Long] = None,
                               ref: Option[String] = None)
    extends WriteBuilder with SupportsOverwrite {
  private var doTruncate = false
  private var replaceBounds: Option[KeyBounds] = None
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def canOverwrite(filters: Array[Filter]): Boolean =
    LedgerSource.exactBounds(filters).isDefined
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) doTruncate = true
    else replaceBounds = Some(LedgerSource.exactBounds(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-ledger can only overwrite by doc_id intervals; got " +
          s"[${filters.mkString(", ")}]")))
    this
  }
  override def build(): Write = {
    // truncate / REPLACE WHERE unlink files — destructive, refused on
    // any table with branch refs (fail at plan time, before tasks run)
    if (doTruncate || replaceBounds.nonEmpty) {
      val branches = LedgerSource.listRefs(path, "branch")
      require(branches.isEmpty,
        s"graft-ledger: cannot truncate/overwrite $path while branch " +
          s"refs exist (${branches.keys.toSeq.sorted.mkString(", ")}) — " +
          s"CALL system.converge first")
    }
    val batch = new LedgerBatchWrite(path, doTruncate, replaceBounds,
      bucketWidth, ref)
    if (bucketWidth.isDefined && !doTruncate && replaceBounds.isEmpty)
      // s66 — the DSv2 contract where the TABLE asks Spark to arrange
      // rows before the write (`RequiresDistributionAndOrdering`, what
      // Iceberg's SortOrder-carrying tables do): a bucketed APPEND
      // requests a doc_id-ordered distribution + in-partition order,
      // so Spark plans ONE range exchange + sort and each task
      // receives a contiguous key slice — the per-task bucket split in
      // [[BucketedLedgerWriter]] then opens ~one file per bucket
      // instead of #tasks × #buckets stragglers. The split stays as
      // the SAFETY invariant (a boundary bucket straddling two tasks
      // still lands each slice inside ONE bucket-aligned file), so the
      // s35 layout contract is now held by the ENGINE's plan, with the
      // writer as backstop. Ordered-by-field, not the bucket
      // transform: field references resolve without a FunctionCatalog,
      // so the PATH API keeps working. Truncate/REPLACE keep their own
      // upstream clustering (compaction picks target_files itself —
      // a required distribution would let AQE re-decide its count).
      new Write with org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution,
          Distributions}
        import org.apache.spark.sql.connector.expressions.{Expressions,
          SortDirection, SortOrder => V2SortOrder}
        private def docIdAsc: V2SortOrder =
          Expressions.sort(Expressions.column("doc_id"),
            SortDirection.ASCENDING)
        override def requiredDistribution(): Distribution =
          Distributions.ordered(Array(docIdAsc))
        override def requiredOrdering(): Array[V2SortOrder] = Array(docIdAsc)
        override def toBatch: BatchWrite = batch
      }
    else new Write {
      override def toBatch: BatchWrite = batch
    }
  }
}

private[sources] final case class LedgerCommit(fileNames: Seq[String])
  extends WriterCommitMessage

final class LedgerBatchWrite(path: String, truncate: Boolean,
                             replaceBounds: Option[KeyBounds] = None,
                             bucketWidth: Option[Long] = None,
                             ref: Option[String] = None)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LedgerWriterFactory(path, bucketWidth)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val kept = messages.flatMap(_.asInstanceOf[LedgerCommit].fileNames).toSet
    if (truncate) { // overwrite = drop every ledger file this job didn't write
      LedgerSource.ledgerFiles(path)
        .filterNot(f => kept.contains(f.getName)).foreach(_.delete())
      // every pre-existing row is gone, so every merge-on-read tombstone
      // is consumed — this is also how compaction applies-and-drops them
      // (its read scanned through the overlay; its truncate clears it)
      LedgerSource.deleteFiles(path).foreach(_.delete())
      // dead files' index sidecars go with them (derived data, not in
      // manifests — nothing can dangle on them)
      SkipIndex.sweepOrphans(path): Unit
    }
    // REPLACE WHERE: the interval's old rows give way to the new files
    replaceBounds.foreach(b =>
      LedgerSource.purgeInterval(path, b, exclude = kept))
    // a pure append is an additive commit: precise snapshot from its
    // own names, safe under the OCC race (truncate/replace mutate the
    // live set and keep the listing snapshot + single-committer scope).
    // A ref-scoped append extends its REF's manifest (re-read at
    // commit time) and advances the ref to the claimed version.
    if (!truncate && replaceBounds.isEmpty) {
      // pure append: the lossless additive protocol — ref-CAS loop for
      // ref handles (and for unbranched handles whose table gained
      // `main` mid-flight: the create_branch race, closed commit-side),
      // chain claim + fork recheck otherwise
      LedgerSource.additiveCommit(path, ref, kept.toSeq): Unit
    } else {
      // truncate / REPLACE WHERE: destructive, single-committer by
      // contract, refused at plan time while branch refs exist — the
      // listing-snapshot commit is unchanged
      val base = ref.map(r => LedgerSource.readRef(path, "branch", r)
        .getOrElse(throw new IllegalStateException(
          s"graft-ledger: branch '$r' of $path vanished mid-write")))
      val v = LedgerSource.commitVersion(path, None, base)
      ref.foreach(r => LedgerSource.writeRef(path, "branch", r, v))
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LedgerCommit(names) =>
        names.foreach(n => new File(new File(path), n).delete())
      case _ => ()
    }
}

final class LedgerWriterFactory(path: String,
                                bucketWidth: Option[Long] = None)
    extends DataWriterFactory {
  // resolved once (driver-side for batch writes, task-side for the MoR
  // delta path's lazy insert writer — same shared-filesystem contract
  // as every other `_props` read): each declared skip index makes every
  // writer stamp its file's sidecar as part of the write itself, so
  // fresh data is born indexed — an index needs no refresh job
  private val indexes = LedgerProps.read(path).indexes
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    bucketWidth match {
      case Some(w) => new BucketedLedgerWriter(path, partitionId, w, indexes)
      case None => new LedgerWriter(path, partitionId, indexes)
    }
}

/** Bucketed write: each task splits ITS rows across one file per
  * range bucket it sees, so the on-disk invariant "every file lies
  * inside one bucket" holds regardless of the incoming distribution —
  * the layout contract `LedgerScan` validates before reporting
  * `KeyGroupedPartitioning` (the storage-partitioned-join key). Tasks
  * already clustered by bucket (the usual repartitionByRange ingest)
  * open exactly one file; a pathological task interleaving all buckets
  * opens at most #buckets small files, never corrupts the contract. */
final class BucketedLedgerWriter(dir: String, partitionId: Int, width: Long,
                                 indexes: Seq[(SkipIndex, String)] = Nil)
    extends DataWriter[InternalRow] {
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Long, LedgerWriter]
  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)
  override def write(row: InternalRow): Unit =
    writers.getOrElseUpdate(Math.floorDiv(row.getLong(0), width),
      new LedgerWriter(dir, partitionId, indexes)).write(row)
  override def commit(): WriterCommitMessage =
    LedgerCommit(writers.values.toSeq.flatMap(_.commit() match {
      case LedgerCommit(names) => names
    }))
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

final class LedgerWriter(dir: String, partitionId: Int,
                         indexes: Seq[(SkipIndex, String)] = Nil)
    extends DataWriter[InternalRow] {
  private val name =
    f"part-$partitionId%05d-${UUID.randomUUID().toString.take(8)}.gl"
  private val file = { new File(dir).mkdirs(); new File(new File(dir), name) }
  private val out = new DataOutputStream(
    new java.io.BufferedOutputStream(new FileOutputStream(file), 1 << 16))
  private var minId = Long.MaxValue
  private var maxId = Long.MinValue
  private var nRows = 0L
  // one skip-index fold per declared index, fed its column's non-null
  // values as rows pass, exactly like the key stats; with no index
  // declared both arrays are empty and the row loop skips them
  private val folds = indexes.map { case (ix, c) => c -> ix.fold(c) }
  private val langFolds = folds.collect { case ("lang", f) => f }.toArray
  private val charsFolds = folds.collect { case ("n_chars", f) => f }.toArray
  // placeholder stats — stamped with the real fold on close
  out.writeInt(LedgerSource.Magic)
  out.writeLong(0L); out.writeLong(0L); out.writeLong(0L)

  /** Metadata-carrying write (the row-level rewrite path hands
    * (metadata, data) pairs): the ledger format persists no metadata —
    * `_file` is derived from the file a row lives in, which is exactly
    * what this writer is creating — so the metadata row is dropped. */
  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val docId = row.getLong(0)
    minId = math.min(minId, docId); maxId = math.max(maxId, docId)
    nRows += 1
    out.writeLong(docId)
    val langNull = row.isNullAt(1)
    val charsNull = row.isNullAt(2)
    out.writeByte((if (langNull) 1 else 0) | (if (charsNull) 2 else 0))
    if (!langNull) {
      val b = row.getUTF8String(1).getBytes
      out.writeInt(b.length); out.write(b)
      var i = 0
      while (i < langFolds.length) { langFolds(i).add(b); i += 1 }
    }
    val chars = if (charsNull) 0L else row.getLong(2)
    out.writeLong(chars)
    if (!charsNull) {
      var i = 0
      while (i < charsFolds.length) { charsFolds(i).add(chars); i += 1 }
    }
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    val raf = new java.io.RandomAccessFile(file, "rw")
    try {
      raf.seek(LedgerSource.StatsOffset)
      raf.writeLong(if (nRows == 0) 0L else minId)
      raf.writeLong(if (nRows == 0) -1L else maxId) // empty ⇒ min>max, never matches
      raf.writeLong(nRows)
    } finally raf.close()
    // the sidecars land BEFORE the commit message: a committed file is
    // born indexed or (on any failure between the two) unindexed —
    // either way the scan's back-off keeps results exact
    folds.foreach { case (_, f) => f.publish(dir, name) }
    LedgerCommit(Seq(name))
  }
  override def abort(): Unit = {
    out.close()
    file.delete()
    indexes.foreach { case (ix, c) => ix.sidecar(dir, name, c).delete(): Unit }
  }
  override def close(): Unit = ()
}
