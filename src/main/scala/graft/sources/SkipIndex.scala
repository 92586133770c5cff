package graft.sources

import java.io.{DataInputStream, DataOutputStream, File, FileInputStream}

import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.unsafe.types.UTF8String

/** A per-file skip index over one declared non-key column: the stats
  * headers skip files by KEY range only, so a probe on a scattered
  * content column (`WHERE lang = 'fr'`, `WHERE n_chars > 900`) would scan
  * every file. An index adds an OPTIONAL sidecar per data file,
  * `<dir>/<subdir>/<dataFile>.<col>`, that the scan consults for pushed
  * probes on the column: Iceberg's puffin / Delta's Bloom-index and
  * column-stats ideas at ledger scale. Two kinds exist,
  * [[SkipIndex.Bloom]] (equality/IN) and [[SkipIndex.ZoneMap]] (min/max:
  * equality, IN and ranges); a table declares each on at most one column
  * (`bloom=<col>` / `zonemap=<col>` in `_props`, see [[LedgerProps]]).
  *
  * The contract is ZERO FALSE NEGATIVES: a sidecar may ADMIT a file that
  * holds no match (Spark re-filters the rows), it must never EXCLUDE a
  * file that holds one. So a missing, truncated or foreign-format sidecar
  * backs off to "scan the file", and file names denote immutable content,
  * so a sidecar can never go stale: rewrites and compaction mint FRESH
  * names, which start unindexed until a writer or `build_<prop>` stamps
  * them. Sidecars are derived acceleration data: never in version
  * manifests, losable and rebuildable at will.
  *
  * Each index states here, once: its `_props` key ([[prop]]), its `kind`
  * in the `.indexes` metadata table, its plan tag in the scan description,
  * its sidecar directory and magic, the probe shapes it can refute, the
  * scan's per-file test ([[keeps]]) and the [[SkipIndex.Fold]] every
  * writer and the backfill use to build a sidecar. */
sealed abstract class SkipIndex(val prop: String, val kind: String,
                                val tag: String, val subdir: String,
                                val magic: Int) extends Serializable {

  def sidecar(dir: String, dataFile: String, col: String): File =
    new File(new File(dir, subdir), s"$dataFile.$col")

  /** Can this index's sidecar on `col` refute the pushed probe `f`? */
  def refutes(f: Filter, col: String): Boolean

  /** A fresh fold over the non-null values of `col`. */
  def fold(col: String): SkipIndex.Fold

  /** A well-formed sidecar's body, read after its magic; None on any
    * doubt. */
  protected type Sidecar
  protected def read(in: DataInputStream): Option[Sidecar]
  /** May a file with this sidecar hold a row matching ALL `probes`? */
  protected def admits(s: Sidecar, probes: Seq[Filter]): Boolean

  /** May `dataFile` hold a row whose `col` matches ALL `probes`? The
    * sidecar is loaded ONCE for the batch (an IN-probe can carry a
    * join-delivered key set, and a read per value would make planning IO
    * O(values x files)); `true` on any doubt — no sidecar (an unindexed
    * file), a foreign magic or a torn read all back off to a scan. */
  def keeps(dir: String, dataFile: String, col: String,
            probes: Seq[Filter]): Boolean =
    probes.isEmpty || open(dir, dataFile, col)(read).forall(admits(_, probes))

  /** Does a sidecar with this index's magic cover `dataFile`? Existence
    * plus a header check, no body read: what `.indexes` reports. */
  def covers(dir: String, dataFile: String, col: String): Boolean =
    open(dir, dataFile, col)(_ => Some(())).isDefined

  /** `body` over the sidecar's stream after its magic; None when there
    * is no sidecar, its magic is foreign or a read fails. */
  private def open[T](dir: String, dataFile: String, col: String)(
      body: DataInputStream => Option[T]): Option[T] = {
    val f = sidecar(dir, dataFile, col)
    if (!f.isFile) None
    else try {
      val in = new DataInputStream(
        new java.io.BufferedInputStream(new FileInputStream(f), 1 << 13))
      try if (in.readInt() != magic) None else body(in)
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }
}

object SkipIndex {
  /** Every kind, in the order the scan tests them and `.indexes` lists
    * them. */
  val all: Seq[SkipIndex] = Seq(Bloom, ZoneMap)

  /** Does `f` probe one of `indexes` in a shape its sidecar can refute?
    * NULL probes stay Spark-side: a sidecar holds no nulls, and
    * `col = NULL` matches nothing anyway, so declining is exact. */
  def accepts(indexes: Seq[(SkipIndex, String)], f: Filter): Boolean =
    (f match {
      case In(_, vs) => vs != null && vs.nonEmpty && !vs.contains(null)
      case EqualTo(_, v) => v != null
      case GreaterThan(_, v) => v != null
      case GreaterThanOrEqual(_, v) => v != null
      case LessThan(_, v) => v != null
      case LessThanOrEqual(_, v) => v != null
      case _ => false
    }) && indexes.exists { case (ix, c) => ix.refutes(f, c) }

  /** Remove sidecars whose data file is GONE (plus stale `.tmp` publish
    * leftovers): nothing can dangle on a sidecar, so the destructive
    * verbs (truncate, expiry, converge) sweep them opportunistically and
    * the sidecar directories don't keep an entry for every name a
    * rewrite ever minted. Returns the count swept. */
  def sweepOrphans(dir: String): Long = {
    val liveData = LedgerSource.ledgerFiles(dir).map(_.getName).toSet
    var n = 0L
    all.foreach { ix =>
      Option(new File(dir, ix.subdir).listFiles()).getOrElse(Array.empty[File])
        .foreach { f =>
          // sidecar name = <dataFile>.<col>; strip the LAST dot segment
          val cut = f.getName.lastIndexOf('.')
          val dataName = if (cut < 0) f.getName else f.getName.take(cut)
          if (!liveData.contains(dataName) && f.delete()) n += 1
        }
    }
    n
  }

  /** A value's canonical bytes, shared by every fold and probe so the
    * two sides can never disagree on an encoding: strings their UTF-8
    * bytes, longs (and ints) their big-endian 8 bytes; None for a null or
    * an unsupported type, which probes treat as "may match". */
  private def bytesOf(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes("UTF-8"))
    case u: UTF8String => Some(u.getBytes)
    case l: java.lang.Long => Some(longBytes(l.longValue()))
    case i: java.lang.Integer => Some(longBytes(i.longValue()))
    case _ => None
  }

  private def longBytes(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  /** Builds one data file's sidecar from the non-null values of its
    * column, as rows pass: every writer feeds one per declared index, and
    * the backfill feeds one per file with the file's distinct values. */
  abstract class Fold(ix: SkipIndex, col: String) {
    /** A string value's UTF-8 bytes (may alias a reused row buffer). */
    def add(utf8: Array[Byte]): Unit
    def add(v: Long): Unit
    protected def write(out: DataOutputStream): Unit

    /** Land the sidecar of `dataFile` atomically, so a reader never sees
      * a torn one; the writers call this BEFORE their commit message, so
      * a committed file is born indexed or (on a failure between the
      * two) unindexed, and either way the scan stays exact. */
    def publish(dir: String, dataFile: String): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new DataOutputStream(buf)
      out.writeInt(ix.magic)
      write(out)
      out.flush()
      new File(dir, ix.subdir).mkdirs()
      LedgerSource.publish(ix.sidecar(dir, dataFile, col), buf.toByteArray)
    }
  }

  /** Bloom filter (s64), for equality and IN probes. Layout: magic
    * "GBF1" | k i32 | mBits i64 | mBits/64 words i64. Sized by the file's
    * DISTINCT value count at ~10 bits each (<1% false positives at k=7);
    * the k probe bits come from two 32-bit Murmur3 hashes of the value's
    * canonical bytes (Kirsch-Mitzenmacher double hashing). An empty
    * filter proves every value absent. */
  case object Bloom extends SkipIndex("bloom", "bloom", "BloomSkip", "_bloom",
    0x47424631) {
    private val HashesPerKey = 7

    private def hashes(bytes: Array[Byte]): (Int, Int) =
      (scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5EEDB100),
        scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5EEDB2F1))

    private def bit(h: (Int, Int), i: Int, mBits: Long): Long =
      java.lang.Math.floorMod(h._1.toLong + i.toLong * h._2.toLong, mBits)

    def refutes(f: Filter, col: String): Boolean = f match {
      case EqualTo(`col`, _) | In(`col`, _) => true
      case _ => false
    }

    /** (k, mBits, words) */
    protected type Sidecar = (Int, Long, Array[Long])

    protected def read(in: DataInputStream): Option[Sidecar] = {
      val k = in.readInt()
      val mBits = in.readLong()
      if (k <= 0 || mBits <= 0 || mBits % 64 != 0) None
      else {
        val words = Array.fill((mBits / 64L).toInt)(in.readLong())
        Some((k, mBits, words))
      }
    }

    protected def admits(s: Sidecar, probes: Seq[Filter]): Boolean = {
      val (k, mBits, words) = s
      def mightHold(v: Any): Boolean = bytesOf(v).forall { b =>
        val h = hashes(b)
        (0 until k).forall { i =>
          val x = bit(h, i, mBits)
          (words((x / 64L).toInt) & (1L << (x % 64L))) != 0L
        }
      }
      probes.forall {
        case EqualTo(_, v) => mightHold(v)
        case In(_, vs) => vs.exists(mightHold)
        case _ => true
      }
    }

    /** Folds the DISTINCT value hashes, so its memory is bounded by the
      * file's distinct values. */
    def fold(col: String): Fold = new Fold(this, col) {
      private val seen = scala.collection.mutable.HashSet.empty[(Int, Int)]
      def add(utf8: Array[Byte]): Unit = seen += hashes(utf8)
      def add(v: Long): Unit = seen += hashes(longBytes(v))
      protected def write(out: DataOutputStream): Unit = {
        val n = math.max(seen.size, 1)
        val mBits = math.max(64L, (n.toLong * 10L + 63L) / 64L * 64L)
        val words = new Array[Long]((mBits / 64L).toInt)
        seen.foreach { h =>
          (0 until HashesPerKey).foreach { i =>
            val x = bit(h, i, mBits)
            words((x / 64L).toInt) |= (1L << (x % 64L))
          }
        }
        out.writeInt(HashesPerKey)
        out.writeLong(mBits)
        words.foreach(out.writeLong)
      }
    }
  }

  /** Zone map (s71): the file's non-null MIN/MAX of the column, for
    * comparison probes (=, IN, <, <=, >, >=), the range complement to the
    * Bloom. Layout: magic "GZM1" | typeTag u8 (0=long, 1=string) |
    * hasValues u8 | [minLen i32, min bytes, maxLen i32, max bytes]. Longs
    * are big-endian 8 bytes, DECODED for signed comparison (byte order is
    * not numeric order for negatives); strings are raw UTF-8 compared
    * unsigned byte-wise — exactly UTF8String's binary ordering, so the
    * sidecar and Spark's `min(string)` can never disagree. Comparisons
    * never match NULL, so a no-values sidecar (an empty or all-null file)
    * refutes every probe. */
  case object ZoneMap extends SkipIndex("zonemap", "zone", "ZoneSkip", "_zones",
    0x475A4D31) {
    private val MaxBoundBytes = 1 << 20

    def refutes(f: Filter, col: String): Boolean = f match {
      case EqualTo(`col`, _) | In(`col`, _) | GreaterThan(`col`, _) |
           GreaterThanOrEqual(`col`, _) | LessThan(`col`, _) |
           LessThanOrEqual(`col`, _) => true
      case _ => false
    }

    /** (isLong, Some((minBytes, maxBytes)) or None for no values) */
    protected type Sidecar = (Boolean, Option[(Array[Byte], Array[Byte])])

    protected def read(in: DataInputStream): Option[Sidecar] = {
      def bound(): Option[Array[Byte]] = {
        val len = in.readInt()
        if (len < 0 || len > MaxBoundBytes) None
        else { val b = new Array[Byte](len); in.readFully(b); Some(b) }
      }
      val tag = in.readByte()
      val has = in.readByte()
      if ((tag != 0 && tag != 1) || (has != 0 && has != 1)) None
      else if (has == 0) Some((tag == 0, None))
      else for (mn <- bound(); mx <- bound()) yield (tag == 0, Some((mn, mx)))
    }

    /** Unsigned lexicographic byte order: UTF8String's binary ordering. */
    private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(a.length, b.length)
    }

    protected def admits(s: Sidecar, probes: Seq[Filter]): Boolean =
      s match {
        case (_, None) => false // no non-null values: no comparison matches
        case (isLong, Some((mn, mx))) =>
          def cmp(v: Array[Byte], w: Array[Byte]): Int =
            if (isLong)
              java.lang.Long.compare(java.nio.ByteBuffer.wrap(v).getLong,
                java.nio.ByteBuffer.wrap(w).getLong)
            else unsignedCompare(v, w)
          // an unsupported probe value cannot be placed: admit
          def test(v: Any)(p: Array[Byte] => Boolean): Boolean =
            bytesOf(v).forall(p)
          def inRange(v: Any): Boolean =
            test(v)(b => cmp(b, mn) >= 0 && cmp(b, mx) <= 0)
          probes.forall {
            case EqualTo(_, v) => inRange(v)
            case In(_, vs) => vs.exists(inRange)
            case GreaterThan(_, v) => test(v)(cmp(mx, _) > 0)
            case GreaterThanOrEqual(_, v) => test(v)(cmp(mx, _) >= 0)
            case LessThan(_, v) => test(v)(cmp(mn, _) < 0)
            case LessThanOrEqual(_, v) => test(v)(cmp(mn, _) <= 0)
            case _ => true
          }
      }

    /** Folds min/max as rows pass, like the key stats: `n_chars` as
      * signed longs, `lang` as unsigned bytes. */
    def fold(col: String): Fold = new Fold(this, col) {
      private val isLong = col == "n_chars"
      private var minB, maxB: Array[Byte] = null
      private var minL = Long.MaxValue
      private var maxL = Long.MinValue
      private var has = false
      def add(utf8: Array[Byte]): Unit = {
        // clone when RETAINING: the bytes may alias a reused row buffer
        if (minB == null || unsignedCompare(utf8, minB) < 0) minB = utf8.clone()
        if (maxB == null || unsignedCompare(utf8, maxB) > 0) maxB = utf8.clone()
        has = true
      }
      def add(v: Long): Unit = {
        minL = math.min(minL, v)
        maxL = math.max(maxL, v)
        has = true
      }
      protected def write(out: DataOutputStream): Unit = {
        out.writeByte(if (isLong) 0 else 1)
        out.writeByte(if (has) 1 else 0)
        if (has) {
          val (mn, mx) =
            if (isLong) (longBytes(minL), longBytes(maxL)) else (minB, maxB)
          out.writeInt(mn.length); out.write(mn)
          out.writeInt(mx.length); out.write(mx)
        }
      }
    }
  }
}
