package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual}

import graft.queries.Portable
import graft.sources.LedgerSource
import graft.sources.SkipIndex.ZoneMap

/** Property suite for the s71 zone-map sidecar kernel: the writers' fold
  * and the scan's per-file test (`ZoneMap.keeps`) must satisfy the ZERO-FALSE-NEGATIVE contract on arbitrary
  * value sets and probe shapes — whenever ANY folded value satisfies a
  * probe, the sidecar MUST admit the file (exclusion is only ever an
  * optimization). Checked for both encodings: signed longs (big-endian
  * bytes decoded before comparison — byte order is NOT numeric order
  * for negatives, which is exactly the trap the kernel must not fall
  * into) and ASCII strings (where unsigned byte order coincides with
  * String ordering, giving an independent ground truth). The no-values
  * sidecar must refute every comparison (comparisons never match NULL)
  * and a missing or torn sidecar must back off to admission. */
object ZoneProps extends Properties("ZoneSidecar") {

  private def tmp(): String = {
    Files.createTempDirectory(Portable.scratchRoot, "zoneprops").toString
  }

  /** `vs` folded into `<dir>/_zones/f.gl.n_chars`, as a writer would. */
  private def longSidecar(dir: String, vs: Seq[Long]): Unit = {
    val fold = ZoneMap.fold("n_chars")
    vs.foreach(fold.add(_))
    fold.publish(dir, "f.gl")
  }

  private val longSets: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.choose(-1000L, 1000L))
  private val asciiStr: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val strSets: Gen[List[String]] = Gen.nonEmptyListOf(asciiStr)

  private def longProbe(v: Long, shape: Int): (Filter, Long => Boolean) =
    shape match {
      case 0 => (EqualTo("n_chars", Long.box(v)), _ == v)
      case 1 => (GreaterThan("n_chars", Long.box(v)), _ > v)
      case 2 => (GreaterThanOrEqual("n_chars", Long.box(v)), _ >= v)
      case 3 => (LessThan("n_chars", Long.box(v)), _ < v)
      case 4 => (LessThanOrEqual("n_chars", Long.box(v)), _ <= v)
      case _ => (In("n_chars", Array(Long.box(v), Long.box(v + 3))),
        x => x == v || x == v + 3)
    }

  private def strProbe(v: String, shape: Int): (Filter, String => Boolean) =
    shape match {
      case 0 => (EqualTo("lang", v), _ == v)
      case 1 => (GreaterThan("lang", v), _ > v)
      case 2 => (GreaterThanOrEqual("lang", v), _ >= v)
      case 3 => (LessThan("lang", v), _ < v)
      case 4 => (LessThanOrEqual("lang", v), _ <= v)
      case _ => (In("lang", Array[Any](v, v + "z")),
        x => x == v || x == v + "z")
    }

  property("zero false negatives: signed longs, every probe shape") =
    Prop.forAll(longSets, Gen.choose(-1010L, 1010L),
      Gen.choose(0, 5)) { (vs, pv, shape) =>
      val dir = tmp()
      longSidecar(dir, vs)
      val (filter, sat) = longProbe(pv, shape)
      val mustAdmit = vs.exists(sat)
      val admits = ZoneMap.keeps(dir, "f.gl", "n_chars", Seq(filter))
      !mustAdmit || admits
    }

  property("zero false negatives: ASCII strings, every probe shape") =
    Prop.forAll(strSets, asciiStr, Gen.choose(0, 5)) { (vs, pv, shape) =>
      val dir = tmp()
      // ASCII: String order == the fold's unsigned byte order
      val fold = ZoneMap.fold("lang")
      vs.foreach(v => fold.add(v.getBytes("UTF-8")))
      fold.publish(dir, "f.gl")
      val (filter, sat) = strProbe(pv, shape)
      val mustAdmit = vs.exists(sat)
      val admits = ZoneMap.keeps(dir, "f.gl", "lang", Seq(filter))
      !mustAdmit || admits
    }

  property("a probe matching an in-range value always admits under conjunction") =
    Prop.forAll(longSets) { vs =>
      val dir = tmp()
      longSidecar(dir, vs)
      // a conjunction of probes all satisfied by one folded value
      val v = vs.head
      ZoneMap.keeps(dir, "f.gl", "n_chars", Seq(
        GreaterThanOrEqual("n_chars", Long.box(v)),
        LessThanOrEqual("n_chars", Long.box(v)),
        EqualTo("n_chars", Long.box(v))))
    }

  property("a no-values sidecar refutes every comparison probe") =
    Prop.forAll(Gen.choose(-100L, 100L), Gen.choose(0, 5)) { (pv, shape) =>
      val dir = tmp()
      longSidecar(dir, Nil)
      !ZoneMap.keeps(dir, "f.gl", "n_chars", Seq(longProbe(pv, shape)._1))
    }

  property("missing and torn sidecars back off to admission") =
    Prop.forAll(Gen.choose(-100L, 100L),
      Gen.nonEmptyListOf(Gen.choose(0, 255))) { (pv, junk) =>
      val dir = tmp()
      val missing = ZoneMap.keeps(dir, "f.gl", "n_chars",
        Seq(EqualTo("n_chars", Long.box(pv))))
      val side = ZoneMap.sidecar(dir, "g.gl", "n_chars")
      java.nio.file.Files.createDirectories(side.getParentFile.toPath)
      java.nio.file.Files.write(side.toPath, junk.map(_.toByte).toArray)
      val torn = ZoneMap.keeps(dir, "g.gl", "n_chars",
        Seq(EqualTo("n_chars", Long.box(pv))))
      missing && torn
    }
}

/** Property suite for the `.gp` position-overlay kernel (s70): the
  * section write/read pair must round-trip exactly — dedup + sort on
  * write, union-merge on read across several overlay files — and the
  * key (`.gd`) and position (`.gp`) readers must never cross wires
  * (a reader asked for one kind ignores files of the other). */
object PositionOverlayProps extends Properties("PositionOverlay") {

  private def tmp(): String = {
    Files.createTempDirectory(Portable.scratchRoot, "posprops").toString
  }

  private val posSets: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.choose(0L, 10000L))

  property("write/read round-trips sorted distinct positions") =
    Prop.forAll(posSets) { ps =>
      val dir = tmp()
      LedgerSource.writePositionDeleteFile(dir, Map("f.gl" -> ps.toArray))
      val back = LedgerSource.positionsFor(
        LedgerSource.deleteFiles(dir).map(_.getAbsolutePath).toSeq, "f.gl")
      back.toSeq == ps.distinct.sorted
    }

  property("several overlays union-merge; foreign sections are skipped") =
    Prop.forAll(posSets, posSets) { (a, b) =>
      val dir = tmp()
      LedgerSource.writePositionDeleteFile(dir,
        Map("f.gl" -> a.toArray, "other.gl" -> Array(99999L)))
      LedgerSource.writePositionDeleteFile(dir, Map("f.gl" -> b.toArray))
      val back = LedgerSource.positionsFor(
        LedgerSource.deleteFiles(dir).map(_.getAbsolutePath).toSeq, "f.gl")
      back.toSeq == (a ++ b).distinct.sorted
    }

  property("key and position readers never cross wires") =
    Prop.forAll(posSets, posSets) { (ks, ps) =>
      val dir = tmp()
      LedgerSource.writeDeleteFile(dir, Map("f.gl" -> ks.toArray))
      LedgerSource.writePositionDeleteFile(dir, Map("f.gl" -> ps.toArray))
      val paths = LedgerSource.deleteFiles(dir).map(_.getAbsolutePath).toSeq
      val keys = LedgerSource.tombstonesFor(paths, "f.gl")
      val pos = LedgerSource.positionsFor(paths, "f.gl")
      keys.toSeq == ks.distinct.sorted && pos.toSeq == ps.distinct.sorted
    }
}
