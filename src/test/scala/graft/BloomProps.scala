package graft

import java.nio.file.Files

import org.apache.spark.sql.sources.EqualTo
import org.scalacheck.{Gen, Prop, Properties}

import graft.queries.Portable
import graft.sources.SkipIndex.Bloom

/** Property suite for the s64 Bloom sidecar kernel: the writers' fold
  * and the scan's per-file test (`Bloom.keeps`) must satisfy the
  * ZERO-FALSE-NEGATIVE contract on arbitrary value sets — every value
  * folded into a sidecar MUST probe positive (the scan may then never
  * exclude a file that holds the value), for both supported encodings
  * (string bytes and big-endian longs) and at every set size including
  * empty (an empty filter proves absence of everything — the backfill's
  * all-null-file arm). The false-POSITIVE side is statistical, not
  * contractual; a sanity bound checks it stays far from saturation at
  * the sized 10 bits/key. */
object BloomProps extends Properties("BloomSidecar") {

  private def tmp(): String = {
    Files.createTempDirectory(Portable.scratchRoot, "bloomprops").toString
  }

  private val words: Gen[List[String]] =
    Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  private val longs: Gen[List[Long]] = Gen.listOf(Gen.choose(-1e15.toLong, 1e15.toLong))

  /** `vs` folded into `<dir>/_bloom/f.gl.lang`, as a writer would. */
  private def strSidecar(dir: String, vs: Seq[String]): Unit = {
    val fold = Bloom.fold("lang")
    vs.foreach(v => fold.add(v.getBytes("UTF-8")))
    fold.publish(dir, "f.gl")
  }

  /** The scan's verdict on `file` for the probe `lang = v`. */
  private def keepsLang(dir: String, file: String, v: String): Boolean =
    Bloom.keeps(dir, file, "lang", Seq(EqualTo("lang", v)))

  property("zero false negatives over arbitrary string sets") =
    Prop.forAll(words) { vs =>
      val dir = tmp()
      strSidecar(dir, vs)
      vs.forall(keepsLang(dir, "f.gl", _))
    }

  property("zero false negatives over arbitrary long sets") =
    Prop.forAll(longs) { vs =>
      val dir = tmp()
      val fold = Bloom.fold("n_chars")
      vs.foreach(fold.add(_))
      fold.publish(dir, "f.gl")
      vs.forall(v => Bloom.keeps(dir, "f.gl", "n_chars",
        Seq(EqualTo("n_chars", Long.box(v)))))
    }

  property("an empty filter proves absence; a missing sidecar backs off") =
    Prop.forAll(words.map(_.take(5))) { vs =>
      val dir = tmp()
      strSidecar(dir, Nil)
      val emptyExcludes = vs.forall(!keepsLang(dir, "f.gl", _))
      val missingAdmits = vs.forall(keepsLang(dir, "other.gl", _))
      emptyExcludes && missingAdmits
    }

  property("a truncated sidecar backs off to a scan, never excludes") =
    Prop.forAll(words.suchThat(_.nonEmpty)) { vs =>
      val dir = tmp()
      strSidecar(dir, vs)
      val f = Bloom.sidecar(dir, "f.gl", "lang")
      val bytes = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, bytes.take(math.max(1, bytes.length / 2)))
      // a torn filter must ADMIT everything (zero-false-negative holds
      // through corruption by backing off), including absent values
      (vs :+ "definitely-absent-zz").forall(keepsLang(dir, "f.gl", _))
    }

  property("false-positive rate stays far from saturation at 10 bits/key") =
    Prop.forAll(Gen.choose(50, 300)) { n =>
      val dir = tmp()
      val vs = (0 until n).map(i => s"member_$i")
      strSidecar(dir, vs)
      val probes = (0 until 200).map(i => s"absent_$i")
      val fp = probes.count(keepsLang(dir, "f.gl", _))
      // theoretical fp ≈ 0.8% at m=10n,k=7; 10% of 200 probes is a
      // 12σ-loose ceiling that still catches a sizing/hashing bug
      fp <= 20
    }
}
