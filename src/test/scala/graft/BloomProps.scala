package graft

import java.io.File
import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties}

import graft.queries.Portable
import graft.sources.LedgerSource

/** Property suite for the s64 Bloom sidecar kernel: the write/probe
  * pair must satisfy the ZERO-FALSE-NEGATIVE contract on arbitrary
  * value sets — every value folded into a sidecar MUST probe positive
  * (the scan may then never exclude a file that holds the value), for
  * both supported encodings (string bytes and big-endian longs) and at
  * every set size including empty (an empty filter proves absence of
  * everything — the build_bloom backfill's all-null-file arm). The
  * false-POSITIVE side is statistical, not contractual; a sanity bound
  * checks it stays far from saturation at the sized 10 bits/key. */
object BloomProps extends Properties("BloomSidecar") {

  private def tmp(): String = {
    Files.createTempDirectory(Portable.scratchRoot, "bloomprops").toString
  }

  private val words: Gen[List[String]] =
    Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  private val longs: Gen[List[Long]] = Gen.listOf(Gen.choose(-1e15.toLong, 1e15.toLong))

  private def strBytes(s: String) = s.getBytes("UTF-8")
  private def longBytes(l: Long) =
    java.nio.ByteBuffer.allocate(8).putLong(l).array()

  property("zero false negatives over arbitrary string sets") =
    Prop.forAll(words) { vs =>
      val dir = tmp()
      LedgerSource.writeBloomSidecar(dir, "f.gl", "lang",
        vs.map(v => LedgerSource.bloomHashes(strBytes(v))))
      vs.forall(v =>
        LedgerSource.bloomMightContain(dir, "f.gl", "lang", strBytes(v)))
    }

  property("zero false negatives over arbitrary long sets") =
    Prop.forAll(longs) { vs =>
      val dir = tmp()
      LedgerSource.writeBloomSidecar(dir, "f.gl", "n_chars",
        vs.map(v => LedgerSource.bloomHashes(longBytes(v))))
      vs.forall(v =>
        LedgerSource.bloomMightContain(dir, "f.gl", "n_chars", longBytes(v)))
    }

  property("an empty filter proves absence; a missing sidecar backs off") =
    Prop.forAll(words.map(_.take(5))) { vs =>
      val dir = tmp()
      LedgerSource.writeBloomSidecar(dir, "f.gl", "lang", Nil)
      val emptyExcludes = vs.forall(v =>
        !LedgerSource.bloomMightContain(dir, "f.gl", "lang", strBytes(v)))
      val missingAdmits = vs.forall(v =>
        LedgerSource.bloomMightContain(dir, "other.gl", "lang", strBytes(v)))
      emptyExcludes && missingAdmits
    }

  property("a truncated sidecar backs off to a scan, never excludes") =
    Prop.forAll(words.suchThat(_.nonEmpty)) { vs =>
      val dir = tmp()
      LedgerSource.writeBloomSidecar(dir, "f.gl", "lang",
        vs.map(v => LedgerSource.bloomHashes(strBytes(v))))
      val f = new File(new File(dir, LedgerSource.BloomDir), "f.gl.lang")
      val bytes = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, bytes.take(math.max(1, bytes.length / 2)))
      // a torn filter must ADMIT everything (zero-false-negative holds
      // through corruption by backing off), including absent values
      (vs :+ "definitely-absent-zz").forall(v =>
        LedgerSource.bloomMightContain(dir, "f.gl", "lang", strBytes(v)))
    }

  property("false-positive rate stays far from saturation at 10 bits/key") =
    Prop.forAll(Gen.choose(50, 300)) { n =>
      val dir = tmp()
      val vs = (0 until n).map(i => s"member_$i")
      LedgerSource.writeBloomSidecar(dir, "f.gl", "lang",
        vs.map(v => LedgerSource.bloomHashes(strBytes(v))))
      val probes = (0 until 200).map(i => s"absent_$i")
      val fp = probes.count(v =>
        LedgerSource.bloomMightContain(dir, "f.gl", "lang", strBytes(v)))
      // theoretical fp ≈ 0.8% at m=10n,k=7; 10% of 200 probes is a
      // 12σ-loose ceiling that still catches a sizing/hashing bug
      fp <= 20
    }
}
