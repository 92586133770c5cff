package graft

import org.apache.spark.sql.functions._

/** Semantics checks for the round-9 operator: the t23b BPE training loop
  * (merge table + greedy re-segmentation), cross-validated against a
  * driver-side brute-force trainer. */
class Round9OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Codepoint-level character split — the queries segment with
    * `substring`, which is codepoint-based in both engines, so the brute
    * force must not split surrogate pairs. */
  private def chars(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  test("t23b: the judged merge table equals brute-force BPE training") {
    val texts = graft.engine.Tables(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val wf = collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- t.split(" ") if w.length >= 2)
      wf(w) = wf.getOrElse(w, 0L) + 1L
    var segs: Map[Vector[String], Long] =
      wf.toSeq.groupBy { case (w, _) => chars(w) }
        .map { case (k, vs) => k -> vs.map(_._2).sum }
    val expected = collection.mutable.Buffer.empty[(Long, String, String, Long)]
    for (step <- 1 to 3) {
      val pc = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- segs; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((a, b), c) = pc.minBy { case ((pa, pb), pcnt) => (-pcnt, pa, pb) }
      expected += ((step.toLong, a, b, c))
      // greedy left-to-right merge, exactly the fold the queries run
      segs = segs.toSeq.map { case (syms, f) =>
        val out = collection.mutable.Buffer.empty[String]
        for (x <- syms) {
          if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
          else out += x
        }
        out.toVector -> f
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    }
    val got = SparkEntry.queries("t23b_bpe_train")(spark, dir)
      .collect().map(r => (r.getAs[Long]("step"), r.getAs[String]("a"),
        r.getAs[String]("b"), r.getAs[Long]("cnt"))).toSeq
    assert(got == expected.toSeq, s"got $got expected $expected")
    // merges 2 and 3 must depend on the re-segmentation being real: at
    // minimum the merge table has 3 distinct pairs (a repeat would mean
    // the reseg failed to consume the merged pair's occurrences)
    assert(got.map(r => (r._2, r._3)).distinct.size == 3)
  }

  test("t24: per-doc token counts equal brute-force encoding under the trained merges") {
    val docs = graft.engine.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // brute-force train (same as the t23b test): 3 greedy merges over the
    // word-frequency table
    val wf = collection.mutable.Map.empty[String, Long]
    for ((_, t) <- docs; w <- t.split(" ") if w.length >= 2)
      wf(w) = wf.getOrElse(w, 0L) + 1L
    var segs: Map[String, Vector[String]] = wf.keys.map(w => w -> chars(w)).toMap
    for (_ <- 1 to 3) {
      val pc = collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + wf(w)
      val ((a, b), _) = pc.minBy { case ((pa, pb), pcnt) => (-pcnt, pa, pb) }
      segs = segs.map { case (w, syms) =>
        val out = collection.mutable.Buffer.empty[String]
        for (x <- syms) {
          if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
          else out += x
        }
        w -> out.toVector
      }
    }
    val expected = docs.flatMap { case (id, t) =>
      val ws = t.split(" ").filter(_.length >= 2)
      if (ws.isEmpty) None
      else Some((id, ws.length.toLong, ws.map(w => segs(w).length.toLong).sum))
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("t24_bpe_encode")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tok"))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("q09: per-language sample sizes equal driver-side water-filling") {
    val big = "/root/testdata/sf0.01"
    val B = 300L
    val counts = graft.engine.Tables(spark, big, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    // precondition the closed form relies on: budget below total capacity
    assert(counts.values.sum > B, s"fixtures changed: corpus smaller than budget $B")
    // brute-force water-fill: the largest L with sum(min(n, L)) <= B
    val lvl = Iterator.from(0)
      .takeWhile(l => counts.values.map(n => math.min(n, l.toLong)).sum <= B)
      .toSeq.last.toLong
    val quota = counts.view.mapValues(n => math.min(n, lvl)).toMap
    val sampled = SparkEntry.queries("q09_unimax_sample")(spark, big)
      .collect().map(_.getAs[String]("lang"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(sampled == quota.filter(_._2 > 0),
      s"sampled sizes $sampled != water-filled quotas $quota (level $lvl)")
    // the UniMax property: every unsaturated language gets the SAME
    // allocation (the level), and saturated ones are fully included
    quota.foreach { case (l, q) =>
      assert(q == lvl || q == counts(l), s"$l: quota $q is neither level nor capacity")
    }
  }

  test("q09: the closed-form water-filling level is unique and correct for random capacities") {
    // the query computes the level via one valid boundary row; this pins
    // that (for any capacity multiset and any budget BELOW total — the
    // precondition the spec above asserts of the fixtures) exactly one
    // row passes the filter and its level equals the brute-force maximum,
    // so a fixture regeneration can never make the 1-row `level` frame
    // empty or ambiguous
    val rnd = new scala.util.Random(9)
    for (_ <- 1 to 1000) {
      val k = 1 + rnd.nextInt(8)
      val caps = Vector.fill(k)(1L + rnd.nextInt(200))
      val total = caps.sum
      val b = 1L + rnd.nextInt(total.toInt - 1) // B < total
      val brute = Iterator.from(0)
        .takeWhile(l => caps.map(c => math.min(c, l.toLong)).sum <= b)
        .toSeq.last.toLong
      val sorted = caps.sorted
      val candidates = for {
        i <- 1 to k
        cumex = sorted.take(i - 1).sum
        lagn = if (i >= 2) sorted(i - 2) else 0L
        if cumex <= b
        l = (b - cumex) / (k - i + 1)
        if l >= lagn && l < sorted(i - 1)
      } yield l
      assert(candidates.size == 1, s"caps=$caps B=$b candidates=$candidates")
      assert(candidates.head == brute,
        s"caps=$caps B=$b closed=${candidates.head} brute=$brute")
    }
  }

  test("t23b: merge 1 agrees with t23's top-ranked pair") {
    val t23Top = SparkEntry.queries("t23_bpe_merge")(spark, dir)
      .limit(1).collect().head
    val m1 = SparkEntry.queries("t23b_bpe_train")(spark, dir)
      .where(col("step") === 1).collect().head
    assert(m1.getAs[String]("a") + m1.getAs[String]("b")
      == t23Top.getAs[String]("pair"))
    assert(m1.getAs[Long]("cnt") == t23Top.getAs[Long]("cnt"))
  }

  test("t23b: state lineage stays truncated — merge 10's plan is as flat as merge 1's") {
    // the unbounded-N claim behind "extends to the thousands of merges a
    // production tokenizer trains": after N merges the state frame must
    // plan as a bare scan of the checkpointed RDD — no accumulated fold
    // projections, no joins, no corpus rescan. A missing localCheckpoint
    // would make this plan grow linearly in N and the optimizer cost
    // quadratic (the r8 t10 lesson).
    val (merges, seg) = graft.queries.TextQueries.bpeTrain(spark, dir, 10)
    val p = seg.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("FileScan") && !p.contains("Exchange") && !p.contains("Join"), p)
    assert(p.linesIterator.size <= 3, s"state plan grew with merge count:\n$p")
    // and the 10 merges are 10 distinct pairs (re-segmentation is real)
    val pairs = merges.map(_.collect().head).map(r => (r.getString(1), r.getString(2)))
    assert(pairs.distinct.size == 10, pairs.toString)
    GraftSession.release(spark)
  }

  test("t23b: the greedy fold handles runs and never false-matches a longer symbol") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      ("h e l l o", "h e ll o"),   // plain adjacent merge
      ("l l l l", "ll ll"),        // run of 4: greedy left-to-right
      ("l l l", "ll l"),           // odd run: leftmost wins
      ("a l", "a l"),              // pair absent
      ("x al l", "x al l"),        // 'al' ends in 'l' but is NOT token 'l'
      ("ll l l", "ll ll"),         // already-merged symbol is not re-split
      ("l", "l"))                  // single symbol: fold is identity
    val got = cases.toDF("seg", "want")
      .withColumn("a", lit("l")).withColumn("b", lit("l"))
      .withColumn("merged", expr(
        "aggregate(split(seg, ' '), '', (acc, x) -> " +
          "CASE WHEN acc = '' THEN x " +
          "WHEN x = b AND (acc = a OR right(acc, length(a) + 1) = ' ' || a) THEN acc || b " +
          "ELSE acc || ' ' || x END)"))
      .select(col("seg"), col("want"), col("merged")).collect()
    got.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"fold(${r.getString(0)}) = ${r.getString(2)}, want ${r.getString(1)}")
    }
  }

  test("v19: IVFADC equals the cell-filtered v16 ADC, re-ranked — the composition is exact") {
    // the pieces are judged elsewhere (v05 coarse cells, v16 ADC); what
    // v19 adds is their COMPOSITION, so cross-validate exactly that:
    // collect the coarse assignment and the full (un-pruned) ADC pair
    // scores from the engine's own building blocks, compose them in the
    // driver (same-cell filter → (adc, vec_id) top-5), and require the
    // judged v19 rows to match bit-for-bit.
    val cells = graft.queries.VectorQueries.seedAssigned(spark, dir)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val fullAdc = SparkEntry.queries("v16_pq_adc")(spark, dir) // top-5 UNPRUNED
    // v16 only exposes its top-5; rebuild the full pair-score table from
    // the same primitives it uses (PqAssignments' seed assignment) so the
    // driver-side compose sees every same-cell candidate
    val (asg0, _) = PqAssignments(spark, dir)
    val codeOf = asg0.select(col("vec_id"), col("j"), col("code_id")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("j")) -> r.getAs[Long]("code_id")).toMap
    val emb = graft.engine.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def subD2(q: Array[Float], c: Array[Float], j: Int): Double = {
      var acc = 0.0
      var i = j * 8
      while (i < j * 8 + 8) { // the engines' sequential IEEE fold
        val d = q(i).toDouble - c(i).toDouble
        acc += d * d
        i += 1
      }
      acc
    }
    val qIds = (10L until 20L).filter(emb.contains)
    val expected = qIds.flatMap { q =>
      val cand = emb.keys.filter(v => v != q && cells(v) == cells(q))
      cand.map { v =>
        val adc = (0 until 8).map { j =>
          val code = codeOf((v, j))
          math.round(subD2(emb(q), emb(code), j) * 1000000)
        }.sum
        (q, v, adc)
      }.toSeq.sortBy { case (_, v, adc) => (adc, v) }.take(5).zipWithIndex
        .map { case ((qq, v, adc), i) => (qq, (i + 1).toLong, v, adc) }
    }
    val got = SparkEntry.queries("v19_ann_ivfpq")(spark, dir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("adc_us"))).toSeq
    assert(got == expected, s"got ${got.take(8)}… expected ${expected.take(8)}…")
    // and the pruning is real: at least one query's IVFADC top-5 must
    // differ from the unpruned v16 top-5 (otherwise the cell key joined
    // nothing away and the test proves less than it claims)
    val v16Top = fullAdc.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    assert(got.exists { case (q, _, v, _) => !v16Top.contains((q, v)) } ||
      got.map(g => (g._1, g._3)).toSet != v16Top,
      "IVF pruning changed nothing — candidate sets identical")
    GraftSession.release(spark)
  }

  test("m08: frames tile each document's waveform — counts and total energy are conserved") {
    val wav = graft.queries.MultimodalQueries.WavCodec
    val docs = graft.engine.Tables(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = SparkEntry.queries("m08_wav_features")(spark, dir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet)
    for ((id, fr) <- byDoc) {
      val n = math.max(1, docs(id).length)
      assert(fr.length == (n + wav.FrameLen - 1) / wav.FrameLen,
        s"doc $id: ${fr.length} frames for $n samples")
      assert(fr.map(_.getAs[Long]("frame_no")).sorted.toSeq == (0L until fr.length).toSeq)
      assert(fr.forall(_.getAs[Long]("n_samples") == n))
      assert(fr.forall(_.getAs[Long]("sample_rate") == 8000L))
      val total = (0 until n).map { i =>
        val s = wav.sampleAt(docs(id), i).toLong; s * s
      }.sum
      assert(fr.map(_.getAs[Long]("energy")).sum == total,
        s"doc $id: frame energies do not sum to the waveform energy")
    }
  }
}
