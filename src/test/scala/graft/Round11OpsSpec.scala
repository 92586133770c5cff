package graft

import org.apache.spark.sql.functions._
import graft.queries.Portable

/** Semantics checks for the round-11 additions: j14's prefix-filtered
  * set-similarity join against a driver-side brute-force all-pairs
  * recompute (the COMPLETENESS property the judged oracle cannot see —
  * both engines share the prefix-filter plan, so a lost pair would pass
  * the hash compare), u05's changelog non-vacuity (all three change
  * kinds must exist or the maintenance path is judged on a trivial
  * delta), and st15's closed-form emission rule replayed as a batch
  * recompute with the WatermarkSemanticsSpec-pinned watermark
  * arithmetic — plus u06's four-change-kind + delete-cascade fixture
  * pin and g38's Bellman-Ford convergence pin (round 7 must be a
  * fixpoint of round 6). */
class Round11OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // driver twins of TextQueries' portable hash + shingle construction
  // (restated independently on purpose: a bug shared by query and spec
  // helper would be invisible)
  private def pHash(str: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  private def shingleSet(text: String): Set[Long] = {
    val ws = text.split(" ", -1) // Spark split keeps trailing empties
    val n = ws.length
    (0 to math.max(n - 3, 0)).map { i =>
      val w1 = if (i + 1 < n) ws(i + 1) else ""
      val w2 = if (i + 2 < n) ws(i + 2) else ""
      pHash(s"${ws(i)} $w1 $w2") % 1000003L
    }.toSet
  }

  test("j14: prefix-filtered join equals brute-force all-pairs Jaccard at τ = 3/5") {
    val docs = graft.engine.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val seeded = docs ++ docs.filter(_._1 < 10L)
      .map { case (id, t) => (id + 1000000000000L, t) }
    val sets = seeded.map { case (id, t) => (id, shingleSet(t)) }
    val expected = (for {
      i <- sets.indices
      j <- sets.indices
      if sets(i)._1 < sets(j)._1
      (ida, a) = sets(i)
      (idb, b) = sets(j)
      nInt = (a & b).size
      if nInt * 8 >= (a.size + b.size) * 3
    } yield (ida, idb, nInt.toLong, a.size.toLong, b.size.toLong))
      .sortBy(x => (x._1, x._2))
    assert(expected.nonEmpty, "fixture drift: no τ ≥ 3/5 pairs — j14 vacuous")
    val got = SparkEntry.queries("j14_set_similarity_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected,
      s"prefix filtering lost or fabricated pairs:\n got      $got\n expected $expected")
  }

  test("u05: the changelog exercises all three change kinds") {
    // the maintenance path folds added/removed/changed deltas; a fixture
    // drift that empties any kind would leave that leg of the fold
    // judged-green but untested. s15 shares u05's changelog construction.
    val kinds = SparkEntry.queries("s15_snapshot_diff")(spark, dir)
      .groupBy(col("change")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("added", "removed", "changed").foreach { k =>
      assert(kinds.getOrElse(k, 0L) > 0L,
        s"fixture drift: changelog has no '$k' rows — u05's $k leg is vacuous ($kinds)")
    }
  }

  test("u05: incremental maintenance equals a direct recompute over v2") {
    val s = spark
    import s.implicits._
    val orders = graft.engine.Tables(spark, dir, "orders")
    val direct = orders.where($"o_orderkey" % 11 =!= 3)
      .select($"o_custkey",
        round(when($"o_orderkey" % 5 === 0, $"o_totalprice" + 1.0)
          .otherwise($"o_totalprice") * 100).cast("long").as("cents"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sum_cents"))
      .orderBy($"o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inc = SparkEntry.queries("u05_incremental_agg")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(inc == direct, s"incremental ≠ recompute:\n inc    $inc\n direct $direct")
  }

  test("st15: streaming emissions equal the batch recompute under the pinned watermark rule") {
    // rule (pinned in WatermarkSemanticsSpec "chained join → timers"):
    // emitted ⟺ last_match + timeout < min(max p_ts, max c_ts)
    //           − 2h source delay − 1h join-interval delay, strict <
    val s = spark
    import s.implicits._
    val ev = graft.engine.Tables.events(spark, dir)
    val p = ev.where($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
    val c = ev.where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
    val pairs = p.join(c, $"p_user" === $"c_user" &&
      $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts")
    val wmUs = math.min(
      p.agg(max(unix_micros($"p_ts"))).head().getLong(0),
      c.agg(max(unix_micros($"c_ts"))).head().getLong(0)) - 3L * 3600 * 1000000
    val expected = pairs.groupBy($"p_user")
      .agg(max(unix_micros($"p_ts")).as("last_us"), count(lit(1)).as("n"))
      .where($"last_us" + 3600L * 1000000 < wmUs)
      .select($"p_user",
        Portable.tsSec(timestamp_micros($"last_us")).as("last_match"), $"n")
      .orderBy($"p_user")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(expected.nonEmpty, "fixture drift: st15 emits nothing at sf0.001")
    val got = SparkEntry.queries("st15_join_then_timeout")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected, s"\n got      $got\n expected $expected")
  }

  test("u06: the changelog exercises all four change kinds, and deletes cascade") {
    val s = spark
    import s.implicits._
    // the join-IVM path is only meaningfully judged if the fixture
    // contains order adds, order deletes, order modifications, AND
    // customer-side changes whose effect cascades to unmodified orders
    val orders = graft.engine.Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adds = orders.count { case (k, _) => k % 7 == 0 && k % 11 != 3 }
    val dels = orders.count { case (k, _) => k % 7 != 0 && k % 11 == 3 }
    val mods = orders.count { case (k, _) => k % 7 != 0 && k % 11 != 3 && k % 5 == 0 }
    // an order present and UNCHANGED in both snapshots whose customer
    // is deleted in v2 — it must leave the view purely via O1 ⋈ ΔC
    val cascades = orders.count { case (k, c) =>
      k % 7 != 0 && k % 11 != 3 && k % 5 != 0 && c % 17 == 5 }
    assert(adds > 0 && dels > 0 && mods > 0 && cascades > 0,
      s"fixture drift: adds=$adds dels=$dels mods=$mods cascades=$cascades")
    // and the cascade actually happens: no surviving view row references
    // a deleted customer
    val got = SparkEntry.queries("u06_incremental_join")(spark, dir)
    assert(got.where($"o_custkey" % 17 === 5).count() == 0L)
  }

  test("g38: 6 Bellman-Ford rounds cover the weighted diameter at test SF") {
    val s = spark
    import s.implicits._
    // the judged query and oracle run the SAME K=6-round recurrence, so
    // they agree regardless of convergence; this pin is what makes the
    // judged vector THE shortest-path solution — one more round must be
    // a fixpoint. Re-run the judged query's own rounds plus a seventh.
    val q = SparkEntry.queries("g38_shortest_path")
    val d6 = q(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // seventh round: relax d6 once more over the same weighted edges
    val tr = graft.engine.Trajectory
    val edges = tr.transitions(tr.hourlyState(
        graft.engine.Tables.events(spark, dir)))
      .where($"src" =!= "0" && $"dst" =!= "0" && $"src" =!= $"dst")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("flow"))
      .select($"src", $"dst", expr("CAST(1 + 1000 div flow AS BIGINT)").as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val d7 = d6 ++ edges.flatMap { case (s0, d0, w) =>
      d6.get(s0).map(du => d0 -> (du + w))
    }.groupBy(_._1).map { case (n, xs) =>
      n -> math.min(xs.map(_._2).min, d6.getOrElse(n, Long.MaxValue))
    }
    assert(d6 == d7, "round 7 still relaxed an edge — raise K in g38")
    assert(d6.size > 1 && d6.values.exists(_ > 1L),
      "fixture drift: the weighted graph is trivial at test SF")
  }

  test("u07: diff-then-apply reconstructs v2 row-for-row; all change kinds occur") {
    val s = spark
    import s.implicits._
    // driver restatement of the whole roundtrip from raw rows: build
    // both snapshot versions, extract the changelog, merge it into v1,
    // and demand EXACT set equality with v2 — stronger than the judged
    // per-status aggregates, which could mask compensating errors
    val rows = graft.engine.Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("c0"),
        round(when($"o_orderkey" % 5 === 0, $"o_totalprice" + 1.0)
          .otherwise($"o_totalprice") * 100).cast("long").as("c2"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val v1 = rows.filter(_._1 % 7 != 0).map { case (k, st, c0, _) => (k, st, c0) }.toSet
    val v2 = rows.filter(_._1 % 11 != 3).map { case (k, st, _, c2) => (k, st, c2) }.toSet
    val v1k = v1.map(r => r._1 -> r).toMap
    val v2k = v2.map(r => r._1 -> r).toMap
    val adds = v2k.keySet -- v1k.keySet
    val dels = v1k.keySet -- v2k.keySet
    val chgs = (v1k.keySet & v2k.keySet).filter(k => v1k(k) != v2k(k))
    assert(adds.nonEmpty && dels.nonEmpty && chgs.nonEmpty,
      "fixture drift: a change kind vanished — u07 judges a trivial log")
    val applied = v1.filterNot(r => dels(r._1) || chgs(r._1)) ++
      (adds ++ chgs).map(v2k)
    assert(applied == v2, "diff-then-apply did not reconstruct v2")
    // and the judged aggregates agree with the reconstruction
    val got = SparkEntry.queries("u07_cdc_roundtrip")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = v2.groupBy(_._2)
      .map { case (st, rs) => (st, rs.size.toLong, rs.toSeq.map(_._3).sum) }.toSet
    assert(got == expected, s"judged aggregates diverge: $got vs $expected")
  }

  test("s18: dynamic overwrite touches ONLY the incoming partition's files") {
    val s = spark
    import s.implicits._
    // instrumented twin of the judged query's two writes: the judged
    // oracle can only see the merged CONTENT; this pins the mechanism —
    // files of untouched partitions survive the second write unchanged
    val out = graft.queries.Portable.scratchPath("s18_spec")
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_id", $"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val before = files()
    val maxDay = ev.agg(max($"day")).as[String].head()
    GraftSession.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      ev.where($"day" === maxDay)
        .select($"event_id", concat(lit("r2_"), $"event_type").as("event_type"), $"day")
        .write.mode("overwrite").partitionBy("day").parquet(out)
    }
    val after = files()
    val untouchedBefore = before.filter(!_._1.contains(s"day=$maxDay"))
    val untouchedAfter = after.filter(!_._1.contains(s"day=$maxDay"))
    assert(untouchedBefore.nonEmpty, "fixture drift: only one day — s18 vacuous")
    assert(untouchedAfter == untouchedBefore,
      "dynamic overwrite rewrote files outside the incoming partition")
    val touched = after.keySet.filter(_.contains(s"day=$maxDay"))
    assert(touched.nonEmpty && touched.intersect(
        before.keySet.filter(_.contains(s"day=$maxDay"))).isEmpty,
      "the incoming partition was not rewritten")
  }

  test("w12: interval union is non-degenerate at test SF (real merges, real splits)") {
    val s = spark
    import s.implicits._
    val got = SparkEntry.queries("w12_interval_union")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val events = graft.engine.Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // if nothing ever merged, the query is a disguised per-event count;
    // if nothing ever split, it is a disguised min/max span
    assert(got.exists { case (u, nb, _) => nb < events(u) },
      "fixture drift: no overlapping intervals merged — w12 vacuous")
    assert(got.exists { case (_, nb, _) => nb > 1 }, "no user has >1 block")
    // coverage is bounded by blocks' arithmetic: 1800·events ≥ covered ≥ 1800·blocks
    assert(got.forall { case (u, nb, cov) =>
      cov >= nb * 1800L && cov <= events(u) * 1800L })
  }

  test("g39: 4 peel rounds reach the true 2-core fixpoint at test SF") {
    val s = spark
    import s.implicits._
    // converged driver recompute: peel degree-<2 nodes until stable,
    // then compare the judged 4-round result against the TRUE core and
    // its within-core degrees — stricter than a one-more-round check
    val tr = graft.engine.Trajectory
    val edges = tr.transitions(tr.hourlyState(
        graft.engine.Tables.events(spark, dir)))
      .where($"src" =!= $"dst" && $"src" =!= "0" && $"dst" =!= "0")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    var surv = (edges.map(_._1) ++ edges.map(_._2)).toSet
    var deg = Map.empty[String, Int]
    var changed = true
    while (changed) {
      deg = edges.filter(e => surv(e._1) && surv(e._2))
        .flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val next = surv.filter(v => deg.getOrElse(v, 0) >= 2)
      changed = next != surv
      surv = next
    }
    val expected = surv.toSeq.sorted.map(v => (v, deg(v).toLong))
    assert(surv.nonEmpty && surv.size < (edges.map(_._1) ++ edges.map(_._2)).toSet.size,
      "fixture drift: 2-core peeling is vacuous at test SF")
    val got = SparkEntry.queries("g39_kcore")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected,
      "g39's fixed 4 rounds did not reach the converged 2-core — raise KcoreRounds")
  }

  test("s17: compaction emits exactly the byte-derived file count, losslessly") {
    import graft.queries.{Portable, Relational}
    // the count rule itself
    assert(Relational.compactionTarget(1L) == 1)
    assert(Relational.compactionTarget(Relational.CompactionTargetBytes) == 1)
    assert(Relational.compactionTarget(Relational.CompactionTargetBytes + 1) == 2)
    // run the judged query (it performs both rewrites into scratch)
    SparkEntry.queries("s17_compaction")(spark, dir).collect()
    def parts(name: String): Array[java.io.File] = {
      val d = new java.io.File(Portable.scratchPath(name))
      d.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    }
    val frag = parts("s17_frag")
    val comp = parts("s17_compact")
    assert(frag.length > 1, "fixture too small to fragment — s17 vacuous")
    val expected = Relational.compactionTarget(frag.map(_.length).sum)
    assert(comp.length == expected,
      s"compaction wrote ${comp.length} files, byte rule says $expected")
    assert(comp.length < frag.length, "compaction did not reduce file count")
    // lossless: same multiset of rows before and after
    val a = spark.read.parquet(Portable.scratchPath("s17_frag"))
    val b = spark.read.parquet(Portable.scratchPath("s17_compact"))
    assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "compacted copy is not row-identical to the fragmented input")
  }

  test("j15: blocked co-place join equals brute-force pair recompute; occ side broadcasts") {
    val s = spark
    import s.implicits._
    // independent driver recompute of the whole pipeline from raw
    // (user_id, hour-of-day) observations: circuit key → 0.1°-grid
    // coordinates → precision-2 cell indices → occupancy band [2, 40] →
    // all-pairs-within-cell → shared-cell count ≥ 2. Only the hour()
    // extraction is delegated to Spark (timezone normalization lives in
    // Tables.events); every joining/banding/pairing step is restated.
    val obs = graft.engine.Tables.events(spark, dir)
      .select($"user_id", hour($"ts").as("h")).distinct()
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    def floorMod(a: Long, m: Long): Long = ((a % m) + m) % m
    val cells = obs.map { case (u, h) =>
      val k = u * 31 + h
      val lat = floorMod(k * 37, 1700L).toDouble / 10.0 - 85.0
      val lon = floorMod(k * 13, 3500L).toDouble / 10.0 - 175.0
      val xi = math.min(math.max(math.floor((lon + 180.0) / 360.0 * 32).toLong, 0L), 31L)
      val yi = math.min(math.max(math.floor((lat + 90.0) / 180.0 * 32).toLong, 0L), 31L)
      (u, (xi, yi))
    }.distinct
    val occ = cells.groupBy(_._2).view.mapValues(_.size).toMap
    val ok = cells.filter { case (_, c) => occ(c) >= 2 && occ(c) <= 40 }
    val expected = ok.groupBy(_._2).values.flatMap { members =>
      val us = members.map(_._1).sorted
      for (i <- us.indices; j <- (i + 1) until us.size) yield (us(i), us(j))
    }.groupBy(identity).collect { case (pair, hits) if hits.size >= 2 =>
      (pair._1, pair._2, hits.size.toLong)
    }.toSeq.sortBy(p => (p._1, p._2))
    assert(expected.nonEmpty, "fixture drift: no shared-place pairs — j15 vacuous")
    assert(occ.values.max <= 40,
      "fixture drift: the crowded-cell cap binds at test SF — the " +
        "completeness check below no longer covers the banded semantics")
    val df = SparkEntry.queries("j15_coplace_join")(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, "j15 pair set diverges from brute force")
    // scale pin: the occupancy filter must reach the self-join as a
    // broadcast, never a shuffled join — it is grid-bounded by design
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      "occ is no longer broadcast — the grid-bounded guard join regressed")
  }
}
