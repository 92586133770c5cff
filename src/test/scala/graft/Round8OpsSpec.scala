package graft

import org.apache.spark.sql.functions._

/** Semantics checks for the round-8 operators (temperature mixing,
  * BPE merge), cross-validated against driver-side brute force. */
class Round8OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // NOTE on the two quota-equality assertions below: q08/v18's ~4×-quota
  // hash prefilter (thr = 4·quota·1e6 DIV n + 1, Relational.scala q08)
  // admits the quota winners with overwhelming probability but not by
  // construction — hash residues are uniform, not guaranteed. Cross-engine
  // parity always holds (both engines apply the same prefilter), so a
  // shortfall can NEVER make the judged row green/red split drift; it can
  // only make `sampled == quota` here fall short after an unlucky fixture
  // regeneration. If that happens, the fix is widening the 4× margin in
  // the query (and its oracle SQL) — not loosening this assertion.
  test("q08: per-stratum sample sizes equal the integer temperature quotas") {
    val big = "/root/testdata/sf0.01"
    val sampled = SparkEntry.queries("q08_temperature_mix")(spark, big)
      .collect().map(r => r.getAs[String]("lang"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val counts = graft.engine.Tables(spark, big, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    val w = counts.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val tw = w.values.sum
    val quota = counts.map { case (l, n) => l -> math.min(n, 200L * w(l) / tw) }
    assert(sampled == quota.filter(_._2 > 0),
      s"sampled sizes $sampled != quotas $quota")
    // the temperature property: the dominant stratum's mixture share is
    // flattened toward — but not past — the balanced share
    val total = sampled.values.sum.toDouble
    val enMix = sampled("en") / total
    val enRaw = counts("en").toDouble / counts.values.sum
    assert(enMix < enRaw, s"en share must shrink: mix $enMix vs raw $enRaw")
    assert(enMix > 1.0 / counts.size,
      s"alpha=0.5 must not fully flatten: mix $enMix vs balanced ${1.0 / counts.size}")
  }

  test("v18: per-cluster sample sizes equal the temperature quotas over the learned cells") {
    val big = "/root/testdata/sf0.01"
    val sampled = SparkEntry.queries("v18_cluster_balanced_sample")(spark, big)
      .collect().map(_.getAs[Long]("cell"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val counts = graft.queries.VectorQueries.seedAssigned(spark, big)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n")).toMap
    val w = counts.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val tw = w.values.sum
    val quota = counts.map { case (c, n) => c -> math.min(n, 100L * w(c) / tw) }
    assert(sampled == quota.filter(_._2 > 0),
      s"sampled sizes $sampled != quotas $quota")
    GraftSession.release(spark)
  }

  test("t23: the judged merge ranking equals brute-force pair counting") {
    val texts = graft.engine.Tables(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val pairCounts = collection.mutable.Map.empty[String, Long]
    // brute force mirrors the BPE definition directly: word-frequency-
    // weighted adjacent character pairs (here unrolled per occurrence)
    for (t <- texts; w <- t.split(" ") if w.length >= 2; i <- 0 until w.length - 1)
      pairCounts(w.substring(i, i + 2)) =
        pairCounts.getOrElse(w.substring(i, i + 2), 0L) + 1L
    val expected = pairCounts.toSeq.sortBy { case (p, c) => (-c, p) }.take(12)
    val got = SparkEntry.queries("t23_bpe_merge")(spark, dir)
      .collect().map(r => r.getAs[String]("pair") -> r.getAs[Long]("cnt")).toSeq
    assert(got == expected, s"got $got expected $expected")
  }
}
