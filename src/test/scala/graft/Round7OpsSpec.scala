package graft

import org.apache.spark.sql.functions._
import graft.queries.{EpiQueries, GeoQueries}

/** Semantics checks for the round-7/8 operators: the g29 stochastic
  * draw's exactness, its mean-field limit, the g28b 2-D grid fit's
  * recovery of both true parameters, and g18's derived partition count. */
class Round7OpsSpec extends SparkSpec {

  test("g29 draw: summed over every rng residue, draws total exactly e") {
    // drawExpr realizes expectation e (x10^4 fixed point) as
    // floor(e/10^4) + [u < e mod 10^4]; over ALL 10^4 residues u the
    // draws must total exactly e — zero rounding bias at the 10^-4
    // grain, the property the g29 doc comment claims
    val es = Seq(0L, 1L, 17L, 9999L, 10000L, 10001L, 54321L, 123456L,
      99999999L, 1234567890L)
    val bad = spark.range(10000).toDF("u")
      .crossJoin(spark.createDataFrame(es.map(Tuple1(_))).toDF("e"))
      .selectExpr("e",
        s"${EpiQueries.drawExpr(EpiQueries.sparkDiv, "e", "u")} AS d")
      .groupBy(col("e")).agg(sum(col("d")).as("tot"))
      .where(col("tot") =!= col("e"))
      .collect()
    assert(bad.isEmpty,
      s"draw is biased at: ${bad.mkString("; ")} (tot must equal e)")
  }

  test("g29: the replica mean approaches the g22 mean-field state as replicas grow") {
    // the stochastic chain differs from the mean-field chain only by the
    // counter-based rounding, so averaging over more replicas must pull
    // the final state toward the mean-field expectation (exact equality
    // is not attainable: draws interact with the per-step least()
    // clamps). Run at sf0.01 + DISTRICT granularity — the g28
    // coarsening — because at cell granularity (and at sf0.001 at any
    // granularity) most areas hold a single user, every transfer
    // expectation rounds to zero in both chains, and the distances
    // degenerate to 0 = 0
    val big = "/root/testdata/sf0.01"
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    def coarsen(s0: DataFrame): DataFrame = {
      val cols = s0.columns.filterNot(_ == "area").toSeq
      val sums = cols.map(c => sum(col(c)).cast("long").as(c))
      s0.groupBy(substring(col("area"), 1, 1).as("area"))
        .agg(sums.head, sums.tail: _*)
    }
    def coarsenMat(m: DataFrame): DataFrame = m
      .select(substring(col("src"), 1, 1).as("src"),
        substring(col("dst"), 1, 1).as("dst"), col("cnt"))
      .groupBy(col("src"), col("dst")).agg(sum(col("cnt")).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("src"))))
    val (s0mf, matMf) = EpiQueries.siarInputs(spark, big)
    val (_, _, finMfRaw) = EpiQueries.siarChain(coarsen(s0mf),
      Seq(coarsenMat(matMf(1)), coarsenMat(matMf(2))))
    val finMf = finMfRaw.localCheckpoint()
    val stateCols = finMf.columns.filterNot(_ == "area").toSeq
    val (s0st, matSt) = EpiQueries.siarInputs(spark, big, nMats = 2, unit = 1L)
    val mats = Seq(coarsenMat(matSt(1)), coarsenMat(matSt(2)))
    val s0d = coarsen(s0st)
    def err(reps: Int): Double = {
      val fin = EpiQueries.stochChain(EpiQueries.replicateSeed(s0d, reps), mats)
      val means = stateCols.map(c =>
        (sum(col(c)).cast("double") / reps).as(s"${c}_m"))
      val mean = fin.groupBy(col("area")).agg(means.head, means.tail: _*)
      val dist = stateCols.map(c =>
        abs(col(c).cast("double") / 1e4 - col(s"${c}_m"))).reduce(_ + _)
      finMf.join(mean, "area").agg(sum(dist)).head().getDouble(0)
    }
    val e2 = err(2)
    val e16 = err(16)
    info(f"L1 distance to mean-field: reps=2 -> $e2%.3f, reps=16 -> $e16%.3f")
    assert(e2 > 0.0,
      "the stochastic chain never diverged from the mean-field at all — " +
        "the comparison is degenerate; densify the seed")
    assert(e16 < e2,
      f"averaging 16 replicas ($e16%.3f) must beat 2 ($e2%.3f)")
    // scale sanity: the residual stays bounded against the population
    // (sf0.01 seeds ~150 persons; integer draws over so few leave a
    // few-person replica-mean residual — measured 10.5 at reps=16
    // vs 31.6 at reps=2)
    val mass = finMf.selectExpr(
      s"CAST(sum(${stateCols.mkString("+")}) AS DOUBLE) / 1e4 AS m")
      .head().getDouble(0)
    assert(e16 < 0.10 * mass,
      f"reps=16 residual $e16%.3f exceeds 10%% of total mass $mass%.1f")
    GraftSession.release(spark)
  }

  test("g28b: the 2-D grid fit recovers (beta, gamma), uniquely") {
    // the 3x3 (beta, gamma) grid contains the true simulation pair
    // (beta=0.3/day -> 300000 micro, gamma=0.2/day -> 199992 micro);
    // the two-series SSE must make it the unique argmin at the judged SF
    val big = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("g28b_siar_grid_fit")(spark, big).collect()
    assert(rows.length == 9, rows.mkString("; "))
    val best = rows.filter(_.getAs[Long]("is_best") == 1L)
    assert(best.length == 1, s"argmin must be unique: ${rows.mkString("; ")}")
    assert(best.head.getAs[Long]("beta_micro") == 300000L,
      s"fit must recover beta=0.3/day: ${rows.mkString("; ")}")
    assert(best.head.getAs[Long]("gamma_micro") == 199992L,
      s"fit must recover gamma=0.2/day: ${rows.mkString("; ")}")
    assert(best.head.getAs[Long]("sse") == rows.map(_.getAs[Long]("sse")).min)
    GraftSession.release(spark)
  }

  test("g18 zorderPartitions: never 0, 1 at tiny scale, linear at volume") {
    val per = GeoQueries.ZorderRowsPerFile
    assert(GeoQueries.zorderPartitions(0L) == 1)
    assert(GeoQueries.zorderPartitions(1L) == 1)
    assert(GeoQueries.zorderPartitions(per) == 1)
    assert(GeoQueries.zorderPartitions(per + 1) == 2)
    assert(GeoQueries.zorderPartitions(100L * per) == 100)
    // ~100 TB of the 4-col point schema stays a sane file fan-out
    assert(GeoQueries.zorderPartitions(3_000_000_000_000L) == 1430512)
    val samples = Seq(1L, 1000L, per - 1, per, per + 1, 10L * per,
      1000L * per)
    samples.sliding(2).foreach {
      case Seq(a, b) =>
        assert(GeoQueries.zorderPartitions(a) <= GeoQueries.zorderPartitions(b),
          s"not monotone between $a and $b")
      case _ =>
    }
  }
}
