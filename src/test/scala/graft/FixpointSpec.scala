package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Fixpoint

/** `Fixpoint.converge` on small synthetic graphs: min-label propagation
  * over paths, whose round counts are known exactly. */
class FixpointSpec extends SparkSpec {
  private val session = spark
  import session.implicits._

  /** Symmetric edges of the path 0 - 1 - ... - (n-1), shifted by `base`. */
  private def path(n: Int, base: Long = 0L): DataFrame =
    (0 until n - 1).flatMap { i =>
      val (a, b) = (base + i, base + i + 1)
      Seq((a, b), (b, a))
    }.toDF("src", "dst")

  /** Min-label propagation over `sym` (the shape of t10's loop); returns
    * the label frame and the number of rounds `converge` ran. */
  private def minLabels(query: String, sym: DataFrame): (DataFrame, Int) = {
    var rounds = 0
    val labels = Fixpoint.converge(query,
        sym.select($"src".as("v")).distinct().select($"v", $"v".as("label"))) { cur =>
      rounds += 1
      val nmin = sym.join(cur.select($"v".as("dst"), $"label".as("nl")), "dst")
        .groupBy($"src".as("v")).agg(min($"nl").as("nmin"))
      cur.join(nmin, Seq("v"), "left")
        .select($"v", least($"label", coalesce($"nmin", $"label")).as("label"),
          ($"nmin" < $"label").as("moved"))
    }
    (labels, rounds)
  }

  test("converge labels every vertex of a path with its component's minimum") {
    // a 6-path's far end learns 0 in 5 rounds, and a 6th moves nothing;
    // the 3-path beside it converges earlier and must not stop the loop
    val (labels, rounds) = minLabels("paths", path(6).unionByName(path(3, base = 100L)))
    assert(labels.columns.toSeq == Seq("v", "label"), "the moved column is dropped")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      ((0L to 5L).map(_ -> 0L) ++ (100L to 102L).map(_ -> 100L)).toMap)
    assert(rounds == 6)
  }

  test("a loop still moving at the round cap throws, naming the query and the round") {
    val e = intercept[IllegalStateException](minLabels("long_path", path(Fixpoint.MaxRounds + 2)))
    assert(e.getMessage.contains("long_path"), e.getMessage)
    assert(e.getMessage.contains(s"${Fixpoint.MaxRounds} rounds"), e.getMessage)
  }

  test("each round is pinned: every extra round adds the same number of jobs") {
    // an unpinned chain would re-run its whole prefix in each round's
    // aggregate, so its job count would grow faster than its round count
    val Seq(j4, j6, j8) = Seq(4, 6, 8).map(n => jobsRun(minLabels(s"path$n", path(n))))
    assert(j6 - j4 > 0)
    assert(j8 - j6 == j6 - j4, s"jobs for paths of 4, 6, 8: $j4, $j6, $j8")
  }

  test("the min-label queries read convergence from the pinned round") {
    // one aggregate over each pinned round replaced a re-join against the
    // previous labels plus a count: at sf0.001 that took t10 from 28 jobs
    // to 26, t27 from 33 to 31 and t32 from 49 to 45. The margin of one
    // job is below the saving, so the old check would fail here.
    val dir = "/root/testdata/sf0.001"
    Seq("t10_dup_clusters" -> 27, "t27_dedup_apply" -> 32, "t32_incremental_cc" -> 46)
      .foreach { case (q, bound) =>
        // released first, so no query reads another's cached bands
        GraftSession.release(spark)
        val n = jobsRun(SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save())
        info(s"$q jobs: $n")
        assert(n <= bound, s"$q ran $n jobs")
      }
  }
}
