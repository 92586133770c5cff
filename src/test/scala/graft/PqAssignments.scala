package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.Tables
import graft.queries.VectorQueries._

/** Seed + trained PQ assignments with their distances, built from the
  * v16/v17 building blocks: the Lloyd monotonicity spec compares the
  * two (one training step must not increase total quantization
  * distortion), and the v19 compose spec reads the seed codes. */
object PqAssignments {
  def apply(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val subs = pqSubs(s, dir)
    val codes0 = Tables(s, dir, "embeddings").where(col("vec_id") < 8)
      .select(col("vec_id").as("code_id"), subSlices(col("embedding")).as("e"))
      .select(col("e.j").as("j"), col("code_id"), col("e.sub").as("csub"))
    val asg0 = pqAssign(subs, codes0).persist()
    (asg0, pqAssign(subs, pqTrainCodebook(asg0)))
  }
}
