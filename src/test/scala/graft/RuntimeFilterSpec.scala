package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime-filter guards: the two mechanisms that shrink a 100 TB scan to
  * the fraction that can actually join — dynamic partition pruning (j09)
  * and Spark's native bloom runtime filter, which only engages when the
  * filtered dim is too large to broadcast. Test SFs are always
  * broadcastable, so the bloom form is pinned here under cluster-scale
  * confs (broadcast off, scan threshold 0) and proven result-identical
  * to the default plan.
  */
class RuntimeFilterSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("j09: partitioned fact scan carries a dynamicpruningexpression") {
    val df = SparkEntry.queries("j09_dpp_join")(spark, dir)
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("j09: pruned-partition join matches the unpartitioned join") {
    val sp = spark; import sp.implicits._
    val df = SparkEntry.queries("j09_dpp_join")(spark, dir)
    val ev = graft.engine.Tables.events(spark, dir)
    val dim = ev.where($"user_id" === 0 && $"event_type" === "purchase")
      .select(to_date($"ts").as("d")).distinct()
    val expect = ev.withColumn("date", to_date($"ts"))
      .join(dim, $"date" === $"d")
      .groupBy($"date")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .select($"date".cast("string").as("date"), $"n", $"n_users")
      .orderBy($"date")
    assert(df.collect().toSeq == expect.collect().toSeq)
  }

  /** lineitem ⋈ selectively-filtered orders; the shuffle hint models the
    * cluster-scale reality where neither side broadcasts. */
  private def bloomJoin: DataFrame = {
    val sp = spark; import sp.implicits._
    val li = graft.engine.Tables(spark, dir, "lineitem")
    val ord = graft.engine.Tables(spark, dir, "orders")
      .where($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderdate")
    li.hint("shuffle_hash")
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy($"o_orderdate").agg(count(lit(1)).as("n"))
      .orderBy($"o_orderdate")
  }

  test("native bloom runtime filter engages once the dim cannot broadcast") {
    val baseline = bloomJoin.collect().toSeq // default confs: no bloom
    assert(baseline.nonEmpty)
    val withBloom = GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        // cluster default 10GB is right at 100 TB; 0 emulates a scan
        // big enough to be worth filtering at this test SF
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val df = bloomJoin
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan)
      rows
    }
    assert(withBloom == baseline)
  }
}
