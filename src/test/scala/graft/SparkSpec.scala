package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM under Test/fork),
  * built with the same conf as the Bench and Verify runners. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.build()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
}
