package graft

import java.util.concurrent.atomic.AtomicInteger

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
  private val catalogs = new AtomicInteger(0)
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark

  /** Registers a ledger catalog under a name no other test in this JVM
    * uses, rooted at its own directory under `Portable.scratchRoot`, and
    * returns (name, root). Catalog plugins are cached by name for the
    * session, so a shared name would keep the first test's root. */
  def freshCatalog(): (String, String) = {
    val name = s"${getClass.getSimpleName.toLowerCase}_${SparkSpec.catalogs.incrementAndGet()}"
    val root = graft.queries.Portable.scratchPath(s"catalog_$name")
    graft.sources.GraftCatalog.register(spark, name, root)
    (name, root)
  }

  /** `body(name, root)` over a [[freshCatalog]]. */
  def withCatalog[T](body: (String, String) => T): T = {
    val (name, root) = freshCatalog()
    body(name, root)
  }

  /** The number of Spark jobs `body` runs. Job ids are sequential, so
    * they are the ids strictly between two one-task marker jobs; unlike
    * a listener, this needs no wait for the listener bus to drain. */
  def jobsRun(body: => Unit): Int = {
    def marker(): Int = {
      val sc = spark.sparkContext
      val f = sc.submitJob(sc.parallelize(Seq(1), 1), (_: Iterator[Int]) => (),
        Seq(0), (_: Int, _: Unit) => (), ())
      f.get()
      f.jobIds.head
    }
    val before = marker()
    body
    marker() - before - 1
  }
}
