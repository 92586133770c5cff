package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.FormattedMode

/** Full-catalog timing run: min-of-N seconds per query plus a per-query
  * layer breakdown (jobs, stages, tasks, task CPU and GC seconds), as one
  * JSON line on stdout and in target/bench.json.
  *
  * Usage: sbt "runMain graft.Bench [--plans <dir>] [q1 q2 ...]"
  *   --plans writes each selected query's formatted plan to
  *   <dir>/<query>.txt before timing it. Multi-job queries (iterative
  *   chains, streaming folds) explain their FINAL frame.
  */
object Bench {
  /** Local property naming the query a job belongs to. Streaming
    * microbatch threads and broadcast/subquery threads inherit local
    * properties, so their jobs carry it too (the job description does
    * not survive: microbatches overwrite it). */
  private val QueryProp = "graft.query"

  private final class Layers {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs = 0L
    private def secs(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    def json: String = s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_cpu_s":${secs(cpuNs / 1e9)},"task_gc_s":${secs(gcMs / 1e3)}}"""
  }

  /** Counts jobs, stages, tasks and task CPU/GC per value of [[QueryProp]].
    * Listener-bus events arrive on one thread; read after `spark.stop()`,
    * which drains the bus. */
  private final class Meter extends SparkListener {
    val byKey = scala.collection.mutable.Map.empty[String, Layers]
    private val stageKey = scala.collection.mutable.Map.empty[Int, String]
    private def key(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(QueryProp)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      key(e.properties).foreach(k => byKey.getOrElseUpdate(k, new Layers).jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      key(e.properties).foreach(stageKey(e.stageInfo.stageId) = _)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageKey.remove(si.stageId).foreach { k =>
        val l = byKey.getOrElseUpdate(k, new Layers)
        l.stages += 1
        l.tasks += si.numTasks
        l.cpuNs += si.taskMetrics.executorCpuTime
        l.gcMs += si.taskMetrics.jvmGCTime
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val (plansDir, names) = args.toList match {
      case "--plans" :: dir :: rest => (Some(dir), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional name filter for local iteration; the driver passes none
    val selected = SparkEntry.select(names)
    val spark = GraftSession.build()
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    // one throwaway action absorbs session warmup (codegen, classloading,
    // parquet driver init) so per-query timings measure the query
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
    // warm the input tables too (page cache + parquet footers): otherwise
    // whichever query happens to iterate first absorbs several seconds of
    // cold IO into its measured time (~5s at sf0.1 in profiling runs)
    // a warmup failure is loud: a misconfigured sf-dir would otherwise
    // silently bench cold and the numbers would look plausible
    graft.engine.Tables.names.foreach { t =>
      try graft.engine.Tables(spark, sfDir, t)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] WARMUP FAILED for table '$t' in $sfDir: $e")
      }
    }
    plansDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    // best-of-N per query (default 3): this VM's single-sample timings
    // swing ±25% and occasionally 2× under page-cache/GC interference
    // from neighboring queries (the r4 g04-vs-g16 "inversion" was
    // exactly that — isolated re-runs time g04 at 1.6s, not 10.9s; the
    // r13 driver window read s21 at 6.06s vs 0.56s isolated). min-of-N
    // is the standard shared-host noise estimator; N=3 makes the
    // driver's headline run interpretable without a judge re-run, and
    // the per-query "samples" arrays below expose the spread itself.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      plansDir.foreach { d =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/$name.txt"),
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        catch { case e: Throwable => System.err.println(s"[bench] plan of $name failed: $e") }
        GraftSession.release(spark)
      }
      val times = (1 to runs).map { run =>
        sc.setLocalProperty(QueryProp, s"$name#$run")
        val t0 = System.nanoTime()
        // noop sink forces every column of every row to be produced
        // (count() would let Catalyst prune unevaluated projections).
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            errors(name) = e.toString.replaceAll("\\s+", " ").take(200); false
          }
        // a crashed query records -1, never a plausible-looking elapsed time
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        sc.setLocalProperty(QueryProp, null)
        GraftSession.release(spark)
        dt
      }
      // a query that failed on one run but succeeded on another is NOT an
      // error — keep the entry only when every run failed, so the report
      // can't show a stale error next to a valid timing
      if (times.exists(_ >= 0)) errors.remove(name)
      name -> times
    }.toMap
    // stopping drains the listener bus, so every job of the last query
    // has been counted before the layers are read
    spark.stop()
    val mins = results.map { case (k, times) =>
      k -> (if (times.exists(_ >= 0)) times.filter(_ >= 0).min else -1.0)
    }
    val jstr = graft.queries.Portable.jsonEscape _
    def obj(kvs: Iterable[(String, Any)]): String =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    // each query's layers are those of the run its headline min came
    // from (the last run when every run failed), so they explain that
    // number rather than a sum over runs
    val layers = obj(results.map { case (k, times) =>
      val best = if (times.exists(_ >= 0)) times.indexOf(mins(k)) + 1 else runs
      k -> meter.byKey.getOrElse(s"$k#$best", new Layers).json
    })
    // every sample per query, not just the min — the noise estimate IS
    // the spread, and publishing it makes a slow-looking delta checkable
    // (one inflated sample among fast ones = host noise, all samples
    // slow = a real regression) without an isolated re-run.
    // a failed run publishes as JSON null, not the -1.0 sentinel: a
    // consumer averaging/min-ing a samples array must never fold a
    // sentinel into the statistic (the headline queries map keeps -1.0,
    // where it is documented as "every run failed")
    val samples = obj(results.map { case (k, times) =>
      k -> times.map(t => if (t >= 0) t.toString else "null").mkString("[", ",", "]")
    })
    // layers and samples lead and the headline fields ("value",
    // error/query counts) go LAST: a capture that keeps only the tail of
    // this one long line sheds the diagnostics and still carries the
    // auditable totals (r12 lost "value" when it printed first)
    val json = s"""{"metric":"total","unit":"sec","sf":"$sfDir","layers":$layers,""" +
      s""""samples":$samples,"queries":${obj(mins)},""" +
      s""""errors":${obj(errors.map(kv => kv._1 -> jstr(kv._2)))},""" +
      s""""n_queries":${mins.size},"n_errors":${errors.size},"value":${mins.values.filter(_ >= 0).sum}}"""
    println(json)
    // stdout alone is lossy (the round driver truncated 40/101 r3 timings
    // from the one giant line) — persist the same JSON to a file too
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
  }
}
