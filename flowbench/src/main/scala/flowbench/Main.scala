package flowbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One run of one workload in a fresh JVM:
  *
  *   set-up (repeated `setupReps` times) → cold pass → untimed warm-up
  *   passes → timed steady passes → output checks → heap after full GC.
  *
  * Prints one line `FLOWBENCH_RESULT {...}` that `run.py` turns into the
  * benchmark's result. With `--trace 1` the Spark and streaming
  * listeners are attached (steady passes alternate traced and untraced,
  * which gives the tracing overhead) and per-layer figures are added.
  * With `--gen-only 1` it generates the inputs once and prints their
  * fingerprints instead. */
object Main {
  final case class Sample(pass: Int, op: String, kind: String, seconds: Double,
                          fp: Option[Fp], error: Option[String], traced: Boolean,
                          counters: Option[Counters], outsideJobsS: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")
    val slots = opts.getOrElse("slots", Runtime.getRuntime.availableProcessors.toString).toInt

    val spark = session(dir, slots)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val wl = Workloads(workload, spark, seed, dir)
    val steady = wl.steadyPasses(seconds)
    val total = 1 + wl.warmPasses + steady
    wl match { case l: Lakehouse => l.totalPasses = total; l.tracePushdown = trace; case _ => }

    val setupTimes = (1 to wl.setupReps).map { _ => time(wl.setup()) }
    progress(f"session ${sessionS}%.2fs setup ${setupTimes.map(_._1).map(t => f"$t%.2f").mkString(" ")}")
    if (opts.getOrElse("gen-only", "0") == "1") {
      val fps = wl.inputFingerprints().map { case (k, v) => k -> v.toString }
      println("FLOWBENCH_INPUTS " + Json(mutable.LinkedHashMap(fps: _*)))
      spark.stop()
      return
    }

    val meter = if (trace) Some(new Meter(spark)) else None
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passCounters = mutable.ArrayBuffer.empty[(Int, Counters)]
    for (p <- 0 until total) {
      val steadyIdx = p - 1 - wl.warmPasses
      // traced: the cold pass and every other steady pass
      val traced = meter.isDefined && (p == 0 || (steadyIdx >= 0 && steadyIdx % 2 == 0))
      if (traced) meter.get.attach()
      val passStart = meter.filter(_ => traced).map(_.snapshot())
      wl.pass(p).foreach { op =>
        val prep = Try(op.prep())
        val before = meter.filter(_ => traced).map(_.snapshot())
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res = prep.flatMap(_ => Try(op.run()))
        val dt = (System.nanoTime() - t0) / 1e9
        val w1 = System.currentTimeMillis()
        val counters = before.map(b => meter.get.snapshot() - b)
        release(spark)
        val checked = res.flatMap(fp => Try(op.post(fp)).map(_ => fp))
        progress(f"pass $p ${op.name} $dt%.3fs ${checked.map(_.toString).getOrElse(checked.failed.get.toString)}")
        samples += Sample(p, op.name, op.kind, dt, checked.toOption,
          checked.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)),
          traced, counters, meter.filter(_ => traced).map(_.outsideJobsS(w0, w1)).getOrElse(0.0))
      }
      passStart.foreach(s => passCounters += ((p, meter.get.snapshot() - s)))
      if (traced) meter.get.detach()
    }

    // ---- checks ------------------------------------------------------------
    val failures = mutable.ArrayBuffer.empty[String]
    samples.filter(_.error.isDefined).foreach(s => failures += s"pass ${s.pass} ${s.op}: ${s.error.get}")
    if (wl.samePerPass)
      samples.groupBy(_.op).foreach { case (op, ss) =>
        val fps = ss.flatMap(_.fp).map(_.toString).distinct
        if (fps.size > 1) failures += s"$op: result differs between passes: ${fps.mkString(", ")}"
      }
    Try(wl.finalCheck()) match {
      case Success(ms) => failures ++= ms
      case Failure(e) => failures += s"final check failed: $e"
    }
    val attempted = samples.size + 1

    // ---- figures -----------------------------------------------------------
    val storage = Workloads.dirBytes(wl.storageDir).toDouble
    val storageRatio = storage / math.max(1L, wl.inputBytes)
    val layers = if (trace) Try(wl.layerProbes()).recover { case e =>
      failures += s"layer probes failed: $e"; Map.empty[String, Double] }.get else Map.empty[String, Double]
    val storageFigures = wl.storageFigures()
    spark.catalog.clearCache()
    val heapMb = heapAfterGcMb()

    val steadySamples = samples.filter(_.pass > wl.warmPasses).toSeq
    def passSum(p: Int) = samples.filter(_.pass == p).map(_.seconds).sum
    val steadyPasses = (1 + wl.warmPasses until total)
    val coldPassS = passSum(0)
    val (tracedPasses, plainPasses) = steadyPasses.partition(p => samples.exists(s => s.pass == p && s.traced))
    val passS = Workloads.median((if (trace) plainPasses else steadyPasses).map(passSum))
    val timed = steadySamples.filter(s => !trace || !s.traced)
    val opTimes = timed.map(_.seconds)
    val (tailKind, tailS, tailN) = tail(timed)
    val reads = steadySamples.filter(s => s.kind == "read" && (!trace || !s.traced)).map(_.seconds)
    val writes = steadySamples.filter(s => s.kind == "write" && (!trace || !s.traced)).map(_.seconds)
    // a read-only workload's only writes are its input ingests during set-up
    val writeSamples = if (writes.nonEmpty) writes else setupTimes.map(_._2)
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + Workloads.median(setupTimes.map(_._1)), "s"),
      "cold_pass_s" -> (coldPassS, "s"),
      "pass_s" -> (passS, "s"),
      "query_p50_s" -> (Workloads.median(opTimes), "s"),
      "query_tail_s" -> (tailS, "s"),
      "heap_after_gc_mb" -> (heapMb, "MB"),
      "write_p50_s" -> (Workloads.median(writeSamples), "s"),
      "read_p50_s" -> (Workloads.median(reads), "s"),
      "storage_bytes_per_input_byte" -> (storageRatio, "ratio"))

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (trace) {
      val steadyCounters = passCounters.filter(_._1 > wl.warmPasses).map(_._2).toSeq
      def med(f: Counters => Double) = Workloads.median(steadyCounters.map(f))
      val cold = passCounters.find(_._1 == 0).map(_._2).getOrElse(Counters())
      val tracedPassS = Workloads.median(tracedPasses.map(passSum))
      val outside = Workloads.median(tracedPasses.map(p =>
        samples.filter(_.pass == p).map(_.outsideJobsS).sum))
      perLayer ++= Seq(
        "spark.jobs" -> (med(_.jobs.toDouble), "count"),
        "spark.stages" -> (med(_.stages.toDouble), "count"),
        "spark.tasks" -> (med(_.tasks.toDouble), "count"),
        "spark.outside_jobs_s" -> (outside, "s"),
        "spark.planning_s" -> (med(_.planningS), "s"),
        "spark.codegen_compile_s" -> (cold.codegenCompileS, "s"),
        "spark.codegen_classes" -> (cold.codegenClasses.toDouble, "count"),
        "jvm.jit_compile_s" -> (cold.jitCompileS, "s"),
        "spark.task_run_s" -> (med(_.taskRunS), "s"),
        "spark.task_cpu_s" -> (med(_.taskCpuS), "s"),
        "spark.task_deser_s" -> (med(_.taskDeserS), "s"),
        "spark.task_gc_s" -> (med(_.taskGcS), "s"),
        "jvm.gc_pause_s" -> (med(_.gcPauseS), "s"),
        "spark.shuffle_write_mb" -> (med(_.shuffleWriteB / 1048576.0), "MB"),
        "spark.shuffle_read_mb" -> (med(_.shuffleReadB / 1048576.0), "MB"),
        "spark.spill_mb" -> (med(_.spillB / 1048576.0), "MB"),
        "spark.input_rows" -> (med(_.inputRows.toDouble), "count"),
        "spark.input_files" -> (med(_.inputFiles.toDouble), "count"),
        "streaming.batches" -> (med(_.batches.toDouble), "count"),
        "streaming.add_batch_s" -> (med(_.addBatchS), "s"),
        "streaming.query_planning_s" -> (med(_.queryPlanningS), "s"),
        "streaming.wal_commit_s" -> (med(_.walCommitS), "s"),
        "streaming.commit_offsets_s" -> (med(_.commitOffsetsS), "s"),
        "trace.pass_s" -> (tracedPassS, "s"),
        "trace.overhead_ratio" -> (tracedPassS / passS - 1, "ratio"))
      // per-operation steady medians (untraced passes) and job counts (traced)
      steadySamples.groupBy(s => wl.layerMetric(s.op)).toSeq.sortBy(_._1).foreach { case (m, ss) =>
        perLayer(s"${m}_s") = (Workloads.median(ss.filter(!_.traced).map(_.seconds)), "s")
        if (m.startsWith("queries."))
          perLayer(s"$m.jobs") = (Workloads.median(ss.flatMap(_.counters).map(_.jobs.toDouble)), "count")
      }
      layers.foreach { case (k, v) => perLayer(k) = (v, if (k.endsWith("_per_s")) "Mrows/s" else "s") }
      storageFigures.foreach { case (k, v) =>
        perLayer(k) = (v, if (k.endsWith("_mb")) "MB" else if (k.endsWith("_ratio")) "ratio" else "count")
      }
    }

    val fingerprints = mutable.LinkedHashMap(samples.toSeq.map(s =>
      s"p${s.pass}/${s.op}" -> s.fp.map(_.toString).getOrElse("error")): _*)
    val rt = Runtime.getRuntime
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "task_slots" -> slots, "heap_max_mb" -> rt.maxMemory / 1048576.0,
      "passes" -> Map("cold" -> 1, "warm" -> wl.warmPasses, "steady" -> steady),
      "setup_reps_s" -> setupTimes.map(_._1), "session_s" -> sessionS,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(20),
      "error_rate" -> failures.size.toDouble / attempted,
      "tail" -> Map("statistic" -> tailKind, "samples" -> tailN),
      "input_logical_bytes" -> wl.inputBytes, "storage_bytes" -> storage,
      "op_samples" -> samples.groupBy(_.op).map { case (k, ss) => k -> ss.map(_.seconds) },
      "fingerprints" -> fingerprints,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    println("FLOWBENCH_RESULT " + Json(out))
    spark.stop()
  }

  private def progress(msg: String): Unit = System.err.println(s"[flowbench] $msg")

  /** (seconds, ingest seconds) of one call. */
  private def time(f: => Double): (Double, Double) = {
    val t0 = System.nanoTime()
    val ingest = f
    ((System.nanoTime() - t0) / 1e9, ingest)
  }

  /** The tail latency: (statistic, value, sample count). With at least
    * 100 samples, the highest whole percentile that has at least ten
    * samples beyond it (p90 or above). With fewer, that percentile falls
    * below p90, and for under 21 samples below the median; the tail is
    * then the median latency of the slowest operation, which one
    * outlying sample cannot move. */
  def tail(samples: Seq[Sample]): (String, Double, Int) = {
    val s = samples.map(_.seconds).sorted
    val n = s.size
    if (n >= 100) (s"p${math.floor(100.0 * (n - 10) / n).toInt}", s(n - 11), n)
    else ("slowest operation's median",
      samples.groupBy(_.op).values.map(g => Workloads.median(g.map(_.seconds))).max, n)
  }

  /** Drop whatever a query persisted, as the engine's own runners do
    * after each query, so later operations do not pay for it. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Live heap: full GCs until it stops shrinking by 1%, since Spark's
    * cleaner frees some state only after a first GC has run. */
  private def heapAfterGcMb(): Double = {
    def usedAfterGc() = {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = usedAfterGc()
    var now = usedAfterGc()
    var rounds = 2
    while (now < last * 0.99 && rounds < 6) { last = now; now = usedAfterGc(); rounds += 1 }
    now / 1048576.0
  }

  /** The session of the engine's own runners: the same confs as its
    * `Bench` main, with every local directory inside the run directory. */
  def session(dir: String, slots: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
