package flowbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters of one JVM. Two snapshots subtract to the work
  * done between them. Times are in seconds, sizes in bytes. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunS: Double = 0, taskCpuS: Double = 0, taskDeserS: Double = 0, taskGcS: Double = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0, spillB: Long = 0,
    inputRows: Long = 0, inputFiles: Long = 0, planningS: Double = 0,
    codegenCompileS: Double = 0, codegenClasses: Long = 0,
    jitCompileS: Double = 0, gcPauseS: Double = 0,
    batches: Long = 0, addBatchS: Double = 0, queryPlanningS: Double = 0,
    walCommitS: Double = 0, commitOffsetsS: Double = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunS - o.taskRunS, taskCpuS - o.taskCpuS, taskDeserS - o.taskDeserS, taskGcS - o.taskGcS,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB, spillB - o.spillB,
    inputRows - o.inputRows, inputFiles - o.inputFiles, planningS - o.planningS,
    codegenCompileS - o.codegenCompileS, codegenClasses - o.codegenClasses,
    jitCompileS - o.jitCompileS, gcPauseS - o.gcPauseS,
    batches - o.batches, addBatchS - o.addBatchS, queryPlanningS - o.queryPlanningS,
    walCommitS - o.walCommitS, commitOffsetsS - o.commitOffsetsS)
}

/** Observes Spark from outside through its public listener interfaces
  * (`SparkListener`, `QueryExecutionListener`, `StreamingQueryListener`)
  * plus the JVM's management beans. Attached only in the traced run. */
final class Meter(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val MarkerProp = "flowbench.marker"

  @volatile private var c = Counters()
  /** `(start, end)` epoch millis of every finished job. */
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerLatch: CountDownLatch = _

  private def add(f: Counters => Counters): Unit = synchronized { c = f(c) }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val marker = Option(e.properties).exists(_.getProperty(MarkerProp) != null)
      if (marker) markerJobs.add(e.jobId)
      else jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) Option(markerLatch).foreach(_.countDown())
      else {
        Option(jobStarts.remove(e.jobId)).foreach(t => jobIntervals.add((t.longValue, e.time)))
        add(x => x.copy(jobs = x.jobs + 1))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(x => x.copy(stages = x.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add(x => x.copy(
        tasks = x.tasks + 1,
        taskRunS = x.taskRunS + m.executorRunTime / 1e3,
        taskCpuS = x.taskCpuS + m.executorCpuTime / 1e9,
        taskDeserS = x.taskDeserS + m.executorDeserializeTime / 1e3,
        taskGcS = x.taskGcS + m.jvmGCTime / 1e3,
        shuffleWriteB = x.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = x.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
        spillB = x.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRows = x.inputRows + m.inputMetrics.recordsRead))
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum / 1e3
      val files = Meter.nodes(qe.executedPlan).map {
        case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case b: BatchScanExec => b.inputPartitions.size.toLong
        case _ => 0L
      }.sum
      add(x => x.copy(planningS = x.planningS + planning, inputFiles = x.inputFiles + files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      add(x => x.copy(batches = x.batches + 1,
        addBatchS = x.addBatchS + d.getOrElse("addBatch", 0.0),
        queryPlanningS = x.queryPlanningS + d.getOrElse("queryPlanning", 0.0),
        walCommitS = x.walCommitS + d.getOrElse("walCommit", 0.0),
        commitOffsetsS = x.commitOffsetsS + d.getOrElse("commitOffsets", 0.0)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Counters after every event posted so far has been delivered: a
    * marker job goes through the same listener queue, so its end arrives
    * after everything queued before it. */
  def snapshot(): Counters = {
    markerLatch = new CountDownLatch(1)
    sc.setLocalProperty(MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    markerLatch.await(30, TimeUnit.SECONDS)
    // streaming progress rides its own queue; a short settle covers it
    Thread.sleep(20)
    synchronized(c).copy(
      codegenCompileS = CodeGenerator.compileTime / 1e9,
      codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      jitCompileS = Meter.jitSeconds,
      gcPauseS = Meter.gcSeconds)
  }

  /** Seconds of `[t0, t1]` (epoch millis) covered by no finished job. */
  def outsideJobsS(t0: Long, t1: Long): Double = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    ((t1 - t0) - covered) / 1e3
  }
}

object Meter {
  /** Every physical node, through adaptive stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}
