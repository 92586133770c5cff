package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Final, Partial, PartialMerge}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation, V2CommandExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashedRelationBroadcastMode, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan census: per query, the facts of its physical plan that the
  * engine's scale posture rests on, committed as `CENSUS.json` so that a
  * lost broadcast, an extra scan or a SortAggregate shows in review as a
  * one-line diff. The facts are read from the initial physical plan
  * (AQE's input plan, exchanges inserted) of the query's own noop write,
  * with expression ids, shuffle-partition counts and paths normalized:
  *   - `scans`: source, read schema and pushed filters of each scan;
  *   - `exchanges`: shuffles by partitioning kind and key names, and
  *     broadcasts;
  *   - `joins`: strategy, join type, build side and keys;
  *   - `aggregates`: kind with each function's partial/final mode;
  *   - `operators`: windows, sorts, Expand, Generate,
  *     TakeOrderedAndProject, CollectMetrics and every other operator
  *     that is not a projection, filter or codegen boundary;
  *   - `exprs`: the engine's own expressions and UDF/catalog-function
  *     calls by name;
  *   - `cached`: cached and checkpointed leaves (`InMemoryRelation`,
  *     `ExistingRDD`);
  *   - `codegen`: whole-stage-codegen stages of the plan;
  *   - `jobs`: the Spark jobs the query starts, building it included.
  * A cached leaf counts at each reference and its plan is walked once.
  * List facts are sorted, a fact that occurs n > 1 times written once
  * as `fact ×n`. */
object Census {
  val Fields: Seq[String] =
    Seq("scans", "exchanges", "joins", "aggregates", "operators", "exprs", "cached")

  final case class Facts(lists: Map[String, Seq[String]], codegen: Int, jobs: Int) {
    def apply(field: String): Seq[String] = lists.getOrElse(field, Nil)
    /** How many `field` facts contain `part`. */
    def n(field: String, part: String): Int = apply(field).count(_.contains(part))
    def has(field: String, part: String): Boolean = n(field, part) > 0
  }

  /** Expression ids, UUIDs and absolute paths (fixture, scratch and
    * warehouse) reduced to what is the same in every run. */
  private def norm(s: String): String =
    s.replaceAll("#\\d+L?", "")
      .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("(file:)?(/[^/\\s,\\]\\)\\[]+)+/([^/\\s,\\]\\)\\[]+)", "$3")

  /** A scanned directory's or table's name, less the per-invocation
    * `_<n>` suffix a query gives its scratch state when it can run twice
    * in one JVM. */
  private def suffixless(name: String): String = name.replaceAll("_\\d+$", "_<n>")

  private def e(x: Expression): String = norm(x.toString)
  private def keys(xs: Seq[Expression]): String = xs.map(e).mkString("[", ", ", "]")

  /** The facts of the plan a write executed, and its job count. */
  private def facts(executed: SparkPlan, jobs: Int): Facts = {
    val out = Fields.map(_ -> Seq.newBuilder[String]).toMap
    var codegen = 0
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def add(field: String, fact: String): Unit = out(field) += fact
    def stages(p: SparkPlan): Unit =
      codegen += CollapseCodegenStages()(p).collect { case w: WholeStageCodegenExec => w }.size
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => stages(a.initialPlan); walk(a.initialPlan)
        case c: V2CommandExec => c.children.foreach(walk)
        case s: InMemoryTableScanExec =>
          add("cached", "InMemoryRelation")
          if (caches.add(s.relation.cacheBuilder)) s.relation.cachedPlan match {
            case a: AdaptiveSparkPlanExec => walk(a)
            case q => stages(q); walk(q)
          }
        case other =>
          record(other)
          other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    def record(p: SparkPlan): Unit = {
      p.expressions.foreach(_.foreach(x => call(x).foreach(add("exprs", _))))
      p match {
        case s: FileSourceScanExec =>
          val m = s.metadata
          add("scans", norm(s"${m.getOrElse("Format", "file")} " +
            s.relation.location.rootPaths.map(p => suffixless(p.getName)).mkString(",") +
            s" ${m.getOrElse("ReadSchema", "")} pushed${m.getOrElse("PushedFilters", "[]")}" +
            m.get("PartitionFilters").filter(_ != "[]").map(f => s" partitions$f").getOrElse("")))
        case b: BatchScanExec =>
          val fact = norm(s"${b.table.name()} ${b.scan.description()}")
          val table = fact.takeWhile(_ != ' ').split(':').last
          add("scans", fact.replace(table, suffixless(table)))
        case r: RDDScanExec => add("cached", r.name)
        case _: LocalTableScanExec => add("scans", "local")
        case _: RangeExec => add("scans", "range")
        case _: ReusedExchangeExec => add("exchanges", "reused")
        case x: ShuffleExchangeExec =>
          val kind = x.outputPartitioning match {
            // a distinct-aggregate Expand's keys (ending in its `gid`) come
            // out in an order expression ids decide, which varies per JVM
            case h: HashPartitioning =>
              val ks = h.expressions.map(e)
              s"hash${(if (ks.contains("gid")) ks.sorted else ks).mkString("[", ", ", "]")}"
            case r: RangePartitioning => s"range${keys(r.ordering)}"
            case SinglePartition => "single"
            case _: RoundRobinPartitioning => "roundrobin"
            case o => o.getClass.getSimpleName
          }
          add("exchanges", kind + (if (x.shuffleOrigin == ENSURE_REQUIREMENTS) "" else s" ${x.shuffleOrigin}"))
        case b: BroadcastExchangeExec =>
          add("exchanges", if (b.mode.isInstanceOf[HashedRelationBroadcastMode]) "broadcast hashed" else "broadcast rows")
        case j: BroadcastHashJoinExec =>
          add("joins", s"BroadcastHashJoin ${j.joinType} ${j.buildSide} " +
            s"${keys(j.leftKeys)}=${keys(j.rightKeys)}" + (if (j.isNullAwareAntiJoin) " null-aware" else ""))
        case j: ShuffledHashJoinExec =>
          add("joins", s"ShuffledHashJoin ${j.joinType} ${j.buildSide} ${keys(j.leftKeys)}=${keys(j.rightKeys)}")
        case j: SortMergeJoinExec =>
          add("joins", s"SortMergeJoin ${j.joinType} ${keys(j.leftKeys)}=${keys(j.rightKeys)}")
        case j: BroadcastNestedLoopJoinExec =>
          add("joins", norm(s"BroadcastNestedLoopJoin ${j.joinType} ${j.buildSide}"))
        case _: CartesianProductExec => add("joins", "CartesianProduct")
        case a: BaseAggregateExec =>
          add("aggregates", s"${a.nodeName}(" + a.aggregateExpressions.map(agg).mkString(", ") + ")")
        case w: WindowExec =>
          val fns = w.windowExpression.flatMap(_.collect {
            case x: org.apache.spark.sql.catalyst.expressions.WindowExpression => x.windowFunction match {
              case a: AggregateExpression => a.aggregateFunction.prettyName
              case f => f.prettyName
            }
          })
          add("operators", s"Window ${fns.mkString("[", ", ", "]")} by ${keys(w.partitionSpec)}")
        case w: WindowGroupLimitExec =>
          add("operators", s"WindowGroupLimit ${w.rankLikeFunction.prettyName} ${w.limit} ${w.mode} by ${keys(w.partitionSpec)}")
        case s: SortExec => add("operators", s"Sort ${if (s.global) "global" else "local"} ${keys(s.sortOrder)}")
        case x: ExpandExec => add("operators", s"Expand ${x.projections.size}")
        case g: GenerateExec => add("operators", s"Generate ${g.generator.prettyName}")
        case t: TakeOrderedAndProjectExec => add("operators", s"TakeOrderedAndProject ${t.limit}")
        case c: CollectMetricsExec => add("operators", norm(s"CollectMetrics ${c.name}"))
        case u: UnionExec => add("operators", s"Union ${u.children.size}")
        case _: ProjectExec | _: FilterExec | _: InputAdapter | _: ColumnarToRowExec |
             _: RowToColumnarExec | _: WholeStageCodegenExec | _: SerializeFromObjectExec |
             _: DeserializeToObjectExec | _: BaseSubqueryExec => ()
        case o => add("operators", o.nodeName)
      }
    }
    walk(executed)
    Facts(out.map { case (k, b) => k -> b.result().sorted }, codegen, jobs)
  }

  private def agg(a: AggregateExpression): String = {
    val mode = a.mode match {
      case Partial => "partial_"
      case PartialMerge => "merge_"
      case Final => ""
      case Complete => "complete_"
    }
    mode + a.aggregateFunction.prettyName + (if (a.isDistinct) "(distinct)" else "")
  }

  /** The name of `x` when it is the engine's own expression or a call
    * into user code: a UDF, or a catalog function bound through its
    * magic `invoke` method or row-boxed `produceResult`. */
  private def call(x: Expression): Option[String] = x match {
    case r: _root_.graft.functions.RegionLookup => Some(s"region_lookup(${r.table.toString.takeWhile(_ != ',')})")
    case _ if x.getClass.getName.startsWith("graft.") => Some(x.prettyName)
    case u: ScalaUDF => Some(s"udf ${u.udfName.getOrElse("anonymous")}")
    case i: Invoke if i.functionName == "invoke" => Some("invoke")
    case i: StaticInvoke if i.functionName == "invoke" => Some("invoke")
    case f: org.apache.spark.sql.catalyst.expressions.ApplyFunctionExpression =>
      Some(s"produceResult ${f.prettyName}")
    case _ => None
  }

  /** Builds a query with `build`, runs its noop write and reads its facts.
    * Its jobs are those whose local properties carry this run's tag, which
    * every thread the query starts (AQE stages, broadcasts, stream batches)
    * inherits; a job another test left running carries none. A tagged
    * marker job closes the count: the listener bus delivers events in
    * order, so once it is seen every earlier job start has been. */
  def record(spark: SparkSession)(build: => DataFrame): Facts = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val closed = new CountDownLatch(1)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagProp))) match {
          case Some(`tag`) => jobs.incrementAndGet(): Unit
          case Some(t) if t == tag + "/end" => closed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(counter)
    try {
      sc.setLocalProperty(TagProp, tag)
      val plan = try noopWrite(build) finally sc.setLocalProperty(TagProp, null)
      sc.setLocalProperty(TagProp, tag + "/end")
      try sc.parallelize(Seq(1), 1).foreach(_ => ()) finally sc.setLocalProperty(TagProp, null)
      assert(closed.await(60, TimeUnit.SECONDS), "the census marker job was never reported")
      facts(plan, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  private val TagProp = "graft.census"

  /** Runs `df`'s noop write and returns the physical plan that write
    * executed, as the session's execution listener reports it (the
    * listener lives only for this one write). */
  private def noopWrite(df: DataFrame): SparkPlan = {
    val done = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case w: V2WriteCommand if w.table.collectFirst { case r: DataSourceV2Relation =>
              r.table.getClass.getName.contains("Noop") }.contains(true) => done.put(qe)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      df.write.mode("overwrite").format("noop").save()
      val qe = done.poll(60, TimeUnit.SECONDS)
      assert(qe != null, "the noop write was never reported to the listener")
      qe.executedPlan
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  // ---- CENSUS.json: {"exempt": [...], "queries": {name: facts, ...}} ----

  /** A documented exemption: `field` of `query` is not pinned. */
  final case class Exemption(query: String, field: String, why: String)

  private val mapper = new ObjectMapper()
  private def str(s: String): String = mapper.writeValueAsString(s)

  /** One query's line: its facts, without the exempt fields. */
  private def line(name: String, f: Facts, exempt: Set[String]): String = {
    def counted(xs: Seq[String]) = xs.groupBy(identity).toSeq.sortBy(_._1).map {
      case (x, Seq(_)) => x
      case (x, all) => s"$x ×${all.size}"
    }
    val fields = (Fields.map(k => k -> counted(f(k)).map(str).mkString("[", ",", "]")) ++
      Seq("codegen" -> f.codegen.toString, "jobs" -> f.jobs.toString))
      .filterNot { case (k, _) => exempt(k) }
    str(name) + ": " + fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  }

  def render(facts: Map[String, Facts], exemptions: Seq[Exemption]): String = {
    val ex = exemptions.map(x => s"""  {"query": ${str(x.query)}, "field": ${str(x.field)}, "why": ${str(x.why)}}""")
    val qs = facts.toSeq.sortBy(_._1).map { case (q, f) =>
      "  " + line(q, f, exemptions.filter(_.query == q).map(_.field).toSet)
    }
    "{\"exempt\": [\n" + ex.mkString(",\n") + "\n],\n\"queries\": {\n" + qs.mkString(",\n") + "\n}}\n"
  }

  final case class Committed(exemptions: Seq[Exemption], queries: Map[String, JsonNode]) {
    def facts(query: String): Facts = {
      val q = queries.getOrElse(query, throw new NoSuchElementException(s"$query is not in the census"))
      val Counted = "(.*) ×(\\d+)".r
      def list(k: String) = Option(q.get(k)).toSeq.flatMap(_.elements().asScala.map(_.asText()))
        .flatMap { case Counted(x, n) => Seq.fill(n.toInt)(x); case x => Seq(x) }
      Facts(Fields.map(k => k -> list(k)).toMap,
        Option(q.get("codegen")).map(_.asInt).getOrElse(-1), Option(q.get("jobs")).map(_.asInt).getOrElse(-1))
    }
  }

  def read(file: File): Committed = {
    val root = mapper.readTree(file)
    Committed(
      root.get("exempt").elements().asScala.map(x =>
        Exemption(x.get("query").asText(), x.get("field").asText(), x.get("why").asText())).toSeq,
      root.get("queries").properties().asScala.map(e => e.getKey -> e.getValue).toMap)
  }

  def write(file: File, text: String): Unit = {
    file.getParentFile.mkdirs()
    Files.write(file.toPath, text.getBytes(UTF_8)): Unit
  }

  /** Each query and field whose recorded facts differ from `committed`,
    * as `query.field: -<committed fact> +<recorded fact> …`, leaving out
    * the queries in `failed` (their own tests report them). */
  def diff(committed: Committed, recorded: String, failed: Set[String]): Seq[String] = {
    val now = mapper.readTree(recorded).get("queries")
    def items(v: JsonNode): Seq[String] = Option(v).toSeq.flatMap(x =>
      if (x.isArray) x.elements().asScala.map(_.toString).toSeq else Seq(x.toString))
    val names = (committed.queries.keySet ++ now.fieldNames().asScala -- failed).toSeq.sorted
    names.flatMap { q =>
      (committed.queries.get(q), Option(now.get(q))) match {
        case (None, _) => Seq(s"$q: not in CENSUS.json")
        case (_, None) => Seq(s"$q: in CENSUS.json but not recorded")
        case (Some(was), Some(is)) =>
          val ks = (was.fieldNames().asScala ++ is.fieldNames().asScala).toSeq.distinct
          ks.filter(k => was.get(k) != is.get(k)).map { k =>
            val (a, b) = (items(was.get(k)), items(is.get(k)))
            s"$q.$k: " + ((a diff b).map("-" + _) ++ (b diff a).map("+" + _)).mkString(" ")
          }
      }
    }
  }
}
