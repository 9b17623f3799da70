package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing used by the benchmark's traced run: spans kept in memory,
  * Spark listeners for task, stage and trigger metrics, and a fold of an
  * executed plan's SQL metrics into the pipeline's layers. */
object Trace {
  /** Local property that tags every job with the span that submitted it. */
  val SpanProperty = "graftbench.span"

  final case class Span(name: String, pass: Int, startNs: Long, endNs: Long,
      parent: String) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spans in memory, written out once at the end of the run. */
  final class Spans {
    val all = mutable.ArrayBuffer.empty[Span]
    def time(sc: org.apache.spark.SparkContext, name: String, pass: Int,
        parent: String)(f: => Unit): Span = {
      sc.setLocalProperty(SpanProperty, s"$name/$pass")
      val t0 = System.nanoTime()
      try f finally sc.setLocalProperty(SpanProperty, null)
      val s = Span(name, pass, t0, System.nanoTime(), parent)
      all += s
      s
    }
    def json: String = all.map { s =>
      s"""{"name":"${s.name}","pass":${s.pass},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":"${s.parent}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

  final case class TaskRec(stageId: Int, durationMs: Long, runMs: Long,
      spillBytes: Long)
  /** A stage's span, the shuffle it writes (None for a result stage) and
    * its parent stages. */
  final case class StageTag(span: String, shuffleDepId: Option[Int],
      parents: Seq[Int])

  /** Task-level metrics with the span and shuffle lineage of their stage. */
  final class TaskListener extends SparkListener {
    val stages = new ConcurrentHashMap[Int, StageTag]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    @volatile var lastEventNs: Long = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProperty)))
        .getOrElse("")
      e.stageInfos.foreach(si => stages.put(si.stageId, StageTag(span,
        org.apache.spark.GraftBenchBridge.shuffleDepId(si), si.parentIds)))
      lastEventNs = System.nanoTime()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.memoryBytesSpilled + m.diskBytesSpilled))
      lastEventNs = System.nanoTime()
    }

    /** Listener events arrive asynchronously: wait until none has arrived
      * for a quiet period. */
    def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
      val deadline = System.nanoTime() + maxMs * 1000000L
      while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
          System.nanoTime() < deadline) Thread.sleep(50)
    }

    /** Tasks of one span (`name/pass`) or of every pass of a name. */
    def tasksOf(span: String): Seq[TaskRec] = tasks.asScala.toSeq
      .filter(t => Option(stages.get(t.stageId)).exists(s =>
        s.span == span || s.span.startsWith(span + "/")))
  }

  /** Every streaming progress update, with the time it was observed. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      events.add((System.nanoTime(), e.progress))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def all: Seq[(Long, StreamingQueryProgress)] = events.asScala.toSeq
  }

  /** Executed plans of finished actions. */
  final class PlanLog extends QueryExecutionListener {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = plans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  // ------------------------------------------------------ plan → layers

  private def refs(es: Seq[Expression]): Set[String] =
    es.flatMap(_.references.map(_.name)).toSet

  /** Nodes of one plan fragment: from `p` down to the next exchange. */
  private def fragment(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: ShuffleQueryStageExec | _: Exchange => Nil
    // an adaptive plan wraps its final fragment in a result query stage
    case s: QueryStageExec => fragment(s.plan)
    case a: AdaptiveSparkPlanExec => fragment(a.executedPlan)
    case c: CommandResultExec => fragment(c.commandPhysicalPlan)
    case other => other.children.flatMap(fragment)
  })

  /** Every node of a plan, through adaptive query stages. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case c: CommandResultExec => allNodes(c.commandPhysicalPlan)
    case s: QueryStageExec => allNodes(s.plan)
    case other => other.children.flatMap(allNodes)
  })

  private def aggLayer(a: BaseAggregateExec): Option[String] = {
    val g = refs(a.groupingExpressions)
    if (g == Set("event_id")) Some("dedup")
    else if (g.contains("window")) Some("metrics")
    else None
  }

  /** The layer a plan fragment's work belongs to. */
  def layerOf(nodes: Seq[SparkPlan]): String = {
    val aggs = nodes.collect { case a: BaseAggregateExec => aggLayer(a) }.flatten
    if (nodes.exists(_.isInstanceOf[BatchScanExec])) "ingest"
    else if (aggs.contains("dedup")) "dedup"
    else if (aggs.contains("metrics") ||
      nodes.exists(_.isInstanceOf[FileSourceScanExec])) "metrics"
    else if (nodes.exists(n => n.isInstanceOf[SortExec] ||
      n.isInstanceOf[DataWritingCommandExec])) "sink"
    else "other"
  }

  private def exchangeLayer(e: ShuffleExchangeLike): String = {
    val r = e.outputPartitioning match {
      case p: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        refs(p.expressions)
      case _ => Set.empty[String]
    }
    if (r.contains("event_date")) "sink"
    else if (r == Set("event_id")) "dedup"
    else if (r.contains("window") || r.contains("protocol")) "metrics"
    else "other"
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** SQL-metric view of one traced pass. `runMs` is executor run time
    * per layer, from the stages each plan fragment ran as. */
  final case class PlanFold(runMs: Map[String, Long],
      shuffleBytes: Map[String, Long], dedupSpillBytes: Long)

  def fold(plans: Seq[SparkPlan], tl: TaskListener, span: String): PlanFold = {
    // a map stage runs the fragment below the exchange it writes; a result
    // stage runs the fragment that reads its parents' shuffles
    val writer, reader = mutable.Map.empty[Int, String]
    // keyed by shuffle and node, since one action can be reported twice
    // (the command and the query it ran)
    val shuffleBytes = mutable.Map.empty[Int, (String, Long)]
    val spills = mutable.Map.empty[Int, Long]
    def index(root: SparkPlan): Unit = {
      val frag = fragment(root)
      val layer = layerOf(frag)
      frag.foreach {
        case s: ShuffleQueryStageExec => reader(s.shuffle.shuffleId) = layer
        case e: ShuffleExchangeLike => reader(e.shuffleId) = layer
        case _ => ()
      }
    }
    plans.foreach { root =>
      index(root)
      allNodes(root).foreach {
        case e: ShuffleExchangeLike =>
          writer(e.shuffleId) = layerOf(fragment(e.child))
          index(e.child)
          shuffleBytes(e.shuffleId) = (exchangeLayer(e), metric(e, "shuffleBytesWritten"))
        case s: SortExec if refs(s.sortOrder) == Set("event_id") =>
          spills(System.identityHashCode(s)) = metric(s, "spillSize")
        case a: BaseAggregateExec if aggLayer(a).contains("dedup") =>
          spills(System.identityHashCode(a)) = metric(a, "spillSize")
        case _ => ()
      }
    }
    val run = mutable.Map.empty[String, Long].withDefaultValue(0L)
    tl.tasksOf(span).foreach { t =>
      val tag = tl.stages.get(t.stageId)
      val layer = tag.shuffleDepId match {
        case Some(s) => writer.getOrElse(s, "other")
        case None => tag.parents.flatMap(p => Option(tl.stages.get(p)))
          .flatMap(_.shuffleDepId).flatMap(reader.get).headOption.getOrElse("other")
      }
      run(layer) += t.runMs
    }
    PlanFold(run.toMap,
      shuffleBytes.values.groupMapReduce(_._1)(_._2)(_ + _), spills.values.sum)
  }
}
