package benchmatch

import java.util.{Collections, IdentityHashMap}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the listeners accumulate for one span. */
final class SpanStats {
  val n: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = n(key) += v
}

/** One bench-side span: a named wall-clock interval around a layer's public
  * call, with the Spark work the listeners attributed to it. */
final case class Span(name: String, wallS: Double, stats: SpanStats)

/**
 * The traced run's collector: a [[SparkListener]] for jobs, stages and
 * block updates, and a [[QueryExecutionListener]] that reads each executed
 * physical plan for the match system's own counts (scored pairs, top-k rows,
 * broadcasts, written rows).
 *
 * Attribution is by the span that is open when the listener sees an event.
 * [[span]] drains the listener bus before it closes, so every event a span's
 * call produced is seen while that span is still open.
 */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  @volatile private var open: SpanStats = new SpanStats
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` as the span `name` and records it. */
  def span[T](name: String)(body: => T): T = {
    BenchBus.drain(spark.sparkContext)
    val stats = new SpanStats
    open = stats
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(spark.sparkContext)
    open = new SpanStats
    spans += Span(name, wall, stats)
    out
  }

  /** SQL execution id -> the call site of the action that started it. */
  private val actionSites = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { actionSites(s.executionId.toString) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open.add("jobs", 1)
    // a job's call site is its SQL action's ("count at MatchCli.scala:45");
    // adaptive stages and broadcasts run on pool threads with no site of their own
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    exec.flatMap(actionSites.get).foreach(site => open.add("site:" + site, 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (info.failureReason.isEmpty) {
      open.add("stages", 1)
      open.add("tasks", info.numTasks)
      val m = info.taskMetrics
      if (m != null) {
        open.add("task_cpu_s", m.executorCpuTime / 1e9)
        open.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        open.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) open.add("checkpoint_bytes", b.memSize + b.diskSize)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    open.add("queries", 1)
    val nodes = Tracer.nodes(qe.executedPlan)
    val kernels = nodes.filter(Tracer.hasExpr(_, "FuzzCompositePre"))
    if (kernels.nonEmpty) open.add("scoring_passes", 1)
    kernels.foreach(k => open.add("kernel_calls", Tracer.inputRows(k)))
    nodes.foreach {
      case a: BaseAggregateExec if Tracer.hasExpr(a, "TopKMatchRows") &&
          a.aggregateExpressions.exists(_.mode.toString == "Partial") =>
        open.add("topk_rows_in", Tracer.inputRows(a))
      case g: GenerateExec =>
        val key = if (g.generator.getClass.getSimpleName == "PosExplode") "topk_rows_out" else "keys_exploded"
        open.add(key, Tracer.metric(g, "numOutputRows"))
      case b: BroadcastExchangeExec =>
        open.add("broadcasts", 1)
        open.add("broadcast_bytes", Tracer.metric(b, "dataSize"))
      case w: V2TableWriteExec =>
        open.add("sink_rows", Tracer.inputRows(w))
      case w: DataWritingCommandExec =>
        open.add("write_rows", Tracer.metric(w, "numOutputRows"))
        open.add("write_bytes", Tracer.metric(w, "numOutputBytes"))
      case _ =>
    }
    qe.observedMetrics.get("match_blocking_hot_keys").foreach(r => open.add("hot_keys", r.getLong(0)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {

  /** Every node of an executed plan once: through adaptive plans, query
    * stages, command results and subqueries; reused exchanges are skipped so
    * a reused broadcast is not counted twice. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = Collections.newSetFromMap(new IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case _: ReusedExchangeExec =>
      case _ if seen.add(p) =>
        out += p
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      case _ =>
    }
    walk(root)
    out.toSeq
  }

  def hasExpr(p: SparkPlan, simpleName: String): Boolean =
    p.expressions.exists(_.exists(_.getClass.getSimpleName == simpleName))

  def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** Rows flowing into `p`: the output rows of the nearest descendant that
    * counts them (projections and codegen wrappers do not). */
  def inputRows(p: SparkPlan): Double = {
    def rows(q: SparkPlan): Double = q match {
      case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
      case s: QueryStageExec => rows(s.plan)
      case r: ReusedExchangeExec => rows(r.child)
      case _ if q.metrics.contains("numOutputRows") => metric(q, "numOutputRows")
      case _ => q.children.map(rows).sum
    }
    p.children.map(rows).sum
  }
}
