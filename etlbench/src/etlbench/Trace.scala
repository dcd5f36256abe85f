package etlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, ExecSubqueryExpression}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.EtlBenchBridge
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into a layer: `layer` names the module, `name` the
  * query or lifecycle step; `parent` is the enclosing span's id. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spans around the benchmark's calls into the program, kept in memory.
  * The current span id travels as a Spark local property, so every job
  * a call submits (from its own thread, or from a pool thread created
  * inside the call, which inherits local properties) carries it. */
final class Spans(spark: SparkSession) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var current = 0

  def apply[T](name: String, layer: String)(f: => T): (T, Double) = {
    val s = Span(all.size + 1, name, layer, current,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    val sc = spark.sparkContext
    val prev = current
    current = s.id
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try {
      val r = f
      (r, (System.nanoTime() - s.startNs) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      current = prev
      sc.setLocalProperty(Trace.SpanKey, if (prev == 0) null else prev.toString)
    }
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""parent":${s.parent},"start_ms":${s.startMs},"dur_s":${s.seconds}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Scheduler, executor and SQL-operator totals per span, from a
  * SparkListener and a QueryExecutionListener registered on the session.
  * Events whose jobs carry no span property count as span 0
  * ("unattributed"). */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Trace._

  final class Totals {
    var jobs, stages, tasks = 0L
    var schedulerDelayMs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    var exchanges, nestedLoopJoins, windows, codegenStages, scanFiles = 0L

    def add(o: Totals): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      schedulerDelayMs += o.schedulerDelayMs; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input; output += o.output
      exchanges += o.exchanges; nestedLoopJoins += o.nestedLoopJoins
      windows += o.windows; codegenStages += o.codegenStages
      scanFiles += o.scanFiles
    }
  }

  private val totals = mutable.Map.empty[Int, Totals]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val execStartMs = mutable.Map.empty[Long, Long]
  /** operator counts per finished query execution, and its SQL
    * execution id (QueryExecution compares by reference) */
  private val planCounts = mutable.Map.empty[QueryExecution, Totals]
  private val planExec = mutable.Map.empty[QueryExecution, Long]
  /** (start ms, end ms) of every job, for driver time with no job */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
  private def tot(span: Int) = totals.getOrElseUpdate(span, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    tot(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    jobStart(e.jobId) = e.time
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.getOrElseUpdate(id.toLong, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tot(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tot(stageSpan.getOrElse(e.stageId, 0))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      t.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStartMs(s.executionId) = s.time
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      Option(EtlBenchBridge.queryExecution(e)).foreach(planExec(_) = e.executionId)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = new Totals
    nodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => t.exchanges += 1
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => t.nestedLoopJoins += 1
      case _: WindowExecBase => t.windows += 1
      case _: WholeStageCodegenExec => t.codegenStages += 1
      case s: FileSourceScanExec => t.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    synchronized { planCounts(qe) = t }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The executed plan's operators, through adaptive wrappers, query
    * stages and subqueries; a reused exchange is not counted twice. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val own = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    own ++ p.expressions.flatMap(_.collect {
      case s: ExecSubqueryExpression => s.plan
    }).flatMap(nodes)
  }

  /** Totals of the events attributed to a span, and of those carrying
    * none. A SQL execution is attributed through its jobs or, if it ran
    * none, through the span whose wall interval holds its start. */
  def totals(spans: Spans): (Totals, Totals) = {
    EtlBenchBridge.drainListeners(spark.sparkContext)
    synchronized {
      planCounts.foreach { case (qe, plan) =>
        val span = planExec.get(qe).map { exec =>
          execSpan.getOrElse(exec, execStartMs.get(exec).flatMap { ms =>
            spans.all.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)
              .map(_.id)
          }.getOrElse(0))
        }.getOrElse(0)
        tot(span).add(plan)
      }
      planCounts.clear()
      val attributed = new Totals
      totals.foreach { case (id, t) => if (id != 0) attributed.add(t) }
      (attributed, tot(0))
    }
  }

  /** Driver wall time in [fromMs, toMs] during which no job ran. */
  def noJobSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    (toMs - fromMs - covered) / 1000.0
  }
}

object Trace {
  val SpanKey = "etlbench.span"

  def register(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
