package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor work attributed to one span (its job group). */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputRows, inputBytes = 0L
  var peakTaskMem = 0L
}

/** A construction or action job: its call site, the long call site of
  * the SQL action that launched it ("" outside one), and its wall. */
final case class JobInfo(group: String, callSite: String, action: String, startMs: Long,
    var endMs: Long)

/** Shape and SQL metrics of the physical plans an action ran. */
final case class PlanStats(planS: Double, nodes: Int, exchanges: Int, codegenStages: Int,
    nonCodegenNodes: Int, joinRowsMax: Long, write: Map[String, Long])

final class Span(val id: Int, val name: String, val parent: Int, val op: String,
    val startNs: Long) {
  var endNs = 0L
  var qes: Seq[QueryExecution] = Nil
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans at each layer boundary of the traced run, plus the Spark work
  * each caused. A span sets its id as the job group while it runs, so
  * the SparkListener can charge jobs, stages and tasks to it; the
  * QueryExecutionListener hands over every finished query execution,
  * which the span takes once the listener bus is drained at its end.
  * Spans live in memory and are written out with the run's result. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Span]
  private val stageGroup = TrieMap.empty[Int, String]
  private val actionSite = TrieMap.empty[String, String] // SQL execution id -> long call site
  val work = TrieMap.empty[String, Work]
  val jobs = TrieMap.empty[Int, JobInfo]
  private val pending = ArrayBuffer.empty[QueryExecution]

  private def acc(g: String): Work = work.getOrElseUpdate(g, new Work)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        acc(g).synchronized(acc(g).jobs += 1)
        val result = e.stageInfos.maxBy(_.stageId)
        // a job AQE submits from its own thread names that thread as its
        // call site; the SQL execution it belongs to still names the action
        val action = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(actionSite.get).getOrElse("")
        jobs(e.jobId) = JobInfo(g, result.name, action, e.time, e.time)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => actionSite(s.executionId.toString) = s.details
      case _                                 =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).synchronized(acc(g).stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = acc(g)
        w.synchronized {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputRows += m.inputMetrics.recordsRead
          w.inputBytes += m.inputMetrics.bytesRead
          w.peakTaskMem = math.max(w.peakTaskMem, m.peakExecutionMemory)
        }
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.synchronized(pending += qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Run `body` as a child of the innermost open span (or as a root
    * span named after the op). */
  def span[T](name: String, op: String)(body: => T): T = {
    Bus.drain(sc)
    pending.synchronized(pending.clear())
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
      System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(s.id.toString, s"$op/$name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      Bus.drain(sc)
      s.qes = pending.synchronized { val q = pending.toList; pending.clear(); q }
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, s"${p.op}/${p.name}", interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def workOf(s: Span): Work = work.getOrElse(s.id.toString, new Work)
  def jobsOf(s: Span): Iterable[JobInfo] = jobs.values.filter(_.group == s.id.toString)
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def relMs(ns: Long): Double = (ns - t0) / 1e6

  /** Planning time and plan shape of every query execution in `s`.
    * Planning is the QueryPlanningTracker's phases; each tracker is
    * fresh for the action that owns it, so its phases are this
    * span's. */
  def planStats(s: Span): PlanStats = {
    val trackers = s.qes.map(_.tracker).distinct
    val planMs = trackers.map(_.phases.values.map(_.durationMs).sum).sum
    var nodes, exchanges, stages, nonCodegen = 0
    var joinRows = 0L
    val write = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def count(p: SparkPlan, inCodegen: Boolean): Unit = {
      nodes += 1
      if (!inCodegen) nonCodegen += 1
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case j: BaseJoinExec =>
          joinRows = math.max(joinRows, j.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        case w: DataWritingCommandExec =>
          w.cmd.metrics.foreach { case (k, m) => write(k) += m.value }
        case _ =>
      }
    }
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen)
      case w: WholeStageCodegenExec => stages += 1; walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case r: ReusedExchangeExec => count(r, inCodegen)
      case m: InMemoryTableScanExec =>
        count(m, inCodegen); walk(m.relation.cachedPlan, inCodegen = false)
      case other =>
        count(other, inCodegen)
        other.children.foreach(walk(_, inCodegen))
        other.subqueries.foreach(walk(_, inCodegen = false))
    }
    s.qes.foreach(qe => walk(qe.executedPlan, inCodegen = false))
    PlanStats(planMs / 1e3, nodes, exchanges, stages, nonCodegen, joinRows, write.toMap)
  }
}
