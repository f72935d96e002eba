package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval around one call into the engine. `op` numbers the
  * benchmark op the span belongs to; `parent` is the enclosing span's
  * name ("" for the op itself). */
final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One finished action as the QueryExecutionListener saw it. */
final case class Action(durationMs: Double, planningMs: Double,
    writePath: String, filesWritten: Long, scanMs: Map[String, Double])

/** Everything the engine reported while one op ran. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  val actions = mutable.ArrayBuffer.empty[Action]
  var queryStartMs = -1.0
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var stateRows, stateBytes, stateCommitMs = 0L
}

/** Spans kept in memory plus the three engine listeners. Off by
  * default: `span` then only runs its body, and no listener is
  * registered, so the untraced run measures the engine alone. */
final class Tracer {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var cur = new OpCounters
  /** The innermost open span on this thread: (name, start ns). */
  private val open = new ThreadLocal[(String, Long)] { override def initialValue = ("", 0L) }

  def span[A](op: Int, name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = open.get
      val t0 = System.nanoTime()
      open.set(name -> t0)
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parent)
        spans.synchronized(spans += Span(op, name, parent._1, t0, t1))
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Marks the start of an op; listener events until [[finishOp]] are
    * charged to it. */
  def startOp(): Unit = synchronized { cur = new OpCounters }

  /** Waits until the listener bus has delivered every event, then
    * hands back the op's counters. */
  def finishOp(s: SparkSession): OpCounters = {
    org.apache.spark.BenchBus.drain(s.sparkContext)
    synchronized { val c = cur; cur = new OpCounters; c }
  }

  private def charge(f: OpCounters => Unit): Unit = synchronized(f(cur))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charge(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charge(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      charge { c =>
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = Tracer.action(qe, durationNs)
      charge(_.actions += a)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    // called synchronously from DataStreamWriter.start(), on the thread
    // inside the span of the call that starts the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val sinceSpan = (System.nanoTime() - open.get._2) / 1e6
      charge(c => if (c.queryStartMs < 0) c.queryStartMs = sinceSpan)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      charge { c =>
        c.batchMs += p.batchDuration.toDouble
        c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        c.stateBytes = math.max(c.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the session-scoped listeners on `s` (each new session
    * has its own listener manager and stream manager). */
  def attach(s: SparkSession): Unit = if (on) {
    s.listenerManager.register(queryListener)
    s.streams.addListener(streamListener)
  }

  /** Turns tracing on or off for `s` and its engine. */
  def switch(s: SparkSession, to: Boolean): Unit = if (to != on) {
    on = to
    if (to) {
      s.sparkContext.addSparkListener(sparkListener)
      attach(s)
    } else {
      s.sparkContext.removeSparkListener(sparkListener)
      s.listenerManager.unregister(queryListener)
      s.streams.removeListener(streamListener)
    }
  }
}

object Tracer {
  /** Walks an executed plan through AQE, query stages, command
    * wrappers and subqueries. Reused exchanges and cached-relation
    * scans are not entered: their work is charged where it ran. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val below: Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case _: ReusedExchangeExec | _: InMemoryTableScanExec => Iterator.empty
      case _ => p.children.iterator.flatMap(nodes)
    }
    Iterator.single(p) ++ below ++ p.subqueries.iterator.flatMap(nodes)
  }

  def action(qe: QueryExecution, durationNs: Long): Action = {
    val plan = nodes(qe.executedPlan).toList
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val write = plan.collectFirst {
      case w: DataWritingCommandExec => w.cmd
    }
    val (path, files) = write match {
      case Some(c: InsertIntoHadoopFsRelationCommand) =>
        (c.outputPath.toString, c.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case Some(c) => ("", c.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case None => ("", 0L)
    }
    val scans = plan.collect { case f: FileSourceScanExec =>
      val root = f.relation.location.rootPaths.headOption.map(_.toString).getOrElse("")
      root -> f.metrics.get("scanTime").map(_.value.toDouble).getOrElse(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
    Action(durationNs / 1e6, planning, path, files, scans)
  }
}
