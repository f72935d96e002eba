package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.ScalaUDF

/** Mechanical CodegenFallback sweep — the enforcement arm of the
  * round-12 no-lambda-HOF rule (SCALING.md §round-12: a lambda HOF on
  * a data-sized path costs 1.6–4× the entry by dropping the projection
  * out of whole-stage codegen into interpreted per-element dispatch).
  *
  * [[fallbackNames]] walks a query's executed plan (subqueries
  * included) and returns every expression class that is
  * [[CodegenFallback]] — lambda higher-order functions
  * (transform/aggregate/zip_with/filter), plus any straggler built-in
  * that interprets. `PlanSpec`'s audit test asserts the per-entry
  * result ⊆ a DOCUMENTED allowlist, so the next hot-path lambda fails
  * CI instead of landing unnoticed. ScalaUDF is collected under its
  * own marker and allowlisted NOWHERE — the repo's zero-UDF rule.
  *
  * As a main: prints `entry: name1 name2 …` per gate entry (sf0.001)
  * for triage — the tool that produced the round-13 allowlist.
  */
object CodegenAudit {

  /** Distinct CodegenFallback expression class names in the executed
    * plan, subqueries included. AdaptiveSparkPlanExec and
    * QueryStageExec are childless wrappers — a plain `collect` never
    * descends into them (the round-13 lesson: the first sweep returned
    * zero hits on a surface known to hold HOFs), so the walk unwraps
    * them explicitly, plus subquery plan expressions. */
  def fallbackNames(df: DataFrame): Set[String] =
    fallbackNames(df.queryExecution.executedPlan)

  /** Plan-level overload: the streaming audit feeds EXECUTED
    * micro-batch plans here (captured via [[lastStreamingPlan]] at the
    * `Stream.drainObserver` seam) and the batch-side-effect audit feeds
    * plans captured by a QueryExecutionListener — neither has a
    * DataFrame to hand. */
  def fallbackNames(plan: org.apache.spark.sql.execution.SparkPlan): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val acc = scala.collection.mutable.Set[String]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        p.expressions.foreach(_.foreach {
          case u: ScalaUDF => acc += "ScalaUDF:" + u.udfName.getOrElse("anon")
          case e: CodegenFallback => acc += e.getClass.getSimpleName
          case s: PlanExpression[_] => s.plan match {
            case sp: SparkPlan => walk(sp)
            case _ => ()
          }
          case _ => ()
        })
        p.children.foreach(walk)
    }
    walk(plan)
    acc.toSet
  }

  /** The last EXECUTED micro-batch plan of a (possibly stopped)
    * streaming query, or None. AvailableNow drains finish in
    * milliseconds at gate SF, so any listener-based capture races
    * termination; instead the audit takes the handle synchronously at
    * `Stream.drainObserver` and digs `lastExecution.executedPlan` out
    * reflectively (StreamingQueryWrapper and
    * StreamExecution.lastExecution are private[sql] — reflection is
    * the public-API-safe spelling, and a Spark-internals rename
    * degrades to None, i.e. "entry not audited", never a crash).
    * Every micro-batch of one AvailableNow drain shares a plan SHAPE
    * (same operators, new offsets), so the last batch — which includes
    * the no-data watermark-flush batch when enabled, superset
    * stateful machinery — is the right single representative. */
  def lastStreamingPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.SparkPlan] =
    try {
      val se = q.getClass.getMethod("streamingQuery").invoke(q)
      val le = se.getClass.getMethod("lastExecution").invoke(se)
      Option(le).map(
        _.asInstanceOf[org.apache.spark.sql.execution.QueryExecution].executedPlan)
    } catch { case _: Exception => None }

  /** Runtime capture for the entries the static sweep can't see (r13
    * verdict finding 2): the returned DataFrame is only a post-sink
    * read for streaming/pipeline/side-effect entries — the real work
    * executes DURING `fn`, inside micro-batches and batch writes. This
    * runs the entry once with (a) the synchronous
    * `Stream.drainObserver` seam catching every drained query's last
    * micro-batch executed plan, and (b) a session QueryExecutionListener
    * catching every batch action (zone writes, JDBC round-trip,
    * memory-sink reads), then unions [[fallbackNames]] over all
    * captured plans plus the returned DataFrame's own. The observer
    * filters on the session so parallel suites can't cross-pollute;
    * listener events are async, so capture waits for quiescence. */
  /** [[runtimeFallbackNames]] result: the fallback-name union plus how
    * many plans each capture channel saw — the AUDIT must be able to
    * assert a streaming entry actually yielded micro-batch plans
    * (a reflection break in [[lastStreamingPlan]] would otherwise read
    * as "clean sweep" forever — the vacuous-pass failure mode).
    * `batchPlans` counts ONLY QueryExecutionListener-captured
    * executions — the returned DataFrame's own executedPlan (always
    * added, so the name sweep covers it) is excluded, otherwise
    * batchPlans >= 1 unconditionally and a silently broken listener
    * channel reads as audited (r14 advice: the `batchPlans == 0`
    * assert was dead code). Every entry runs `df.count()` here, which
    * posts at least one listener event, so zero listener captures IS
    * a broken channel, never a legitimate quiet entry. */
  case class RuntimeAudit(names: Set[String], batchPlans: Int, streamPlans: Int)

  def runtimeFallbackNames(spark: SparkSession, name: String,
      dir: String): RuntimeAudit = {
    import scala.jdk.CollectionConverters._
    val streamSeen = new java.util.concurrent.atomic.AtomicInteger()
    val listenerSeen = new java.util.concurrent.atomic.AtomicInteger()
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        listenerSeen.incrementAndGet(); acc.add(qe.executedPlan)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    graft.streaming.Stream.drainObserver.set { q =>
      if (q.sparkSession eq spark) lastStreamingPlan(q).foreach { p =>
        streamSeen.incrementAndGet(); acc.add(p)
      }
    }
    try {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.count()
      acc.add(df.queryExecution.executedPlan)
      // QueryExecutionListener posts async on the listener bus: wait
      // until the capture count is stable for ~0.5 s. Bounded (r14
      // advice): anything else posting executions on the shared
      // session — or a stalled bus — must time the audit out with
      // whatever was captured, not hang the suite forever.
      var last = -1; var stable = 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(150)
        val n = acc.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally {
      graft.streaming.Stream.drainObserver.set(null)
      spark.listenerManager.unregister(ql)
    }
    val names = acc.asScala.toSeq
      .flatMap(p => scala.util.Try(fallbackNames(p)).getOrElse(Set.empty[String]))
      .toSet
    RuntimeAudit(names, listenerSeen.get(), streamSeen.get())
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .appName("graft-codegen-audit").master("local[8]")
      .config(graft.io.LocalFs.conf)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    try {
      val runtime = (n: String) =>
        n.startsWith("st") || Set("p1_pipeline_e2e", "p5_stream_curation",
          "o8_json_raw", "o2_jdbc_roundtrip", "o1_csv_source").contains(n)
      graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(runtime).foreach { name =>
        val names = scala.util.Try(
          fallbackNames(graft.SparkEntry.queries(name)(spark, dir))
        ).getOrElse(Set("<plan-error>"))
        if (names.nonEmpty) println(s"FALLBACK $name: ${names.toSeq.sorted.mkString(" ")}")
      }
      // Runtime-captured sweep for the entries whose work happens
      // inside micro-batches / batch side effects (the r13 audit blind
      // spot): micro-batch plans via the drainObserver seam, batch
      // executions via a QueryExecutionListener, plus the returned
      // DataFrame itself.
      graft.SparkEntry.queries.keys.toSeq.sorted.filter(runtime).foreach { name =>
        val r = scala.util.Try(runtimeFallbackNames(spark, name, dir))
          .getOrElse(RuntimeAudit(Set("<plan-error>"), 0, 0))
        println(s"CAPTURE $name: batch=${r.batchPlans} stream=${r.streamPlans}")
        if (r.names.nonEmpty)
          println(s"FALLBACK $name: ${r.names.toSeq.sorted.mkString(" ")}")
      }
      println("AUDIT DONE")
    } finally spark.stop()
  }
}
