package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Bench
import graft.streaming.Stream

/** The one single-entry tool: times a gate entry in its own JVM, or
  * (`--explain`) prints its formatted plan.
  *
  *   graft.tools.Entry <name> <dir> [--reps n] [--explain] [--out file]
  *
  * The session is `Bench.session`, the in-suite builder, so a fresh
  * number differs from the in-suite one only by suite state; Bench's
  * fresh re-measure spawns this main and reads `TIMED` from `--out`.
  * Before the session exists, every graft work dir is swept (cutoff 0:
  * stale debris must not bill its deletion to a rep) and
  * [[DiskPreflight]] runs; a timed run refuses scan-starved inputs
  * ([[StarveGuard]]). One warm pass plus `reps` timed passes, each
  * `Bench.consumeAll(fn(spark, dir))`, always report:
  *  - `TIMED` (median and per-rep seconds) and `HASH` (consumeAll's
  *    output hash for A/B value identity; the warm pass, i.e. the cold
  *    memo build);
  *  - `SPILL` (task spill and shuffle over the timed reps), `PASS`
  *    (each pass's eager `fn` / consume split, shuffle write, the bytes
  *    the JVM wrote, free disk), `JOB` (≥ 20 ms) and `STAGE` (≥ 50 ms)
  *    with call sites; a job or stage whose only call site is a thread
  *    pool's (AQE's query stages) is named by its job description, which
  *    each pass sets to `<name> <pass> eager|consume`;
  *  - `EXCHANGE`, once per shuffle stage, in the pass that first
  *    shows it (read from the executed AQE plans and the plans of the
  *    caches they read): its origin (`ENSURE_REQUIREMENTS` for a
  *    planner-inserted exchange, `REPARTITION_BY_NUM` for a widen such
  *    as `Tables.widened`), its map-side partition count, the input bytes
  *    [[graft.plans.ExchangeSizing]] sized it from (`unknown` when it
  *    kept the ceiling unmeasured) and the bytes its map statuses
  *    report written;
  *  - per drain, from the `Stream.drainObserver` seam: `BATCH` (every
  *    micro-batch's durations) and `STATE` (every stateful operator's
  *    rows, memory and RocksDB spill/memory metrics).
  * A pass that wrote at least 1/20 of the free disk in shuffle is
  * followed by a GC and a 3 s settle, so its files go before the next
  * pass needs the disk (at the fourth decade, deletion overlapping the
  * next rep doubled its time). Gate-SF shuffles never trigger it. */
object Entry {
  final case class Report(name: String, rows: Long, hash: Long, warmSec: Double,
      times: Seq[Double], spillMemBytes: Long, spillDiskBytes: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, detail: Seq[String]) {
    def timed: String = Bench.timedLine(name, rows, times)
    def lines: Seq[String] = Seq(timed,
      f"HASH $name hash=$hash warm=$warmSec%.3f",
      s"SPILL $name memBytes=$spillMemBytes diskBytes=$spillDiskBytes " +
        s"shuffleWriteBytes=$shuffleWriteBytes shuffleReadBytes=$shuffleReadBytes " +
        s"over ${times.size} reps") ++ detail
  }

  /** The spill- and memory-bearing of RocksDB's ~20 custom metrics. */
  private val StateSignals = Seq("Spill", "Memory", "memory", "BytesOfSst", "pinned")

  /** Job property of the marker job that [[Recorder.caughtUp]] runs. */
  private val Marker = "graft.entry.marker"

  /** One listener for everything a pass reports. The bus delivers
    * events asynchronously but in order, so once the marker job's end
    * arrives every earlier task, stage and job event has too. */
  private final class Recorder(name: String) extends SparkListener with QueryExecutionListener {
    @volatile var pass = "warm"
    val spillMem, spillDisk, shuffleWrite, shuffleRead = new AtomicLong
    val lines = new ConcurrentLinkedQueue[String]
    private val jobs = new ConcurrentHashMap[Int, (Long, String)]
    private val jobDescs = new ConcurrentHashMap[Int, String]
    private val markers = ConcurrentHashMap.newKeySet[Int]
    private val markerEnded = new Semaphore(0)
    private val plans = new ConcurrentLinkedQueue[SparkPlan]
    private val shuffles = ConcurrentHashMap.newKeySet[Int]

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** One `EXCHANGE` line per shuffle stage first seen since the last call. */
    def exchanges(): Unit = while (!plans.isEmpty) shuffleStages(plans.poll()).foreach { st =>
      if (shuffles.add(st.shuffle.shuffleId)) {
        val in = st.shuffle.asInstanceOf[SparkPlan].getTagValue(graft.plans.ExchangeSizing.InputBytes)
        lines.add(s"EXCHANGE $name $pass shuffle=${st.shuffle.shuffleId} origin=${st.shuffle.shuffleOrigin} " +
          s"partitions=${st.shuffle.outputPartitioning.numPartitions} inputBytes=${in.getOrElse("unknown")} " +
          s"writeBytes=${st.mapStats.map(_.bytesByPartitionId.sum).getOrElse(-1L)}")
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(Marker) != null)) markers.add(e.jobId)
      else {
        val names = e.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
        // what `setJobDescription` set; a streaming batch's spans lines
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(_.split('\n').map(_.trim).filter(_.nonEmpty).mkString(" ")).filter(_.nonEmpty)
        val site = Some(names.filterNot(_.startsWith("$anonfun"))).filter(_.nonEmpty)
          .orElse(desc.map(Seq(_))).getOrElse(names.take(1)).take(3).mkString(" | ")
        jobs.put(e.jobId, (System.nanoTime(), site))
        desc.foreach(d => e.stageIds.foreach(jobDescs.put(_, d)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markers.remove(e.jobId)) markerEnded.release()
      else Option(jobs.remove(e.jobId)).foreach { case (t0, site) =>
        val ms = (System.nanoTime() - t0) / 1e6
        if (ms >= 20) lines.add(f"JOB $name $pass id=${e.jobId} ms=$ms%.0f $site")
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      val site = Some(si.name.takeWhile(_ != '\n')).filterNot(_.startsWith("$anonfun"))
        .orElse(Option(jobDescs.remove(si.stageId))).getOrElse(si.name.takeWhile(_ != '\n'))
      if (wall >= 50) lines.add(s"STAGE $name $pass id=${si.stageId} ms=$wall " +
        s"taskMs=${si.taskMetrics.executorRunTime} tasks=${si.numTasks} " + site.take(60))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }

    /** Runs a one-task marker job and waits until the bus delivers its
      * end: the counters then hold every job run before it. */
    def caughtUp(sc: SparkContext): Unit = {
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Marker, null)
      markerEnded.tryAcquire(30, TimeUnit.SECONDS)
    }

    private var drains = 0
    /** Called by `Stream.drain` with the finished query, before its stop. */
    def drained(q: StreamingQuery): Unit = {
      drains += 1
      val tag = s"$name $pass drain=$drains"
      q.recentProgress.foreach { p =>
        val ms = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        lines.add(s"BATCH $tag batch=${p.batchId} in=${p.numInputRows} $ms")
      }
      Option(q.lastProgress).foreach(_.stateOperators.zipWithIndex.foreach { case (so, i) =>
        val custom = Option(so.customMetrics).map(_.asScala.toSeq.sortBy(_._1)
          .collect { case (k, v) if StateSignals.exists(k.contains) => s" $k=$v" }
          .mkString).getOrElse("")
        lines.add(s"STATE $tag op=$i name=${so.operatorName} " +
          s"rowsTotal=${so.numRowsTotal} rowsUpdated=${so.numRowsUpdated} " +
          s"memUsedBytes=${so.memoryUsedBytes} commitMs=${so.commitTimeMs}$custom")
      })
    }
  }

  /** Times `name` on `dir`: one warm pass, then `reps` timed ones. The
    * session is left as found: no listener, drain observer, stream or
    * memory-sink view of the run remains. */
  def run(spark: SparkSession, name: String, dir: String, reps: Int): Report = {
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val fn = graft.SparkEntry.queries(name)
    val rec = new Recorder(name)
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val prevObserver = Stream.drainObserver.getAndSet(rec.drained)
    try {
      def pass(tag: String): (Long, Long, Double) = {
        rec.pass = tag
        val wrote0 = rec.shuffleWrite.get
        val wchar0 = jvmWrittenBytes()
        val t0 = System.nanoTime()
        sc.setJobDescription(s"$name $tag eager")
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        sc.setJobDescription(s"$name $tag consume")
        val (hash, rows) = Bench.consumeAll(df)
        val t2 = System.nanoTime()
        rec.caughtUp(sc)
        rec.exchanges()
        val wrote = rec.shuffleWrite.get - wrote0
        val wchar = if (wchar0 < 0) -1L else jvmWrittenBytes() - wchar0
        if (wrote / 1e9 * 20 >= DiskPreflight.freeGb) { System.gc(); Thread.sleep(3000) }
        rec.lines.add(f"PASS $name $tag eager=${(t1 - t0) / 1e9}%.3f " +
          f"consume=${(t2 - t1) / 1e9}%.3f shuffleWriteBytes=$wrote " +
          f"wcharBytes=$wchar freeGB=${DiskPreflight.freeGb}%.1f")
        (hash, rows, (t2 - t0) / 1e9)
      }
      val (hash, rows, warm) = pass("warm")
      Seq(rec.spillMem, rec.spillDisk, rec.shuffleWrite, rec.shuffleRead).foreach(_.set(0))
      val times = (1 to reps).map(i => pass(s"rep$i")._3)
      Report(name, rows, hash, warm, times, rec.spillMem.get, rec.spillDisk.get,
        rec.shuffleWrite.get, rec.shuffleRead.get, rec.lines.asScala.toSeq)
    } finally {
      sc.setJobDescription(null)
      Stream.drainObserver.set(prevObserver)
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      stopStreams(spark)
    }
  }

  /** Every shuffle stage in an executed plan: through AQE plans, query
    * stages, subqueries and the plans of the caches it reads. */
  def shuffleStages(p: SparkPlan): Seq[ShuffleQueryStageExec] = p match {
    case a: AdaptiveSparkPlanExec => shuffleStages(a.executedPlan)
    case st: ShuffleQueryStageExec => st +: shuffleStages(st.plan)
    case st: QueryStageExec => shuffleStages(st.plan)
    case i: InMemoryTableScanExec => shuffleStages(i.relation.cachedPlan)
    case _ => (p.children ++ p.subqueries).flatMap(shuffleStages)
  }

  /** Bytes this JVM has passed to `write` and its kin so far (the
    * `wchar` of `/proc/self/io`: files, pipes and sockets alike, page
    * cache or not); -1 where the kernel does not report it. Two reads
    * bracket a pass: its shuffle, spill, state-store and zone writes. */
  def jvmWrittenBytes(): Long = scala.util.Try {
    val io = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/io")), "UTF-8")
    "(?m)^wchar: (\\d+)$".r.findFirstMatchIn(io).get.group(1).toLong
  }.getOrElse(-1L)

  private def stopStreams(spark: SparkSession): Unit =
    spark.streams.active.foreach { q =>
      scala.util.Try(q.stop()); scala.util.Try(q.awaitTermination(30000))
    }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.tools.Entry <name> <dir> [--reps n] [--explain] [--out file]"
    require(args.length >= 2, usage)
    val (name, dir) = (args(0), args(1))
    def opts(rest: List[String], reps: Int, explain: Boolean, out: Option[String])
        : (Int, Boolean, Option[String]) = rest match {
      case Nil => (reps, explain, out)
      case "--reps" :: n :: t => opts(t, n.toInt, explain, out)
      case "--explain" :: t => opts(t, reps, true, out)
      case "--out" :: f :: t => opts(t, reps, explain, Some(f))
      case other => throw new IllegalArgumentException(s"${other.head}: $usage")
    }
    val (reps, explain, out) = opts(args.drop(2).toList, 1, false, None)
    graft.pipeline.Pipeline.sweepOldWorkDirs(0)
    DiskPreflight.run()
    val spark = Bench.session(Bench.Cpus)
    try {
      if (explain)
        println(graft.SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode))
      else {
        StarveGuard.check(spark, name, dir)
        val r = run(spark, name, dir, reps)
        out.foreach(f => java.nio.file.Files.write(
          java.nio.file.Paths.get(f), (r.timed + "\n").getBytes("UTF-8")))
        r.lines.foreach(println)
      }
    } finally {
      stopStreams(spark)
      scala.util.Try(spark.stop())
    }
  }
}
