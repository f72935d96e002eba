package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.SparkEntry
import graft.io.Tables

/** One op as the traced run recorded it. */
final case class OpRecord(id: Int, ms: Double, outs: Seq[Out], counters: OpCounters,
    cachedBytes: Long)

/** The benchmark's JVM side. One run = one workload in one fresh JVM:
  * set-up (timed several times), an untimed first pass whose outputs
  * become the references, then closed-loop ops: a fixed number of
  * passes, sized to the given seconds.
  * Arguments are key=value pairs (see run.py); the result is written
  * as JSON to `out`. */
object Main {
  private def now(): Long = System.nanoTime()
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val v = xs.sorted; val n = v.size
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }
  /** Harrell–Davis estimate of the `p` quantile: a beta-weighted mean of
    * every order statistic, so a tail quantile does not hang on one op. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0) else {
      val v = xs.sorted; val n = v.size
      val b = new org.apache.commons.math3.distribution.BetaDistribution(
        p * (n + 1), (1 - p) * (n + 1))
      val cdf = (0 to n).map(i => b.cumulativeProbability(i.toDouble / n))
      v.indices.map(i => v(i) * (cdf(i + 1) - cdf(i))).sum
    }

  /** Issues `ops` from `n` closed-loop client threads (each takes the
    * next op when its last one returns); results in completion order. */
  def concurrently[A](ops: Seq[String], n: Int)(f: String => A): Seq[A] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](ops.asJava)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[A]()
    val threads = (1 to n).map { _ =>
      val th = new Thread(() => {
        var op = queue.poll()
        while (op != null) { out.add(f(op)); op = queue.poll() }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      .map(_.drop(key.length).trim.split("\\s+")(0).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val bootMs = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val name = a("workload")
    val dir = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val smoke = a("smoke") == "1"
    val nproc = a("nproc").toInt
    val rnd = new scala.util.Random(a("seed").toLong)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val tStart = now()
    def phase(p: String): Unit = phases(p) = ms(tStart, now())

    // shuffle debris sweep and disk check, before any session exists
    graft.tools.DiskPreflight.run()
    val wl = Workload(name, dir, work)

    // ---- set-up: session start + warm-up, several times; the last
    // session stays up for the ops
    val cycles = if (smoke) 1 else 3
    val setups = (1 to cycles).map { i =>
      val t0 = now()
      val s = Bench.session(nproc.toString)
      val t1 = now()
      wl.inputs.foreach(tb => Tables.table(s, dir, tb).count())
      val t2 = now()
      if (i < cycles) s.stop()
      (ms(t0, t1), ms(t1, t2))
    }
    val spark = SparkSession.active
    phase("setup")
    val tracer = new Tracer
    val failures = mutable.ArrayBuffer.empty[String]
    val ids = new AtomicInteger(0)
    def fail(m: String): Unit = failures.synchronized(failures += m.take(300))

    // ---- first pass, untimed: its outputs are written for the oracle
    // check and become the references (the medallion's reference is the
    // direct scoring call)
    val clients = if (wl.refreshes) math.min(nproc, wl.pass(rnd).size) else 1
    val t0 = now()
    val firstOps = concurrently(wl.pass(rnd), clients)(op =>
      op -> scala.util.Try(wl.run(spark, op, tracer, ids.incrementAndGet(), first = true)))
      .map { case (op, r) => op -> r.get }
    val firstOpMs = ms(t0, now())
    val refs = wl.reference(spark, firstOps.flatMap(_._2))
    val oracle = wl.oracled.map(e => e -> SparkEntry.oracleSql.getOrElse(e, "")).toMap
    phase("first_pass")

    def check(s: SparkSession, outs: Seq[Out]): Option[String] =
      outs.collectFirst {
        case o if !refs.get(o.entry).contains(o.hash -> o.rows) =>
          s"${o.entry}: digest ${o.hash}/${o.rows} != reference ${refs.get(o.entry)}"
      }.orElse(wl.verify(s, outs))
    firstOps.foreach { case (_, outs) => check(spark, outs).foreach(m => fail(s"first pass $m")) }

    /** Runs and checks one op; Some(wall ms, outputs) unless it failed. */
    def runOp(s: SparkSession, op: String): Option[(Double, Seq[Out])] = {
      val id = ids.incrementAndGet()
      val t0 = now()
      val res = scala.util.Try(tracer.span(id, "op")(wl.run(s, op, tracer, id)))
      val wall = ms(t0, now())
      val err = res.fold(e => Some(s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"),
        outs => check(s, outs))
      err.foreach(fail)
      if (err.isEmpty) res.toOption.map(wall -> _) else None
    }

    // untimed warm-up passes, from as many clients as a refresh uses, so
    // the JIT sees more ops per second of the run
    (2 to wl.warmupPasses).foreach(_ => concurrently(wl.pass(rnd), clients)(runOp(spark, _)))
    phase("warmup")

    // ---- refresh: one pass issued by concurrent closed-loop clients on
    // the shared session, the way a dashboard fires its cards
    def refresh(): Option[Double] = {
      val t0 = now()
      val ok = concurrently(wl.pass(rnd), clients)(op => runOp(spark, op).isDefined)
      if (ok.forall(identity)) Some(ms(t0, now()) / 1000) else None
    }

    /** Closed loop, one client: `n` whole passes. With `alternate`,
      * passes turn tracing off and on in turn, so the overhead compares
      * ops of the same run. Returns the ok ops' untraced and traced
      * latencies and each untraced pass's summed latency. */
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val opMs = mutable.ArrayBuffer.empty[(String, Double)]
    def singleClient(n: Int, alternate: Boolean = false)
        : (Seq[Double], Seq[Double], Seq[Double]) = {
      val lat, tracedLat, passes = mutable.ArrayBuffer.empty[Double]
      for (k <- 0 until n) {
        val on = alternate && k % 2 == 1
        tracer.switch(spark, on)
        var sum = 0.0
        wl.pass(rnd).foreach { op =>
          if (on) tracer.startOp()
          val r = runOp(spark, op)
          r.foreach { case (m, _) => (if (on) tracedLat else lat) += m; sum += m }
          if (!on) opMs += op -> r.fold(-1.0)(_._1)
          if (on) {
            val c = tracer.finishOp(spark)
            val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
            r.foreach { case (m, outs) => records += OpRecord(ids.get, m, outs, c, cached) }
          }
        }
        if (!on) passes += sum
      }
      tracer.switch(spark, false)
      (lat.toSeq, tracedLat.toSeq, passes.toSeq)
    }

    val sourceBytes = wl.inputs.map(t => new java.io.File(s"$dir/$t.parquet").length).sum
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val nPasses = if (smoke) 1 else wl.measuredPasses(seconds)
    if (!traced) {
      // one round is one single-client pass, then (for a workload that
      // refreshes) one refresh, so both metrics sample the whole window
      val lat, passes, refreshes = mutable.ArrayBuffer.empty[Double]
      val w0 = procField("/proc/self/io", "wchar:")
      for (_ <- 1 to nPasses) {
        val (l, _, p) = singleClient(1)
        lat ++= l; passes ++= p
        if (wl.refreshes) refreshes ++= refresh()
      }
      val wrote = procField("/proc/self/io", "wchar:") - w0
      val refreshS =
        if (wl.refreshes) median(refreshes.toSeq) else median(passes.toSeq) / 1000
      metrics("setup_s") = ((bootMs + median(setups.map(x => x._1 + x._2))) / 1000, "s")
      metrics("op_p50_ms") = (median(lat.toSeq), "ms")
      metrics("op_p95_ms") = (quantile(lat.toSeq, 0.95), "ms")
      metrics("refresh_s") = (refreshS, "s")
      metrics("write_amp") =
        (wrote.toDouble / (sourceBytes.toDouble * (passes.size + refreshes.size)), "ratio")
      metrics("peak_rss_mb") = (procField("/proc/self/status", "VmHWM:") / 1024.0, "MB")
    } else {
      val (untracedLat, tracedLat, _) = singleClient(math.max(2, nPasses), alternate = true)
      metrics("session.start_ms") = (median(setups.map(_._1)), "ms")
      metrics("session.warmup_ms") = (median(setups.map(_._2)), "ms")
      metrics("session.cold_start_ms") = (setups.head._1 + setups.head._2, "ms")
      metrics("session.first_op_ms") = (firstOpMs, "ms")
      Layers.fill(metrics, records.toSeq, tracer.allSpans, dir, nproc)
      metrics("trace.overhead_ms") = (median(tracedLat) - median(untracedLat), "ms")
    }

    phase("measured")
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "traced" -> traced, "smoke" -> smoke, "nproc" -> nproc,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "seconds" -> seconds, "setup_cycles_ms" -> setups.map(x => Seq(x._1, x._2)), "jvm_boot_ms" -> bootMs,
      "source_bytes" -> sourceBytes, "first_pass_ms" -> firstOpMs,
      "refresh_clients" -> clients, "phase_end_ms" -> phases,
      "op_ms" -> opMs.map { case (op, m) => Seq(op, math.rint(m * 10) / 10) })
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> ids.get, "failed" -> failures.size,
      "failures" -> failures.take(10).toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> info, "oracle" -> oracle.toMap,
      "digests" -> refs.map { case (e, (h, n)) => e -> Seq(h, n) })
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
    if (traced) {
      val spans = tracer.allSpans.map(sp => Map("op" -> sp.op, "name" -> sp.name,
        "parent" -> sp.parent, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs))
      Files.write(Paths.get(a("out") + ".spans"), Json(spans).getBytes("UTF-8"))
    }
    spark.stop()
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
