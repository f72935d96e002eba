package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Timing contract (round 14): every entry is timed by consuming its
  * FULL output ([[consumeAll]] — `max(xxhash64(all columns))` +
  * count in one pass), never by `.count()`. Rationale and the two
  * entry classes the old contract silently floored are documented on
  * [[consumeAll]]; the conf fingerprint carries `"consume":"full"` so
  * pre-/post-r14 artifacts can't be compared without noticing.
  *
  * Measurement protocol (round-2 verdict: single-shot timings inside one
  * 82-query JVM run can't separate JIT/GC/run-order noise from real
  * regressions): each entry runs once UNMEASURED (plan compilation,
  * codegen, classloading), then `SPARK_GRAFT_BENCH_REPS` (default 3)
  * timed runs; the reported time is the MEDIAN and a per-entry stddev
  * ships alongside so a future "did it get faster" reads as signal.
  *
  * Noise damping (round-8 verdict: p3's stddev exceeded its median —
  * one GC/fs-flush outlier dominates a 3-rep sample for write-heavy
  * entries): when the initial sample's stddev exceeds half its median,
  * the entry is re-measured with 2×reps extra runs, and when ≥5 samples
  * exist the reported stddev is computed over the min/max-trimmed
  * sample (the median, which is what "value" reports, is already
  * robust; the trimmed stddev describes the spread of the runs the
  * median actually represents). The full untrimmed sample size ships as
  * per-entry "n" in the detail file so nothing is hidden.
  *
  * Fresh-JVM re-measure (round-9 verdict finding 1: the stddev trigger
  * cannot catch CONSISTENT contamination — st20 reported 13.24 s
  * in-suite with a calm 2.2 s stddev while a fresh JVM measured
  * 1.97 s, a 6.7× overstatement from 200 entries of accumulated
  * shuffle files / page-cache / state-store maintenance threads): after
  * the in-suite pass, selected entries are re-timed in a FRESH JVM each
  * (this JVM's own flags + classpath, running graft.tools.Entry with
  * the mirrored session conf). Selection is by PROPERTY, not rank
  * (round-10 used top-10 by median; entries ranked 11+ in the
  * streaming family still shipped 1.9–2.5× overstated, and a rank
  * boundary crossing fakes a ~2× round-over-round delta): every entry
  * ≥ SPARK_GRAFT_BENCH_FRESH_FLOOR seconds in-suite (default 1.0)
  * plus every streaming/pipeline entry. The fresh median becomes the
  * reported value for those entries — it is the number a user actually
  * sees — with the fresh spread as its stddev/n; the in-suite median
  * ships alongside in "insuite" so the contamination factor is itself
  * part of the record, and failed/timed-out fresh runs are named in
  * "fresh_failed" rather than silently shipping in-suite values under
  * the fresh contract. The emitted line also carries a "conf"
  * fingerprint (cpus / shuffle width / AQE initialPartitionNum / fresh
  * policy) so a cross-round total comparison can detect a conf change
  * instead of misreading it as a code regression (exactly what r8→r9
  * suffered), and partial runs (SPARK_GRAFT_BENCH_ONLY) self-identify
  * via "only".
  *
  * Memo cold/warm split (round-12 advice): the dedup family shares
  * session memos keyed on the documents file — the signature table,
  * the LSH pair list, the pair-overlap table and the cluster map
  * (graft.io.SessionMemo; a rewrite is detected by the file
  * fingerprint; no call needed). A
  * FRESH-JVM median therefore includes exactly one cold memo build in
  * its first rep (later reps are steady-state warm); IN-SUITE numbers
  * are order-coupled — whichever consumer (d3-family, d6, d8, d14,
  * d19, t20) runs first in the suite pays the materialization and the
  * rest read it warm. Cross-round per-entry comparisons of memo
  * consumers must compare fresh-to-fresh (same cold-build placement)
  * or same-suite-order in-suite numbers; SCALING.md's measurement
  * protocol section records the same rule.
  */
object Bench {
  /** Measured per-entry A/A fresh-JVM noise bound at sf0.1 (seconds):
    * the largest |A−B| median delta across two back-to-back FULL bench
    * runs of the whole fresh population on UNCHANGED code (r16
    * optimization round, commit 655d326 A/A pair: totals 142.11 vs
    * 147.86 s, max per-entry |Δ| 1.66 s — t14_tfidf 0.88→2.55 and
    * t17 2.37→3.66, both untouched between the runs and both stable in
    * standalone 5–7-rep fresh-JVM series, i.e. the swing is suite-state /
    * page-cache noise, not plan variance). r17 (ADVICE): the bound is
    * the observed max × a 1.25 safety multiplier (1.66 × 1.25 ≈ 2.1) —
    * an n=2 A/A sample's max is a biased-low estimate of the true
    * per-entry swing (the r16 value 1.7 left ~2% headroom and the two
    * named swingers had already shown 1.3–1.7 s), so a third same-code
    * run plausibly exceeded it and would have flagged a phantom
    * regression. Ships as "noise_bound" in the bench artifact — the
    * mechanical discount for round-over-round per-entry deltas.
    * Re-measure (and update) whenever the fresh manifest or the box
    * changes; SPARK_GRAFT_BENCH_NOISE_BOUND overrides without a
    * rebuild. */
  private[graft] val NoiseBoundSec: Double = 2.1

  /** Local-mode cores for every measurement and dump main:
    * SPARK_GRAFT_CPUS, else this machine's processor count. */
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The fresh child's `TIMED` record ([[graft.tools.Entry]] prints it
    * and writes it to `--out`) and its parse, kept side by side: the
    * per-rep seconds in brackets are the sample Bench ships. */
  private[graft] def timedLine(name: String, rows: Long, times: Seq[Double]): String =
    f"TIMED $name rows=$rows median=${times.sorted.apply(times.size / 2)}%.6f s " +
      s"over ${times.size} reps " + times.map(t => f"$t%.3f").mkString("[", ",", "]")

  private val TimedRe =
    """TIMED \S+ rows=\d+ median=([0-9.]+) s over \d+ reps \[([0-9.,]+)\]""".r

  private[graft] def parseTimed(text: String): Option[Seq[Double]] =
    TimedRe.findFirstMatchIn(text).map(_.group(2).split(",").map(_.toDouble).toSeq)

  /** Full-output consumption — ONE timing contract for every entry
    * (round-13 verdict finding 1): `.count()` lets Catalyst prune any
    * projection the count doesn't need, so two whole entry classes
    * timed as the scan floor — map-only entries (t3/t4/s5/t17/m2/m7…)
    * whose entire cost IS the pruned projection, and entries ending in
    * a left-join-back whose plan collapses to count(base). t17 shipped
    * as "0.33 s" in BENCH_r13 while its honest cost was 32.8 s at
    * sf10; every artifact consumer (the driver's bench gate,
    * scaling_report) silently under-counted those entries. This fold
    * consumes EVERY output column through `max(xxhash64(cols…))` —
    * the projection, the join, and the output-sized work all actually
    * run; the added per-row hash + 1-row aggregate is a measurement
    * constant shared by all entries and both sides of any A/B. Columns
    * xxhash64 can't take (MapType, nested or not — none exist in the
    * current surface; defensive) go through to_json first. Returns
    * (output hash, row count) from the same single pass so Entry can
    * report rows without a second, differently-planned job.
    *
    * Known, deliberate contract edge: a TRAILING sort is not billed.
    * Folding the output under max()+count() makes the final orderBy
    * order-irrelevant, so Catalyst's EliminateSorts removes it and the
    * closing range-exchange+sort goes untimed — same as under the old
    * `.count()`. That sort is oracle-presentation ordering (the
    * driver's compare sorts rows anyway), not analytic work, so it is
    * OUT of the timing contract on purpose; forcing it (row_number
    * over the sorted output) would bill a presentation constant to
    * every orderBy-terminated entry and re-baseline the artifact a
    * second time for no plan signal. Every NON-trailing sort (window
    * functions, sort-merge joins, sort-based d3 buckets) is below an
    * operator that needs it and is fully billed. */
  def consumeAll(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.types._
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType => hashable(a.elementType)
      case _ => true
    }
    // Positional rename before resolving: `df(name)` throws on
    // duplicate output names and misparses dotted names as
    // struct-field paths (r14 advice). toDF aliases by POSITION, so
    // any schema — dup names, dots, backticks — resolves; values (and
    // therefore the hash) are unchanged, names don't enter xxhash64.
    val flat = df.toDF(df.columns.indices.map(i => s"_c$i").toIndexedSeq: _*)
    val cols: Seq[Column] = flat.schema.fields.toSeq.map { f =>
      if (hashable(f.dataType)) flat(f.name) else to_json(flat(f.name))
    }
    val r = flat.agg(
      coalesce(max(xxhash64(cols: _*)), lit(0L)).as("h"),
      count(lit(1)).as("n")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The measurement session conf on `cpus` cores — ONE definition
    * shared by Bench (in-suite), `graft.tools.Entry` (fresh-JVM
    * re-measure), `Verify` and perfbench, so their numbers can differ
    * only by suite state, never by conf drift.
    *
    * Scale-proof shuffle sizing (round-9 sf1→sf10 finding): a fixed
    * partition count means 10× data = 10× payload per sort/join task
    * → spill → super-linear wall time (t15 exp 1.73, d5 1.42 at the
    * pinned 32). Each exchange's map side is sized from the bytes that
    * enter it, under a ceiling, and AQE coalesces the reduce side: big
    * shuffles keep ~advisory-sized partitions at any SF, small ones
    * write and read a handful. This is the production conf, not a
    * bench trick.
    *
    * periodicGC: shuffle files are reference-tracked and only deleted
    * when a GC runs (ContextCleaner): a 202-entry suite in ONE JVM
    * accumulates them, and at 10× data the later entries measurably
    * degrade from page-cache/disk pressure that isn't theirs (q31
    * 4.4 s fresh vs 33 s late-suite at sf10). Harness hygiene so
    * per-entry numbers stay per-entry. */
  def sessionConf(cpus: String): Map[String, String] = graft.io.LocalFs.conf ++ Map(
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.shuffle.partitions" -> cpus,
    // initialPartitionNum is AQE's width CEILING: EnsureRequirements
    // plans every exchange at it, and coalescing only merges reduce
    // partitions downward from it; nothing splits a too-large
    // partition in a plain (non-skew-join) shuffle. The map side is
    // sized below it from the bytes that enter each exchange
    // (graft.plans.ExchangeSizing, installed by the extension), so a
    // KB shuffle writes `cpus` partitions, not the ceiling. The
    // round-9 value of 256 carried two decades but capped the THIRD
    // (sf100, measured round 10): t15's ~2 B-row token shuffle hit
    // 256 spill-sized sort partitions and went exp 1.21 (230 s); at
    // 1024 the same entry is 66 s (exp 0.67). 1024 ≈ two decades of
    // headroom above the largest measured shuffle.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      math.max(1024, cpus.toInt * 8).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // r16 optimization (guide §2.2 fewer-larger partitions): by
    // default AQE may NOT change the output partitioning of a plan
    // that feeds a .persist() (canChangeCachedPlanOutputPartitioning
    // = false), so every cached table materialized at the FULL
    // initialPartitionNum — the dedup memos (LSH pairs, cluster map)
    // were 1024-partition RDDs of KB-sized blocks, and every
    // consumer (d3/d6/d8/d14/d16/d19/t20/p2…) ran 1024-task stages
    // over them: measured 0.5–0.7 s of pure scheduling per stage at
    // sf0.1 (d19: 10 such stages). With coalescing allowed the cache
    // materializes at AQE's advisory-sized width — partition count
    // follows DATA SIZE at every SF, which is exactly the sizing
    // rule the rest of the conf already encodes. Trade-off
    // (documented on the conf): a consumer can no longer reuse the
    // cached plan's exchange partitioning — irrelevant here, every
    // consumer re-aggregates by a different key than the cache's
    // output order.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.cleaner.periodicGC.interval" -> "2min",
    "spark.ui.enabled" -> "false")

  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(sessionConf(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // Optional comma-separated name-prefix filter (scale-stress runs
    // measure one family at a time without paying for the whole suite).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

    // Pre-sweep ALL graft work dirs before any timing: stale zone
    // debris from earlier processes must not age past the production
    // sweep's 1h cutoff mid-suite and bill its deletion to a timed
    // entry (see Pipeline.sweepOldWorkDirs — the r13 p6 anomaly).
    graft.pipeline.Pipeline.sweepOldWorkDirs(0)
    // Disk-headroom preflight (r14 task 4): record free disk in the
    // log and, when SPARK_GRAFT_EXPECT_SHUFFLE_GB projects a shuffle,
    // refuse a run that would ENOSPC. MUST run BEFORE session(): the
    // debris sweep deletes tmp's blockmgr dirs when no other java is
    // alive, and with the session already up that included our OWN
    // store (r15: standalone bench died on its first broadcast with
    // NoSuchFileException under blockmgr-…; sbt runs masked it because
    // sbt itself trips the live-JVM guard). DiskPreflight's
    // MinDebrisAgeMs guard now also makes that ordering mistake
    // non-fatal — both the order here and the age floor are the fix.
    graft.tools.DiskPreflight.run()
    val spark = session(Cpus)

    // Session warmup: touch the scheduler, parquet reader, and codegen
    // paths once. Non-fatal: a bad sfDir must still produce the JSON
    // line (with per-query -1 markers), not a silent crash before it.
    spark.range(1000).selectExpr("sum(id)").collect()
    scala.util.Try(spark.read.parquet(s"$sfDir/region.parquet").count())

    def fmt(d: Double): String = if (d < 0) "-1" else f"$d%.6f"

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        consumeAll(fn(spark, sfDir)) // full-output contract, see consumeAll
        (System.nanoTime() - t0) / 1e9
      }
      def stats(ts: Seq[Double]): (Double, Double) = {
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2)
        // ≥5 samples: trim the single min and max before the spread —
        // a lone GC pause / fs flush shouldn't read as entry variance
        val body = if (sorted.size >= 5) sorted.drop(1).dropRight(1) else sorted
        val mean = body.sum / body.size
        (median, math.sqrt(body.map(t => (t - mean) * (t - mean)).sum / body.size))
      }
      // failed queries report -1 so a breakage can never read as a speedup
      val times: Seq[Double] =
        try {
          once()
          val first = Seq.fill(reps)(once())
          val (m, s) = stats(first)
          // noisy sample (spread > half the median) → re-measure deeper
          if (s > 0.5 * m && m > 0.02) first ++ Seq.fill(2 * reps)(once())
          else first
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Nil
        }
      if (times.isEmpty) (name, -1.0, -1.0, 0)
      else {
        // release this entry's shuffle files before the next one is
        // timed (same rationale as periodicGC.interval above, but
        // deterministic: the cleanup lands between entries, not inside
        // a timed rep)
        System.gc()
        val (m, s) = stats(times); (name, m, s, times.size)
      }
    }
    // --- Fresh-JVM re-measure ---------------------------------------
    // Round-10 used a rank cutoff (top-10 by in-suite median). Two
    // measured problems (round-10 verdict finding 2 + ADVICE): entries
    // ranked 11+ in the streaming/pipeline families still shipped with
    // 1.9–2.5× in-suite overstatement, and a rank cutoff gives an entry
    // crossing the top-K boundary between rounds a spurious ~2× delta
    // that reads as a code change. Round-11 policy — selection is by
    // PROPERTY, not rank, so per-entry provenance is stable
    // round-over-round:
    //   (a) every entry whose in-suite median ≥ freshFloor (default
    //       1.0 s — above it, contamination is material in absolute
    //       terms), plus
    //   (b) every streaming/pipeline entry (st*/p*) regardless of
    //       time — the family whose state-store maintenance threads /
    //       checkpoint dirs both CAUSE and SUFFER suite contamination.
    // Fresh medians REPLACE the in-suite values in "queries"/total
    // (with the fresh spread replacing "stddev"/"n" — ADVICE: a fresh
    // value paired with an in-suite spread is an inconsistent pair);
    // the in-suite numbers move to "insuite" so the per-entry
    // contamination ratio stays part of the record, and entries whose
    // fresh run failed/timed out are listed in "fresh_failed" (they
    // ship the in-suite number — absence from "insuite" must stay
    // distinguishable from a failed correction).
    // SPARK_GRAFT_BENCH_FRESH=0 disables entirely (scale-stress runs
    // that only want in-suite relatives).
    val freshOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_FRESH", "1") != "0"
    val freshFloor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FRESH_FLOOR", "1.0").toDouble
    val FreshFamilies = Seq("st", "p")
    // Frozen fresh MANIFEST (round-16, replacing the r11 time-floor
    // trigger + r13 keep-list): selection by an in-suite TIME threshold
    // made the fresh population itself a function of run-to-run timing —
    // r15 measured n_fresh 43 vs 50 between same-code runs as borderline
    // entries crossed 1.0 s, so the headline total summed DIFFERENT
    // populations (each fresh entry carries a ~1 s JVM floor) and
    // round-over-round totals were incomparable. The fresh set is now an
    // explicit entry list: the st/p families (deterministic by name) plus
    // this manifest — the union of every entry the floor ever selected
    // through r15 (subsumes the old keep-list). n_fresh is constant
    // across runs and rounds by construction. freshFloor survives only
    // as a DRIFT DETECTOR: an unselected entry whose in-suite median
    // crosses it is named in "fresh_manifest_drift" (and on stderr) so
    // the manifest gets extended deliberately, never silently.
    val FreshManifest: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_FRESH_MANIFEST")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set(
        "d11b_simhash_neardup64", "d11c_simhash_wideband",
        "d12_minhash_calibration", "d13_incremental_dedup",
        "d14_dedup_verdict", "d15_semantic_dedup", "d16_containment",
        "d17_source_overlap", "d19_cluster_split", "d2_minhash_sig",
        "d3_lsh_pairs", "d4_ngram_jaccard", "d8_lsh_jaccard",
        "mt13_wap", "mt7_partition_overwrite", "mt9_compact_small_files",
        "q18_percentile", "q23_approx_sketches", "q9_limit_scan",
        "s11_hamming_rerank", "s13_trained_recall",
        // r16: the drift detector named t14 (in-suite 0.60/0.88/1.0+ s
        // across three same-code runs — a borderline floor-flapper);
        // extended by commit per the manifest contract, n_fresh 50→51.
        "t14_tfidf",
        "t17_boilerplate", "x12_dpp"))
    def inFreshFamily(name: String): Boolean =
      FreshFamilies.exists(f => name.startsWith(f) &&
        name.length > f.length && name.charAt(f.length).isDigit)
    val freshTargets =
      if (!freshOn) Seq.empty
      else results.filter(_._2 > 0)
        .filter { case (name, _, _, _) =>
          inFreshFamily(name) || FreshManifest(name) }
        .sortBy(-_._2).map(_._1)
    // Drift detector: a non-manifest entry whose in-suite median crossed
    // the old floor would have been fresh under the r11 policy — name it
    // loudly so the manifest is extended by a COMMIT, not by timing.
    val manifestDrift = results
      .filter { case (name, med, _, _) =>
        med >= freshFloor && !inFreshFamily(name) && !FreshManifest(name) }
      .map(_._1).sorted
    manifestDrift.foreach(n => System.err.println(
      s"[bench] manifest drift: $n in-suite >= ${freshFloor}s but not in " +
        "the fresh manifest — extend FreshManifest (its number ships in-suite this run)"))
    /** One fresh JVM: returns the raw per-rep sample. Timeout scales
      * with the entry's own in-suite cost (ADVICE: a flat 10 min hits
      * exactly the expensive entries that need correction most at big
      * SFs): startup allowance + 10× the expected timed work. */
    def freshMeasure(name: String, insuiteMed: Double,
        childReps: Int): Option[Seq[Double]] = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val timeoutSec =
        math.max(600L, math.ceil((childReps + 1) * insuiteMed * 10).toLong + 180L)
      // stdout → temp file (not a pipe): the parent never blocks on a
      // stream read, so the waitFor timeout below is always reachable
      var outFile: java.nio.file.Path = null
      // TIMED record → its OWN file (r13 ADVICE): with stderr merged
      // into stdout, buffer-granularity interleaving can in principle
      // split the TIMED line mid-token and the stdout regex misses —
      // the fallback is loud but the fresh sample is lost. The child
      // writes the record to this file exclusively; stdout stays merged
      // for the failure-diagnosis tail and as a parse fallback.
      var timedFile: java.nio.file.Path = null
      try {
        outFile = java.nio.file.Files.createTempFile("graft_fresh_", ".out")
        timedFile = java.nio.file.Files.createTempFile("graft_fresh_", ".timed")
        val cmd = new java.util.ArrayList[String]()
        cmd.add(javaBin)
        jvmArgs.forEach(a => cmd.add(a))
        cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
        Seq("graft.tools.Entry", name, sfDir, "--reps", childReps.toString,
          "--out", timedFile.toString).foreach(cmd.add)
        val pb = new ProcessBuilder(cmd)
        // stderr merges into the same file: on a failed child the tail
        // (the actual exception) is printed below instead of being
        // silently discarded — a fresh phase that fails without its
        // stack trace is undiagnosable after the fact (r13 lesson; the
        // TIMED regex is unaffected by interleaved log noise)
        pb.redirectErrorStream(true)
        pb.redirectOutput(outFile.toFile)
        val p = pb.start()
        val ok = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
        if (!ok) {
          p.destroyForcibly()
          // loud: a silent None here would ship the contaminated
          // in-suite number while claiming the fresh-value contract
          System.err.println(s"[bench] fresh re-measure of $name TIMED OUT " +
            s"(${timeoutSec}s) — reporting the in-suite median for this entry")
          return None
        }
        val timed = new String(java.nio.file.Files.readAllBytes(timedFile), "UTF-8")
        val out = new String(java.nio.file.Files.readAllBytes(outFile), "UTF-8")
        // dedicated file first (log noise can't touch it), stdout as
        // the fallback so a child that died before the file write but
        // after the println still yields its sample
        val m = parseTimed(timed).orElse(parseTimed(out))
          .filter(_ => p.exitValue() == 0)
        if (m.isEmpty) {
          System.err.println(s"[bench] fresh re-measure of $name produced no " +
            s"TIMED line (exit ${p.exitValue()}) — reporting the in-suite median")
          out.linesIterator.toSeq.takeRight(15).foreach(l =>
            System.err.println(s"[bench]   child| ${l.take(300)}"))
        }
        m
      } catch { case e: Exception =>
        System.err.println(s"[bench] fresh re-measure of $name failed: ${e.getMessage}")
        None
      } finally {
        if (outFile != null) java.nio.file.Files.deleteIfExists(outFile)
        if (timedFile != null) java.nio.file.Files.deleteIfExists(timedFile)
      }
    }
    val insuiteMedians = results.map(r => r._1 -> r._2).toMap
    // Conf fingerprint values are read from the LIVE session and
    // captured HERE, because the session is stopped before the fresh
    // phase (below) — the fingerprint must still reflect what the
    // in-suite pass actually ran with.
    val confShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val confAqeInit =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val confAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // r17 measurement-hygiene fix (guide §1 "measure the computation,
    // not the environment"): QUIESCE AND STOP the parent's own session
    // before any fresh child is spawned. The fresh phase exists to
    // remove suite-state contamination — but the parent JVM kept its
    // whole suite-state ALIVE next to every child (32 scheduler/executor
    // threads, state-store maintenance pools, RocksDB natives, Derby,
    // periodic GC; observed ~1.3 cores busy while "idle"). On a calm box
    // that coexistence is invisible; on a contended one it AMPLIFIES:
    // the r17 baseline pair measured d19_cluster_split at 6.34 s fresh
    // with the parent alive during a contended window vs 0.68 s
    // standalone minutes later on the same binaries. The children carry
    // every measurement themselves (Entry builds its own session from
    // the same Bench.session definition), so the parent has nothing
    // left to compute — only to wait, read the TIMED files, and emit
    // JSON, none of which needs the SparkSession.
    if (freshOn && freshTargets.nonEmpty) {
      spark.streams.active.foreach { q =>
        scala.util.Try(q.stop())
        scala.util.Try(q.awaitTermination(30000))
      }
      scala.util.Try(spark.stop())
    }
    // Same stats rule as the in-suite loop: median of the sample, and
    // with ≥5 samples the min/max-trimmed spread (one GC pause / fs
    // flush shouldn't read as entry variance).
    def freshStats(ts: Seq[Double]): (Double, Double) = {
      val sorted = ts.sorted
      val median = sorted(sorted.size / 2)
      val body = if (sorted.size >= 5) sorted.drop(1).dropRight(1) else sorted
      val mean = body.sum / body.size
      (median, math.sqrt(body.map(t => (t - mean) * (t - mean)).sum / body.size))
    }
    val freshAttempted = scala.collection.mutable.LinkedHashSet[String]()
    val fresh: Map[String, (Double, Double, Int)] = freshTargets.flatMap { name =>
      freshAttempted += name
      val first = freshMeasure(name, insuiteMedians(name), reps)
      // Fresh-phase noise damping (r17): the in-suite loop has had the
      // r8 rule — spread > half the median ⇒ deepen the sample with
      // 2×reps more runs — for nine rounds, but the FRESH population
      // (which carries ~70% of the headline total) had no equivalent:
      // one contention window spanning a child's three reps shipped as
      // that entry's round value (r17 A/A pair on unchanged code:
      // d11c 1.00 vs 6.11 s, st3 1.50 vs 5.51 — external hypervisor
      // windows, both stable standalone). Same trigger, same remedy,
      // now per fresh entry: a SECOND child with 2×reps, median over
      // the COMBINED sample (never min-of-runs — a symmetric rule, not
      // downward selection; contention can only add time but the
      // median over 3+6 reps is exactly the in-suite estimator).
      // trigger factor env-overridable (0 = always deepen — the smoke
      // test for the deepening path; same knob style as freshFloor)
      val deepenFactor = sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_FRESH_DEEPEN", "0.5").toDouble
      val sample = first.map { ts =>
        val (m0, s0) = freshStats(ts)
        if (s0 > deepenFactor * m0 && m0 > 0.02) {
          System.err.println(f"[bench] fresh $name noisy (median=$m0%.3f " +
            f"sd=$s0%.3f) — deepening with a 2×reps child")
          ts ++ freshMeasure(name, insuiteMedians(name), 2 * reps)
            .getOrElse(Seq.empty)
        } else ts
      }
      val m = sample.map { ts =>
        val (v, sd) = freshStats(ts); (v, sd, ts.size)
      }
      m.foreach { case (v, _, n) =>
        System.err.println(f"[bench] fresh $name: $v%.3f s (n=$n)") }
      m.map(name -> _)
    }.toMap
    val freshFailed = freshAttempted.toSeq.filterNot(fresh.contains)
    val reported = results.map { case (k, v, s, n) =>
      fresh.get(k) match {
        case Some((fv, fs, fn)) => (k, fv, fs, fn)
        case None => (k, v, s, n)
      }
    }

    val qs = reported.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sd = reported.map { case (k, _, s, _) => "\"" + k + "\":" + fmt(s) }
      .mkString("{", ",", "}")
    val ns = reported.map { case (k, _, _, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val insuite = results.collect { case (k, v, _, _) if fresh.contains(k) =>
      "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = reported.map(_._2).filter(_ >= 0).sum
    // Provenance split (r14 verdict finding 3): the headline total sums
    // two measurement populations — in-suite reps and fresh-JVM reps —
    // and a consumer comparing totals across rounds needs to see each
    // population's share, not one opaque sum. (Per-rep WORK is identical
    // in both: Entry warms the session and times consumeAll reps
    // exactly like the in-suite loop, so JVM/session startup is in
    // neither median — the populations differ by suite-state
    // contamination, which is the thing the fresh phase removes.)
    val totalFresh = reported
      .collect { case (k, v, _, _) if fresh.contains(k) && v >= 0 => v }.sum
    val totalInsuite = total - totalFresh
    // fingerprint values were captured from the LIVE session just
    // before it was stopped for the fresh phase (see above) — still the
    // one conf definition, never re-derived constants
    // Manifest fingerprint: count + a stable content hash, NOT the name
    // list — the conf block also ships in the compact line, whose whole
    // point is fitting the driver's ~2 KB stdout tail. The full name
    // list lives in "fresh_manifest" on the detail line only.
    val manifestFp = {
      val joined = FreshManifest.toSeq.sorted.mkString(",")
      f"n=${FreshManifest.size};h=${joined.hashCode & 0xffffffffL}%08x"
    }
    val confFp = s"""{"cpus":$Cpus,""" +
      s""""shufflePartitions":$confShufflePartitions,""" +
      s""""aqeInitialPartitionNum":$confAqeInit,""" +
      // the ceiling now bounds a map side sized from its input bytes
      // (graft.plans.ExchangeSizing); r16/r17 artifacts, which lack the
      // field, ran every exchange at the ceiling
      s""""exchangeSizing":"inputBytes*${graft.plans.ExchangeSizing.Growth}",""" +
      s""""aqe":$confAqe,""" +
      s""""freshEnabled":$freshOn,"freshFloor":$freshFloor,""" +
      s""""freshFamilies":"${FreshFamilies.mkString(",")}",""" +
      s""""freshManifest":"$manifestFp",""" +
      // the r14 measurement-contract change: every entry's timing now
      // consumes its FULL output (consumeAll) instead of .count() —
      // totals are not comparable to pre-r14 artifacts, and this field
      // is how a consumer detects that protocol boundary
      s""""consume":"full"}"""
    val onlyField = only.map(o => s""","only":"${o.mkString(",")}"""").getOrElse("")
    val failedField = "\"fresh_failed\":" +
      freshFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Measured per-entry A/A noise bound for the fresh population
    // (round-16 task 6): the largest |A−B| fresh-JVM median delta
    // observed on UNCHANGED code at sf0.1 (tools/r16_aa.sh → SCALING.md
    // NOISE table). A per-entry round-over-round delta inside this
    // bound is run noise, not a regression — the field ships in the
    // artifact so the driver's 2× gate (and the judge) can discount it
    // mechanically instead of re-running ad-hoc A/As each round.
    val noiseBound = sys.env.getOrElse("SPARK_GRAFT_BENCH_NOISE_BOUND",
      NoiseBoundSec.toString).toDouble
    val provenanceFields = s""""total_insuite":${fmt(totalInsuite)},""" +
      s""""total_fresh":${fmt(totalFresh)},"n_fresh":${fresh.size},""" +
      s""""noise_bound":$noiseBound"""
    val manifestFields = "\"fresh_manifest\":" +
      FreshManifest.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]") +
      ",\"fresh_manifest_drift\":" +
      manifestDrift.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$provenanceFields,"queries":$qs,"stddev":$sd,"n":$ns,"insuite":$insuite,$failedField,$manifestFields,"conf":$confFp$onlyField,"reps":$reps,"sf":"$sfDir"}"""
    // The driver parses the stdout TAIL. A streaming state-store
    // maintenance thread racing spark.stop() can dump a benign
    // RpcEnvStoppedException stack AFTER our line and flood it out
    // (this destroyed BENCH_r03). Two defenses: (1) persist the line
    // to a file the driver/judge can always read; (2) stop and await
    // every still-active streaming query BEFORE spark.stop() so the
    // maintenance pool is quiesced and the stack never prints.
    val out = java.nio.file.Paths.get("target", "bench_result.json")
    java.nio.file.Files.createDirectories(out.getParent)
    // Defense (1) write happens NOW, before any shutdown step: if
    // spark.stop() hangs or dies fatally, the full result line already
    // survives on disk (it is re-written with the compact twin below).
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    // Already stopped before the fresh phase when fresh ran; this is
    // the no-fresh path's shutdown (stop() is idempotent, and the
    // streams accessor is guarded — it throws on a stopped session).
    scala.util.Try {
      spark.streams.active.foreach { q =>
        scala.util.Try(q.stop())
        scala.util.Try(q.awaitTermination(30000))
      }
    }
    scala.util.Try(spark.stop())
    // Print LAST, after shutdown: any stack emitted during stop() now
    // lands before this line in the tail instead of after it.
    //
    // The driver keeps only a ~2 KB stdout tail; the full line (131
    // per-query timings, ~7 KB) front-truncates mid-object there
    // (BENCH_r04 "parsed": null). So the TRUE last line is a compact
    // variant: total + the headline q1..q17 timings BASELINE.md tracks
    // (~600 B). Full per-query detail lives in the line above and in
    // target/bench_result.json.
    val headline = reported.collect {
      case (k, v, _, _) if k.matches("q([1-9]|1[0-7])_.*") => "\"" + k + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",$provenanceFields,"queries":$headline,"conf":$confFp$onlyField,"reps":$reps,"sf":"$sfDir","detail":"target/bench_result.json"}"""
    // Persist BOTH lines in one write so the file twin can never drift
    // from stdout (full line first, compact last — same order as below).
    java.nio.file.Files.write(out, (line + "\n" + compact + "\n").getBytes("UTF-8"))
    println(line)
    println(compact)
    System.out.flush()
  }
}
