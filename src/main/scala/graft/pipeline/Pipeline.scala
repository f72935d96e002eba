package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.io.Tables
import graft.ops.{Cleaning, Snapshot}
import graft.prescriptive.Scoring

/** The medallion composition (SURVEY.md §3.1-3.2): raw → clean →
  * curated → serving, inside ONE SparkSession as lazy plans — the
  * reference's process-per-stage boundaries (`run_pipeline.py:25-91`,
  * Airflow fan-in `dags/hygiene_dag.py:103-110`) become plan
  * composition; zones are parquet/CSV dirs.
  *
  * The raw zone gets TWO timestamped CSV snapshots of the activity log
  * (the reference's `name_YYYYMMDD_HHMMSS.csv` convention) with messy
  * headers; clean picks the LATEST by the name-embedded timestamp
  * (O-13), normalizes (O-14), coerces (O-15/16), drops bad keys (O-20)
  * and snapshots to parquet (O-9). Curated = prescriptive score (O-30)
  * + 1-row audit CSV (O-12). Serving = append history (O-10) +
  * replace snapshot (O-11).
  *
  * Values round-trip the CSV hop exactly (explicit timestampFormat,
  * shortest-round-trip doubles), so the end-to-end result must equal
  * the direct [[Scoring.hygieneScore]] — and shares its oracle.
  */
object Pipeline {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Raw object names carry the reference's `name_YYYYMMDD_HHMMSS`
    * timestamp: a stale partial snapshot, then the latest complete one. */
  private val StaleTs = "20010101_000000"
  private val LatestTs = "20010102_000000"

  /** The sheets payload: lineitem under messy headers, ts serialized
    * explicitly (full control of the format on both sides of the CSV hop). */
  private def messyActivity(li: DataFrame): DataFrame = li.select(
    $"l_orderkey".as("L OrderKey"), $"l_partkey".as(" L PartKey"),
    $"l_quantity".as("L Quantity "), date_format($"l_shipdate", TsFmt).as("L ShipDate"))

  /** The API payload: events with ts serialized explicitly, same policy. */
  private def envPayload(ev: DataFrame): DataFrame =
    ev.select($"event_id", date_format($"ts", TsFmt).as("ts"),
      $"user_id", $"event_type", $"value", $"props")

  /** The one raw-object writer (JSON ignores `header`). Each object is
    * written straight from the source scan, with no exchange. `rows` is
    * the source's row count; with it, each file holds at most
    * ceil(rows / cores) rows, so a single-task scan still lands `cores`
    * files and the clean-side reader parses them on every core. A wide
    * scan's tasks already hold fewer rows than the cap, so there the
    * option changes nothing. Unknown rows: no cap, one file per scan
    * task. */
  private[graft] def writeRawObject(df: DataFrame, format: String, path: String,
      rows: Option[Long] = None): Unit = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val w = df.write.mode(SaveMode.Overwrite).format(format).option("header", "true")
    rows.filter(_ > 0).fold(w)(n => w.option("maxRecordsPerFile", (n + cores - 1) / cores))
      .save(path)
  }

  /** The stale partial snapshot's rows: the scan's first 10. The global
    * limit needs a single partition; `coalesce(1)` gives it one without
    * an exchange, and its one task reads the scan in order and stops
    * after 10 rows. */
  private def first10(src: DataFrame): DataFrame = src.coalesce(1).limit(10)

  /** One source's raw hop: the stale snapshot (taken before the
    * projection), then the latest complete snapshot; returns the
    * latest-picked object. */
  private def rawHop(s: SparkSession, dir: String, table: String,
      payload: DataFrame => DataFrame, format: String, root: String,
      prefix: String): String = {
    val src = Tables.table(s, dir, table)
    writeRawObject(payload(first10(src)), format, s"$root/$prefix$StaleTs")
    writeRawObject(payload(src), format, s"$root/$prefix$LatestTs",
      Tables.tableRowCount(s, dir, table))
    latestObject(root, prefix)
  }

  /** The API hop (O-8), shared by p1 and o8: env readings land as
    * timestamped JSON objects (ref `ingestion/api_bmkg/bmkg_to_raw.py:49-57`
    * puts the API payload at raw/api_bmkg/<name>_<ts>.json). Clean side:
    * latest-pick, then a schema-first read (never inferSchema on a raw
    * zone) with the explicit ts parse-back. */
  private def envHop(s: SparkSession, dir: String, work: String): DataFrame =
    s.read
      .schema("event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .json(rawHop(s, dir, "events", envPayload, "json", s"$work/raw-zone/api", "env_"))
      .select($"event_id", to_timestamp($"ts", TsFmt).as("ts"),
        $"user_id", $"event_type", $"value", $"props")

  /** Latest raw object by the name-embedded timestamp (O-13 on object
    * names — the reference's list_objects + max(LastModified)). Only
    * entry names are matched, never the root's own path. */
  private[graft] def latestObject(root: String, prefix: String): String = {
    val listing = Files.list(Paths.get(root))
    val names =
      try listing.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith(prefix))
      finally listing.close()
    if (names.isEmpty)
      throw new IllegalStateException(s"no raw object named $prefix* under $root")
    Paths.get(root, names.max).toString // total order on embedded ts
  }

  def run(s: SparkSession, dir: String, work: String): DataFrame = {
    // ---- RAW + CLEAN: the two source hops are independent in the
    // reference DAG (`dags/hygiene_dag.py:103-110` fans sheets and API
    // ingests out in parallel and fans in before the prescriptive
    // stage) — mirrored here as concurrent jobs on the shared session
    // (Spark schedules jobs from different threads FIFO across the
    // same executor pool; plans stay lazy, only I/O actions overlap).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)

    // sheets hop: timestamped immutable CSV snapshots (O-7) with messy
    // headers; then latest-object pick (O-13, the reference's
    // list_objects+max(LastModified) done on the name-embedded ts),
    // normalize/coerce/dropna, snapshot-overwrite (O-9).
    val sheetsHop = scala.concurrent.Future {
      val latest = rawHop(s, dir, "lineitem", messyActivity, "csv",
        s"$work/raw-zone/sheets", "activity_")
      val cleaned = Cleaning.dropNullKeys(
        Cleaning.normalizeColumns(
          s.read.option("header", "true")
            .schema("`L OrderKey` STRING, ` L PartKey` STRING, `L Quantity ` STRING, `L ShipDate` STRING")
            .csv(latest))
          .select(
            Cleaning.tryLong($"l_orderkey").as("l_orderkey"),
            Cleaning.tryLong($"l_partkey").as("l_partkey"),
            Cleaning.tryDouble($"l_quantity").as("l_quantity"),
            to_timestamp($"l_shipdate", TsFmt).as("l_shipdate")),
        Seq("l_shipdate"))
      Snapshot.overwriteSnapshot(cleaned, s"$work/clean-zone/sheets/catatan_aktivitas")
    }

    // API hop (O-8), ts serialized explicitly so the hop is value-exact,
    // same policy as the CSV hop
    val apiHop = scala.concurrent.Future(envHop(s, dir, work))

    // fan-in: both hops must land before the prescriptive stage
    val cleanEv =
      try {
        scala.concurrent.Await.result(
          sheetsHop.zip(apiHop), scala.concurrent.duration.Duration.Inf)._2
      } finally pool.shutdown()

    // ---- CURATED zone: prescriptive score over cleaned activity +
    // zone-round-tripped env readings, then snapshot + audit CSV ----
    val cleanLi = Snapshot.readZone(s, s"$work/clean-zone/sheets/catatan_aktivitas")
    val result = Scoring.score(cleanLi, Tables.orders(s, dir),
      cleanEv, Tables.part(s, dir))
    Snapshot.overwriteSnapshot(result, s"$work/curated-zone/prescriptive_hygiene")

    // Downstream stages read the CURATED ZONE, not the live scoring
    // plan (r16 optimization, guide §1.2 "don't compute things twice"):
    // feeding `result` to all four sinks re-ran the entire upstream —
    // including the raw-zone JSON parse — once PER ACTION (4× total,
    // measured ~2 s of repeated broadcast/scan jobs at sf0.1). The
    // medallion contract is exactly that serving derives from curated;
    // at 100 TB the delta is three full corpus re-reads.
    val curated = Snapshot.readZone(s, s"$work/curated-zone/prescriptive_hygiene")

    // ---- audit CSV + SERVING history append (O-10) + snapshot replace
    // (O-11): three INDEPENDENT sinks over the same already-written
    // curated zone (guide §2.6 "overlap independent jobs") — submitted
    // concurrently so the next job's tasks back-fill the executor tail
    // of the previous one instead of serializing three commit latencies.
    // Each write is unchanged; only the driver-side sequencing overlaps.
    val sinkPool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val sinkEc = // explicit, not implicit: `ec` above is still in scope
      scala.concurrent.ExecutionContext.fromExecutorService(sinkPool)
    val sinks = Seq(
      scala.concurrent.Future {
        Snapshot.auditLogCsv(curated, s"$work/curated-zone/logs/last_calculation") }(sinkEc),
      scala.concurrent.Future {
        Snapshot.appendHistory(curated, s"$work/serving/rekomendasi_history") }(sinkEc),
      scala.concurrent.Future {
        Snapshot.overwriteSnapshot(curated, s"$work/serving/rekomendasi_snapshot") }(sinkEc))
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(sinks)(
        scala.collection.BuildFrom.buildFromIterableOps, sinkEc),
      scala.concurrent.duration.Duration.Inf)
    finally sinkPool.shutdown()

    // the curated zone IS the return value (r16 ADVICE: the second
    // readZone of the same path duplicated this plan verbatim)
    curated
  }

  /** Driver-contract entry: run the whole pipeline into a unique temp
    * workdir and return the curated result. Shares O-30's oracle — the
    * zone round-trip must be value-exact. */
  def p1Pipeline(s: SparkSession, dir: String): DataFrame = {
    sweepOldWorkDirs()
    val work = Files.createTempDirectory("graft_pipeline_").toString
    run(s, dir, work)
  }

  /** P-6 — retry/restart convergence for the BATCH pipeline: the
    * reference runs every stage under Airflow `retries=1` /5-min
    * (`dags/hygiene_dag.py:5-10`), so a crash mid-stage is answered by
    * re-running the SAME task against the SAME zones — correctness
    * rests on each stage being a full-snapshot overwrite or a
    * latest-object pick, never an in-place mutation. This entry
    * PROVES that contract: it first plants the exact disk state a
    * crash leaves behind (stale raw object only; clean zone truncated
    * mid-overwrite with uncommitted `_temporary` litter and no
    * `_SUCCESS`; a corrupt non-parquet file squatting in the curated
    * zone), then runs the real pipeline over the wreckage. Overwrite
    * semantics + name-embedded-ts latest-pick repair every zone, so
    * the output must equal p1's — the entry shares p1's oracle, which
    * IS the convergence check. The crash is planted before the serving
    * appendHistory stage: overwrite/latest-pick zones are exactly-once
    * under retry by construction, while an append sink needs a run-id
    * key or staged WAP commit (mt13) to dedup — that boundary is the
    * design point this entry documents. */
  def p6PipelineRetry(s: SparkSession, dir: String): DataFrame = {
    sweepOldWorkDirs()
    val work = Files.createTempDirectory("graft_pipeline_retry_").toString
    plantCrashDebris(s, dir, work)
    run(s, dir, work) // the Airflow-style retry: same task, same zones
  }

  /** Disk state after attempt 1 died mid-flight (see [[p6PipelineRetry]]):
    * three distinct failure shapes across the three zones. */
  private[graft] def plantCrashDebris(s: SparkSession, dir: String, work: String): Unit = {
    // raw: only the STALE partial snapshot landed; crash hit before the
    // complete 20010102 object — retry must re-write and re-pick latest
    val li = Tables.lineitem(s, dir)
    writeRawObject(messyActivity(first10(li)), "csv",
      s"$work/raw-zone/sheets/activity_$StaleTs")
    // clean: overwrite died mid-write — truncated data, task-attempt
    // litter under _temporary, and no _SUCCESS marker
    val cleanPath = s"$work/clean-zone/sheets/catatan_aktivitas"
    li.limit(7).select($"l_orderkey", $"l_partkey", $"l_quantity",
        $"l_shipdate".cast("timestamp").as("l_shipdate"))
      .write.mode(SaveMode.Overwrite).format(Snapshot.ZoneFormat).save(cleanPath)
    Files.deleteIfExists(Paths.get(s"$cleanPath/_SUCCESS"))
    Files.createDirectories(Paths.get(s"$cleanPath/_temporary/0/task_000_m_000"))
    // curated: a garbage object with a parquet name — a half-flushed
    // part file from the dying executor
    Files.createDirectories(Paths.get(s"$work/curated-zone/prescriptive_hygiene"))
    Files.write(
      Paths.get(s"$work/curated-zone/prescriptive_hygiene/part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
  }

  /** Reclaim previous invocations' zones (each run writes full CSV+JSON+
    * parquet copies; repeated rounds would otherwise fill the tmp
    * filesystem). Only dirs older than 1h are swept so two concurrent
    * invocations on one host can't delete each other's live work zones
    * mid-run. Runs at EVERY workdir-creating entry (p1, o8, o2, the
    * streaming sinks — round-2 advice: o8 alone used to accumulate
    * unboundedly). Covers every graft_* temp prefix (pipeline zones,
    * Derby DBs, streaming sink/checkpoint dirs, spec scratch).
    *
    * `maxAgeS` is the concurrent-run guard: the production default
    * (1h) means two invocations on one host can't delete each other's
    * live zones. The measurement mains (Bench, Entry) pre-sweep
    * with maxAgeS = 0 BEFORE any timing starts — otherwise another
    * process's zone debris crossing the 1h boundary mid-run lands its
    * deletion I/O inside an arbitrary timed entry (r13: a test-suite
    * run an hour before the bench put p6's fresh-JVM median at 15.8 s
    * vs 3.2 s in-suite, spread 5.5 s — 465 stale dirs' walk+delete
    * attributed to whichever rep aged them past the cutoff). The
    * aggressive cutoff is safe there because the measurement protocol
    * already requires an idle box; it is NOT exposed to production
    * entries, which all call the 1h default. */
  private[graft] def sweepOldWorkDirs(maxAgeS: Long = 3600): Unit =
    sweepWorkDirs(Paths.get(System.getProperty("java.io.tmpdir")), maxAgeS)

  /** Root-parameterized body of [[sweepOldWorkDirs]] — the seam the
    * cutoff-semantics spec sweeps a scratch root through (mutating
    * java.io.tmpdir in-test would misdirect the live session's own
    * temp writes). */
  private[graft] def sweepWorkDirs(tmpRoot: java.nio.file.Path,
      maxAgeS: Long): Unit = {
    val now = java.time.Instant.now()
    val cutoff = now.minusSeconds(maxAgeS)
    // Plain graft_* FILES in tmp are live plumbing — Bench redirects
    // each fresh-JVM child's stdout to graft_fresh_*.out, and the
    // child's own cutoff-0 pre-sweep must not delete the file its
    // parent is about to read (caught live: every fresh re-measure
    // "failed" with a vanished out-file). So files ALWAYS use the 1h
    // concurrent-run cutoff regardless of maxAgeS: a >1h-old out-file
    // cannot belong to a live rep (a fresh-JVM re-measure is minutes),
    // and never reclaiming crash orphans would re-create the unbounded
    // debris the sweep exists to prevent.
    val fileCutoff = now.minusSeconds(math.max(maxAgeS, 3600L))
    def olderThan(p: java.nio.file.Path, c: java.time.Instant): Boolean =
      try Files.getLastModifiedTime(p).toInstant.isBefore(c)
      catch { case _: java.io.IOException => false }
    val old = Files.list(tmpRoot)
    try old.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("graft_"))
      .filter(p => olderThan(p,
        if (Files.isDirectory(p)) cutoff else fileCutoff))
      .foreach { p =>
        try Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(Files.delete(_))
        catch { case _: java.io.IOException => () }
      }
    finally old.close()
  }

  /** O-8 standalone: p1's JSON raw hop in isolation ([[envHop]]: two
    * timestamped JSON objects, latest-pick, schema-first read-back),
    * then an exact-cents aggregate proving the round-trip lost nothing
    * (same check the oracle runs on the source table). */
  def o8JsonRaw(s: SparkSession, dir: String): DataFrame = {
    sweepOldWorkDirs()
    val work = Files.createTempDirectory("graft_pipeline_o8_").toString
    envHop(s, dir, work)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("bigint")).as("sum_value_c"),
        date_trunc("second", max($"ts")).as("max_ts"))
      .orderBy($"event_type")
  }

  /** P-2 — the end-to-end TRAINING-CORPUS pipeline, composed from the
    * operator library as ONE lazy plan:
    *
    *   documents → purge (exact-dup losers + benchmark + contaminated
    *   docs out, [[graft.dedup.Dedup.purgeSurvivors]]) → stratified
    *   per-source downsample (t11's keep predicate) → train/val/test
    *   split (t7's assignment) → per-(source, split) audit.
    *
    * The point is composition: the stages are plan FRAGMENTS, not
    * materialization barriers — Catalyst prunes columns and pushes the
    * cheap hash predicates across stage boundaries, and the whole
    * lineage runs as one job. The audit carries an id checksum so the
    * gate pins the exact surviving document SET, not just counts. */
  def p2TrainingCorpus(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.purgeSurvivors(s, dir)
      .filter(graft.text.TextOps.sampleKeep(s, $"doc_id", $"source"))
      .withColumn("split", graft.text.TextOps.splitAssign(s, $"doc_id"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"source", $"split")

  /** P-3 — the incremental-ingest STEADY-STATE loop, end-to-end: the
    * "new batch" (doc_id % 10 == 9) is admitted into the serving corpus
    * snapshot through the production gauntlet —
    *
    *   intra-batch exact dedup (keep min doc_id per content hash) →
    *   near-dup check against the EXISTING corpus index (d13's band
    *   join — cost ∝ batch, corpus never re-shingled; any collision
    *   rejects) → MERGE-upsert into the snapshot (mt2's anti-join +
    *   union, st7's crash-safe write-aside shape) → per-source audit
    *   of the post-merge corpus with an id checksum.
    *
    * This is the loop a 100 TB corpus runs every arrival interval; at
    * scale only the snapshot write is proportional to the corpus, and
    * a table format (SURVEY §7.2a) turns that into a metadata commit. */
  def p3IncrementalIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sweepOldWorkDirs()
    val work = Files.createTempDirectory("graft_p3_").toString
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter($"doc_id" % 10 =!= 9)
    val colliding = graft.dedup.Dedup.d13IncrementalDedup(s, dir)
      .filter($"needs_verify" === 1).select($"new_doc".as("doc_id"))
    val admitted = docs.filter($"doc_id" % 10 === 9)
      .withColumn("keep_id", min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"keep_id").drop("keep_id")
      .join(broadcast(colliding), Seq("doc_id"), "left_anti")
    corpus.write.mode("overwrite").format(Snapshot.ZoneFormat).save(s"$work/corpus")
    val cur = Snapshot.readZone(s, s"$work/corpus")
    graft.maintenance.Maintenance.mergeUpsert(cur, admitted, "doc_id")
      .write.mode("overwrite").format(Snapshot.ZoneFormat).save(s"$work/next")
    Snapshot.readZone(s, s"$work/next")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"source")
  }

  /** P-4 — the QUALITY-gated curation pipeline (p2's sibling with the
    * t18 rule gate as the admission stage): documents → t18 composite
    * quality gate (only reason_mask = 0 admitted) → exact dedup (keep
    * min doc_id per content hash) → deterministic train/val/test split
    * → per-(source, split) audit with an id checksum pinning the exact
    * surviving set. Same composition point as p2: the stages are plan
    * fragments fused by Catalyst into one job — the row-local gate
    * (`token_profile` in the scan stage, so its filter needs no join
    * back: doc_id keys the table), the hash window (dedup), and the
    * md5 split predicate never materialize between stages. The first
    * exchange is the dedup window's, over the already-shrunk survivor
    * set. */
  def p4CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.text.TextOps.qualityAdmitted(Tables.documents(s, dir))
      .withColumn("keep_id", min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"keep_id")
      .withColumn("split", graft.text.TextOps.splitAssign(s, $"doc_id"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"source", $"split")
  }

  /** P-5 — the STREAMING training-data ingest loop, end to end: the
    * batch curation ops composed on the streaming path. The corpus
    * arrives as 8 single-file buckets (doc_id % 8, mod times pinned
    * ascending) drained under maxFilesPerTrigger=2 — st17's admission
    * control — so it enters as 4 bounded micro-batches. Each batch runs
    * the t18 quality gate (per-doc rules — streamable, batch
    * boundaries can't change a verdict), then INCREMENTAL exact dedup:
    * first-in-batch by content hash, then an anti join against the
    * accumulated seen-hash set (d13's cost-∝-batch shape — the corpus
    * is never re-scanned). Admitted docs and their hashes land in
    * batch-id-keyed dirs (idempotent per batch — the st15 crash-replay
    * contract). Arrival order is pinned, so "first arrival wins" is
    * deterministic and the DuckDB oracle replays it as
    * row_number() OVER (PARTITION BY md5(text)
    *                    ORDER BY (doc_id%8)//2, doc_id) = 1.
    * At 100 TB each arrival interval pays gate + hash-join cost
    * proportional to the batch, and the seen-set is the dim-sized
    * artifact the pipeline maintains (the bloom form is x8). */
  /** Seen-hash dirs from batches STRICTLY BEFORE `batchId`. A replayed
    * batch (crash between the seen write and the checkpoint commit)
    * finds its own failed-attempt `b=$batchId` dir on disk; anti-joining
    * against it would filter out the whole replay and overwrite the
    * admitted dir with an empty set. Ordering by id is the idempotency
    * contract: batch i's dedup verdict depends only on batches < i. */
  private[graft] def priorSeenDirs(seenRoot: String, batchId: Long): Seq[String] = {
    val d = new java.io.File(seenRoot)
    if (!d.exists) Seq.empty
    else d.listFiles.map(_.getName)
      .filter(_.startsWith("b="))
      // safe parse: a partial/temp leftover like b=3.tmp must be
      // ignored, not throw and kill the foreachBatch
      .filter(n => scala.util.Try(n.stripPrefix("b=").toLong)
        .toOption.exists(_ < batchId))
      .sorted.map(n => s"$seenRoot/$n").toSeq
  }

  def p5StreamingCuration(s: SparkSession, dir: String): DataFrame = {
    val work = graft.streaming.Stream.workDir("graft_p5_")
    Tables.documents(s, dir)
      .select($"doc_id", $"text", $"source", $"n_chars", ($"doc_id" % 8).as("pb"))
      .repartition($"pb").write.partitionBy("pb")
      .mode(SaveMode.Overwrite).parquet(s"$work/in")
    // one file per bucket; mod times ascending with pb so the file
    // source admits buckets in order (batch i = buckets {2i, 2i+1})
    val bucketFiles = new java.io.File(s"$work/in").listFiles
      .filter(_.getName.startsWith("pb=")).sortBy(_.getName.stripPrefix("pb=").toInt)
      .flatMap(_.listFiles.filter(_.getName.startsWith("part-")))
    bucketFiles.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L) }
    val admitted = s"$work/admitted"
    val seen = s"$work/seen"
    val src = s.readStream
      .schema("doc_id BIGINT, text STRING, source STRING, n_chars BIGINT, pb BIGINT")
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$work/in")
    graft.streaming.Stream.drain(s, work, src,
      graft.streaming.Stream.Sink.Batches(admitted) { (batch, batchId) =>
        val gated = graft.text.TextOps.qualityAdmitted(batch)
          .withColumn("h", md5(col("text")))
        val firstInBatch = gated.withColumn("rk",
            org.apache.spark.sql.functions.row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("h")).orderBy(col("doc_id"))))
          .filter(col("rk") === 1).drop("rk")
        // Replay safety (the st15 crash-replay contract): a crash
        // between the seen-hash write and the checkpoint commit makes
        // the engine re-run this batchId, and a naive `b=*` glob would
        // then anti-join the batch against its OWN failed-attempt
        // hashes, emptying the replay. Only dirs with i < batchId are
        // prior batches; the current id's dir (if present) is the
        // failed attempt and must be ignored so overwrite repairs it.
        val priorDirs = priorSeenDirs(seen, batchId)
        val fresh =
          if (priorDirs.nonEmpty)
            firstInBatch.join(
              s.read.schema("h STRING").parquet(priorDirs: _*),
              Seq("h"), "left_anti")
          else firstInBatch
        // Two sinks (admitted zone + seen-hash index) from ONE
        // computation (r16 optimization): previously each write
        // action re-ran the whole gate → window-dedup → anti-join
        // chain — the batch paid its curation cost twice. The
        // admitted zone already carries `h` (only `pb` is dropped),
        // so the seen index is a PROJECTION of the files just
        // written: read them back instead of recomputing the chain.
        // (An in-memory persist of `fresh` was measured FAR slower
        // here — caching a micro-batch-derived plan re-materialized
        // at ~4 s per sink action — so the zone read-back, which is
        // also the crash-replay-faithful source, is the fix.)
        fresh.drop("pb").write.mode("overwrite")
          .format(graft.ops.Snapshot.ZoneFormat).save(s"$admitted/b=$batchId")
        // explicit schema: a batch whose every doc was rejected or
        // deduped writes an empty dir, and a schema-INFERRING read
        // of it would throw instead of yielding the empty seen set.
        // The schema is DERIVED from the writer plan (r16 ADVICE: a
        // string literal duplicating the stream-source schema + `h`
        // would silently null-fill — and so disable the anti join —
        // if `h` were ever renamed/retyped upstream). NOTE: this
        // read-side schema is a parquet-ism; a Delta ZoneFormat swap
        // must drop it (Delta rejects user-specified read schemas) —
        // see the note at Snapshot.ZoneFormat.
        s.read.schema(fresh.drop("pb").schema)
          .format(graft.ops.Snapshot.ZoneFormat)
          .load(s"$admitted/b=$batchId").select(col("h"))
          .write.mode("overwrite")
          .format(graft.ops.Snapshot.ZoneFormat).save(s"$seen/b=$batchId")
        ()
      }, graft.streaming.Stream.tableBytes(dir, "documents"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"source")
  }

  val oracles: Map[String, String] = Map(
    "p5_stream_curation" -> {
      s"""WITH ${graft.text.TextOps.qualityMaskCtes},
          kept AS (SELECT d.doc_id AS doc_id, d.source AS source,
                          d.n_chars AS n_chars, d.text AS text
                   FROM documents d JOIN qmask q ON d.doc_id = q.doc_id
                   WHERE q.reason_mask = 0),
          dd AS (SELECT doc_id, source, n_chars,
                        row_number() OVER (PARTITION BY md5(text)
                          ORDER BY (doc_id % 8) // 2, doc_id) AS arrival_rk
                 FROM kept)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(bit_xor(doc_id) AS BIGINT) AS id_checksum
          FROM dd WHERE arrival_rk = 1
          GROUP BY 1 ORDER BY source"""
    },
    "p4_curation_pipeline" -> {
      s"""WITH ${graft.text.TextOps.qualityMaskCtes},
          kept AS (SELECT d.doc_id AS doc_id, d.source AS source,
                          d.n_chars AS n_chars, d.text AS text
                   FROM documents d JOIN qmask q ON d.doc_id = q.doc_id
                   WHERE q.reason_mask = 0),
          dd AS (SELECT doc_id, source, n_chars,
                        min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                 FROM kept),
          sp AS (SELECT doc_id, source, n_chars,
                        ${graft.text.TextOps.splitCaseSql("doc_id")} AS split
                 FROM dd WHERE doc_id = keep_id)
          SELECT source, split, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(bit_xor(doc_id) AS BIGINT) AS id_checksum
          FROM sp GROUP BY 1, 2 ORDER BY source, split"""
    },
    "p3_incremental_ingest" ->
      s"""WITH ${graft.dedup.Dedup.lshPairsCtes},
          coll AS (
            SELECT DISTINCT n.doc_id AS doc_id
            FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
            WHERE n.doc_id % 10 = 9 AND c.doc_id % 10 <> 9),
          batch AS (
            SELECT doc_id, source, n_chars,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM documents WHERE doc_id % 10 = 9),
          admitted AS (
            SELECT doc_id, source, n_chars FROM batch
            WHERE doc_id = keep_id
              AND doc_id NOT IN (SELECT doc_id FROM coll)),
          final AS (
            SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 10 <> 9
            UNION ALL SELECT doc_id, source, n_chars FROM admitted)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(bit_xor(doc_id) AS BIGINT) AS id_checksum
          FROM final GROUP BY 1 ORDER BY source""",
    "p2_training_corpus" -> {
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
          sh AS (
            SELECT doc_id, unnest(
              CASE WHEN len(a) >= 3
                THEN [md5(a[i]||' '||a[i+1]||' '||a[i+2])
                      for i in range(1, len(a) - 1)]
                ELSE [] END) AS sh
            FROM toks),
          bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
          contam AS (SELECT DISTINCT s.doc_id AS doc_id FROM sh s JOIN bench ON s.sh = bench.sh
                     WHERE s.doc_id % 50 <> 0),
          keep AS (SELECT doc_id, source, n_chars,
                          min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                   FROM documents),
          surv AS (SELECT doc_id, source, n_chars FROM keep
                   WHERE doc_id = keep_id AND doc_id % 50 <> 0
                     AND doc_id NOT IN (SELECT doc_id FROM contam)),
          samp AS (SELECT * FROM surv
                   WHERE ${graft.text.TextOps.bucketSqlOf("samp:", "doc_id")}
                         < 16 + ${graft.text.TextOps.bucketSqlOf("rate:", "source")} % 64),
          sp AS (SELECT *, ${graft.text.TextOps.splitCaseSql("doc_id")} AS split
                 FROM samp)
          SELECT source, split, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(bit_xor(doc_id) AS BIGINT) AS id_checksum
          FROM sp GROUP BY 1, 2 ORDER BY source, split"""
    },
    "p1_pipeline_e2e" -> Scoring.oracleSql,
    // p6 = p1 re-run over planted crash wreckage; identical output IS
    // the retry-convergence property, so the oracle is shared verbatim.
    "p6_pipeline_retry" -> Scoring.oracleSql,
    "o8_json_raw" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
                date_trunc('second', max(ts)) AS max_ts
         FROM events GROUP BY 1 ORDER BY event_type""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_pipeline_e2e" -> p1Pipeline _,
    "p2_training_corpus" -> p2TrainingCorpus _,
    "p3_incremental_ingest" -> p3IncrementalIngest _,
    "p4_curation_pipeline" -> p4CurationPipeline _,
    "p5_stream_curation" -> p5StreamingCuration _,
    "p6_pipeline_retry" -> p6PipelineRetry _,
    "o8_json_raw" -> o8JsonRaw _,
  )
}
