package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.syntax._
import graft.ops.Snapshot

/** Structured Streaming variant of the ingest→clean→aggregate hop
  * (SURVEY.md §7.2 item 7): the reference's cron micro-batches
  * (`dags/hygiene_dag.py:18,53`) become a file-source stream with
  * `Trigger.AvailableNow` — same code path a live stream would use,
  * drained synchronously over the existing parquet. Every entry (and
  * st2, st3, st10, p5 outside this object) drains through [[drain]].
  *
  * Two shapes of the same hourly aggregation:
  *   - st1: complete mode into a memory sink — a drain-everything gate
  *     harness (output covers every window incl. the unfinished tail).
  *     Complete mode re-emits all state each trigger: fine for a bounded
  *     replay, unbounded state on a live stream — NOT the production shape.
  *   - st4: the production shape — `withWatermark("ts", "2 hours")` +
  *     append mode + parquet file sink. State for a window is dropped as
  *     soon as the watermark passes its end, so state is bounded by
  *     (watermark delay / window size) windows per key. The final
  *     still-open windows (within 2h of max event time) stay in state and
  *     are NOT emitted — exactly what a live pipeline sees — so the
  *     oracle aggregates only events in windows that closed under the
  *     final watermark.
  */
object Stream {

  /** What a drained query keeps in state. It sets the store weight
    * [[drainPartitionsFor]] widens by and, for RocksDB, the provider. */
  private[graft] sealed abstract class StateKind(val storeWeight: Int)
  private[graft] object StateKind {
    /** No state, or one store per stateful operator and partition on
      * the session's provider. */
    case object Plain extends StateKind(1)
    /** A stream-stream join: four stores per partition (left/right ×
      * keyToNumValues/keyWithIndexToValue). */
    case object JoinStores extends StateKind(4)
    /** The RocksDB provider, pinned for the drain over any session
      * setting: a native instance open per store. For state that must
      * NOT live on executor heap: the default HDFSBackedStateStoreProvider
      * keeps every retained store version as on-heap object maps whose
      * UnsafeRows pin their shared backing pages — measured on st12's
      * session store at ~103 KB of reported residency PER SESSION
      * (329 MB for 3,200 sessions at sf10; 44.2 GB for 320 k at sf100,
      * where it killed a 48 g heap). RocksDB holds the same state native
      * + on-disk: st10's store on the same panel was 2.3 MB for 1.5 M
      * keys. It is also the provider a production cluster runs, so
      * executor sizing follows throughput, not the open-state set. */
    case object RocksDB extends StateKind(4)
  }

  /** Where a drained query writes, and what [[drain]] returns. */
  private[graft] sealed trait Sink
  private[graft] object Sink {
    /** Append into the parquet zone `$work/out`, returned read back. */
    case object Zone extends Sink
    /** An in-memory table in output `mode`. The drain returns the table
      * and drops its temp view, so the rows live as long as the
      * returned frame and no longer. */
    final case class Memory(mode: String) extends Sink
    /** `f` on every micro-batch, in output `mode`; `f` writes the zone
      * at `out`, returned read back. */
    final case class Batches(out: String, mode: String = "append")(
        val f: (DataFrame, Long) => Unit) extends Sink
  }

  /** Input-size-aware state partition count (round-9 scale-stress
    * finding): 8 is right while per-partition state stays small — the
    * state-store instance floor dominates micro-batch cost at gate SFs
    * (each store commit costs ~9 ms on graft's `file:` filesystem,
    * [[graft.io.LocalFs]]) — but at 10× the largest gate SF the flagged
    * streaming entries went super-linear (st4 exp 1.21, st14 1.24 over
    * the sf1→sf10 decade) because 8 partitions were carrying 10× the
    * rows each. Rule: partitions = clamp(8, cores, inputBytes /
    * (24 MB · storeWeight)). Every driver SF stays at 8 (≤ 16 MB
    * inputs — bit-identical gate). `storeWeight` is the per-partition
    * state-store instance factor of the drain's [[StateKind]]:
    * stream-stream joins keep FOUR stores per partition (at 32
    * partitions st11 regressed 8.6→11.7 s median at sf10 while the
    * 1-store aggregations sped up 5×), and RocksDB opens a native
    * instance per store, so both widen four times more conservatively.
    * Batch exchanges are sized by [[graft.plans.ExchangeSizing]], but
    * that rule cannot size this width: a streaming query runs its
    * micro-batches with AQE off, so no micro-batch plan reaches AQE's
    * query-stage rules (ExchangeSizingSpec pins st6's exchanges at
    * this width), and a stateful operator's partition count is fixed
    * by its checkpoint at the first batch. */
  private[graft] def drainPartitionsFor(s: SparkSession, bytes: Long,
      storeWeight: Int): Int = {
    val cores = math.max(8, s.sparkContext.defaultParallelism)
    math.min(math.max(8L, bytes / ((24L << 20) * storeWeight)), cores.toLong).toInt
  }
  /** st13's broadcast-vs-shuffle crossover, in EVENTS-TABLE bytes (the
    * proxy [[st13StreamAntiJoin]] sizes its seen side by: seen = the
    * event_id column of 1/3 of the rows). Measured r15 A/B at sf100
    * (events 2.1 GB, 33 M seen ids, fresh JVMs with state metrics): broadcast
    * regime 114.1 s vs shuffled regime 28.7 s — the driver-side build
    * and per-thread probe of a 33 M-key hashmap cost 4× the whole
    * distributed exchange, on a drain st16 proves is ~10 s without the
    * join. So the crossover sits BELOW sf100, well before the ~8 GB
    * broadcast hard cap a ~sf500 seen set would hit. 1 GB keeps every
    * gate/bench SF (≤ sf10, events ≤ 207 MB, where broadcast measured
    * 11.9 s) on the broadcast plan; outputs are row-identical on both
    * sides of the threshold (left_anti is plan-invariant;
    * StreamingSpec drains both). */
  private[graft] val St13BroadcastSeenMaxBytes: Long = 1L << 30

  /** Size of the table `name.parquet` under `dir` — a single file (the
    * driver's layout) or a directory of part files (any Spark-written
    * layout): directories sum their leaf files, so a multi-file table
    * at scale still sizes the drain instead of silently reverting to
    * the 8-partition floor (round-9 advice). A truly missing table
    * returns 0 WITH a one-line stderr warning — the floor fallback is
    * then visible, not silent. */
  private[graft] def tableBytes(dir: String, name: String): Long =
    try {
      val p = java.nio.file.Paths.get(dir, s"$name.parquet")
      val n =
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.walk(p)
          try s.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally s.close()
        } else java.nio.file.Files.size(p)
      if (n == 0L)
        System.err.println(s"[graft] tableBytes($dir, $name) = 0 — drain width falls back to the 8-partition floor")
      n
    } catch { case _: Exception =>
      System.err.println(s"[graft] tableBytes($dir, $name) unreadable — drain width falls back to the 8-partition floor")
      0L
    }

  /** Test seam for the streaming codegen audit (round-13 verdict
    * finding 2: the PlanSpec CodegenFallback sweep skipped every
    * entry whose work happens inside a micro-batch, so a lambda HOF
    * landing in a streaming projection would go unnoticed — exactly
    * the blind spot the rule exists to close). Every streaming query
    * graft starts runs through [[drain]], which hands the still-warm
    * query handle to this observer BEFORE stopping it — synchronous,
    * so unlike a StreamingQueryListener there is no race against
    * AvailableNow termination. Observer errors never fail the drain.
    * Null (the default) in production: one volatile read per DRAIN,
    * not per row. */
  private[graft] val drainObserver =
    new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.streaming.StreamingQuery => Unit]()

  /** A fresh `graft_*` work dir for one entry's drains (checkpoint,
    * sink, staged input), after sweeping the stale ones. */
  private[graft] def workDir(prefix: String): String = {
    graft.pipeline.Pipeline.sweepOldWorkDirs()
    java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Drains serialize on this lock: the confs [[drain]] sets are
    * SESSION-global, so two concurrent drains would otherwise race
    * each other's restore. A concurrent BATCH query on the same session
    * could still plan its shuffles at a drain's width while the lock
    * is held — the gate and bench run entries sequentially, so that
    * interleaving does not occur here; a truly concurrent deployment
    * should use `SparkSession.newSession()` per worker. */
  private val drainLock = new Object

  /** The one drain protocol: every streaming entry (st1–st21, p5)
    * supplies a plan and a sink, and this starts the query on
    * checkpoint `$work/chk` with `Trigger.AvailableNow`, awaits it,
    * hands it to [[drainObserver]] and stops it. For the query only,
    * under [[drainLock]], it sets:
    *  - the state partition count (`spark.sql.shuffle.partitions`):
    *    `width`, by default [[drainPartitionsFor]] of `inputBytes` and
    *    `state`'s store weight. Stateful cost is per PARTITION, not per
    *    row: every micro-batch opens, commits and snapshots one store
    *    per partition per stateful operator, so the batch default (32)
    *    would pay 32 store lifecycles where a gate drain needs 8. The
    *    checkpoint pins it at first start (a restarted query keeps its
    *    original partitioning). Results are partitioning-invariant.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` = `flush`. The
    *    final no-data micro-batch advances the watermark past the
    *    drained data, flushing everything state can release before
    *    termination. `flush = false` skips it — only legal for plans
    *    whose OUTPUT is complete after the data batches: eager-emitting
    *    joins (inner/semi) ship matches as they arrive, and the flush
    *    would only evict state that teardown discards anyway. Windowed
    *    aggregations and outer joins MUST keep it (it finalizes closed
    *    windows / null-extends unmatched rows past the watermark) —
    *    measured ~0.7 s per drain at gate scale, ~30% of a join drain's
    *    wall clock (SCALING.md §streaming-constant-costs).
    *  - the RocksDB provider for [[StateKind.RocksDB]]. */
  private[graft] def drain(s: SparkSession, work: String, plan: DataFrame,
      sink: Sink, inputBytes: Long, state: StateKind = StateKind.Plain,
      flush: Boolean = true, width: Option[Int] = None): DataFrame = {
    val name = java.nio.file.Paths.get(work).getFileName.toString
    val confs = Seq(
      "spark.sql.shuffle.partitions" ->
        width.getOrElse(drainPartitionsFor(s, inputBytes, state.storeWeight)).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> flush.toString) ++
      (if (state == StateKind.RocksDB) Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil)
    val writer = sink match {
      case Sink.Zone => plan.writeStream.outputMode("append")
        .format(Snapshot.ZoneFormat).option("path", s"$work/out")
      case Sink.Memory(mode) =>
        plan.writeStream.outputMode(mode).format("memory").queryName(name)
      case b: Sink.Batches => plan.writeStream.outputMode(b.mode).foreachBatch(b.f)
    }
    drainLock.synchronized {
      val prev = confs.map { case (k, v) =>
        val p = s.conf.getOption(k); s.conf.set(k, v); k -> p }
      try {
        val q = writer.option("checkpointLocation", s"$work/chk")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally {
          val cb = drainObserver.get()
          if (cb != null) scala.util.Try(cb(q))
          q.stop()
        }
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    sink match {
      case Sink.Zone => Snapshot.readZone(s, s"$work/out")
      case Sink.Memory(_) =>
        // analyzed here, so the frame holds the sink after the view goes
        val table = s.table(name)
        s.catalog.dropTempView(name)
        table
      case b: Sink.Batches =>
        // a source with no matching files drains zero batches: say so,
        // not PATH_NOT_FOUND on the work dir
        require(java.nio.file.Files.exists(java.nio.file.Paths.get(b.out)),
          s"$name: no micro-batch wrote ${b.out}")
        Snapshot.readZone(s, b.out)
    }
  }

  /** The events stream's `event_id`, `ts`, `event_type` and `value`. */
  private def eventFeed(s: SparkSession, dir: String): DataFrame =
    graft.io.Tables.eventsStream(s, dir)
      .select($"event_id", $"ts", $"event_type", $"value")

  /** Hourly event count and cents sum per event type, keyed by window
    * start. Cents policy: an exact integer sum, immune to
    * partition-order reassociation (same rule as every batch money
    * sum). A watermark on `ts`, if any, is the caller's. */
  private def hourlyCents(events: DataFrame): DataFrame =
    events.groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("bigint")).as("sum_value_c"))
      .select($"w.start".as("wstart"), $"event_type", $"n", $"sum_value_c")

  def st1StreamHourly(s: SparkSession, dir: String): DataFrame =
    drain(s, workDir("graft_st1_"), hourlyCents(eventFeed(s, dir)),
      Sink.Memory("complete"), tableBytes(dir, "events"))
      .orderBy($"wstart", $"event_type")

  /** ST-14 — streaming top-k: the lambda-free production pattern for a
    * ranking no append-mode stream can maintain incrementally. The
    * stream keeps the per-(hour, type) counters (st1's drain — bounded
    * state, exactly the windowed agg); the top-3-types-per-hour RANKING
    * is computed over the drained serving table by the x10 bounded-heap
    * operator (portable row_number()<=3 spelling, rewritten — no sort,
    * no window exec). At 100 TB the serving table is hours × types —
    * MBs — so the ranking pass is free next to the stream; re-ranking
    * per drain replaces a stateful top-k operator Spark doesn't have. */
  def st14StreamTopK(s: SparkSession, dir: String): DataFrame = {
    graft.plans.TopK.install(s)
    val hourly = st1StreamHourly(s, dir) // drained serving table, bit = batch
    hourly.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"wstart")
          .orderBy($"n".desc, $"event_type".asc)))
      .filter($"rn" <= 3)
      .select($"wstart", $"event_type", $"n", $"sum_value_c")
      .orderBy($"wstart", $"n".desc, $"event_type")
  }

  /** The unstarted st4 streaming plan — exposed so StreamingSpec can
    * assert the event-time watermark is present in the analyzed plan. */
  def st4Plan(s: SparkSession, dir: String): DataFrame =
    hourlyCents(eventFeed(s, dir).withWatermark("ts", "2 hours"))

  /** ST-4 — watermarked append-mode hourly aggregation into a file sink,
    * drained with `Trigger.AvailableNow` (the production streaming shape;
    * see object scaladoc). The final no-data micro-batch (on by default:
    * `spark.sql.streaming.noDataMicroBatches.enabled`) advances the
    * watermark past the drained data and flushes every closed window to
    * the sink before the query terminates. */
  def st4WatermarkAppend(s: SparkSession, dir: String): DataFrame =
    drain(s, workDir("graft_st4_"), st4Plan(s, dir), Sink.Zone,
      tableBytes(dir, "events")).orderBy($"wstart", $"event_type")

  /** ST-5 — the SLIDING-window production shape (st2's 2h/1h windows,
    * but watermarked + append + file sink instead of complete-mode into
    * memory): each event lands in 2 windows; state holds at most
    * (delay + duration) / slide open windows per key and drops them as
    * the watermark passes. Same drain protocol as st4. */
  def st5SlidingWatermark(s: SparkSession, dir: String): DataFrame = {
    val plan = graft.io.Tables.eventsStream(s, dir)
      .select($"ts", $"event_type", $"value")
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "2 hours", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("bigint")).as("sum_value_c"))
      .select($"w.start".as("wstart"), $"event_type", $"n", $"sum_value_c")
    drain(s, workDir("graft_st5_"), plan, Sink.Zone, tableBytes(dir, "events"))
      .orderBy($"wstart", $"event_type")
  }

  /** ST-6 — at-least-once ingest dedup: the source is unioned with
    * itself (every event delivered exactly twice — the redelivery a
    * real at-least-once bus produces), then
    * `dropDuplicatesWithinWatermark(event_id)` collapses redeliveries
    * with bounded state (ids older than the watermark are dropped from
    * the dedup store), and a watermarked windowed aggregation runs
    * downstream — two chained stateful operators in one append-mode
    * query. The result must equal st4's single-delivery aggregation. */
  def st6StreamDedup(s: SparkSession, dir: String): DataFrame =
    drain(s, workDir("graft_st6_"), st6Plan(s, dir), Sink.Zone,
      tableBytes(dir, "events")).orderBy($"wstart", $"event_type")

  /** The unstarted st6 plan: two chained stateful operators. */
  private[graft] def st6Plan(s: SparkSession, dir: String): DataFrame =
    hourlyCents(eventFeed(s, dir).union(eventFeed(s, dir))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id"))

  /** ST-7 — `foreachBatch` idempotent-upsert sink: the production
    * serving pattern (Delta MERGE per micro-batch, emulated on parquet
    * via [[graft.maintenance.Maintenance.mergeUpsert]]). Update mode
    * emits each changed window; the sink upserts it by key into the
    * serving table with a write-aside + atomic swap (compact's
    * crash-safe order), so a replayed batch CONVERGES to the same
    * state instead of duplicating — exactly-once end state over an
    * at-least-once trigger. Oracle = the full hourly aggregation
    * (update mode re-emits every window that ever changed; state
    * itself stays watermark-bounded). */
  def st7ForeachBatchUpsert(s: SparkSession, dir: String): DataFrame = {
    val work = workDir("graft_st7_")
    val target = s"$work/serving"
    val plan = hourlyCents(graft.io.Tables.eventsStream(s, dir)
      .select($"ts", $"event_type", $"value")
      .withWatermark("ts", "2 hours"))
    drain(s, work, plan, Sink.Batches(target, "update") { (batch, batchId) =>
      val keyed = batch.withColumn("k", concat_ws("|", $"wstart", $"event_type"))
      val tPath = java.nio.file.Paths.get(target)
      val next =
        if (java.nio.file.Files.exists(tPath)) {
          val cur = Snapshot.readZone(s, target)
            .withColumn("k", concat_ws("|", $"wstart", $"event_type"))
          graft.maintenance.Maintenance.mergeUpsert(cur, keyed, "k")
        } else keyed
      val staging = java.nio.file.Paths.get(s"$work/staging_$batchId")
      next.drop("k").write.mode("overwrite").format(Snapshot.ZoneFormat).save(staging.toString)
      // write-aside then swap: never overwrite the dir being read
      val old = java.nio.file.Paths.get(s"$work/old_$batchId")
      if (java.nio.file.Files.exists(tPath)) java.nio.file.Files.move(tPath, old)
      java.nio.file.Files.move(staging, tPath)
      ()
    }, tableBytes(dir, "events")).orderBy($"wstart", $"event_type")
  }

  /** ST-8 — stream-static join: the streaming event feed enriched
    * against a STATIC dimension (customer → market segment) before the
    * watermarked windowed aggregation. The static side is broadcast —
    * re-read per micro-batch, never shuffled, and it adds NO state to
    * the streaming query (only the downstream agg is stateful). This is
    * the production "enrich then aggregate" topology: at 100 TB/day the
    * dim is still MBs, so the join stays a map-side hash probe on every
    * executor. Same append-mode + file-sink drain protocol as st4. */
  def st8StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.io.Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment")
    val plan = graft.io.Tables.eventsStream(s, dir)
      .select($"ts", $"user_id", $"value")
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), $"user_id" === $"c_custkey")
      .groupBy(window($"ts", "1 hour").as("w"), $"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("bigint")).as("sum_value_c"))
      .select($"w.start".as("wstart"), $"c_mktsegment", $"n", $"sum_value_c")
    drain(s, workDir("graft_st8_"), plan, Sink.Zone, tableBytes(dir, "events"))
      .orderBy($"wstart", $"c_mktsegment")
  }

  /** ST-13 — stream-static ANTI join: the streaming incremental-ingest
    * filter (the streaming face of d13/p3): each arriving record is
    * dropped if its key already exists in the STATIC historical log
    * (here: every event_id ≡ 0 mod 3, standing in for the corpus's
    * processed-id table), and only survivors aggregate onward. The
    * anti side broadcasts while small — at 100 TB the historical KEY
    * set is the dim-sized artifact a pipeline maintains precisely so
    * ingest never shuffles the full corpus (the bloom form of the same
    * idea is x8). Complements st8's inner enrichment: anti = "new
    * only".
    *
    * The broadcast is SIZE-CONDITIONAL ([[St13BroadcastSeenMaxBytes]]):
    * this entry's seen set is 1/3 of ALL event ids, so unlike a true
    * dim it grows with corpus and the unconditional hint has a cliff —
    * Spark hard-caps a broadcast table at 8 GB, and the driver builds
    * the whole hashmap (r15 ladder: 33 M ids at sf100 measured
    * 114 s ≈ 11× st16's identical drain without the join; ~330 M ids
    * at sf1000 would be a ~18 GB build, a hard failure). Past the
    * threshold the hint is dropped and the micro-batch plans a
    * shuffled join: the one-batch AvailableNow drain pays one bounded,
    * distributed exchange instead of an unbounded driver build. */
  def st13StreamAntiJoin(s: SparkSession, dir: String): DataFrame = {
    // tableBytes = 0 means missing/unreadable (it already warned): the
    // seen-set size is UNKNOWN, so take the conservative shuffled plan —
    // a mis-sized shuffle costs only speed, a mis-sized broadcast hits
    // the 8 GB hard cap (r16 ADVICE: an I/O error must never silently
    // select the regime with the hard failure mode). The regime chosen
    // is logged either way so a mis-sized pick is a recorded fact.
    val bytes = tableBytes(dir, "events")
    val bcast = bytes > 0L && bytes <= St13BroadcastSeenMaxBytes
    System.err.println(
      s"[graft] st13 regime=${if (bcast) "broadcast" else "shuffled"} eventsBytes=$bytes")
    st13Drained(s, dir, broadcastSeen = bcast)
  }

  /** st13 with the regime explicit — StreamingSpec drains BOTH plans at
    * gate SF and asserts identical rows (the threshold must never be a
    * semantics knob). */
  private[graft] def st13Drained(s: SparkSession, dir: String,
      broadcastSeen: Boolean): DataFrame = {
    val seen = graft.io.Tables.events(s, dir)
      .filter($"event_id" % 3 === 0).select($"event_id")
    val seenJoinSide = if (broadcastSeen) broadcast(seen) else seen
    val plan = hourlyCents(graft.io.Tables.eventsStream(s, dir)
      .select($"ts", $"event_id", $"event_type", $"value")
      .withWatermark("ts", "2 hours")
      .join(seenJoinSide, Seq("event_id"), "left_anti"))
    drain(s, workDir("graft_st13_"), plan, Sink.Zone, tableBytes(dir, "events"))
      .orderBy($"wstart", $"event_type")
  }

  /** Each `view` joined (`how`) with the `purchase`s of the same user
    * that follow it within 1 hour — two live feeds joined on (user,
    * time range), the sides of the streaming join matrix (st9 inner,
    * st11 left-outer, st19 right-outer, st20 semi, st21 full-outer).
    * Both sides carry watermarks and the join condition bounds
    * event-time distance, so each side's buffered state is evicted
    * once the other side's watermark passes the reachable range —
    * bounded state, the ONLY safe stream-stream join shape at scale
    * (an unconstrained join buffers both streams forever). */
  private[graft] def viewPurchaseJoin(s: SparkSession, dir: String,
      how: String): DataFrame = {
    def side(tpe: String, tag: String) =
      graft.io.Tables.eventsStream(s, dir)
        .filter($"event_type" === tpe)
        .select($"user_id".as(s"${tag}_user"), $"ts".as(s"${tag}_ts"),
          $"event_id".as(s"${tag}_id"))
        .withWatermark(s"${tag}_ts", "2 hours")
    side("view", "v").join(side("purchase", "p"),
      $"v_user" === $"p_user" &&
        $"p_ts" >= $"v_ts" && $"p_ts" <= $"v_ts" + expr("INTERVAL 1 HOUR"), how)
  }

  /** The unstarted st9 join plan — exposed so StreamingSpec can assert
    * BOTH sides carry event-time watermarks (the state-boundedness
    * precondition for a stream-stream join). */
  def st9Plan(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "inner")

  /** ST-9 — stream-STREAM join: per-user attribution pairing each
    * `view` with the `purchase`s that follow it within 1 hour
    * ([[viewPurchaseJoin]]). Inner join emits matches as they arrive
    * (the watermark gates eviction, not emission), so the drained
    * output equals the batch join; the gate aggregates pairs per
    * user. */
  def st9StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    drain(s, workDir("graft_st9_"), st9Plan(s, dir), Sink.Zone,
      tableBytes(dir, "events"), StateKind.JoinStores, flush = false)
      .groupBy($"v_user".as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"v_id").as("n_views_converted"),
        countDistinct($"p_id").as("n_purchases_attributed"))
      .orderBy($"user_id")
  }

  /** ST-20 — stream-stream LEFT SEMI join (st9's sides and interval
    * condition, semi semantics): "views that converted" — each view
    * emits AT MOST ONCE, when its first matching purchase arrives, and
    * carries no purchase columns. Completes the streaming join matrix
    * (st9 inner, st11 left-outer, st13 stream-static anti): semi is
    * the shape for flagging/filtering against another stream without
    * duplicating the left side per match — at 100 TB the output is
    * bounded by the VIEW stream, not the match cardinality. Both sides
    * watermarked → both buffers bounded; matched views emit eagerly
    * (like inner), so the oracle is the plain batch EXISTS. */
  def st20StreamSemiJoin(s: SparkSession, dir: String): DataFrame = {
    drain(s, workDir("graft_st20_"), viewPurchaseJoin(s, dir, "left_semi"),
      Sink.Zone, tableBytes(dir, "events"), StateKind.JoinStores, flush = false)
      .groupBy($"v_user".as("user_id"))
      .agg(count(lit(1)).as("n_converted_views"),
        expr("bit_xor(v_id)").as("view_id_checksum"))
      .orderBy($"user_id")
  }

  /** ST-11 — stream-stream LEFT OUTER join (st9's sides and range):
    * unmatched `view`s must NOT be emitted when first seen — a match
    * could still arrive — so Spark holds them in state and emits the
    * null-extended row only once the watermark proves the match window
    * ([v_ts, v_ts+1h]) can no longer receive rows. Matched pairs emit
    * immediately (same as the inner join). The gate's oracle therefore
    * has TWO row classes: all matches, plus unmatched views whose
    * window closed under the final watermark (max ts − 2 h); unmatched
    * views still inside the watermark stay in state and do not appear —
    * exactly what a live pipeline sees. */
  def st11StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    drain(s, workDir("graft_st11_"), viewPurchaseJoin(s, dir, "left_outer"),
      Sink.Zone, tableBytes(dir, "events"), StateKind.JoinStores)
      .groupBy($"v_user".as("user_id"))
      .agg(sum(when($"p_id".isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when($"p_id".isNull, 1L).otherwise(0L)).as("n_unmatched_closed"))
      .orderBy($"user_id")
  }

  /** ST-19 — stream-stream RIGHT OUTER join (fills the join-matrix
    * numbering gap flagged in the round-8 verdict): st11's mirror.
    * Matched pairs emit eagerly; an unmatched `purchase` null-extends
    * once the watermark proves no joinable view can still arrive
    * (p_ts < W — future views have v_ts ≥ W, but the interval condition
    * needs v_ts ≤ p_ts; st21's `up` rule). Unlike left-outer, the
    * buffered side that null-extends here is the RIGHT one, so this
    * entry is what proves purchase-side state eviction independently of
    * st21's combined form. Oracle: batch right join, unmatched rows
    * gated by the min-across-sides final watermark. */
  def st19StreamRightOuter(s: SparkSession, dir: String): DataFrame = {
    drain(s, workDir("graft_st19_"), viewPurchaseJoin(s, dir, "right_outer"),
      Sink.Zone, tableBytes(dir, "events"), StateKind.JoinStores)
      .groupBy($"p_user".as("user_id"))
      .agg(sum(when($"v_id".isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when($"v_id".isNull, 1L).otherwise(0L)).as("n_purchases_unmatched"))
      .orderBy($"user_id")
  }

  /** ST-21 — stream-stream FULL OUTER join: the last cell of the
    * streaming join matrix (st9 inner, st11 left-outer, st20 semi,
    * st13 stream-static anti). Both unmatched classes are
    * watermark-gated: an unmatched `view` null-extends once its match
    * window [v_ts, v_ts+1h] closes (v_ts + 1h < W — st11's rule), an
    * unmatched `purchase` once no joinable view can still arrive
    * (p_ts < W: future views have v_ts ≥ W but the condition needs
    * v_ts ≤ p_ts). Matched pairs emit eagerly like the inner join.
    * Trailing open rows stay in state and are discarded at teardown —
    * the oracle replays both closed-window rules against the final
    * watermark max(ts) − 2h. Same bounded-buffer guarantee as st9:
    * watermarks on BOTH sides plus the interval condition are what
    * make full-outer stream state evictable at all. */
  def st21StreamFullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    drain(s, workDir("graft_st21_"), viewPurchaseJoin(s, dir, "full_outer"),
      Sink.Zone, tableBytes(dir, "events"), StateKind.JoinStores)
      .groupBy(coalesce($"v_user", $"p_user").as("user_id"))
      .agg(
        sum(when($"v_id".isNotNull && $"p_id".isNotNull, 1L).otherwise(0L))
          .as("n_pairs"),
        sum(when($"v_id".isNotNull && $"p_id".isNull, 1L).otherwise(0L))
          .as("n_views_unmatched"),
        sum(when($"v_id".isNull, 1L).otherwise(0L))
          .as("n_purchases_unmatched"))
      .orderBy($"user_id")
  }

  /** ST-12 — STREAMING `session_window` (30-min gap) with watermark +
    * append + file sink: Spark's dedicated session-merge state (late
    * events extend/merge sessions while inside the watermark) — the
    * built-in that replaces st3's hand-rolled flatMapGroupsWithState
    * when plain gap sessions are all that's needed. A session emits
    * once the watermark passes its end (last event + gap); trailing
    * open sessions stay in state, exactly like st4's open windows.
    * State lives in RocksDB ([[StateKind.RocksDB]]): session
    * stores hold the WHOLE open-session set, the one streaming state
    * class that grows with corpus instead of window count — on the
    * default on-heap provider that set was the r14 panel's 44 GB
    * heap-killer at sf100. */
  def st12SessionWindow(s: SparkSession, dir: String): DataFrame = {
    val plan = graft.io.Tables.eventsStream(s, dir)
      .select($"user_id", $"ts", $"value")
      .withWatermark("ts", "2 hours")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 100).cast("bigint")).as("sum_value_c"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events", $"sum_value_c")
    drain(s, workDir("graft_st12_"), plan, Sink.Zone, tableBytes(dir, "events"),
      StateKind.RocksDB).orderBy($"user_id", $"session_start")
  }

  /** ST-15 — streaming curation admission: the documents feed drained
    * through the t18 quality gate per micro-batch, survivors appended
    * to the admitted zone, then a per-source audit of the zone. The
    * t18 rules are per-document independent, which is exactly what
    * makes them STREAMABLE — batch boundaries cannot change a verdict
    * (corpus-level ops like d1/d6 need the incremental-index shape,
    * p3/d13, instead). The gate is a row-local filter
    * (`TextOps.qualityAdmitted`); foreachBatch (the st7 idiom) keeps
    * each batch's write idempotent. At 100 TB this is the admission
    * loop at the ingest edge — each arrival interval pays gate cost ∝
    * batch, never corpus. */
  def st15StreamCuration(s: SparkSession, dir: String): DataFrame = {
    val work = workDir("graft_st15_")
    val admitted = s"$work/admitted"
    drain(s, work, graft.io.Tables.documentsStream(s, dir),
      Sink.Batches(admitted) { (batch, batchId) =>
        // one OVERWRITTEN partition-style dir per batch id: a batch
        // replayed after a crash-before-checkpoint lands on the same
        // path instead of appending twice — the write is idempotent
        // per batch, which is what makes the blind zone append safe
        graft.text.TextOps.qualityAdmitted(batch)
          .write.mode("overwrite").format(Snapshot.ZoneFormat)
          .save(s"$admitted/b=$batchId")
        ()
      }, tableBytes(dir, "documents"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"source")
  }

  /** ST-16 — state-store READER (`spark.read.format("statestore")`):
    * streaming-state observability as a batch query. The checkpoint of
    * st4's watermarked hourly agg is opened AFTER the drain and the
    * retained state inspected directly — exactly the windows the
    * watermark has NOT yet released (end > max(ts) - 2h), i.e. the
    * complement of st4's emitted output. At 100 TB this is the
    * debugging/ops surface for stateful pipelines: state-size audits,
    * skewed-key hunts, and state forensics run as plain parquet-speed
    * batch reads over the checkpoint — no code inside the streaming
    * query, no stopping it. The read is partition-parallel (one state
    * file per shuffle partition) and the agg buffer comes back as typed
    * columns (count/sum), so the same oracle discipline applies as for
    * any batch entry. */
  def st16StateStoreRead(s: SparkSession, dir: String): DataFrame = {
    val work = workDir("graft_st16_")
    drain(s, work, st4Plan(s, dir), Sink.Zone, tableBytes(dir, "events"))
    s.read.format("statestore").load(s"$work/chk")
      .select($"key.window.start".as("wstart"),
        $"key.event_type".as("event_type"),
        $"value.count".as("n"), $"value.sum".as("sum_value_c"))
      .orderBy($"wstart", $"event_type")
  }

  /** ST-17 — rate-limited backlog drain: `maxFilesPerTrigger` is the
    * file source's admission control, the knob that keeps a catch-up
    * backlog (re-bootstrap, burst, long outage) from entering as ONE
    * unbounded micro-batch whose shuffle and sink write are sized by
    * the backlog instead of the configured rate. The corpus is laid
    * out as 8 single-file buckets (doc_id % 8); the drain runs
    * AvailableNow with maxFilesPerTrigger=2 — AvailableNow honors the
    * cap (unlike the retired Trigger.Once), so the backlog enters in
    * ceil(8/2)=4 bounded batches with checkpointed progress between
    * them. foreachBatch appends one aggregate row per batch; the gate
    * pins the batch count, per-batch file granularity (each batch saw
    * exactly 2 whole buckets — files are never split mid-batch), and
    * exact totals vs the batch read of the same table. At 100 TB the
    * same two lines bound every recovery drain to cluster-sized
    * batches. */
  def st17RateLimitedDrain(s: SparkSession, dir: String): DataFrame = {
    val work = workDir("graft_st17_")
    graft.io.Tables.documents(s, dir)
      .select($"doc_id", $"n_chars", ($"doc_id" % 8).as("pb"))
      .repartition($"pb").write.partitionBy("pb")
      .mode("overwrite").parquet(s"$work/in")
    val src = s.readStream
      .schema("doc_id BIGINT, n_chars BIGINT, pb BIGINT")
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$work/in")
    drain(s, work, src, Sink.Batches(s"$work/agg") { (b, id) =>
      b.agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("sum_chars"),
          countDistinct($"pb").as("n_buckets"))
        .withColumn("batch_id", lit(id))
        .write.mode("append").format(Snapshot.ZoneFormat).save(s"$work/agg")
      ()
    }, tableBytes(dir, "documents")).agg(
      count(lit(1)).as("n_batches"),
      sum($"n_rows").as("n_rows"),
      sum($"sum_chars").as("sum_chars"),
      min($"n_buckets").as("min_buckets"),
      max($"n_buckets").as("max_buckets"))
  }

  /** ST-18 — checkpoint recovery across a restart: the SAME
    * checkpoint + file sink serve TWO separate query starts, with the
    * second half of the backlog arriving between them (an outage and
    * its catch-up). Drain 1 sees the first two ts-range chunks,
    * aggregates, closes every window under its watermark, and stops;
    * drain 2 starts a NEW query on the same checkpoint — the source
    * resumes from the offset log (chunks 1–2 are never re-read), the
    * watermark and the still-open windows are recovered from the
    * state store, and the late chunks close the rest. The file sink's
    * own commit log (_spark_metadata) makes the union exactly-once:
    * the result must equal st4's single-drain aggregation bit for
    * bit. Chunk files are ts-range partitioned with mod times pinned
    * ascending (the file source replays in mod-time order — the
    * replay-chunking spec's proven protocol), so no event is ever
    * below the recovered watermark of its own batch. This is the
    * property a 100 TB pipeline actually banks on: any drain can die
    * and restart without reprocessing or double-counting. */
  def st18CheckpointRecovery(s: SparkSession, dir: String): DataFrame = {
    val work = workDir("graft_st18_")
    val ev = graft.io.Tables.events(s, dir)
      .select($"event_id", $"ts", $"event_type", $"value")
    ev.repartitionByRange(4, $"ts").write.parquet(s"$work/stage")
    val parts = new java.io.File(s"$work/stage").listFiles
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/src"))
    def publish(files: Array[java.io.File], t0: Long): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = java.nio.file.Paths.get(s"$work/src/${f.getName}")
        java.nio.file.Files.move(f.toPath, dst)
        dst.toFile.setLastModified(t0 + i * 60000L)
      }
    // Capture the schema BEFORE the publishes empty the stage dir.
    val srcSchema = s.read.parquet(s"$work/stage").schema
    def drainOnce(): DataFrame = drain(s, work,
      hourlyCents(s.readStream.schema(srcSchema).parquet(s"$work/src")
        .withWatermark("ts", "2 hours")),
      Sink.Zone, tableBytes(dir, "events"))
    // The outage script: half the backlog, drain, the rest, drain
    // again on the same checkpoint.
    publish(parts.take(2), 1700000000000L)
    drainOnce()
    publish(parts.drop(2), 1700003600000L)
    drainOnce().orderBy($"wstart", $"event_type")
  }

  val oracles: Map[String, String] = Map(
    "st18_checkpoint_recovery" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
         SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events, wm
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "st17_rate_limited" ->
      """SELECT CAST(4 AS BIGINT) AS n_batches, count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(2 AS BIGINT) AS min_buckets,
                CAST(2 AS BIGINT) AS max_buckets
         FROM documents""",
    "st16_statestore_read" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
         SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events, wm
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > w
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "st15_stream_curation" ->
      s"""WITH ${graft.text.TextOps.qualityMaskCtes}
          SELECT d.source AS source, count(*) AS n_docs,
                 CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
                 CAST(bit_xor(d.doc_id) AS BIGINT) AS id_checksum
          FROM documents d JOIN qmask q ON d.doc_id = q.doc_id
          WHERE q.reason_mask = 0
          GROUP BY 1 ORDER BY source""",
    // st12: q40's batch sessions, restricted to sessions CLOSED under
    // the final watermark (session end = last event + gap).
    "st12_session_window" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
         e AS (
           SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, cents,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM e),
         g AS (
           SELECT user_id, min(ts) AS session_start,
                  max(ts) + INTERVAL 30 MINUTE AS session_end,
                  count(*) AS n_events,
                  CAST(sum(cents) AS BIGINT) AS sum_value_c
           FROM s GROUP BY user_id, sid)
         SELECT g.* FROM g, wm WHERE g.session_end <= wm.w
         ORDER BY user_id, session_start""",
    // st11: matches always emit; a null-extended view emits only once
    // the final watermark (max ts - 2h) passes the end of its match
    // window (v_ts + 1h).
    "st11_stream_outer_join" ->
      """WITH mx AS (
           SELECT max(CASE WHEN event_type = 'view' THEN ts END) AS mv,
                  max(CASE WHEN event_type = 'purchase' THEN ts END) AS mp
           FROM events),
         wm AS (
           -- min across the two watermarked sides (same rule as st21):
           -- max(all ts) would overshoot whenever the sides' maxes
           -- differ. A side with zero rows must yield NULL (watermark
           -- never advances, no unmatched rows emit) — least() skips
           -- NULL args, so gate it with an explicit CASE.
           SELECT CASE WHEN mv IS NULL OR mp IS NULL THEN NULL
                       ELSE least(mv, mp) - INTERVAL 2 HOUR END AS w
           FROM mx),
         v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
         j AS (SELECT v.user_id AS user_id, v.ts AS v_ts, p.event_id AS p_id
               FROM v LEFT JOIN p
                 ON p.user_id = v.user_id
                AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
         SELECT user_id,
                CAST(sum(CASE WHEN p_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN p_id IS NULL
                               AND v_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_closed
         FROM j GROUP BY 1
         HAVING sum(CASE WHEN p_id IS NOT NULL THEN 1 ELSE 0 END) > 0
             OR sum(CASE WHEN p_id IS NULL
                          AND v_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
                         THEN 1 ELSE 0 END) > 0
         ORDER BY user_id""",
    // st19: right outer = matched pairs (eager) + unmatched purchases
    // gated by st21's purchase-side closure rule (p_ts < W).
    "st19_stream_right_outer" ->
      """WITH mx AS (
           SELECT max(CASE WHEN event_type = 'view' THEN ts END) AS mv,
                  max(CASE WHEN event_type = 'purchase' THEN ts END) AS mp
           FROM events),
         wm AS (
           SELECT CASE WHEN mv IS NULL OR mp IS NULL THEN NULL
                       ELSE least(mv, mp) - INTERVAL 2 HOUR END AS w
           FROM mx),
         v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
         j AS (SELECT p.user_id AS user_id, p.ts AS p_ts, v.event_id AS v_id
               FROM p LEFT JOIN v
                 ON p.user_id = v.user_id
                AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
         SELECT user_id,
                CAST(sum(CASE WHEN v_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN v_id IS NULL
                               AND p_ts < (SELECT w FROM wm)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases_unmatched
         FROM j GROUP BY 1
         HAVING sum(CASE WHEN v_id IS NOT NULL THEN 1 ELSE 0 END) > 0
             OR sum(CASE WHEN v_id IS NULL
                          AND p_ts < (SELECT w FROM wm)
                         THEN 1 ELSE 0 END) > 0
         ORDER BY user_id""",
    // st21: full outer = matched pairs (eager) + both unmatched classes,
    // each gated by its own closed-window rule vs the final watermark.
    "st21_stream_full_outer" ->
      """WITH mx AS (
           SELECT max(CASE WHEN event_type = 'view' THEN ts END) AS mv,
                  max(CASE WHEN event_type = 'purchase' THEN ts END) AS mp
           FROM events),
         wm AS (
           -- the query's global watermark is the MIN across the two
           -- watermarked sides, each computed from the rows that side
           -- actually saw (post event_type filter) — NOT max over all
           -- events. An empty side must yield a NULL watermark (Spark's
           -- min watermark never advances → no unmatched rows), so use
           -- a CASE instead of NULL-skipping least().
           SELECT CASE WHEN mv IS NULL OR mp IS NULL THEN NULL
                       ELSE least(mv, mp) - INTERVAL 2 HOUR END AS w
           FROM mx),
         v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
         j AS (SELECT v.user_id AS vu, p.user_id AS pu, v.ts AS v_ts, p.ts AS p_ts,
                      v.event_id AS v_id, p.event_id AS p_id
               FROM v FULL JOIN p
                 ON p.user_id = v.user_id
                AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR),
         cls AS (SELECT coalesce(vu, pu) AS user_id,
                        CASE WHEN v_id IS NOT NULL AND p_id IS NOT NULL
                             THEN 1 ELSE 0 END AS m,
                        CASE WHEN v_id IS NOT NULL AND p_id IS NULL
                              AND v_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
                             THEN 1 ELSE 0 END AS uv,
                        CASE WHEN v_id IS NULL
                              AND p_ts < (SELECT w FROM wm)
                             THEN 1 ELSE 0 END AS up
                 FROM j)
         SELECT user_id, CAST(sum(m) AS BIGINT) AS n_pairs,
                CAST(sum(uv) AS BIGINT) AS n_views_unmatched,
                CAST(sum(up) AS BIGINT) AS n_purchases_unmatched
         FROM cls GROUP BY 1
         HAVING sum(m) > 0 OR sum(uv) > 0 OR sum(up) > 0
         ORDER BY user_id""",
    // st20: semi emits each matched view once, eagerly -> oracle is the
    // plain batch EXISTS over the same interval condition.
    "st20_stream_semi_join" ->
      """SELECT v.user_id AS user_id,
                count(*) AS n_converted_views,
                CAST(bit_xor(v.event_id) AS BIGINT) AS view_id_checksum
         FROM events v
         WHERE v.event_type = 'view' AND EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
             AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
         GROUP BY 1 ORDER BY user_id""",
    // st9: inner stream-stream join emits every match during the drain
    // (watermarks bound state, not the inner-join result) -> oracle is
    // the plain batch interval join.
    "st9_stream_stream_join" ->
      """SELECT v.user_id AS user_id, count(*) AS n_pairs,
                count(DISTINCT v.event_id) AS n_views_converted,
                count(DISTINCT p.event_id) AS n_purchases_attributed
         FROM events v JOIN events p
           ON p.user_id = v.user_id AND v.event_type = 'view'
          AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
         GROUP BY 1 ORDER BY user_id""",
    // st8: inner join to the customer dim then the same closed-window
    // filter as st4 (append emits when window.end <= final watermark).
    "st8_stream_static_join" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
         SELECT date_trunc('hour', e.ts) AS wstart, c.c_mktsegment,
                count(*) AS n,
                CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events e JOIN customer c ON e.user_id = c.c_custkey, wm
         WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= wm.w
         GROUP BY 1, 2 ORDER BY wstart, c_mktsegment""",
    // st7: update-mode emission covers every window; the upsert sink
    // converges to exactly the batch aggregation.
    "st7_foreachbatch_upsert" -> (
      """SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events GROUP BY 1, 2 ORDER BY wstart, event_type"""),
    // st5: sliding 2h/1h — every event belongs to the two windows
    // starting at trunc_hour(ts)-1h and trunc_hour(ts); append emits
    // only windows closed under the final watermark.
    "st5_sliding_watermark" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
         e AS (SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                              date_trunc('hour', ts)]) AS wstart,
                      event_type, value
               FROM events)
         SELECT wstart, event_type, count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM e, wm
         WHERE wstart + INTERVAL 2 HOUR <= w
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
    // st6: double delivery + dedup == single delivery; dedup keys are
    // unique at gate SF (verified), min() keeps the oracle total even
    // if a dirtier SF introduces true key dups.
    "st6_stream_dedup" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
         d AS (SELECT event_id, min(ts) AS ts, min(event_type) AS event_type,
                      min(value) AS value
               FROM events GROUP BY event_id)
         SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM d, wm
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "st1_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "st14_stream_topk" ->
      """WITH h AS (
           SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
           FROM events GROUP BY 1, 2)
         SELECT wstart, event_type, n, sum_value_c FROM (
           SELECT *, row_number() OVER (PARTITION BY wstart
                       ORDER BY n DESC, event_type) AS rn
           FROM h)
         WHERE rn <= 3 ORDER BY wstart, n DESC, event_type""",
    // st13: anti-join survivors (event_id not in the mod-3 "seen" log),
    // windows closed under the final watermark, as st4
    "st13_stream_anti_join" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
         SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events, wm
         WHERE event_id % 3 <> 0
           AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
    // st4: only windows CLOSED under the final watermark (= max ts - 2h)
    // are emitted in append mode; Spark finalizes a window when
    // watermark >= window.end (verified against the operator: eviction
    // predicate is window.end <= watermark).
    "st4_watermark_append" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
         SELECT date_trunc('hour', ts) AS wstart, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events, wm
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1_stream_hourly" -> st1StreamHourly _,
    "st14_stream_topk" -> st14StreamTopK _,
    "st13_stream_anti_join" -> st13StreamAntiJoin _,
    "st15_stream_curation" -> st15StreamCuration _,
    "st4_watermark_append" -> st4WatermarkAppend _,
    "st16_statestore_read" -> st16StateStoreRead _,
    "st17_rate_limited" -> st17RateLimitedDrain _,
    "st18_checkpoint_recovery" -> st18CheckpointRecovery _,
    "st5_sliding_watermark" -> st5SlidingWatermark _,
    "st6_stream_dedup" -> st6StreamDedup _,
    "st7_foreachbatch_upsert" -> st7ForeachBatchUpsert _,
    "st8_stream_static_join" -> st8StreamStaticJoin _,
    "st9_stream_stream_join" -> st9StreamStreamJoin _,
    "st11_stream_outer_join" -> st11StreamOuterJoin _,
    "st20_stream_semi_join" -> st20StreamSemiJoin _,
    "st19_stream_right_outer" -> st19StreamRightOuter _,
    "st21_stream_full_outer" -> st21StreamFullOuterJoin _,
    "st12_session_window" -> st12SessionWindow _,
  )
}
