package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._


/** ST-3 — custom-state streaming: gap-based sessionization via
  * `flatMapGroupsWithState` over the event stream. This is the
  * arbitrary-state API a live pipeline would use (state = the open
  * session per user, emitted when the 30-min gap closes); under
  * `Trigger.AvailableNow` the replay drains in one batch, so every
  * session closes and the output equals the batch sessionization
  * (q22) — which is exactly the oracle it shares.
  */
object Stateful {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  case class SessionOut(
      user_id: Long, session_seq: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp, session_value_c: Long)

  /** Open-session state: (seq, events-so-far summary). */
  case class OpenSession(
      seq: Long, n: Long, startMs: Long, lastMs: Long, valueC: Long)

  private val GapSeconds = 1800L

  private def truncSec(ms: Long): Long = math.floorDiv(ms, 1000L) * 1000L

  /** The per-group transition: fold time-ordered events into sessions,
    * carrying the open session in GroupState between invocations. */
  def sessionize(
      uid: Long, events: Iterator[Ev], state: GroupState[OpenSession]): Iterator[SessionOut] = {
    val sorted = events.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var open = state.getOption
    val out = Seq.newBuilder[SessionOut]
    def close(s: OpenSession): Unit =
      out += SessionOut(uid, s.seq, s.n, new Timestamp(truncSec(s.startMs)),
        new Timestamp(truncSec(s.lastMs)), s.valueC)
    sorted.foreach { e =>
      val ms = e.ts.getTime
      val cents = math.round(e.value * 100)
      open match {
        case Some(s) if math.floorDiv(ms, 1000L) - math.floorDiv(s.lastMs, 1000L) > GapSeconds =>
          close(s)
          open = Some(OpenSession(s.seq + 1, 1, ms, ms, cents))
        case Some(s) =>
          open = Some(s.copy(n = s.n + 1, lastMs = ms, valueC = s.valueC + cents))
        case None =>
          open = Some(OpenSession(0, 1, ms, ms, cents))
      }
    }
    // AvailableNow replay: the single batch holds the whole history, so
    // the trailing open session is final — emit it. (A live stream
    // would instead set a timeout and emit on expiry.)
    open.foreach(close)
    state.remove()
    out.result().iterator
  }

  def st3StatefulSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val plan = eventsByUser(s, dir)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionize)
      .toDF()
    Stream.drain(s, Stream.workDir("graft_st3_"), plan, Stream.Sink.Memory("append"),
      Stream.tableBytes(dir, "events")).orderBy(col("user_id"), col("session_seq"))
  }

  /** The event stream as typed [[Ev]] rows, grouped by user. */
  private def eventsByUser(s: SparkSession, dir: String) = {
    import s.implicits._
    graft.io.Tables.eventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
  }

  /** Running per-user totals carried in a [[ValueState]] between
    * micro-batches (ST-10 state). */
  case class Totals(n: Long, sumC: Long)
  case class UserTotal(user_id: Long, n_events: Long, sum_value_c: Long)

  /** ST-10's processor: the Spark 4 `transformWithState` arbitrary-state
    * API (the successor to flatMapGroupsWithState used by st3) — typed
    * state handles, explicit TTL config, timer support, RocksDB-backed.
    * Emits the updated running total for each key touched in a batch. */
  class RunningTotals extends StatefulProcessor[Long, Ev, UserTotal] {
    @transient private var totals: ValueState[Totals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[Totals](
        "totals", org.apache.spark.sql.Encoders.product[Totals], TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[Ev], tv: TimerValues): Iterator[UserTotal] = {
      val prev = if (totals.exists()) totals.get() else Totals(0L, 0L)
      var n = prev.n
      var sc = prev.sumC
      rows.foreach { e => n += 1; sc += math.round(e.value * 100) }
      totals.update(Totals(n, sc))
      Iterator.single(UserTotal(key, n, sc))
    }
  }

  /** ST-10 — `transformWithState` (Spark 4's arbitrary stateful
    * processing v2): running per-user event count + cents total. The
    * operator requires the RocksDB state store provider (set for this
    * query, restored after) — which is also the provider a production
    * deployment runs, state spilling to disk instead of executor heap.
    * Update-mode emissions land in a memory sink; the per-user COUNT is
    * strictly increasing across emissions, so the final state is
    * `max_by(count)` per user — invariant to how AvailableNow splits
    * the replay into batches. Oracle = the batch per-user aggregation. */
  def st10TransformWithState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val plan = eventsByUser(s, dir)
      .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Update())
      .toDF()
    Stream.drain(s, Stream.workDir("graft_st10_"), plan, Stream.Sink.Memory("update"),
      Stream.tableBytes(dir, "events"), Stream.StateKind.RocksDB)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        expr("max_by(sum_value_c, n_events)").as("sum_value_c"))
      .orderBy(col("user_id"))
  }

  /** Same output contract as q22 — shares its oracle. */
  val oracles: Map[String, String] = Map(
    "st3_stateful_sessions" -> graft.analytics.Advanced.oracles("q22_sessionize"),
    "st10_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
         FROM events GROUP BY 1 ORDER BY user_id""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st3_stateful_sessions" -> st3StatefulSessions _,
    "st10_transform_with_state" -> st10TransformWithState _,
  )
}
