package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry}
import graft.ops.Snapshot
import graft.pipeline.Pipeline
import graft.prescriptive.Scoring

/** One entry's output inside an op: its digest and row count. */
final case class Out(entry: String, hash: Long, rows: Long)

/** A workload: the ops of one pass and how each runs. Every op consumes
  * its whole output with [[Bench.consumeAll]] inside the timed call. */
abstract class Workload(val dir: String, val work: String) {
  /** Tables the workload reads: counted at set-up, and the source bytes
    * `write_amp` divides by. */
  def inputs: Seq[String]
  /** The op names of one pass, in the order one client issues them. */
  def pass(rnd: scala.util.Random): Seq[String]
  /** True if a pass is also issued by concurrent clients (refresh_s). */
  def refreshes: Boolean = false
  /** Untimed passes before the measured window, the first included. */
  def warmupPasses: Int = 1
  /** Rounds the measured window runs for `seconds` (a round is one
    * single-client pass, then one refresh if the workload refreshes): a
    * fixed count, sized from a warm pass's time on a 4-vCPU machine, not
    * a time box. The JVM keeps warming up through the window (a card
    * pass still gets faster after 40 s), so a time box would let a
    * slower machine measure fewer, colder ops, and its medians would move
    * by more than the slowdown. */
  def measuredPasses(seconds: Double): Int
  /** `seconds` in units of `each`, at least `least`. */
  protected def fit(seconds: Double, each: Double, least: Int): Int =
    math.max(least, math.round(seconds / each).toInt)
  /** Entries whose first-pass output is compared with the engine's
    * DuckDB oracle. */
  def oracled: Seq[String]
  def run(s: SparkSession, op: String, t: Tracer, id: Int, first: Boolean = false): Seq[Out]
  /** Reference digest and row count per entry; every op must match. */
  def reference(s: SparkSession, first: Seq[Out]): Map[String, (Long, Long)] =
    first.map(o => o.entry -> (o.hash -> o.rows)).toMap
  /** A workload's own invariant, checked after each op outside its timer. */
  def verify(s: SparkSession, outs: Seq[Out]): Option[String] = None

  protected def consumed(s: SparkSession, t: Tracer, id: Int, span: String, entry: String,
      first: Boolean)(df: => DataFrame): Out =
    t.span(id, span) {
      val d = df
      val (h, n) =
        if (first && oracled.contains(entry)) Workload.keep(s, d, s"$work/refs/$entry")
        else Bench.consumeAll(d)
      Out(entry, h, n)
    }
}

object Workload {
  /** Writes `df` for the oracle check and digests what was written, so
    * the oracle and the timed ops' digests see the same rows. */
  def keep(s: SparkSession, df: DataFrame, path: String): (Long, Long) = {
    df.write.mode("overwrite").parquet(path)
    Bench.consumeAll(s.read.parquet(path))
  }

  def apply(name: String, dir: String, work: String): Workload = name match {
    case "medallion" => new Medallion(dir, work)
    case "dashboard" => new Dashboard(dir, work)
    case "curation" => new Curation(dir, work)
    case other => sys.error(s"unknown workload $other")
  }
}

/** The hourly medallion DAG: one `Pipeline.run` per op, reusing one
  * work dir the way the DAG reuses its zones. */
final class Medallion(dir: String, work: String) extends Workload(dir, work) {
  val zones = s"$work/zones"
  private var appends = 0L
  private var curatedRows = -1L
  def inputs = Seq("lineitem", "orders", "events", "part")
  def pass(rnd: scala.util.Random) = Seq("pipeline")
  // the JIT is still speeding the second op up
  override def warmupPasses = 2
  // a warm op takes 2.7 s; at least three, so one op slowed by a burst
  // on the machine cannot set the median
  def measuredPasses(seconds: Double) = fit(seconds, 2.7, 3)
  def oracled = Seq("o30_prescriptive")
  def run(s: SparkSession, op: String, t: Tracer, id: Int, first: Boolean): Seq[Out] =
    Seq(consumed(s, t, id, "pipeline.run", "p1_pipeline_e2e", first)(
      Pipeline.run(s, dir, zones)))
  // the shared p1/o30 oracle: the zone round trip must be value-exact
  override def reference(s: SparkSession, first: Seq[Out]) = {
    val (h, n) = Workload.keep(s, Scoring.hygieneScore(s, dir), s"$work/refs/o30_prescriptive")
    curatedRows = n
    Map("p1_pipeline_e2e" -> (h -> n))
  }
  override def verify(s: SparkSession, outs: Seq[Out]) = {
    appends += 1
    val hist = Snapshot.readZone(s, s"$zones/serving/rekomendasi_history").count()
    if (hist != appends * curatedRows)
      Some(s"serving history holds $hist rows after $appends appends of $curatedRows")
    else None
  }
}

object Dashboard {
  /** The 17 Metabase cards, q1…q17. */
  val cards: Seq[String] = (1 to 17).map(i => SparkEntry.queries.keys
    .find(_.startsWith(s"q${i}_")).getOrElse(sys.error(s"no card q$i")))
}

/** The Metabase dashboard: one card per op over a shared session. */
final class Dashboard(dir: String, work: String) extends Workload(dir, work) {
  import Dashboard.cards
  def inputs = Seq("lineitem", "orders", "events")
  def pass(rnd: scala.util.Random) = rnd.shuffle(cards)
  override def refreshes = true
  override def warmupPasses = 2
  // a round (a warm pass, 3.3 s, and a refresh, 1.5 s) takes 5 s; at
  // least four, so each card has four latencies and op_p95_ms is not one
  // card's single outlier
  def measuredPasses(seconds: Double) = fit(seconds, 5, 4)
  def oracled = cards
  def run(s: SparkSession, op: String, t: Tracer, id: Int, first: Boolean): Seq[Out] =
    Seq(consumed(s, t, id, s"analytics.$op", op, first)(SparkEntry.queries(op)(s, dir)))
}

/** The training-data job, cold for every op: a fresh session after the
  * cache is cleared, so no earlier op's memo serves it. One op is the
  * dedup-to-curation chain, then the at-least-once ingest dedup drain
  * (the stateful streaming path). */
final class Curation(dir: String, work: String) extends Workload(dir, work) {
  val chain = Seq(
    "d2_minhash_sig" -> "dedup.sig", "d3_lsh_pairs" -> "dedup.pairs",
    "d8_lsh_jaccard" -> "dedup.verify", "d14_dedup_verdict" -> "dedup.verdict",
    "d19_cluster_split" -> "dedup.cluster", "p4_curation_pipeline" -> "text.curation",
    "st6_stream_dedup" -> "streaming.drain")
  def inputs = Seq("documents", "embeddings", "events")
  def pass(rnd: scala.util.Random) = Seq("chain")
  // one op takes 12 s
  def measuredPasses(seconds: Double) = fit(seconds, 12, 1)
  def oracled = Seq("p4_curation_pipeline", "st6_stream_dedup")
  def run(s: SparkSession, op: String, t: Tracer, id: Int, first: Boolean): Seq[Out] = {
    s.catalog.clearCache()
    val fresh = s.newSession()
    t.attach(fresh)
    chain.map { case (entry, span) =>
      consumed(fresh, t, id, span, entry, first)(SparkEntry.queries(entry)(fresh, dir))
    }
  }
}
