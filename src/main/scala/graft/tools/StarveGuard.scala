package graft.tools

import org.apache.spark.sql.SparkSession

/** Scan-starvation preflight for timed `Entry` runs (r15 verdict
  * task 4). t14 shipped 4.7× slow for TWO rounds because its sf100
  * documents file had 5 row groups — parquet assigns each row group to
  * the byte-split containing its start, so the scan stage ran 5-wide
  * on a 32-core box and nobody noticed until ProbeSplits was pointed
  * at it by hand. A timed `Entry` run now refuses to
  * PIN a number for an entry whose input table's effective scan width
  * is a small fraction of the cores: a starved run must be a loud
  * refusal with a widen-eligible message, never a silently recorded
  * "regression".
  *
  * What counts as starved: the table file is big enough that scan
  * compute can dominate ([[minBytes]], default 256 MB — gate SFs and
  * sf10 never trip) AND its effective split count
  * ([[graft.io.Tables.effectiveScanSplits]] = min(planned splits,
  * footer row groups)) is at or under a QUARTER of the cores. The
  * quarter, not mere inequality: every large single-file table is
  * somewhat row-group-bound (sf100 events: 12 groups vs 32 cores)
  * without the scan being the bottleneck — the t14 failure class is
  * the file that serializes most of the box (5 of 32), not the one
  * that merely wastes some of it.
  *
  * Which tables are checked: the entry's FAMILY maps to the tables it
  * reads ([[tablesFor]]) — checking every table in the dir would block
  * an events-family streaming panel on an unrelated starved documents
  * file sitting in the same dir. The map is coarse by design; a table
  * missing from the dir probes as 0 bytes and is skipped.
  *
  * Override: SPARK_GRAFT_STARVE_FORCE=1 — for entries that ride a
  * widen seam (`Tables.widened` repartitions a scan to the width its
  * file bytes ask for, at most the core count, for order-independent
  * consumers: t4/t14/t15/t17/t18/simhash/shingles/d17; `Ann.corpus`
  * widens a starved embeddings scan to all cores): every table this
  * guard can trip on (≥ 256 MB) asks for all the cores, so after the
  * widen exchange the scan runs full-width even though the raw layout
  * trips the guard. */
object StarveGuard {
  /** Longest-prefix-first entry-family → input-table map. */
  private[graft] val FamilyTables: Seq[(String, Seq[String])] = Seq(
    "st15" -> Seq("documents"), "st17" -> Seq("documents"),
    "st8" -> Seq("events", "customer"),
    "st" -> Seq("events"),
    "p" -> Seq("events", "documents"),
    "t" -> Seq("documents"), "d15" -> Seq("embeddings"),
    "d" -> Seq("documents"),
    "s" -> Seq("embeddings"), "m" -> Seq("documents"),
    "mt" -> Seq("events", "orders"),
    "x" -> Seq("events", "orders", "lineitem"),
    "q" -> Seq("events"), "o" -> Seq("events"))

  private[graft] def tablesFor(entry: String): Seq[String] =
    FamilyTables.sortBy(-_._1.length)
      .collectFirst { case (p, ts) if entry.startsWith(p) => ts }
      .getOrElse(Seq("events"))

  private[graft] val DefaultMinBytes: Long =
    sys.env.get("SPARK_GRAFT_STARVE_MIN_MB")
      .map(_.toLong << 20).getOrElse(256L << 20)

  /** The starved (table, effectiveSplits, bytes) triples for `entry`'s
    * input tables under `dir` — empty means the run may be pinned.
    * `minBytes` is injectable for the spec (writing 256 MB of parquet
    * in a unit test to trip the default threshold is not a test). */
  private[graft] def starvedTables(s: SparkSession, entry: String,
      dir: String, minBytes: Long = DefaultMinBytes)
      : Seq[(String, Int, Long)] = {
    val cores = s.sparkContext.defaultParallelism
    tablesFor(entry).flatMap { t =>
      val bytes = graft.streaming.Stream.tableBytes(dir, t)
      if (bytes < minBytes) None
      else {
        val eff = graft.io.Tables.effectiveScanSplits(s, dir, t)
        if (eff.toLong * 4 <= cores) Some((t, eff, bytes)) else None
      }
    }
  }

  /** Entry's prelude: print one STARVED line per starved input
    * table and refuse (exit 3) unless SPARK_GRAFT_STARVE_FORCE=1. A
    * clean check prints nothing. */
  def check(s: SparkSession, entry: String, dir: String): Unit = {
    val starved = starvedTables(s, entry, dir)
    if (starved.nonEmpty) {
      val cores = s.sparkContext.defaultParallelism
      starved.foreach { case (t, eff, bytes) =>
        println(f"STARVED entry=$entry table=$t dir=$dir " +
          f"effectiveSplits=$eff cores=$cores bytes=${bytes / 1e9}%.2fGB — " +
          "widen-eligible: the scan stage would run at a fraction of the " +
          "box; rewrite the table as multiple files / more row groups, or " +
          "(if every consumer rides the Tables.widened seam) " +
          "force with SPARK_GRAFT_STARVE_FORCE=1")
      }
      if (!sys.env.get("SPARK_GRAFT_STARVE_FORCE").contains("1")) {
        System.err.println(s"StarveGuard refusing to time $entry on $dir: " +
          s"${starved.map(_._1).mkString(",")} starved (see STARVED lines). " +
          "SPARK_GRAFT_STARVE_FORCE=1 overrides.")
        sys.exit(3)
      }
    }
  }
}
