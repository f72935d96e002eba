package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.io.{SessionMemo, Tables}

/** X-9 — bucketed co-located join: the shuffle-FREE fact-to-fact join.
  *
  * At 100 TB the dominant cost of `lineitem ⋈ orders` is the exchange:
  * both sides repartition on the key every time the join runs. Bucketing
  * moves that shuffle to WRITE time, once: both tables are written
  * `bucketBy(N, key)` (hash-partitioned into N files per directory,
  * recorded in the catalog), and every subsequent join on the key reads
  * bucket i against bucket i directly — the planner proves the
  * co-partitioning from catalog metadata and plans a SortMergeJoin with
  * NO Exchange on either side (PlanSpec asserts exactly that). This is
  * the batch analogue of the reference's "load once, query many"
  * serving tables (`elt/load/load_aktivitas_to_neon.py:81-86`): pay
  * layout cost at ingest, amortize over every downstream query.
  *
  * Table names are uniquified per invocation (the in-memory catalog is
  * session-scoped); data lands under a swept graft_ temp dir. The
  * `merge` hint pins SortMergeJoin so the demonstration doesn't degrade
  * to a broadcast at toy SF — at 100 TB neither side broadcasts anyway.
  */
object Bucketing {

  val NumBuckets = 8

  /** The raw bucketed join (pre-aggregation) — shared by the gate entry
    * and the no-Exchange plan spec. */
  /** Drop catalog entries left by PRIOR invocations (the result frame is
    * lazy, so an invocation can't drop its own tables — the consumer
    * hasn't collected yet). Run alongside the temp-dir sweep so the
    * catalog never accumulates and never dangles past the data sweep.
    * Tables still backing a layout in the memo are EXEMPT: a layout for
    * another (session, dir) may back a lazy frame the caller has not
    * collected yet — sweeping by name prefix alone would pull the data
    * out from under it. A memoized layout whose data is already gone
    * shields nothing (the x9 tables are metastore-shared, so any
    * session can check them), or dangling catalog tables would grow
    * without bound across sessions. */
  private def sweepOldTables(s: SparkSession): Unit = {
    val live = SessionMemo.values("x9Layout").collect { case l: Layout => l.tables }
      .flatten.flatMap { case (o, li) => Seq(o, li) }.filter(alive(s, _)).toSet
    s.catalog.listTables().collect()
      .map(_.name)
      .filter(n => n.startsWith("x9_orders_") || n.startsWith("x9_lineitem_"))
      .filterNot(live)
      .foreach(n => s.sql(s"DROP TABLE IF EXISTS `$n`"))
  }

  /** The bucketed (orders, lineitem) table pair of one session and input
    * version: "pay layout once, amortize over every join" is the POINT
    * of bucketing, so repeated invocations reuse the bucketed tables
    * instead of rewriting them (the rewrite-every-call form made the
    * bench measure the write, not the amortized join). */
  private final class Layout { @volatile var tables: Option[(String, String)] = None }

  // both catalog entries AND live backing files (sweepOldWorkDirs
  // reclaims data dirs >1h old out from under the catalog — a dangling
  // entry must rebuild, not fail downstream)
  private def alive(s: SparkSession, t: String): Boolean = s.catalog.tableExists(t) &&
    scala.util.Try(s.table(t).inputFiles.nonEmpty).getOrElse(false)

  private[graft] def bucketedJoinRaw(s: SparkSession, dir: String): DataFrame = {
    val layout = SessionMemo(s, "x9Layout",
      Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet"))(new Layout)
    val (to, tl) = layout.synchronized {
      layout.tables.filter { case (o, l) => alive(s, o) && alive(s, l) }.getOrElse {
        graft.pipeline.Pipeline.sweepOldWorkDirs()
        sweepOldTables(s)
        val work = java.nio.file.Files.createTempDirectory("graft_x9_").toString
        val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
        val o = s"x9_orders_$tag"
        val l = s"x9_lineitem_$tag"
        Tables.orders(s, dir)
          .select($"o_orderkey", $"o_orderstatus",
            round($"o_totalprice" * 100).cast("bigint").as("price_c"))
          .write.bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$work/orders").saveAsTable(o)
        Tables.lineitem(s, dir)
          .select($"l_orderkey", round($"l_quantity" * 100).cast("bigint").as("qty_c"))
          .write.bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$work/lineitem").saveAsTable(l)
        layout.tables = Some((o, l))
        (o, l)
      }
    }
    s.table(tl).hint("merge")
      .join(s.table(to), $"l_orderkey" === $"o_orderkey")
  }

  def x9BucketedJoin(s: SparkSession, dir: String): DataFrame =
    bucketedJoinRaw(s, dir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"qty_c").as("sum_qty_c"),
        sum($"price_c").as("sum_price_c"))
      .orderBy($"o_orderstatus")

  /** X-11 — exchange reuse: pay ONE shuffle, feed multiple consumers.
    *
    * X-9 amortizes the shuffle across QUERIES (layout at write time);
    * this amortizes it WITHIN a query: `repartition(key)` once, then
    * two different aggregations and the join of their results all run
    * on that single exchange. Catalyst's ReuseExchange rule (and AQE's
    * stage reuse) proves the two exchange subtrees identical and scans
    * the shuffle output twice; both groupBys then satisfy their
    * distribution requirement with NO further exchange, and the final
    * join of the two aggregates is co-partitioned for free. At 100 TB
    * this is the difference between one 100 TB shuffle and three.
    * PlanSpec asserts: exactly one real fact-side exchange, a reused
    * stage, and no exchange above either aggregate.
    */
  def x11ExchangeReuse(s: SparkSession, dir: String): DataFrame = {
    // Both consumers aggregate over the SAME column set {custkey, cents,
    // urgent} — if the branches needed different columns, Catalyst's
    // column pruning would specialize each branch's scan and the two
    // exchange subtrees would no longer canonicalize equal (two narrower
    // shuffles instead of one reused one — the pruning/reuse trade).
    val o = Tables.orders(s, dir)
      .select($"o_custkey",
        round($"o_totalprice" * 100).cast("bigint").as("cents"),
        when($"o_orderpriority".like("1%"), 1L).otherwise(0L).as("urgent"))
      .repartition($"o_custkey")
    val counts = o.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum($"urgent").cast("bigint").as("n_urgent"),
        min($"cents").cast("bigint").as("min_cents"))
    val sums = o.groupBy($"o_custkey")
      .agg(sum($"cents").cast("bigint").as("sum_cents"),
        max($"cents").cast("bigint").as("max_cents"),
        max($"urgent").cast("bigint").as("any_urgent"))
    counts.join(sums, "o_custkey").orderBy($"o_custkey")
  }

  val oracles: Map[String, String] = Map(
    "x11_exchange_reuse" ->
      """SELECT o_custkey, count(*) AS n_orders,
                CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_urgent,
                CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
                CAST(max(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT)
                  AS any_urgent
         FROM orders GROUP BY 1 ORDER BY o_custkey""",
    "x9_bucketed_join" ->
      """SELECT o.o_orderstatus, count(*) AS n,
                CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY o_orderstatus""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x9_bucketed_join" -> x9BucketedJoin _,
    "x11_exchange_reuse" -> x11ExchangeReuse _,
  )
}
