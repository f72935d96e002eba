package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.syntax._
import graft.io.Tables

/** Advanced analytic operators beyond the reference's dashboard surface
  * (SURVEY.md §2.8 end-note: distinct/binning were the probed stretch;
  * these complete the classic OLAP toolbox). All partial-agg / window
  * shapes — no O(n²), no collects.
  */
object Advanced {

  /** Q-18 — exact interpolated percentiles (p50/p90/p99).
    *
    * r16 used ONE `percentile(col, array(...))` (shared value-count
    * buffer; 1.09 → 0.75 s). r17 replaces the built-in outright with
    * the distributed selection kernel ([[ExactPercentile]] — approx
    * bracket, exact rank arithmetic, bit-identical interpolation): the
    * built-in's remaining cost was its value→count map of every
    * distinct o_totalprice built and sorted on ONE task, the exact
    * shape that cannot scale past a single executor at 100 TB. The
    * kernel's three passes are all parallel and its only sort is over
    * the ≈0.2 %-of-input bracket windows. */
  def q18Percentile(s: SparkSession, dir: String): DataFrame =
    ExactPercentile.of(Tables.orders(s, dir), $"o_totalprice",
        Seq(0.5, 0.9, 0.99))
      .select(
        round($"p_0", 4).as("p50"),
        round($"p_1", 4).as("p90"),
        round($"p_2", 4).as("p99"))

  /** Q-19 — ROLLUP hierarchy totals (status → priority → grand). */
  def q19Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("bigint")).as("total_c"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)

  /** Q-20 — semi/anti joins: customers with vs without orders. */
  def q20SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).select($"o_custkey".as("c_custkey"))
    val withOrders = c.join(o, Seq("c_custkey"), "left_semi").agg(count(lit(1)).as("n"))
      .select(lit("with_orders").as("grp"), $"n")
    val withoutOrders = c.join(o, Seq("c_custkey"), "left_anti").agg(count(lit(1)).as("n"))
      .select(lit("without_orders").as("grp"), $"n")
    withOrders.unionAll(withoutOrders).orderBy($"grp")
  }

  /** Q-21 — running/frame window functions: per-supplier running
    * revenue + delta vs previous shipment. Window order is made total
    * by (shipdate, orderkey, linenumber), so the running fp sums
    * accumulate in the same sequence in both engines (rounded anyway:
    * DuckDB's segment-tree window sums may associate differently). */
  /** Q-30 — time-RANGE window frame: per event type, the trailing-1h
    * moving aggregate at each event's timestamp (`RANGE BETWEEN
    * INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`). The frame is defined
    * by the TIME AXIS, not row offsets, so rows with equal timestamps
    * share one frame — deterministic under any partition order; sums
    * are exact integer cents. The complementary shape to Q-21's
    * rows-frame running sum. Output is a per-hour digest (count + cents
    * + sum of per-row moving counts) rather than 10k per-row values. */
  def q30MovingRange(s: SparkSession, dir: String): DataFrame = {
    // order by MICROSECONDS in both engines (Spark ts is ns-truncated
    // to us; the oracle casts DuckDB's ns timestamp down to us) so the
    // two frames contain identical row sets at every boundary
    val w = Window.partitionBy($"event_type")
      .orderBy(unix_micros($"ts"))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    Tables.events(s, dir)
      .select($"event_type", $"ts",
        round($"value" * 100).cast("bigint").as("cents"))
      .select($"event_type", $"ts",
        sum($"cents").over(w).as("mov_cents"),
        count(lit(1)).over(w).as("mov_n"))
      .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
      .agg(count(lit(1)).as("n"), sum($"mov_cents").as("sum_mov_cents"),
        sum($"mov_n").as("sum_mov_n"))
      .orderBy($"event_type", $"bucket")
  }

  /** Q-47 — VALUE-range window frame: for each order, the count/total
    * of the same customer's orders priced within $500 BELOW it (`RANGE
    * BETWEEN 50000 PRECEDING AND CURRENT ROW` over integer cents).
    * Q-21 frames by row offsets and Q-30 by the time axis; this is the
    * third frame kind — defined on the VALUE axis, so equal-priced
    * orders share a frame and the result is deterministic under any
    * partition order with no tie-pinning needed. One window shuffle on
    * the customer key; output digested per priority class. */
  def q47ValueRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"cents")
      .rangeBetween(-50000L, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("bigint").as("cents"))
      .select($"o_orderpriority",
        count(lit(1)).over(w).as("n_sim"),
        sum($"cents").over(w).as("sum_sim"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"n_sim").as("sum_n_sim"),
        sum($"sum_sim").as("sum_sim_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Q-48 — IGNORE NULLS last-observation-carried-forward: `k` is
    * treated as a telemetry reading only VIEW events report; every
    * other event inherits the user's last reported value (`last(obs,
    * ignoreNulls)` over a rows frame — the LOCF idiom, and the
    * windowed cousin of X-1's as-of join). Order is made total by
    * (µs timestamp, event_id) so both engines fill identically; one
    * window shuffle on the user key; per-user audit output (rows,
    * observations, filled rows, exact filled sum). */
  def q48LocfIgnoreNulls(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts"), $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "view",
          get_json_object($"props", "$.k").try_cast("bigint")).as("obs"))
      .select($"user_id", $"obs",
        last($"obs", ignoreNulls = true).over(w).as("locf"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        count($"obs").as("n_obs"),
        sum(($"obs".isNull && $"locf".isNotNull).cast("bigint")).as("n_filled"),
        sum($"locf").as("sum_locf"))
      .orderBy($"user_id")
  }

  /** Q-49 — exact MEDIAN + deterministic MODE per group: q18/q23 take
    * the approximate sketch route; this is the exact form a reporting
    * surface asks for on modest group counts. `percentile(value, 0.5)`
    * is the same linear-interpolated quantile as DuckDB's
    * quantile_cont (rounded in-query per the fp convention); mode ties
    * are pinned to the SMALLEST key via a (count desc, key asc)
    * row_number — never engine-dependent hash order. Exact percentile
    * sorts within each (small) group; at 100 TB per-key cardinalities
    * are the q28 trade: groups are the scale axis, not group size. */
  def q49MedianMode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val med = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("med_value"))
    val mode = ev.groupBy($"event_type", $"user_id").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"cnt".desc, $"user_id".asc)))
      .filter($"rk" === 1)
      .select($"event_type", $"user_id".as("mode_user"), $"cnt".as("mode_n"))
    med.join(mode, "event_type")
      .select($"event_type", $"n", $"med_value", $"mode_user", $"mode_n")
      .orderBy($"event_type")
  }

  /** Q-50 — order-pinned string aggregation (LISTAGG): the reporting
    * op every dashboard asks for ("which shards?" as a label), made
    * deterministic by sorting the DISTINCT set numerically BEFORE
    * joining and bounding the list (3 smallest) so the output never
    * grows with the corpus. collect_set → sort_array → slice →
    * array_join is the portable spelling; the oracle's string_agg
    * carries an explicit ORDER BY — unordered listagg is
    * nondeterministic in every engine and has no place in a gate.
    * The element stringification is a plain array CAST, not a
    * transform lambda (collect_set drops nulls, so sort_array ≡
    * array_sort here, and the r13 codegen audit stays lambda-free). */
  def q50StringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        array_join(slice(sort_array(collect_set($"user_id")), 1, 3)
          .cast("array<string>"), ",").as("first_users"))
      .orderBy($"event_type")

  /** Q-51 — RUNNING DISTINCT COUNT, the window op Spark doesn't have:
    * `COUNT(DISTINCT x) OVER (...)` is unsupported (and the naive
    * `size(collect_set() OVER ...)` spelling carries the whole set in
    * every frame — O(n·d) state). The scalable rewrite: a row
    * contributes iff it is the FIRST occurrence of its user within the
    * partition (row_number over (type, user) = 1), and the running
    * distinct count is the running SUM of that 0/1 flag — two ordinary
    * windows, O(1) per-row state, exactly the plan you'd want at
    * 100 TB. The oracle runs DuckDB's NATIVE count(DISTINCT) OVER, so
    * the gate proves the rewrite IS the semantic, not just a
    * convention shared by both sides. Order is total (µs ts,
    * event_id), making every intermediate row deterministic. */
  def q51RunningDistinct(s: SparkSession, dir: String): DataFrame = {
    val firstW = Window.partitionBy($"event_type", $"user_id")
      .orderBy(unix_micros($"ts"), $"event_id")
    val runW = Window.partitionBy($"event_type")
      .orderBy(unix_micros($"ts"), $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"event_type", $"ts", $"event_id", $"user_id")
      .withColumn("is_first", (row_number().over(firstW) === 1).cast("bigint"))
      .withColumn("run_dist", sum($"is_first").over(runW))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        max($"run_dist").as("final_distinct"),
        sum($"run_dist").as("sum_running_distinct"))
      .orderBy($"event_type")
  }

  def q21RunningWindow(s: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the testdata, so the
    // sort key ends with rev_c4: remaining ties are between identical
    // contributions, making the prefix sums order-invariant
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"rev_c4")
    // money in integer 1e-4 dollars: price and discount are 2-decimal
    // values, so round(x*100) is exact in every engine and the window
    // sums become exact integer arithmetic — immune to the fp
    // round-boundary flips that plague round(sum(double), 2)
    val rev = round($"l_extendedprice" * 100).cast("bigint") *
      (lit(100L) - round($"l_discount" * 100).cast("bigint"))
    Tables.lineitem(s, dir)
      .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber", rev.as("rev_c4"))
      .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber", $"rev_c4",
        sum($"rev_c4").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_rev_c4"),
        ($"rev_c4" - coalesce(lag($"rev_c4", 1).over(w), lit(0L))).as("delta_rev_c4"),
        row_number().over(w).as("seq"))
      .drop("rev_c4")
      .orderBy($"l_suppkey", $"seq")
  }

  /** Q-22 — sessionization: gap-based (30 min) session assignment per
    * user over the event stream, then per-session summaries. The
    * classic two-window pattern: lag → gap flag → running sum = session
    * index; one shuffle on user_id. */
  def q22Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("gap",
        when(unix_timestamp($"ts") - unix_timestamp(
          coalesce(lag($"ts", 1).over(byUser), $"ts")) > 1800, 1).otherwise(0))
      .withColumn("session_seq", sum($"gap").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        date_trunc("second", min($"ts")).as("session_start"),
        date_trunc("second", max($"ts")).as("session_end"),
        // 2-decimal values summed as exact integer cents
        sum(round($"value" * 100).cast("bigint")).as("session_value_c"))
      .orderBy($"user_id", $"session_seq")
  }

  /** Q-23 — approximate sketches with a PORTABLE gate. Raw HLL++ /
    * quantile-sketch estimates are engine-specific (DuckDB's HLL and
    * t-digest produce different numbers), so the hashed output carries
    * only what IS portable: the exact values, plus tolerance flags
    * (estimate within 10% / 5% of exact) that both engines' sketches
    * satisfy by their error bounds. Each engine still runs its own
    * sketch — the flag proves it. At scale the sketches replace their
    * exact counterparts: HLL buffers merge map-side in O(1) memory vs
    * countDistinct's exchange of every distinct value. */
  def q23ApproxSketches(s: SparkSession, dir: String): DataFrame = {
    // The exact-distinct scalar is computed in its OWN aggregate and
    // crossJoined back (r16 optimization): mixing count(DISTINCT) with
    // the non-distinct sketches in one Aggregate makes Catalyst rewrite
    // the whole thing as a pre-aggregation KEYED BY the distinct column
    // — the plan shuffled one 400-slot HLL buffer + one percentile
    // value-map PER DISTINCT l_partkey (a 413-column exchange, measured
    // 1.5 s stage) before merging. Split, the sketches run as one
    // global 1-row aggregate (partial-merged, constant-size buffers on
    // the wire) and the exact distinct as a plain two-level count.
    // Values are identical — the same rows reach every aggregate
    // function; the 1×1 crossJoin is the documented scalar-broadcast
    // pattern (PlanSpec allowlist).
    // r17 negative result (measured, OPTIMIZATION_r17.md): widening these passes
    // behind a round-robin exchange made EVERY aggregate slower at gate
    // SF (exact percentile 1.78→1.97 s, approx_percentile 0.36→0.79,
    // HLL 0.32→0.90, countDistinct 0.23→1.04 — the exchange write costs
    // more than the parallelism recovers at 600 k rows), so the passes
    // stay narrow. The real cost is the exact percentile's
    // single-reducer value map — replaced below by the distributed
    // selection kernel (ExactPercentile), which is also the 100 TB
    // shape: no O(n) single-task buffer anywhere.
    val li = Tables.lineitem(s, dir)
    val sketches = li.agg(
      approx_count_distinct($"l_partkey", 0.02).as("ac"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"))
    val ep = ExactPercentile.of(li, $"l_extendedprice", Seq(0.5))
      .select($"p_0".as("ep"))
    val exact = li.agg(countDistinct($"l_partkey").as("exact_parts"))
    sketches.crossJoin(exact).crossJoin(ep)
    .select(
      $"exact_parts",
      (abs($"ac" - $"exact_parts") <= $"exact_parts" * 0.1).cast("int").as("approx_parts_ok"),
      round($"ep", 4).as("exact_p50"),
      (abs($"ap" - $"ep") <= abs($"ep") * 0.05).cast("int").as("approx_p50_ok"))
  }

  /** Q-42 — single-pass distributed moments: per-group stddev and
    * correlation computed from EXACT integer power sums (n, Σx, Σy,
    * Σx², Σxy, Σy²). The built-in stddev/corr aggregates are also
    * one-pass, but their float accumulation reassociates under shuffle
    * so no two runs (or engines) agree bitwise; integer power sums are
    * exact, merge associatively (partial aggregation, days compose into
    * months), and the closed-form moments derived from them are
    * identical doubles in every engine — the same policy as the cents
    * sums, lifted to second moments. Inputs are integral by data
    * contract (quantity, whole-unit price), so the sums fit bigint with
    * 10³ headroom at 100 TB row counts. */
  def q42ExactMoments(s: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val agg = Tables.lineitem(s, dir)
      .select($"l_returnflag",
        round($"l_quantity").cast("bigint").as("x"),
        round($"l_extendedprice").cast("bigint").as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
        sum($"y" * $"y").as("syy"))
    val vx = d($"n") * d($"sxx") - d($"sx") * d($"sx")
    val vy = d($"n") * d($"syy") - d($"sy") * d($"sy")
    val cxy = d($"n") * d($"sxy") - d($"sx") * d($"sy")
    // Degenerate groups give NULL (not NaN/Inf, whose spelling differs
    // across engines): stddev needs n ≥ 2, corr needs both variances > 0.
    val big = when($"n" >= 2, lit(1))
    val pos = when(vx > 0 && vy > 0, lit(1))
    agg.select($"l_returnflag", $"n", $"sx", $"sy",
        (big * round(sqrt(vx / (d($"n") * d($"n" - 1))), 4)).as("stddev_x"),
        (big * round(sqrt(vy / (d($"n") * d($"n" - 1))), 4)).as("stddev_y"),
        (pos * round(cxy / sqrt(vx * vy), 4)).as("corr_xy"))
      .orderBy($"l_returnflag")
  }

  /** ST-2 — sliding event-time windows (2h length, 1h slide) via
    * Structured Streaming; each event lands in exactly two windows.
    * Complete-mode memory sink = the drain-everything GATE HARNESS shape
    * (covers all windows incl. the open tail); the production shape of
    * the same aggregation — watermark + append + file sink with bounded
    * state — is [[graft.streaming.Stream.st5SlidingWatermark]]. */
  def st2StreamSliding(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Stream
    val plan = Tables.eventsStream(s, dir)
      .select($"ts", $"event_type")
      .groupBy(window($"ts", "2 hours", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("wstart"), $"event_type", $"n")
    Stream.drain(s, Stream.workDir("graft_st2_"), plan, Stream.Sink.Memory("complete"),
      Stream.tableBytes(dir, "events")).orderBy($"wstart", $"event_type")
  }

  val oracles: Map[String, String] = Map(
    "q18_percentile" ->
      """SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                round(quantile_cont(o_totalprice, 0.99), 4) AS p99 FROM orders""",
    "q19_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q20_semi_anti" ->
      """SELECT 'with_orders' AS grp, count(*) AS n FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         UNION ALL
         SELECT 'without_orders', count(*) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY grp""",
    "q51_running_distinct" ->
      """WITH r AS (
           SELECT event_type,
                  count(DISTINCT user_id) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rd
           FROM events)
         SELECT event_type, count(*) AS n,
                CAST(max(rd) AS BIGINT) AS final_distinct,
                CAST(sum(rd) AS BIGINT) AS sum_running_distinct
         FROM r GROUP BY 1 ORDER BY event_type""",
    "q49_median_mode" ->
      """WITH med AS (
           SELECT event_type, count(*) AS n,
                  round(quantile_cont(value, 0.5), 4) AS med_value
           FROM events GROUP BY 1),
         cnts AS (
           SELECT event_type, user_id, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         md AS (
           SELECT event_type, user_id AS mode_user, cnt AS mode_n,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY cnt DESC, user_id ASC) AS rk
           FROM cnts)
         SELECT m.event_type AS event_type, m.n AS n, m.med_value AS med_value,
                d.mode_user AS mode_user, d.mode_n AS mode_n
         FROM med m JOIN md d ON m.event_type = d.event_type AND d.rk = 1
         ORDER BY event_type""",
    "q50_string_agg" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
         nu AS (SELECT event_type, count(*) AS n_users FROM d GROUP BY 1),
         r AS (SELECT event_type, user_id,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY user_id ASC) AS rk
               FROM d),
         fu AS (SELECT event_type,
                       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id)
                         AS first_users
                FROM r WHERE rk <= 3 GROUP BY 1)
         SELECT nu.event_type AS event_type, nu.n_users AS n_users,
                fu.first_users AS first_users
         FROM nu JOIN fu ON nu.event_type = fu.event_type
         ORDER BY event_type""",
    "q47_value_range_frame" ->
      """WITH o AS (
           SELECT o_custkey, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         f AS (
           SELECT o_orderpriority,
                  count(*) OVER w AS n_sim,
                  CAST(sum(cents) OVER w AS BIGINT) AS sum_sim
           FROM o
           WINDOW w AS (PARTITION BY o_custkey ORDER BY cents
                        RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW))
         SELECT o_orderpriority, count(*) AS n,
                CAST(sum(n_sim) AS BIGINT) AS sum_n_sim,
                CAST(sum(sum_sim) AS BIGINT) AS sum_sim_cents
         FROM f GROUP BY 1 ORDER BY o_orderpriority""",
    "q48_locf_ignore_nulls" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                  CASE WHEN event_type = 'view'
                       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  END AS obs
           FROM events),
         f AS (
           SELECT user_id, obs,
                  last_value(obs IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
           FROM e)
         SELECT user_id, count(*) AS n, count(obs) AS n_obs,
                CAST(sum(CASE WHEN obs IS NULL AND locf IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                CAST(sum(locf) AS BIGINT) AS sum_locf
         FROM f GROUP BY 1 ORDER BY user_id""",
    "q30_moving_range" ->
      """WITH e AS (
           SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         m AS (
           SELECT event_type, ts,
                  sum(cents) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS mov_cents,
                  count(*) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS mov_n
           FROM e)
         SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n,
                CAST(sum(mov_cents) AS BIGINT) AS sum_mov_cents,
                CAST(sum(mov_n) AS BIGINT) AS sum_mov_n
         FROM m GROUP BY 1, 2 ORDER BY event_type, bucket""",
    "q21_running_window" ->
      """WITH c AS (
           SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                  CAST(round(l_extendedprice * 100) AS BIGINT) *
                    (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4
           FROM lineitem)
         SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                CAST(sum(rev_c4) OVER (PARTITION BY l_suppkey
                                  ORDER BY l_shipdate, l_orderkey, l_linenumber, rev_c4
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_rev_c4,
                rev_c4 - coalesce(lag(rev_c4, 1) OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, rev_c4), 0) AS delta_rev_c4,
                row_number() OVER (PARTITION BY l_suppkey
                                   ORDER BY l_shipdate, l_orderkey, l_linenumber, rev_c4) AS seq
         FROM c ORDER BY l_suppkey, seq""",
    "q22_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN epoch(date_trunc('second', ts)) -
                            epoch(date_trunc('second', coalesce(
                              lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                              ts))) > 1800
                       THEN 1 ELSE 0 END AS gap
           FROM events),
         s AS (
           SELECT *, CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM g)
         SELECT user_id, session_seq, count(*) AS n_events,
                date_trunc('second', min(ts)) AS session_start,
                date_trunc('second', max(ts)) AS session_end,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_c
         FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""",
    "q23_approx_sketches" ->
      """SELECT exact_parts,
                CAST(abs(ac - exact_parts) <= exact_parts * 0.1 AS INT) AS approx_parts_ok,
                round(ep, 4) AS exact_p50,
                CAST(abs(ap - ep) <= abs(ep) * 0.05 AS INT) AS approx_p50_ok
         FROM (SELECT approx_count_distinct(l_partkey) AS ac,
                      count(DISTINCT l_partkey) AS exact_parts,
                      approx_quantile(l_extendedprice, 0.5) AS ap,
                      quantile_cont(l_extendedprice, 0.5) AS ep
               FROM lineitem)""",
    "q42_exact_moments" ->
      """WITH g AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
                  CAST(sum(y*y) AS BIGINT) AS syy
           FROM (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x,
                        CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem)
           GROUP BY 1),
         v AS (
           SELECT *,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cxy
           FROM g)
         SELECT l_returnflag, n, sx, sy,
                CASE WHEN n >= 2 THEN round(sqrt(vx / (CAST(n AS DOUBLE)*CAST(n - 1 AS DOUBLE))), 4) END AS stddev_x,
                CASE WHEN n >= 2 THEN round(sqrt(vy / (CAST(n AS DOUBLE)*CAST(n - 1 AS DOUBLE))), 4) END AS stddev_y,
                CASE WHEN vx > 0 AND vy > 0 THEN round(cxy / sqrt(vx * vy), 4) END AS corr_xy
         FROM v ORDER BY l_returnflag""",
    "st2_stream_sliding" ->
      """SELECT wstart, event_type, count(*) AS n FROM (
           SELECT date_trunc('hour', ts) AS wstart, event_type FROM events
           UNION ALL
           SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
         GROUP BY 1, 2 ORDER BY wstart, event_type""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_percentile" -> q18Percentile _,
    "q19_rollup" -> q19Rollup _,
    "q20_semi_anti" -> q20SemiAnti _,
    "q21_running_window" -> q21RunningWindow _,
    "q30_moving_range" -> q30MovingRange _,
    "q47_value_range_frame" -> q47ValueRangeFrame _,
    "q49_median_mode" -> q49MedianMode _,
    "q50_string_agg" -> q50StringAgg _,
    "q51_running_distinct" -> q51RunningDistinct _,
    "q48_locf_ignore_nulls" -> q48LocfIgnoreNulls _,
    "q22_sessionize" -> q22Sessionize _,
    "q23_approx_sketches" -> q23ApproxSketches _,
    "q42_exact_moments" -> q42ExactMoments _,
    "st2_stream_sliding" -> st2StreamSliding _,
  )
}
