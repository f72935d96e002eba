package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.io.Tables
import graft.ops.Snapshot

/** The analytic query surface (SURVEY.md §2.8, Q-1…Q-15 + stretch
  * Q-16/Q-17): the 20-card Metabase dashboard semantics
  * (ref `docker/metabase_backup_utf8.sql:11110-11129`), re-hosted on the
  * driver star schema. Each query has a DataFrame implementation here and
  * an ANSI-SQL twin in [[Oracles]] — identical aliases, identical
  * rounding, so the driver's column-sorted hash compare passes.
  *
  * Scale notes: every aggregate here is a partial-agg (map-side combine)
  * → shuffle of the *grouped* keys only; scalar cards never collect; the
  * one full sort (Q-8) runs after projection pruning. All plans are
  * whole-stage-codegen — no UDFs.
  */
object Queries {

  /** Q-1 — COUNT(*) scalar card (ref dump:11111,11115). */
  def q1Count(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(count(lit(1)).as("n_rows"))

  /** Q-2 — ungrouped AVG cards (ref dump:11125,11110). Cents policy:
    * exact integer sum / exact count — identical operands in both
    * engines, so the final division and rounding cannot diverge. */
  def q2Avg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      round(sum(round($"o_totalprice" * 100).cast("bigint")) / (count(lit(1)) * 100.0), 6)
        .as("avg_totalprice"),
      round(sum(round($"o_totalprice" * 100).cast("bigint")) / (count(lit(1)) * 1000.0), 6)
        .as("avg_tithe"))

  /** Q-3 — latest-value scalar: ORDER BY ts DESC LIMIT 1 (ref
    * dump:11124). max_by form: no global sort, one partial-agg pass. */
  def q3Latest(s: SparkSession, dir: String): DataFrame =
    Snapshot.latestRow(Tables.orders(s, dir), "o_orderdate", "o_orderkey")
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")

  /** Q-4 — conditional rate SUM(CASE)/COUNT (ref dump:11113). */
  def q4Rate(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      round(sum(when($"o_orderpriority".like("1%"), 1).otherwise(0)) * 100.0 / count(lit(1)), 2)
        .as("pct_urgent"))

  /** Q-5 — group-by count, sorted desc (ref dump:11126). */
  def q5GroupCount(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"o_orderstatus")

  /** Q-6 — DATE_TRUNC('minute') multi-AVG trend (ref dump:11116,11128).
    * Tumbling time bucket = groupBy(date_trunc) — one shuffle on the
    * bucket key, partials combined map-side. */
  def q6Trend(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("minute", $"ts").as("bucket"))
      .agg(round(sum(round($"value" * 100).cast("bigint")) / (count(lit(1)) * 100.0), 6)
        .as("avg_value"), count(lit(1)).as("n"))
      .orderBy($"bucket")

  /** Q-7 — uncorrelated scalar-subquery filter (ref dump:11118,11129).
    * Catalyst plans the subquery once (ReusedSubquery) and broadcasts
    * the scalar into the fact-scan filter. */
  def q7ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("""SELECT count(*) AS n_after
             FROM lineitem
             WHERE l_shipdate > (SELECT max(o_orderdate) FROM orders
                                 WHERE o_orderstatus = 'F')""")
  }

  /** Q-8 — full-history multi-alias projection + sort desc (ref dump:11127). */
  def q8ProjectionSort(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select($"o_orderkey".as("id"), $"o_totalprice".as("total"),
        $"o_orderdate".as("generated_at"), $"o_orderpriority".as("prio"))
      .orderBy($"generated_at".desc, $"id".desc)

  /** Q-9 — bare scan with guard limit (ref `LIMIT 1048575`, dump:11112).
    * The reference card has NO order-by: it returns an arbitrary
    * 1048575-row subset. The operator itself is [[q9Rows]] (a pure
    * CollectLimit scan — cost O(limit), independent of table size). */
  def q9Rows(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_extendedprice")
      .limit(1048575)

  /** The gate entry for Q-9: an ORDER-INDEPENDENT digest of the limited
    * scan — `n` = row count, `digest` = the sum over rows of
    * `md5_prefix(row_key, 8)` (the top 32 bits of md5 over
    * `l_orderkey|l_partkey|quantity cents|price cents`) — so the
    * oracle gate's hash compare is deterministic WITHOUT a global sort
    * (sum of 2^32-max terms over ≤ 2^20 rows ≤ 2^52: no bigint
    * overflow under ANSI).
    *
    * The parquet footer's record count (metadata only, memoized — the
    * statistic ANALYZE persists for CBO) decides at plan time whether
    * the guard limit BINDS:
    *
    *   - rows ≤ limit (every gate SF): the limit is an identity, so it
    *     is elided and the digest is an exact sum over ALL rows. The
    *     term is computed inside the scan stage and partially
    *     aggregated there; the only exchange is the final aggregate's
    *     single-row gather. There is no widen: with the digest read
    *     off the md5 bytes by the `md5_prefix` kernel, a round-robin
    *     exchange's one map task (decode + serialize the whole table)
    *     costs about what the digest it would fan out costs (SCALING.md
    *     §"q9 without the widen").
    *   - rows > limit, or the footer probe fails: LocalLimit →
    *     single-partition GlobalLimit over 8-byte terms — cost
    *     O(limit), never O(table), the 100 TB contract for a guard
    *     limit. Its contract when the limit binds: `n` = 1048575 and
    *     `digest` is over SOME 1048575-row subset of lineitem. Neither
    *     engine orders the limit, so which subset (and so `digest`) is
    *     not pinned; when it does not bind both regimes return the same
    *     `(n, digest)` (Q9RegimeSpec). */
  def q9LimitScan(s: SparkSession, dir: String): DataFrame =
    q9Digest(s, dir,
      noopLimit = Tables.tableRowCount(s, dir, "lineitem").exists(_ <= Q9GuardLimit))

  private val Q9GuardLimit = 1048575L

  /** q9's digest plan with the limit-elision decision explicit, so
    * PlanSpec can assert BOTH regimes (the bounded plan keeps its Limit
    * and never sorts; the elided plan has no exchange below its partial
    * aggregate). */
  private[graft] def q9Digest(s: SparkSession, dir: String,
      noopLimit: Boolean): DataFrame = {
    // cents are cast to bigint BEFORE any string building, so the
    // row_key text is the oracle's concat_ws byte for byte
    val term = graft.functions.Md5Prefix.column(s,
      concat_ws("|", $"l_orderkey", $"l_partkey",
        round($"l_quantity" * 100).cast("bigint"),
        round($"l_extendedprice" * 100).cast("bigint")), 8).as("term")
    val terms = Tables.lineitem(s, dir).select(term)
    // bounded regime: the term is built below the LocalLimit, so the
    // single-partition GlobalLimit gathers 8-byte bigints
    val limited = if (noopLimit) terms else terms.limit(Q9GuardLimit.toInt)
    limited.agg(count(lit(1)).as("n"), sum($"term").as("digest"))
  }

  /** Q-10 — MBQL temporal-bucket AVG, sorted desc (ref dump:11072,11117). */
  def q10MinuteAvg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("minute", $"ts").as("bucket"))
      .agg(round(sum(round($"value" * 100).cast("bigint")) / (count(lit(1)) * 100.0), 6)
        .as("avg_value"))
      .orderBy($"bucket".desc)

  /** Q-11 — UNION ALL labeled funnel (ref dump:10311-10312). */
  def q11Funnel(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def stage(label: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(label).as("stage"), $"n")
    stage("all", o)
      .unionAll(stage("open", o.filter($"o_orderstatus" === "O")))
      .unionAll(stage("urgent", o.filter($"o_orderpriority".like("1%"))))
      .unionAll(stage("big", o.filter($"o_totalprice" > 200000)))
      .orderBy($"stage")
  }

  /** Q-12 — CASE-mapping recode to ordinal code (ref dump:10310,
    * incl. the override arm that fires first). */
  def q12Recode(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      $"o_orderkey",
      when($"o_totalprice" >= 400000, 5)
        .when($"o_orderpriority".like("1%"), 4)
        .when($"o_orderpriority".like("2%"), 3)
        .when($"o_orderpriority" === "3-MEDIUM", 2)
        .otherwise(1).as("keputusan_kode"))
      .orderBy($"o_orderkey")

  /** Q-13 — two-key GROUP BY EXTRACT(HOUR), DATE (ref dump:10316-10317). */
  def q13HourHeatmap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(hour($"ts").as("hh"), to_date($"ts").as("dd"))
      .agg(round(sum(round($"value" * 100).cast("bigint")) / (count(lit(1)) * 100.0), 6)
        .as("avg_value"))
      .orderBy($"hh", $"dd")

  /** Q-14 — relative-time "today" filter (ref dump:10334); the clock is
    * injected as max(ts)'s date, never wall-clock (SURVEY.md §7.4). */
  def q14Today(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("""SELECT count(*) AS n_today,
                    sum(CAST(round(value * 100) AS BIGINT)) AS sum_value_c
             FROM events
             WHERE cast(ts AS DATE) = (SELECT cast(max(ts) AS DATE) FROM events)""")
  }

  /** Q-15 — query-on-query: card-as-source view layering (ref dump:10332). */
  def q15QueryOnQuery(s: SparkSession, dir: String): DataFrame = {
    q12Recode(s, dir).createOrReplaceTempView("v_recode")
    s.sql("""SELECT keputusan_kode, count(*) AS n FROM v_recode
             GROUP BY keputusan_kode ORDER BY keputusan_kode""")
  }

  /** Q-16 (stretch, ref dump:11097) — distinct count. */
  def q16Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      countDistinct($"o_custkey").as("n_cust"),
      countDistinct($"o_orderstatus").as("n_status"))

  /** Q-17 (stretch, ref dump:11077) — numeric binning histogram. */
  def q17Binning(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy((floor($"o_totalprice" / 50000) * 50000).cast("bigint").as("bin_lo"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"bin_lo")

  val oracles: Map[String, String] = Map(
    "q1_count" -> "SELECT count(*) AS n_rows FROM lineitem",
    "q2_avg" ->
      """SELECT round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / (count(*) * 100.0), 6)
                  AS avg_totalprice,
                round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / (count(*) * 1000.0), 6)
                  AS avg_tithe FROM orders""",
    "q3_latest" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1""",
    "q4_rate" ->
      """SELECT round(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) * 100.0
                / count(*), 2) AS pct_urgent FROM orders""",
    "q5_group_count" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
         GROUP BY o_orderstatus ORDER BY n DESC, o_orderstatus""",
    "q6_trend" ->
      """SELECT date_trunc('minute', ts) AS bucket,
                round(sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100.0), 6) AS avg_value,
                count(*) AS n FROM events GROUP BY 1 ORDER BY bucket""",
    "q7_scalar_subquery" ->
      """SELECT count(*) AS n_after FROM lineitem
         WHERE l_shipdate > (SELECT max(o_orderdate) FROM orders WHERE o_orderstatus = 'F')""",
    "q8_projection_sort" ->
      """SELECT o_orderkey AS id, o_totalprice AS total, o_orderdate AS generated_at,
                o_orderpriority AS prio FROM orders ORDER BY generated_at DESC, id DESC""",
    "q9_limit_scan" ->
      """WITH lim AS (
           SELECT concat_ws('|', l_orderkey, l_partkey,
                    CAST(round(l_quantity * 100) AS BIGINT),
                    CAST(round(l_extendedprice * 100) AS BIGINT)) AS row_key
           FROM lineitem LIMIT 1048575),
         hx AS (SELECT substr(md5(row_key), 1, 8) AS h FROM lim)
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(
                  (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
                + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS BIGINT) AS digest
         FROM hx""",
    "q10_minute_avg" ->
      """SELECT date_trunc('minute', ts) AS bucket,
                round(sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100.0), 6) AS avg_value
         FROM events GROUP BY 1 ORDER BY bucket DESC""",
    "q11_funnel" ->
      """SELECT 'all' AS stage, count(*) AS n FROM orders
         UNION ALL SELECT 'open', count(*) FROM orders WHERE o_orderstatus = 'O'
         UNION ALL SELECT 'urgent', count(*) FROM orders WHERE o_orderpriority LIKE '1%'
         UNION ALL SELECT 'big', count(*) FROM orders WHERE o_totalprice > 200000
         ORDER BY stage""",
    "q12_recode" ->
      """SELECT o_orderkey,
                CASE WHEN o_totalprice >= 400000 THEN 5
                     WHEN o_orderpriority LIKE '1%' THEN 4
                     WHEN o_orderpriority LIKE '2%' THEN 3
                     WHEN o_orderpriority = '3-MEDIUM' THEN 2
                     ELSE 1 END AS keputusan_kode FROM orders
         ORDER BY o_orderkey""",
    "q13_hour_heatmap" ->
      """SELECT CAST(extract(hour FROM ts) AS INT) AS hh, CAST(ts AS DATE) AS dd,
                round(sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100.0), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY hh, dd""",
    "q14_today" ->
      """SELECT count(*) AS n_today,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c FROM events
         WHERE CAST(ts AS DATE) = (SELECT CAST(max(ts) AS DATE) FROM events)""",
    "q15_query_on_query" ->
      """SELECT keputusan_kode, count(*) AS n FROM (
           SELECT CASE WHEN o_totalprice >= 400000 THEN 5
                       WHEN o_orderpriority LIKE '1%' THEN 4
                       WHEN o_orderpriority LIKE '2%' THEN 3
                       WHEN o_orderpriority = '3-MEDIUM' THEN 2
                       ELSE 1 END AS keputusan_kode FROM orders)
         GROUP BY keputusan_kode ORDER BY keputusan_kode""",
    "q16_distinct" ->
      """SELECT count(DISTINCT o_custkey) AS n_cust,
                count(DISTINCT o_orderstatus) AS n_status FROM orders""",
    "q17_binning" ->
      """SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bin_lo,
                count(*) AS n FROM orders GROUP BY 1 ORDER BY bin_lo""",
  )

  /** The same 17 dashboard queries as USER-TYPED Spark SQL — the
    * reference's query surface IS SQL (20 Metabase cards,
    * ref `docker/metabase_backup_utf8.sql:11110-11129`), so the engine
    * must accept SQL text over the registered zone views, not only the
    * DataFrame API. The texts are the DuckDB oracle strings verbatim
    * (they are ANSI), except q9 where DuckDB's `strpos` hex decode is
    * spelled with Spark's `conv`, and the cents-average entries where
    * the `100.0` literal takes the `D` suffix: Spark types a bare
    * decimal literal as DECIMAL (→ DecimalType result) while the
    * DataFrame form's Scala 100.0 is a double — same values, different
    * declared type. SqlTwinSpec proves spark.sql(text) ≡ the DataFrame
    * form for every entry, schema included. */
  val sparkSql: Map[String, String] = oracles ++ Map(
    "q2_avg" ->
      """SELECT round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / (count(*) * 100.0D), 6)
                  AS avg_totalprice,
                round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / (count(*) * 1000.0D), 6)
                  AS avg_tithe FROM orders""",
    "q4_rate" ->
      """SELECT round(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) * 100.0D
                / count(*), 2) AS pct_urgent FROM orders""",
    "q6_trend" ->
      """SELECT date_trunc('minute', ts) AS bucket,
                round(sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100.0D), 6) AS avg_value,
                count(*) AS n FROM events GROUP BY 1 ORDER BY bucket""",
    "q10_minute_avg" ->
      """SELECT date_trunc('minute', ts) AS bucket,
                round(sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100.0D), 6) AS avg_value
         FROM events GROUP BY 1 ORDER BY bucket DESC""",
    "q13_hour_heatmap" ->
      """SELECT CAST(extract(hour FROM ts) AS INT) AS hh, CAST(ts AS DATE) AS dd,
                round(sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100.0D), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY hh, dd""",
    "q9_limit_scan" ->
      """WITH lim AS (
           SELECT concat_ws('|', l_orderkey, l_partkey,
                    CAST(round(l_quantity * 100) AS BIGINT),
                    CAST(round(l_extendedprice * 100) AS BIGINT)) AS row_key
           FROM lineitem LIMIT 1048575),
         hx AS (SELECT substr(md5(row_key), 1, 8) AS h FROM lim)
         SELECT count(*) AS n,
                CAST(sum(CAST(conv(h, 16, 10) AS BIGINT)) AS BIGINT) AS digest
         FROM hx""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_count" -> q1Count _,
    "q2_avg" -> q2Avg _,
    "q3_latest" -> q3Latest _,
    "q4_rate" -> q4Rate _,
    "q5_group_count" -> q5GroupCount _,
    "q6_trend" -> q6Trend _,
    "q7_scalar_subquery" -> q7ScalarSubquery _,
    "q8_projection_sort" -> q8ProjectionSort _,
    "q9_limit_scan" -> q9LimitScan _,
    "q10_minute_avg" -> q10MinuteAvg _,
    "q11_funnel" -> q11Funnel _,
    "q12_recode" -> q12Recode _,
    "q13_hour_heatmap" -> q13HourHeatmap _,
    "q14_today" -> q14Today _,
    "q15_query_on_query" -> q15QueryOnQuery _,
    "q16_distinct" -> q16Distinct _,
    "q17_binning" -> q17Binning _,
  )
}
