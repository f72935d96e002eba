package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.syntax._
import graft.io.{SessionMemo, Tables}

/** X-2 — a native Catalyst aggregate: KMV (k-minimum-values) bottom-k
  * sketch for distinct-count estimation.
  *
  * This is the one place the built-in surface genuinely runs out:
  * "keep the k smallest hashes seen" is stateful and order-dependent,
  * so it's a [[TypedImperativeAggregate]] (the same extension point
  * Spark's own HLL++ uses) — NOT a UDAF: the buffer lives in the
  * aggregation hash map, partial sketches merge map-side, and only k
  * strings per partition cross the wire.
  *
  * Unlike HLL, KMV with a fixed hash is fully DETERMINISTIC, so the
  * oracle can reproduce it exactly: the k smallest distinct md5s are
  * just `ORDER BY hash LIMIT k` in SQL, and the estimator
  * (k-1)/kth_hash_fraction is plain arithmetic on both sides.
  */
case class BottomKSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[String]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): java.util.TreeSet[String] =
    new java.util.TreeSet[String]()

  override def update(buf: java.util.TreeSet[String], input: InternalRow): java.util.TreeSet[String] = {
    val v = child.eval(input)
    if (v != null) {
      buf.add(v.toString)
      if (buf.size > k) buf.pollLast()
    }
    buf
  }

  override def merge(b: java.util.TreeSet[String], other: java.util.TreeSet[String]): java.util.TreeSet[String] = {
    b.addAll(other)
    while (b.size > k) b.pollLast()
    b
  }

  override def eval(buf: java.util.TreeSet[String]): Any =
    new GenericArrayData(buf.iterator.asScala.map(s => UTF8String.fromString(s)).toArray[Any])

  override def serialize(buf: java.util.TreeSet[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.iterator.asScala.foreach(out.writeUTF)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val s = new java.util.TreeSet[String]()
    (0 until n).foreach(_ => s.add(in.readUTF()))
    s
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): BottomKSketch = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKSketch = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): BottomKSketch = copy(child = newChild)
  override def prettyName: String = "bottom_k_sketch"
}

object Sketches {

  val K = 64

  /** `bottom_k_sketch`'s builder, a row of
    * [[graft.functions.NativeFunctions]]' table. */
  def bottomK(e: Expression): Expression = BottomKSketch(e, K)

  /** X-2 — KMV distinct estimate of l_partkey (vs the exact count).
    * The kth-smallest hash's leading 13 hex digits (52 bits — exact in
    * a double) give the fraction of hash space covered. */
  def x2KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    // try_element_at: under-k sketches (cardinality < K) have no kth
    // element — ANSI element_at would throw. KMV convention: a sketch
    // smaller than K IS the distinct set, so the estimate is its size.
    val kth = try_element_at($"sketch", lit(K))
    Tables.lineitem(s, dir)
      .select(md5($"l_partkey".cast("string")).as("h"), $"l_partkey")
      .agg(expr("bottom_k_sketch(h)").as("sketch"),
        countDistinct($"l_partkey").as("n_exact"))
      .select(
        kth.as("kth_hash"),
        size($"sketch").as("sketch_size"),
        $"n_exact",
        when(size($"sketch") < K, size($"sketch").cast("double"))
          .otherwise(round(lit(K - 1) /
            (conv(substring(kth, 1, 13), 16, 10).cast("bigint") /
              lit(4503599627370496.0)), 2)).as("n_distinct_est"))
  }

  /** X-3 — salted two-phase aggregation over a heavily skewed key
    * (l_returnflag: 3 values over the whole fact table). Phase 1
    * spreads each hot key over 16 salt buckets (parallel partials);
    * phase 2 merges per key. Result is provably identical to the
    * direct groupBy — which is exactly what the oracle checks. */
  def x3SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", pmod(hash($"l_orderkey", $"l_linenumber"), lit(16)).as("salt"))
      // money/quantity as exact integer 1e-4 units: the two-phase sum
      // reassociates additions, which is only provably equal to the
      // direct GROUP BY (the oracle) in exact arithmetic
      .agg(sum(round($"l_quantity" * 100).cast("bigint")).as("q"), count(lit(1)).as("c"),
        sum(round($"l_extendedprice" * 100).cast("bigint") *
          (lit(100L) - round($"l_discount" * 100).cast("bigint"))).as("r"))
      .groupBy($"l_returnflag")
      .agg(sum($"q").as("sum_qty_c"), sum($"c").as("n"), sum($"r").as("revenue_c4"))
      .orderBy($"l_returnflag")

  /** Count-min geometry: 4 independent hash rows × 256 counters. */
  val CmDepth = 4
  val CmWidth = 256

  /** X-6 — count-min sketch frequency estimation over o_custkey, with
    * the estimate checked against truth for a deterministic probe set.
    * The sketch is 4×256 integer counters built by ONE groupBy over
    * the (row, bucket) explode — counters are mergeable partial
    * aggregates, which is the whole point at scale: a 100 TB stream
    * folds into 1 KB of state per executor and merges associatively
    * (same algebra as the streaming/AQE partial-agg machinery). Hashes
    * are the portable seeded-md5 family, so the sketch content — not
    * just its error bound — is bit-reproducible, and the DuckDB oracle
    * rebuilds it exactly. Probes read min over the 4 rows (the CM
    * upper bound; est >= truth always, equality when no collision). */
  def x6CountMin(s: SparkSession, dir: String): DataFrame = {
    def bucket(d: Int, key: Column): Column =
      graft.functions.Md5Prefix.column(s, concat(lit(s"cm$d:"), key.cast("string")), 4)
        .cast("int") % CmWidth
    val o = Tables.orders(s, dir)
    val rows = explode(array((0 until CmDepth).map(d =>
      struct(lit(d).as("d"), bucket(d, $"o_custkey").as("b"))): _*)).as("rb")
    val counters = o.select(rows)
      .select($"rb.d".as("d"), $"rb.b".as("b"))
      .groupBy($"d", $"b").agg(count(lit(1)).as("c"))
    val probes = o.filter($"o_custkey" % 100 === 0)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_true"))
    val probed = (0 until CmDepth).map { d =>
      probes.select($"o_custkey", $"n_true", lit(d).as("d"),
        bucket(d, $"o_custkey").as("b"))
    }.reduce(_ unionAll _)
      .join(counters, Seq("d", "b"))
      .groupBy($"o_custkey", $"n_true").agg(min($"c").as("n_est"))
    probed.select($"o_custkey", $"n_true", $"n_est",
        ($"n_est" - $"n_true").as("overcount"))
      .orderBy($"o_custkey")
  }

  /** X-8 — bloom-filter semi-join pre-reduction: the manual form of the
    * runtime filter a 100 TB shuffle join lives or dies by. The
    * selective dim side (urgent orders) folds into a ~100 KB bloom
    * sketch via a distributed aggregate; the probe side's scan is then
    * pre-filtered by `bloom_might_contain` BEFORE the join shuffle, so
    * only candidate rows (matches + the fpp tail) pay exchange cost.
    * The bloom rides an uncorrelated scalar subquery — one lazy plan,
    * nothing driver-side. The final LEFT SEMI join removes bloom false
    * positives, so the RESULT is exactly the plain semi-join (= the
    * oracle); the bloom only changes how many rows reach the shuffle. */
  def x8BloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    Tables.registerViews(s, dir)
    // Size the sketch from the ACTUAL dim-side cardinality (a pushed-
    // filter count over the small side — the same stats-driven sizing
    // Spark's InjectRuntimeFilter does from catalog rowCount): a fixed
    // capacity silently saturates as SF grows, and a saturated bloom
    // passes everything — still correct (the semi-join scrubs false
    // positives) but the pre-shuffle reduction the sketch exists for is
    // gone. 8 bits/item keeps fpp ≈ 2% at every SF. The count is
    // memoized per orders version, so repeated invocations (bench
    // warmup + reps) do not re-scan the dim.
    val nd = SessionMemo(s, "x8DimCount", Seq(s"$dir/orders.parquet")) {
      math.max(100000L,
        Tables.orders(s, dir).where($"o_orderpriority" === "1-URGENT").count())
    }
    s.sql(s"""
      SELECT l.l_returnflag AS l_returnflag,
             count(*) AS n,
             sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS qty_c
      FROM (
        SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
        WHERE bloom_might_contain(
                (SELECT bloom_agg(xxhash64(o_orderkey), ${nd}L, ${nd * 8}L)
                 FROM orders WHERE o_orderpriority = '1-URGENT'),
                xxhash64(l_orderkey))
      ) l
      LEFT SEMI JOIN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      ) o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_returnflag
      ORDER BY l.l_returnflag""")
  }

  /** Q-43 — `approx_top_k` heavy hitters. The sketch is EXACT whenever
    * the number of distinct items fits its capacity (default 10⁴ ≫ the
    * 5 priorities), which is precisely the production regime for
    * dashboard-style top-k over categorical keys — so the entry gets a
    * FULL value oracle (exact group-by top-3) while still exercising
    * the sketch aggregate, which at high cardinality degrades
    * gracefully instead of OOMing the way an exact global group-by
    * top-k can. Selection is tie-free at every gate SF (verified:
    * the only tied counts sit strictly inside the top-3); output order
    * is re-pinned by (n DESC, item). */
  def q43ApproxTopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .agg(expr("approx_top_k(o_orderpriority, 3)").as("tk"))
      .select(explode($"tk").as("x"))
      .select($"x.item".as("item"), $"x.count".as("n"))
      .orderBy($"n".desc, $"item")

  /** Q-44 — the mergeable-sketch LIFECYCLE: per-status Datasketches HLL
    * sketches (`hll_sketch_agg` — the binary artifact a pipeline stores
    * next to each partition/day), rolled up with `hll_union_agg` and
    * estimated once. This is how 100 TB incremental distinct-count
    * works: each ingest batch persists a few-KB sketch; any rollup
    * (day → month → total) is a union of sketches, never a re-scan. The
    * hashed output is q23-style portable: exact totals + a tolerance
    * flag each engine's own estimator satisfies. */
  def q44SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val perGroup = Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"),
        countDistinct($"o_custkey").as("exact_g"))
    val merged = perGroup.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_total"),
      sum($"exact_g").as("sum_exact_g"))
    val exactTotal = Tables.orders(s, dir)
      .agg(countDistinct($"o_custkey").as("exact_total"))
    merged.crossJoin(exactTotal).select(
      $"exact_total",
      (abs($"est_total" - $"exact_total") <= $"exact_total" * 0.1)
        .cast("int").as("union_est_ok"),
      ($"sum_exact_g" >= $"exact_total").cast("int").as("groups_cover"))
  }

  /** X-7 — the typed-`Aggregator` entry (see
    * [[graft.functions.CentsStats]]): per-status one-pass
    * (n, sum, min, max) over order cents through `functions.udaf` —
    * the public custom-aggregate rung of the UDx ladder (x2 carries
    * the catalyst-level rung). Plans as partial/final HashAggregate
    * like any built-in. */
  def x7TypedAggregator(s: SparkSession, dir: String): DataFrame = {
    val stats = udaf(graft.functions.CentsStats)
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(stats(round($"o_totalprice" * 100).cast("bigint")).as("st"))
      .select($"o_orderstatus", $"st.n".as("n"), $"st.sum".as("sum_c"),
        $"st.min".as("min_c"), $"st.max".as("max_c"))
      .orderBy($"o_orderstatus")
  }

  val oracles: Map[String, String] = Map(
    "x7_typed_aggregator" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c,
                CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_c,
                CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_c
         FROM orders GROUP BY 1 ORDER BY o_orderstatus""",
    "x6_countmin" -> {
      def bucketSql(d: Int, key: String) =
        s"""(((strpos('0123456789abcdef', substr(md5('cm$d:' || CAST($key AS VARCHAR)), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5('cm$d:' || CAST($key AS VARCHAR)), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5('cm$d:' || CAST($key AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5('cm$d:' || CAST($key AS VARCHAR)), 4, 1)) - 1)) % $CmWidth)"""
      val counterUnion = (0 until CmDepth)
        .map(d => s"SELECT $d AS d, ${bucketSql(d, "o_custkey")} AS b FROM orders")
        .mkString(" UNION ALL ")
      val probeUnion = (0 until CmDepth)
        .map(d => s"SELECT o_custkey, n_true, $d AS d, ${bucketSql(d, "o_custkey")} AS b FROM probes")
        .mkString(" UNION ALL ")
      s"""WITH counters AS (
            SELECT d, b, count(*) AS c FROM ($counterUnion) GROUP BY 1, 2),
          probes AS (
            SELECT o_custkey, count(*) AS n_true FROM orders
            WHERE o_custkey % 100 = 0 GROUP BY 1),
          pr AS ($probeUnion),
          est AS (
            SELECT pr.o_custkey AS o_custkey, pr.n_true AS n_true, min(c.c) AS n_est
            FROM pr JOIN counters c ON pr.d = c.d AND pr.b = c.b
            GROUP BY 1, 2)
          SELECT o_custkey, n_true, n_est, n_est - n_true AS overcount
          FROM est ORDER BY o_custkey"""
    },
    "x2_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
          topk AS (SELECT h FROM h ORDER BY h LIMIT $K),
          kth AS (SELECT max(h) AS kth_hash, count(*) AS sketch_size FROM topk)
          SELECT CASE WHEN sketch_size < $K THEN NULL ELSE kth_hash END AS kth_hash,
                 CAST(sketch_size AS INT) AS sketch_size,
                 (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_exact,
                 CASE WHEN sketch_size < $K THEN CAST(sketch_size AS DOUBLE)
                      ELSE round(${K - 1} /
                        ((('0x' || substr(kth_hash, 1, 13))::BIGINT) / 4503599627370496.0), 2)
                 END AS n_distinct_est
          FROM kth""",
    "q43_approx_top_k" ->
      """SELECT o_orderpriority AS item, count(*) AS n FROM orders
         GROUP BY 1 ORDER BY n DESC, item LIMIT 3""",
    "q44_sketch_rollup" ->
      """WITH g AS (SELECT o_orderstatus, count(DISTINCT o_custkey) AS eg
                    FROM orders GROUP BY 1),
            t AS (SELECT count(DISTINCT o_custkey) AS exact_total,
                         approx_count_distinct(o_custkey) AS est FROM orders)
         SELECT exact_total,
                CAST(abs(est - exact_total) <= exact_total * 0.1 AS INT) AS union_est_ok,
                CAST((SELECT sum(eg) FROM g) >= exact_total AS INT) AS groups_cover
         FROM t""",
    "x8_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY l_returnflag""",
    "x3_salted_agg" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
                count(*) AS n,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                    (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x2_kmv_distinct" -> x2KmvDistinct _,
    "x3_salted_agg" -> x3SaltedAgg _,
    "x6_countmin" -> x6CountMin _,
    "x7_typed_aggregator" -> x7TypedAggregator _,
    "x8_bloom_semijoin" -> x8BloomSemiJoin _,
    "q43_approx_top_k" -> q43ApproxTopK _,
    "q44_sketch_rollup" -> q44SketchRollup _,
  )
}
