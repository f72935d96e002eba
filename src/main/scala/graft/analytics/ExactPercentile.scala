package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT percentiles by distributed selection (r17 optimization).
  *
  * The built-in `percentile(col, p)` is exact but merges a value→count
  * map of EVERY distinct value on one final task — profiled 1.78 s over
  * 600 k near-distinct doubles at sf0.1 (one-JVM probe), and widening the
  * input does not help because the merge IS the cost. At 100 TB that
  * single-reducer O(n) buffer is the scale-killer; a t-digest fixes the
  * cost but changes the declared output. This kernel keeps the output
  * BIT-IDENTICAL to the built-in and removes the O(n) single-task step:
  *
  *   1. PROBE (one parallel pass): n = count, plus an approx_percentile
  *      bracket [p−δ, p+δ] around every requested percentile. GK
  *      summaries bound the rank error by n/accuracy; δ = 10/accuracy
  *      gives a 10× safety margin by construction.
  *   2. BELOW (one parallel pass): for each percentile, the exact count
  *      of rows strictly below its bracket's lower value.
  *   3. WINDOW (one parallel pass + a bracket-local sort): rows inside
  *      a bracket get a local rank per bracket (row_number partitioned
  *      by bracket id — each bracket holds ≈ 2δ·n rows, 0.2 % of the
  *      input at the default accuracy, never the corpus). The row's
  *      GLOBAL 0-based rank is below + local_rank − 1; ties on the
  *      value are interchangeable for value extraction.
  *   4. The exact order statistics at floor/ceil(p·(n−1)) interpolate
  *      with the built-in's own formula
  *      `(higher − position)·lower + (position − lower)·higher`.
  *
  * A bracket that somehow misses its target ranks (approx error beyond
  * the 10× margin — impossible per the GK bound, guarded anyway)
  * raises rather than returning a silently wrong value.
  * ExactPercentileSpec proves bit-equality against the built-in over
  * distinct-heavy, tie-heavy, tiny (n = 1, 2, 3), and skewed inputs.
  */
object ExactPercentile {

  /** One-row frame, columns p_0 … p_{k−1}: bit-identical to
    * `df.agg(percentile(value, ps(0)), …)`. `value` must be castable to
    * double; nulls are ignored (the built-in's semantics). */
  def of(df: DataFrame, value: Column, ps: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    val spark = df.sparkSession
    val delta = 10.0 / accuracy
    val bounds = ps.flatMap(p =>
      Seq(math.max(0.0, p - delta), math.min(1.0, p + delta)))
    // Small-n mode: floor/ceil(p·(n−1)) sit up to 1/(n−1) away from p
    // in rank FRACTION, so the ±δ bracket only provably contains both
    // target ranks once 1/(n−1) ≤ δ/2. Below that, the "bracket" is
    // the whole input (≤ smallN rows — trivially sortable); above it,
    // margin = δ/2 quantization + δ/10 GK rank error < δ. The mode is
    // a RUNTIME predicate on n, so one plan serves every data size.
    val smallN = 1 + math.ceil(2.0 / delta).toLong
    val vals = df.select(value.cast("double").as("x")).filter(col("x").isNotNull)
    val probe = vals.agg(
      count(lit(1)).as("n"),
      expr(s"approx_percentile(x, array(${bounds.mkString(",")}), $accuracy)")
        .as("br"))
    val withB = vals.crossJoin(broadcast(probe))
    val isSmall = col("n") <= smallN
    // exact count strictly below each bracket's lower value (rows EQUAL
    // to the bound are inside the bracket, so no tie is ever lost);
    // zero in small-n mode, where every row is in the window
    val belowCols = ps.indices.map(j =>
      sum(when(!isSmall && col("x") < col("br").getItem(2 * j), 1L)
        .otherwise(0L)).as(s"below_$j"))
    val below = withB.agg(belowCols.head, belowCols.tail: _*)
    // rows inside any bracket, tagged by bracket id (brackets can
    // overlap for nearby percentiles — a row then ranks in each).
    // Spelled explode-then-IsNotNull-filter, NOT filter(array, lambda):
    // lambda HOFs are CodegenFallback and this projection is data-sized
    // (the r12 codegen rule; PlanSpec's audit rejects new lambdas).
    val bucketIds = ps.indices.map(j =>
      when(isSmall ||
           (col("x") >= col("br").getItem(2 * j) &&
            col("x") <= col("br").getItem(2 * j + 1)), lit(j)))
    val tagged = withB
      .select(col("x"), explode(array(bucketIds: _*)).as("j"))
      .filter(col("j").isNotNull)
    val ranked = tagged.withColumn("rn",
      row_number().over(Window.partitionBy(col("j")).orderBy(col("x"))))
      .crossJoin(broadcast(below)).crossJoin(broadcast(probe.select(col("n"))))
    // the built-in's position arithmetic: pos = p·(n−1), 0-based
    def posOf(j: Int): Column = lit(ps(j)) * (col("n") - 1).cast("double")
    def globalRank(j: Int): Column = col(s"below_$j") + col("rn") - 1
    val loHiCols = ps.indices.flatMap { j =>
      val g = globalRank(j)
      Seq(
        min(when(col("j") === j && g === floor(posOf(j)).cast("long"),
          col("x"))).as(s"lo_$j"),
        min(when(col("j") === j && g === ceil(posOf(j)).cast("long"),
          col("x"))).as(s"hi_$j"))
    }
    val loHi = ranked.agg(loHiCols.head, loHiCols.tail: _*)
    // empty input: the built-in returns NULL — join the (always 1-row)
    // probe with the (possibly all-null) loHi row and emit NULLs
    val joined = broadcast(probe.select(col("n"))).crossJoin(loHi)
    val out = ps.indices.map { j =>
      val pos = posOf(j)
      val lower = floor(pos).cast("long")
      val higher = ceil(pos).cast("long")
      val lo = col(s"lo_$j")
      val hi = col(s"hi_$j")
      val interp = when(higher === lower, lo)
        .otherwise((higher.cast("double") - pos) * lo +
                   (pos - lower.cast("double")) * hi)
      when(col("n") === 0, lit(null).cast("double"))
        .when(lo.isNotNull && hi.isNotNull, interp)
        // loud failure: the bracket missed its rank (cannot happen
        // inside the GK error bound; never return silently wrong)
        .otherwise(raise_error(concat(
          lit(s"ExactPercentile: bracket for p=${ps(j)} missed its rank; " +
            "lo/hi="), lo.cast("string"), lit("/"), hi.cast("string"))))
        .as(s"p_$j")
    }
    joined.select(out: _*)
  }
}
