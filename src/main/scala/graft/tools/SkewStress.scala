package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-stress harness (round 9, reworked round 10): measure the
  * x13/x14 skew remedies against dirs generated with GenScale's
  * hot-key mode, where one user_id owns skewPct% of ALL event rows (a
  * heavy hitter that grows linearly with the corpus — the organic
  * power-law shape topology-preserving replication alone can't
  * produce).
  *
  * Three variants of the same fact ⋈ customer-dim join + segment
  * summary, identical results, different physical treatment of the
  * hot reducer partition:
  *
  *  - `unsalted`  — shuffled hash join, AQE skew split OFF: the hot
  *    key lands on ONE reducer; the stage runs at straggler speed.
  *    This is the failure mode the other two exist to fix.
  *  - `salted`    — x13's rewrite (fact salt in [0,R), dim ×R): the
  *    hot key spreads over R reducers at authoring time.
  *  - `aqe_split` — the unsalted plan with AQE skew-join ON (x14's
  *    lowered thresholds so the measured hot partition clears the
  *    bar; at production scale the DEFAULT thresholds fire on the
  *    same shape): the runtime fix for skew nobody predicted.
  *
  * MEASUREMENT SYMMETRY (round-9 advice: the old aqe_split variant ran
  * under x14's demo confs — 1 MB scan bins + a merge hint — so its
  * number mixed scan-splitting overhead and a join-algorithm change
  * into the skew-split effect): ALL THREE variants run with identical
  * scan confs (4 MB bins + zero open cost — GenScale writes each
  * table as ONE file, and OptimizeSkewedJoin can only split a reducer
  * partition along MAPPER boundaries, so a single-mapper scan would
  * make the split physically impossible at small cells; the bins give
  * every cell real mapper granularity, identically in every arm), an
  * identical 1 MB advisory partition size (it is BOTH the AQE
  * coalescing target and the skew-split slice size — leaving it
  * asymmetric would let the aqe arm measure coalescing width instead
  * of skew splitting), and the SAME shuffle_hash hint. The ONLY
  * deltas are skewJoin.enabled + its threshold/factor for
  * `aqe_split`, and the salt rewrite for `salted`. Broadcast is
  * disabled throughout — a broadcast join has no reducer hotspot, so
  * it would dissolve the thing being measured (and at the 100 TB
  * operating point the dim doesn't fit the broadcast budget).
  *
  * Two modes:
  *   sbt 'runMain graft.tools.SkewStress <dir> [reps]'
  *     — measure one prepared dir; prints ONE JSON line.
  *   sbt 'runMain graft.tools.SkewStress --sweep <srcDir> <workDir> [reps]'
  *     — the round-10 crossover sweep: a (rows × hot-share) grid
  *       (K ∈ {10,100,300} over sf0.1 → 1 M / 10 M / 30 M event rows;
  *       pct ∈ {10,40}), generating each events+customer dir on
  *       demand, one JSON line per cell plus a final crossover table.
  *       The measured surface feeds SCALING.md's salting decision
  *       rule.
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config(graft.io.LocalFs.conf)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // no broadcast anywhere: the measurement IS the shuffled form
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (args.nonEmpty && args(0) == "--sweep") {
      val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      val work = if (args.length > 2) args(2) else "target/skewsweep"
      val reps = if (args.length > 3) args(3).toInt else 3
      val cells = for (k <- Seq(10, 100, 300); pct <- Seq(10, 40)) yield (k, pct)
      val rows = cells.map { case (k, pct) =>
        val dir = s"$work/k${k}p$pct"
        // resume-safe: BOTH staged tables must exist — a run killed
        // between the events and customer writes must regenerate, not
        // crash mid-grid on the missing half
        val complete = Seq("events", "customer").forall(t =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$t.parquet")))
        if (!complete) {
          System.err.println(s"[skew] generating $dir (K=$k pct=$pct)")
          GenScale.generate(spark, src, dir, k, pct,
            only = Seq("events", "customer"))
        }
        val m = measure(spark, dir, reps)
        println(cellJson(dir, k, pct, reps, m))
        (k, pct, m)
      }
      // crossover table: per cell, best remedy vs unsalted
      System.err.println(
        "rows_M pct unsalted_s salted_s aqe_s winner")
      rows.foreach { case (k, pct, m) =>
        val winner =
          Seq("unsalted" -> m.unsalted, "salted" -> m.salted,
            "aqe_split" -> m.aqe).minBy(_._2)._1
        System.err.println(
          f"${m.totalRows / 1e6}%6.1f $pct%3d ${m.unsalted}%9.2f " +
          f"${m.salted}%8.2f ${m.aqe}%5.2f  $winner")
      }
    } else {
      val dir = if (args.nonEmpty) args(0) else "target/sf1skew"
      val reps = if (args.length > 1) args(1).toInt else 3
      val m = measure(spark, dir, reps)
      println(cellJson(dir, -1, -1, reps, m))
    }
    spark.stop()
  }

  case class Measurement(totalRows: Long, hotRows: Long,
      unsalted: Double, salted: Double, aqe: Double)

  private def cellJson(dir: String, k: Int, pct: Int, reps: Int,
      m: Measurement): String =
    f"""{"metric":"skew_stress","dir":"$dir","k":$k,"pct":$pct,""" +
    f""""total_rows":${m.totalRows},"hot_rows":${m.hotRows},""" +
    f""""hot_share":${m.hotRows.toDouble / m.totalRows}%.4f,""" +
    f""""unsalted_s":${m.unsalted}%.3f,"salted_s":${m.salted}%.3f,""" +
    f""""aqe_split_s":${m.aqe}%.3f,"reps":$reps}"""

  def measure(spark: SparkSession, dir: String, reps: Int): Measurement = {
    val events = graft.io.Tables.events(spark, dir)
    val (total, hotRows) = {
      val top = events.groupBy(col("user_id")).count()
        .orderBy(desc("count")).limit(1).collect()(0).getLong(1)
      (events.count(), top)
    }

    def fact(s: SparkSession) = graft.io.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("bigint").as("cents"))
    def dim(s: SparkSession) = graft.io.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    def summarize(j: DataFrame): Long =
      j.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .count()

    // identical scan confs + shuffle_hash hint across ALL variants;
    // only the skew knobs differ (see object scaladoc)
    def unsalted(): Long = summarize(
      fact(spark).join(dim(spark).hint("shuffle_hash"),
        col("user_id") === col("c_custkey")))
    def salted(): Long =
      summarize(graft.plans.Dpp.saltedJoinRaw(spark, dir))

    def withConfs[A](pairs: (String, String)*)(body: => A): A = {
      val prev = pairs.map { case (p, _) => p -> spark.conf.getOption(p) }
      pairs.foreach { case (p, v) => spark.conf.set(p, v) }
      try body finally prev.foreach {
        case (p, Some(v)) => spark.conf.set(p, v)
        case (p, None) => spark.conf.unset(p)
      }
    }
    def time(body: () => Long): Double = {
      body() // warm: plan compilation + codegen off the clock
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(ts.size / 2)
    }

    // SYMMETRIC confs for every arm (see object scaladoc): scan bins
    // give each cell real mapper granularity (single-file tables would
    // leave OptimizeSkewedJoin nothing to split along), and the 1 MB
    // advisory — both the coalescing target AND the skew-slice size —
    // must be identical everywhere or the aqe arm measures coalescing
    // width, not skew splitting.
    val symmetric = Seq(
      "spark.sql.files.maxPartitionBytes" -> "4MB",
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB")
    val skewOff = Seq("spark.sql.adaptive.skewJoin.enabled" -> "false")
    val skewOn = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // lowered from the 256 MB cluster default so the measured hot
      // partition clears the bar at sweep scale; at 100 TB the
      // defaults fire on the same shape
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")

    withConfs(symmetric: _*) {
      val tUnsalted = withConfs(skewOff: _*)(time(() => unsalted()))
      val tSalted = withConfs(skewOff: _*)(time(() => salted()))
      val tAqe = withConfs(skewOn: _*)(time(() => unsalted()))
      Measurement(total, hotRows, tUnsalted, tSalted, tAqe)
    }
  }
}
