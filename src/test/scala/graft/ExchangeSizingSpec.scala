package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ExchangeSizing
import graft.tools.Entry

/** Sessions on `Bench.session`'s conf, built on the shared test
  * context: `sized` with [[GraftExtensions]] installed, `unsized`
  * without it (every exchange at the ceiling). */
object SizingSessions {
  private def build(withExtension: Boolean): SparkSession = {
    val shared = SparkTestSession.spark
    val conf = Bench.sessionConf(shared.sparkContext.defaultParallelism.toString)
      .filter { case (k, _) => k.startsWith("spark.sql.") && k != "spark.sql.extensions" }
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder().config(conf)
      (if (withExtension) b.withExtensions(new GraftExtensions()) else b).getOrCreate()
    } finally { SparkSession.setDefaultSession(shared); SparkSession.setActiveSession(shared) }
  }
  lazy val sized: SparkSession = build(withExtension = true)
  lazy val unsized: SparkSession = build(withExtension = false)
}

/** [[ExchangeSizing]]: map sides sized from their input bytes, one
  * count for co-partitioned children, the ceiling for what cannot be
  * measured, and equal outputs on both sides of the rule. */
class ExchangeSizingSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val sized = SizingSessions.sized
  lazy val unsized = SizingSessions.unsized
  lazy val cores = sized.sparkContext.defaultParallelism
  lazy val ceiling = sized.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt

  private def stages(df: DataFrame): Seq[ShuffleQueryStageExec] = {
    df.collect()
    Entry.shuffleStages(df.queryExecution.executedPlan)
  }

  private def sha256(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(rows.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def withConf[T](s: SparkSession, pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Every node of an executed plan, through AQE plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case st: QueryStageExec => st +: nodes(st.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Each sort-merge join's side widths, read from the stages below it. */
  private def smjSides(plan: SparkPlan): Seq[Seq[Int]] =
    nodes(plan).collect { case j: SortMergeJoinExec =>
      j.children.map(c => c.collectFirst {
        case st: ShuffleQueryStageExec => st.shuffle.outputPartitioning.numPartitions
      }.getOrElse(fail(s"no shuffle stage under a join side:\n$j")))
    }

  test("the sized session carries the Bench conf: ceiling above cores") {
    assert(ceiling == math.max(1024, 8 * cores))
    assert(sized.sessionState.adaptiveRulesHolder.queryStagePrepRules
      .exists(_.isInstanceOf[ExchangeSizing]))
    assert(!unsized.sessionState.adaptiveRulesHolder.queryStagePrepRules
      .exists(_.isInstanceOf[ExchangeSizing]))
  }

  test("(a) q6 at sf0.001: its aggregate exchange writes `cores` partitions, not the ceiling") {
    val all = stages(analytics.Queries.q6Trend(sized, sf))
    val hashed = all.filter(_.shuffle.outputPartitioning.numPartitions > 1)
    assert(hashed.nonEmpty, all.mkString("\n"))
    hashed.foreach { st =>
      assert(st.shuffle.outputPartitioning.numPartitions == cores, st.shuffle)
      assert(st.shuffle.asInstanceOf[SparkPlan].getTagValue(ExchangeSizing.InputBytes)
        .exists(_ > 0), s"no measured input on ${st.shuffle}")
    }
  }

  test("(b) a sort-merge join's sides get one count: scans, an aggregate below, a cached side") {
    val orders = sized.read.parquet(s"$sf/orders.parquet")
    val lineitem = sized.read.parquet(s"$sf/lineitem.parquet")
    val customer = sized.read.parquet(s"$sf/customer.parquet")
    // a small advisory size so the two scans want different widths
    withConf(sized, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384") {
      val scans = orders.join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
        .groupBy("o_orderpriority").count()
      val byAgg = orders.groupBy("o_custkey").count()
        .join(customer, orders("o_custkey") === customer("c_custkey"))
      val cached = orders.persist()
      try {
        cached.count()
        val withCache = cached.join(lineitem, cached("o_orderkey") === lineitem("l_orderkey"))
          .groupBy("o_orderpriority").count()
        for ((label, df) <- Seq("scans" -> scans, "aggregate below" -> byAgg, "cached" -> withCache)) {
          df.collect()
          val sides = smjSides(df.queryExecution.executedPlan)
          assert(sides.nonEmpty, s"$label: no sort-merge join")
          sides.foreach(s => assert(s.distinct.size == 1, s"$label: sides ${s.mkString(" vs ")}"))
          assert(sides.head.head > cores && sides.head.head < ceiling, s"$label: $sides")
        }
        // both scans measured: the join takes the larger (lineitem's) width
        val li = new java.io.File(s"$sf/lineitem.parquet").length
        assert(smjSides(scans.queryExecution.executedPlan).head.head ==
          ExchangeSizing.width(li, 16384, cores, ceiling))
        withConf(unsized, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val plain = unsized.read.parquet(s"$sf/orders.parquet")
          val li2 = unsized.read.parquet(s"$sf/lineitem.parquet")
          assert(sha256(scans) == sha256(plain.join(li2, plain("o_orderkey") === li2("l_orderkey"))
            .groupBy("o_orderpriority").count()))
          assert(sha256(withCache) == sha256(scans))
        }
      } finally cached.unpersist(blocking = true)
    }
  }

  test("(c) an exchange over an unmeasured leaf keeps the ceiling") {
    import org.apache.spark.sql.functions.col
    val df = sized.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val st = stages(df).filter(_.shuffle.outputPartitioning.numPartitions > 1)
    assert(st.nonEmpty)
    st.foreach { s =>
      assert(s.shuffle.outputPartitioning.numPartitions == ceiling)
      assert(s.shuffle.asInstanceOf[SparkPlan].getTagValue(ExchangeSizing.InputBytes).isEmpty)
    }
  }

  test("a ceiling equal to the cores (the shared test session) leaves every plan unchanged") {
    val spark = SparkTestSession.spark
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == spark.sparkContext.defaultParallelism)
    val aqe = analytics.Queries.q6Trend(spark, sf).queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec]
    assert(aqe.initialPlan.exists(_.isInstanceOf[ShuffleExchangeExec]))
    assert(ExchangeSizing(spark)(aqe.initialPlan) eq aqe.initialPlan)
  }

  test("micro-batch plans do not run AQE: st6's exchanges keep the drain width") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val prev = streaming.Stream.drainObserver.getAndSet(
      q => tools.CodegenAudit.lastStreamingPlan(q).foreach(plans.add))
    try SparkEntry.queries("st6_stream_dedup")(sized, sf).collect()
    finally streaming.Stream.drainObserver.set(prev)
    assert(!plans.isEmpty, "no micro-batch plan captured")
    plans.forEach { p =>
      assert(p.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty, p.treeString)
      val widths = p.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      assert(widths.nonEmpty && widths.forall(_ == 8), s"drain widths $widths")
    }
  }

  test("(d) both sides of the rule: equal sorted rows for the sized entries") {
    val names = Seq("q6_trend", "q10_minute_avg", "q13_hour_heatmap", "q16_distinct", "q17_binning",
      "d3_lsh_pairs", "d8_lsh_jaccard", "d14_dedup_verdict", "d19_cluster_split",
      "p4_curation_pipeline", "t15_bigram_lm")
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      assert(sha256(fn(sized, sf)) == sha256(fn(unsized, sf)), n)
    }
  }
}
