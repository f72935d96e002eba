package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout scale patterns: partitioned layout → partition
  * pruning; bucketed layout → shuffle-free co-located joins. These are
  * the write-side half of the 100 TB story (the read-side plan shapes
  * live in PlanSpec).
  */
class StorageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("partitioned write + filter => partition pruning in the scan") {
    val dir = Files.createTempDirectory("graft_part_").toString
    graft.io.Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    // layout: one dir per event_type
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("event_type=")) == 5, dirs.mkString(","))

    val q = spark.read.parquet(dir).filter(col("event_type") === "error")
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(1500))
    val n = q.collect().head.getLong(0)
    val expected = graft.io.Tables.events(spark, sf)
      .filter(col("event_type") === "error").count()
    assert(n == expected)
  }

  test("mt8: ORC round-trip pushes the status filter into the ORC reader") {
    val df = graft.maintenance.Maintenance.mt8OrcRoundtrip(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Format: ORC") || plan.contains("FileScan orc"), plan.take(1500))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), Not(EqualTo(o_orderstatus,P))"),
      "status predicate did not reach the ORC reader:\n" + plan.take(1500))
  }

  test("join-driven DYNAMIC partition pruning reaches the partitioned scan") {
    // the fact side is partitioned on the join key; the selective filter
    // lives on the OTHER side of the join, so the partition list is only
    // known at runtime — Spark must inject a dynamicpruning subquery into
    // the scan (at 100 TB this is what turns a dim-filtered fact join
    // from a full scan into a few partitions of I/O)
    val dir = Files.createTempDirectory("graft_dpp_").toString
    graft.io.Tables.orders(spark, sf)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = graft.io.Tables.orders(spark, sf)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority")).distinct()
      .filter(col("o_orderpriority") === "1-URGENT")
    val q = fact.join(broadcast(dim), fact("o_orderstatus") === dim("st"))
      .groupBy(col("st")).agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruning partition filter on the fact scan:\n" + plan.take(3000))
    q.collect() // and it must still produce correct rows
  }

  test("CBO: ANALYZE column stats drive an unhinted broadcast join") {
    // The stats-driven planner path a 1000-executor cluster leans on.
    // Without CBO, a Filter does NOT shrink a relation's sizeInBytes
    // estimate, so a dim whose FILE size exceeds the broadcast threshold
    // sort-merge-joins even when the filtered slice is tiny. With
    // cbo.enabled + ANALYZE column stats, FilterEstimation scales the
    // size by 1/ndv(key) and the planner broadcasts unhinted — the
    // catalog, not the code, carries the size knowledge. The xxhash64
    // padding columns are incompressible, keeping the parquet file (and
    // thus the no-CBO estimate) above the threshold, so BOTH directions
    // of the assertion can fail if the stats path regresses.
    spark.sql("DROP TABLE IF EXISTS cbo_fact")
    spark.sql("DROP TABLE IF EXISTS cbo_dim")
    // both sides generated with incompressible padding so neither side's
    // FILE-size estimate fits the threshold (sf0.001 orders would itself
    // broadcast, inverting the join under test)
    spark.range(500000)
      .select((col("id") % 50).as("fk"), xxhash64(col("id")).as("fp1"),
        xxhash64(col("id") + 1).as("fp2"), xxhash64(col("id") + 2).as("fp3"))
      .write.mode("overwrite").saveAsTable("cbo_fact")
    spark.range(50000)
      .select((col("id") % 50).as("k"), xxhash64(col("id")).as("p1"),
        xxhash64(col("id") + 1).as("p2"), xxhash64(col("id") + 2).as("p3"))
      .write.mode("overwrite").saveAsTable("cbo_dim")
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def planStr: String = spark.table("cbo_fact")
      .join(spark.table("cbo_dim").filter(col("k") === 7),
        col("fk") === col("k")) // no broadcast() hint
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (128 * 1024).toString)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      assert(!planStr.contains("BroadcastHashJoin"),
        "precondition: without CBO the filtered dim's estimate must stay " +
          s"above the threshold (file-size stats), got:\n${planStr.take(2500)}")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")
      val plan = planStr
      assert(plan.contains("BroadcastHashJoin"),
        s"stats-known small filtered dim should broadcast unhinted:\n${plan.take(2500)}")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.sql("DROP TABLE IF EXISTS cbo_fact")
      spark.sql("DROP TABLE IF EXISTS cbo_dim")
    }
  }

  test("CBO: stats-driven join reorder pulls the selective dim ahead in a 3-table star") {
    // The other half of the stats story (round-8 verdict task 3): at
    // 100 TB the ORDER joins run in decides intermediate sizes, and the
    // user's written order is rarely the cheap one. The query below is
    // WRITTEN fact ⋈ dim_wide ⋈ dim_sel: dim_wide is key-complete
    // (1:1, reduces nothing), dim_sel covers 50 of the fact's 500 k2
    // values (drops ~90% of rows). CostBasedJoinReorder — fed by
    // ANALYZE ndv/count stats, invisible to the rule otherwise — must
    // rewrite the logical join tree to join dim_sel FIRST; without CBO
    // the written order stands. Assert on the optimizedPlan's relation
    // traversal order: Join(Join(fact,X),Y) prints fact,X,Y top-down.
    Seq("cbo_fact2", "cbo_dim_wide", "cbo_dim_sel")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.range(200000)
      .select((col("id") % 50).as("k1"), (col("id") % 500).as("k2"),
        xxhash64(col("id")).as("payload"))
      .write.mode("overwrite").saveAsTable("cbo_fact2")
    spark.range(50).select(col("id").as("k"), xxhash64(col("id")).as("w"))
      .write.mode("overwrite").saveAsTable("cbo_dim_wide")
    spark.range(50).select(col("id").as("k"), xxhash64(col("id")).as("s"))
      .write.mode("overwrite").saveAsTable("cbo_dim_sel")
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevJr = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    def relationOrder: Seq[String] = {
      val txt = spark.sql(
        """SELECT count(*) AS n
           FROM cbo_fact2 f
           JOIN cbo_dim_wide w ON f.k1 = w.k
           JOIN cbo_dim_sel s ON f.k2 = s.k""")
        .queryExecution.optimizedPlan.toString
      Seq("cbo_dim_wide", "cbo_dim_sel")
        .sortBy(t => txt.indexOf("." + t)).map(_.stripPrefix("cbo_dim_"))
    }
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      Seq("cbo_fact2", "cbo_dim_wide", "cbo_dim_sel").foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      assert(relationOrder == Seq("sel", "wide"),
        "CBO should join the selective dim first, got order " + relationOrder)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      assert(relationOrder == Seq("wide", "sel"),
        "precondition: without CBO the written join order must stand")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevJr)
      Seq("cbo_fact2", "cbo_dim_wide", "cbo_dim_sel")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("catalog-backed zone tables: REAL entries are planned from ANALYZE stats") {
    // Round-9 verdict task 4: the synthetic cbo_fact/cbo_dim tests
    // prove the MECHANISM; this proves the PRODUCT SURFACE consumes
    // it. registerCatalogTables puts the zone tables in the catalog
    // (temp views can't hold stats) and ANALYZEs them; then two real
    // shipped entries are planned through spark.sql over those
    // catalog relations:
    //  1. q7 (scalar subquery): every leaf relation's optimized-plan
    //     stats must carry the ANALYZE rowCount — exactly the numbers
    //     CBO estimation consumes.
    //  2. o25 (lineitem ⋈ part dim join): the broadcast decision must
    //     FOLLOW the stats estimate. The part relation has two
    //     different size estimates — compressed file size (no CBO)
    //     vs rowCount × rowWidth from ANALYZE (CBO) — so a threshold
    //     placed between them must flip the join strategy when CBO
    //     flips, in whichever direction the two estimates order
    //     themselves. Falsifiable both ways: if stats stop flowing,
    //     the two plans come out identical and the assert fails.
    graft.io.Tables.registerCatalogTables(spark, sf)
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")

      // (1) q7's relations carry the ANALYZE rowCount
      val q7 = spark.sql(graft.analytics.SqlTwin.text("q7_scalar_subquery"))
      val leaves = q7.queryExecution.optimizedPlan
        .collectWithSubqueries { case l if l.children.isEmpty => l }
      val rowCounts = leaves.flatMap(_.stats.rowCount).map(_.toLong).toSet
      val expected = Set(
        graft.io.Tables.lineitem(spark, sf).count(),
        graft.io.Tables.orders(spark, sf).count())
      assert(rowCounts == expected,
        s"q7's catalog relations should carry the ANALYZE rowCounts " +
          s"$expected in their plan stats, got $rowCounts")

      // (2) o25's broadcast decision follows whichever estimate is live
      val o25 = SparkEntry.oracleSql("o25_join_enrich")
      def partEstimate(cbo: Boolean): BigInt = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        // JoinSelection compares the join's RIGHT CHILD estimate (the
        // column-pruned projection over part), not the raw relation
        val join = spark.sql(o25).queryExecution.optimizedPlan
          .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
          .headOption.getOrElse(fail("o25 plan lost its join"))
        join.right.stats.sizeInBytes
      }
      val (estFile, estCbo) = (partEstimate(cbo = false), partEstimate(cbo = true))
      assert(estFile != estCbo,
        s"ANALYZE stats should change part's size estimate (both $estFile) — " +
          "stats are not flowing into the entry's plan")
      val mid = ((estFile + estCbo) / 2).toString
      def broadcasts(cbo: Boolean): Boolean = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", mid)
        spark.sql(o25).queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin")
      }
      val (bcFile, bcCbo) = (broadcasts(cbo = false), broadcasts(cbo = true))
      assert(bcFile == (estFile <= BigInt(mid)),
        s"no-CBO broadcast decision ($bcFile) contradicts the file estimate $estFile vs $mid")
      assert(bcCbo == (estCbo <= BigInt(mid)),
        s"CBO broadcast decision ($bcCbo) contradicts the stats estimate $estCbo vs $mid")
      assert(bcFile != bcCbo,
        "flipping CBO did not change o25's join strategy — the catalog stats " +
          "are not reaching JoinSelection for a real entry")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      graft.io.Tables.dropCatalogTables(spark)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    // default warehouse (./spark-warehouse, gitignored) — warehouse.dir
    // is a static conf and cannot be set per-test
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    graft.io.Tables.orders(spark, sf)
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_orders")
    graft.io.Tables.customer(spark, sf)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_customer")
    // disable broadcast so the join would otherwise shuffle both sides
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        .groupBy(col("c_name")).agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      // bucket co-location: the join itself needs NO Exchange on either side
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      val exchangesBeforeAgg = "Exchange hashpartitioning\\(o_custkey".r
        .findAllIn(plan).size
      assert(exchangesBeforeAgg == 0,
        s"bucketed join still shuffles on the key:\n${plan.take(2500)}")
      assert(j.collect().map(_.getLong(1)).sum == 1500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("s8 persisted IVF: search scan is dynamic-partition-pruned; results == s4") {
    // the index is written partitionBy(cell_id); the probed-cell list is
    // only known after scanning the query side, so Spark must inject a
    // dynamicpruning subquery into the index scan — at 100 TB retrieval
    // reads only the probed cells' directories, never the full corpus
    val q = graft.similarity.Ann.s8IvfPersisted(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruning filter on the persisted-index scan:\n" + plan.take(3000))
    // doubles round-trip parquet bit-exactly, so the persisted path is
    // row-for-row identical to the in-plan S-4 form
    val persisted = q.collect().map(_.toSeq).toSeq
    val inPlan = graft.similarity.Ann.s4IvfTopK(spark, sf).collect().map(_.toSeq).toSeq
    assert(persisted == inPlan)
    assert(persisted.nonEmpty)
  }

  test("O-37 XML: attribute/_VALUE mapping and entity escaping survive the round-trip") {
    val out = graft.ops.OpQueries.o37XmlSource(spark, sf)
    val rows = out.collect()
    val src = graft.io.Tables.supplier(spark, sf)
      .orderBy(col("s_suppkey")).collect()
    assert(rows.length == src.length && rows.nonEmpty)
    // the hostile prefix (<, &, ") must come back decoded on every row
    assert(rows.forall(_.getAs[String]("name_text").startsWith("<tag> & \"quoted\" ")))
    // attribute round-trip: nation attr equals the source nation key, row-for-row
    rows.zip(src).foreach { case (r, sr) =>
      assert(r.getAs[Long]("nation_attr") == sr.getAs[Number]("s_nationkey").longValue())
      // doubles cross XML text bit-exactly (Double.toString ↔ parse)
      assert(r.getAs[Double]("s_acctbal") == sr.getAs[Double]("s_acctbal"))
    }
  }

  test("O-2 JDBC: partitioned read-back splits into range partitions; empty guard skips") {
    val work = Files.createTempDirectory("graft_pipeline_derbyspec_")
    System.setProperty("derby.stream.error.file",
      work.resolve("derby.log").toString)
    val url = s"jdbc:derby:${work.resolve("db")};create=true"
    graft.io.Tables.nation(spark, sf).write.format("jdbc")
      .option("url", url).option("dbtable", "nation_rt")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    // partitioned read: 4 range slices on the key = 4 parallel cursors
    val back = graft.io.JdbcSource.read(spark, url, "nation_rt", "", "",
      partitionColumn = Some(("n_nationkey", 0L, 24L, 4)))
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == graft.io.Tables.nation(spark, sf).count())
    assert(graft.io.JdbcSource.nonEmpty(back).isDefined)
    // the reference's skip-if-empty guard fires on an empty source table
    val empty = back.filter(col("n_nationkey") < 0)
    assert(graft.io.JdbcSource.nonEmpty(empty).isEmpty)
  }

  test("p6: planted crash debris is genuinely broken, and the retry repairs every zone") {
    val work = Files.createTempDirectory("graft_p6_spec_").toString
    graft.pipeline.Pipeline.plantCrashDebris(spark, sf, work)
    // the wreckage is real: clean zone is truncated with attempt litter
    // and no success marker; curated zone holds a non-parquet object
    val cleanPath = s"$work/clean-zone/sheets/catatan_aktivitas"
    assert(spark.read.parquet(cleanPath).count() == 7, "clean zone should be truncated")
    assert(!new java.io.File(s"$cleanPath/_SUCCESS").exists)
    assert(new java.io.File(s"$cleanPath/_temporary").exists)
    assertThrows[Exception] {
      spark.read.parquet(s"$work/curated-zone/prescriptive_hygiene").collect()
    }
    // the retry: same pipeline, same zones — every zone must converge
    val result = graft.pipeline.Pipeline.run(spark, sf, work)
    val direct = graft.pipeline.Pipeline.p1Pipeline(spark, sf)
    assert(result.count() == direct.count())
    assert(result.exceptAll(direct).isEmpty && direct.exceptAll(result).isEmpty,
      "retried pipeline output must equal a clean run's output")
    // clean zone repaired to the full snapshot (not the truncated 7)
    assert(spark.read.parquet(cleanPath).count() > 7)
    assert(new java.io.File(s"$cleanPath/_SUCCESS").exists)
  }

  test("raw hop: every raw-zone write runs straight from the scan, no shuffle") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import scala.jdk.CollectionConverters._
    // every node of an executed plan: AQE final plans, query stages and
    // subqueries included (the wrappers are childless to `collect`)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        nodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              writes.add(i.outputPath.toString -> qe.executedPlan)
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val work = Files.createTempDirectory("graft_rawhop_spec_").toString
    spark.listenerManager.register(listener)
    def rawWrites = writes.asScala.toSeq.filter(_._1.contains("/raw-zone/"))
    try {
      graft.pipeline.Pipeline.run(spark, sf, work).collect()
      // the listener posts on the async bus: wait for all four raw objects
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (rawWrites.size < 4 && System.nanoTime() < deadline) Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    val raw = rawWrites
    assert(raw.map(_._1.replaceAll(".*/raw-zone/", "")).sorted == Seq(
      "api/env_20010101_000000", "api/env_20010102_000000",
      "sheets/activity_20010101_000000", "sheets/activity_20010102_000000"))
    raw.foreach { case (path, plan) =>
      assert(!nodes(plan).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"the raw write to $path shuffles:\n$plan")
    }
    // the latest sheets object is cores-wide even from a one-task scan
    val rows = graft.io.Tables.tableRowCount(spark, sf, "lineitem").get
    val parts = new java.io.File(s"$work/raw-zone/sheets/activity_20010102_000000")
      .listFiles.count(_.getName.startsWith("part-"))
    assert(parts == math.min(spark.sparkContext.defaultParallelism.toLong, rows))
    val stale = spark.read.option("header", "true")
      .csv(s"$work/raw-zone/sheets/activity_20010101_000000")
    assert(stale.count() == 10)
    assert(spark.read.parquet(s"$work/clean-zone/sheets/catatan_aktivitas").count() ==
      graft.io.Tables.lineitem(spark, sf).filter(col("l_shipdate").isNotNull).count())
  }

  test("latestObject matches entry names only, and names root and prefix when empty") {
    // a work dir whose own path contains both prefixes: matching on the
    // whole path would make every sibling a candidate
    val root = Files.createTempDirectory("graft_activity_env_")
    Seq("activity_20010101_000000", "activity_20010102_000000", "env_20990101_000000")
      .foreach(n => Files.createDirectories(root.resolve(n)))
    val pick = graft.pipeline.Pipeline.latestObject(root.toString, _: String)
    assert(pick("activity_") == root.resolve("activity_20010102_000000").toString)
    assert(pick("env_") == root.resolve("env_20990101_000000").toString)
    val e = intercept[IllegalStateException](pick("graft_"))
    assert(e.getMessage.contains(root.toString) && e.getMessage.contains("graft_*"))
  }

  test("session memo: rewrites are seen with no invalidate call") {
    // Every memo keyed on documents.parquet — the table plan, the dedup
    // signatures, the temp views — must serve the latest write in the
    // same session: the key is the file fingerprint, and there is no
    // call a writer could forget.
    val dir = Files.createTempDirectory("graft_memo_").toString
    // registerViews needs all ten tables: the nine others are copies
    graft.io.Tables.names.filterNot(_ == "documents").foreach { n =>
      Files.copy(java.nio.file.Paths.get(sf, s"$n.parquet"),
        java.nio.file.Paths.get(dir, s"$n.parquet"))
    }
    def write(n: Int): Unit = {
      import spark.implicits._
      (0 until n).map(i => (i.toLong, s"doc number $i here", "en", "web", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    def viewCount(): Long =
      spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    for (n <- Seq(10, 25, 7)) {
      write(n)
      assert(graft.io.Tables.documents(spark, dir).count() == n,
        s"Tables.documents served a stale plan after writing $n rows")
      assert(graft.dedup.Dedup.d2MinhashSig(spark, dir).count() == n,
        s"d2 signatures are stale after writing $n rows")
      graft.io.Tables.registerViews(spark, dir)
      assert(viewCount() == n, s"the documents view is stale after writing $n rows")
    }
    // the views follow the CURRENT dir: A -> B -> A points back at A
    graft.io.Tables.registerViews(spark, sf)
    val sfDocs = viewCount()
    assert(sfDocs != 7)
    graft.io.Tables.registerViews(spark, dir)
    assert(viewCount() == 7, "registerViews A -> B -> A left the views on B")
    graft.io.Tables.registerViews(spark, sf)
    assert(viewCount() == sfDocs)
  }

  test("work-dir sweep cutoff: 1h default spares fresh dirs, the measurement pre-sweep (0) clears them") {
    // The sweep's two regimes are a contract (SCALING.md §round-13
    // sweep debt): production entries must NEVER delete a concurrent
    // invocation's fresh zones (1h guard), while Bench/Entry's
    // pre-sweep must clear EVERYTHING so stale debris can't age past
    // the cutoff mid-run and bill its deletion to a timed entry.
    val root = Files.createTempDirectory("sweep_root_")
    def plant(name: String): java.nio.file.Path = {
      val d = root.resolve(name)
      Files.createDirectories(d.resolve("zone"))
      Files.write(d.resolve("zone/part-0"), "x".getBytes("UTF-8"))
      d
    }
    val fresh = plant("graft_fresh_123")
    val stale = plant("graft_stale_456")
    val other = plant("unrelated_789") // non-graft prefix: never touched
    // plain graft_* FILES are other processes' live plumbing (Bench
    // pipes each fresh-JVM child's stdout to graft_fresh_*.out and
    // reads it AFTER the child's own pre-sweep ran) — files keep the
    // 1h cutoff even under the cutoff-0 pre-sweep, but crash-orphaned
    // out-files older than 1h ARE reclaimed
    val pipeFile = root.resolve("graft_fresh_42.out")
    Files.write(pipeFile, "TIMED…".getBytes("UTF-8"))
    val orphanFile = root.resolve("graft_fresh_41.out")
    Files.write(orphanFile, "TIMED…".getBytes("UTF-8"))
    Files.setLastModifiedTime(orphanFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000L))
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000L))
    graft.pipeline.Pipeline.sweepWorkDirs(root, 3600)
    assert(Files.exists(fresh), "1h sweep deleted a fresh dir (concurrent-run guard broken)")
    assert(!Files.exists(stale), "1h sweep spared a 2h-old dir")
    assert(Files.exists(other), "sweep touched a non-graft dir")
    graft.pipeline.Pipeline.sweepWorkDirs(root, 0)
    assert(!Files.exists(fresh), "pre-sweep (cutoff 0) spared a graft dir")
    assert(Files.exists(other), "pre-sweep touched a non-graft dir")
    assert(Files.exists(pipeFile),
      "sweep deleted a FRESH graft_* file (the Bench fresh-pipe regression)")
    assert(!Files.exists(orphanFile),
      "sweep spared a >1h-old orphaned graft_* file (unbounded debris)")
  }

  test("effective scan splits are row-group-bound; documentsWide widens only when starved") {
    // The r13 contract (SCALING.md §effective scan parallelism):
    // parquet assigns a row group to the byte-split holding its start,
    // so scan-stage width is min(planned splits, row groups) — a
    // single coalesced write is ONE row group per 128 MB however many
    // byte splits planning reports. Tables.widened compares it with the
    // width the file's bytes ask for at every compute-heavy scan seam;
    // this pins the signal itself, the widen/no-widen branch, and that
    // a rewrite is seen with no call.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rg_").toString
    // ~20 MB of INCOMPRESSIBLE rows (hex-mixed tokens — repetitive
    // text snappy-compressed below one byte split and planned=1 hid
    // the row-group assertion): big enough that byte-split planning
    // alone says "wide" (bytes/openCost >= cores), so the starved
    // case below isolates the ROW-GROUP bound — the exact blind spot
    // the old planned-splits predicate had
    def write(blockBytes: Int): Unit = {
      val tmp = s"$dir/_gen_documents"
      def text(i: Int): String = (0 until 40).map { j =>
        java.lang.Long.toHexString((i.toLong * 40 + j) * 0x9E3779B97F4A7C15L)
      }.mkString(" ")
      (0 until 50000).map(i =>
          (i.toLong, text(i), "en", "web", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockBytes).parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val tgt = java.nio.file.Paths.get(dir, "documents.parquet")
      Files.deleteIfExists(tgt)
      Files.move(part.toPath, tgt)
    }
    val par = spark.sparkContext.defaultParallelism

    write(512 * 1024 * 1024) // one giant block → ONE row group
    assert(graft.io.Tables.effectiveScanSplits(spark, dir, "documents") == 1,
      "a single-row-group file must report effective width 1")
    val widePartitions = graft.io.Tables
      .documentsWide(spark, dir, Seq("doc_id", "text")).rdd.getNumPartitions
    assert(widePartitions == par,
      s"a starved ~30 MB file asks for every core, got $widePartitions")
    // value identity: the widen is a pure repartition
    val narrow = graft.io.Tables.documents(spark, dir)
      .select("doc_id", "text").collect().sortBy(_.getLong(0))
    val wide = graft.io.Tables.documentsWide(spark, dir, Seq("doc_id", "text"))
      .collect().sortBy(_.getLong(0))
    assert(narrow.sameElements(wide), "widen changed row content")

    // rewrite with tiny blocks → many row groups; the memo is keyed on
    // the file fingerprint, so the NEW layout is seen with no call
    write(64 * 1024)
    assert(graft.io.Tables.effectiveScanSplits(spark, dir, "documents") > 1,
      "row-group memo served the old single-row-group layout after a rewrite")
    // Pin the split-planning confs for the eff >= par assertions (r13
    // ADVICE): with the session defaults, "a ~30 MB file plans >= par
    // splits" is an accident of defaultParallelism × 128 MB-partition
    // arithmetic — a test master with more cores or a Spark default
    // bump would flip the widen and fail this spuriously. 1 MB
    // partitions + zero open cost make planned splits ≈ fileBytes/1 MB,
    // deterministically >= par for this ~30 MB fixture.
    val pinKeys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val prevPins = pinKeys.map(k => k -> spark.conf.getOption(k))
    pinKeys.foreach(k => spark.conf.set(k, (1024 * 1024).toString))
    try {
      val eff = graft.io.Tables.effectiveScanSplits(spark, dir, "documents")
      assert(eff >= par,
        s"64 KB blocks over ~30 MB at 1 MB planned partitions should clear the row-group bound, got $eff")
      val p = graft.io.Tables
        .documentsWide(spark, dir, Seq("doc_id", "text"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "un-starved file must NOT pay the widen exchange:\n" + p.take(1500))
    } finally {
      prevPins.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

    // a Spark-written DIRECTORY layout must not break the footer read
    // (row groups sum across part files)
    val dir2 = Files.createTempDirectory("graft_rgdir_").toString
    (0 until 100).map(i => (i.toLong, "a b c", "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3).write.parquet(s"$dir2/documents.parquet")
    val effDir = graft.io.Tables.effectiveScanSplits(spark, dir2, "documents")
    assert(effDir >= 1 && effDir <= par,
      s"directory-layout footer read returned $effDir")

    // a PARTITIONED directory layout (nested lang=…/ subdirs) must list
    // recursively — the r13 non-recursive listFiles saw zero leaves,
    // reported groups=0, and pinned the widen on forever (its
    // exchange taxed onto every consumer of the dir)
    val dir3 = Files.createTempDirectory("graft_rgnest_").toString
    (0 until 100).map(i => (i.toLong, "a b c", if (i % 2 == 0) "en" else "de", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.partitionBy("lang").parquet(s"$dir3/documents.parquet")
    val effNested = graft.io.Tables.effectiveScanSplits(spark, dir3, "documents")
    assert(effNested >= 1,
      s"partitioned layout must sum row groups across nested leaves, got $effNested")

    // a directory whose leaves don't carry the .parquet suffix (foreign
    // writers) is UNKNOWN, not starved: the probe must fall back to
    // planned splits (MaxValue bound), never report groups=0
    val dir4 = Files.createTempDirectory("graft_rgnoext_").toString
    (0 until 100).map(i => (i.toLong, "a b c", "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir4/documents.parquet")
    new java.io.File(s"$dir4/documents.parquet").listFiles
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.move(f.toPath, f.toPath.resolveSibling("data-noext"))
      }
    val effNoExt = graft.io.Tables.effectiveScanSplits(spark, dir4, "documents")
    assert(effNoExt >= 1,
      s"suffix-less leaves must read as unknown (planned-split bound), got $effNoExt")
  }

  test("documentsWide both sides: ≥ 3 MB widens, sf0.001 does not; nine entries agree") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    def widenedTo(dir: String): Option[Int] =
      graft.io.Tables.documentsWide(spark, dir, Seq("doc_id", "text"))
        .queryExecution.analyzed.collectFirst { case r: Repartition if r.shuffle => r.numPartitions }
    assert(widenedTo(sf).isEmpty, "the 65 KB sf0.001 file (n = 1) must not widen")

    // the fixture widens to the width its bytes ask for
    val big = WideDocs.from(sf)
    val bytes = new java.io.File(s"$big/documents.parquet").length
    val par = spark.sparkContext.defaultParallelism
    assert(graft.io.Tables.effectiveScanSplits(spark, big, "documents") == 1)
    val want = graft.plans.ExchangeSizing.width(bytes, spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), 1, par)
    assert(want > 1 && widenedTo(big).contains(want), s"$bytes B: ${widenedTo(big)} vs $want")

    // the same rows as ~512 KB row groups under 512 KB splits: the
    // effective width covers the ask, so no widen
    val split = Files.createTempDirectory("graft_widen_split_").toString
    spark.read.parquet(s"$big/documents.parquet").coalesce(1).write
      .option("parquet.block.size", 512 * 1024).parquet(s"$split/_gen")
    val part = new java.io.File(s"$split/_gen").listFiles.find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(split, "documents.parquet"))

    val entries = Seq("d2_minhash_sig", "d3_lsh_pairs", "d5_simhash", "d17_source_overlap",
      "t4_fingerprint", "t14_tfidf", "t15_bigram_lm", "t17_boilerplate", "t18_quality_gate")
    def sha256(dir: String, e: String): String = {
      val rows = SparkEntry.queries(e)(spark, dir).collect().map(_.toString).sorted
      assert(rows.nonEmpty, s"$e came out empty on $dir")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val widened = entries.map(sha256(big, _))
    val pins = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = pins.map(k => k -> spark.conf.getOption(k))
    pins.foreach(spark.conf.set(_, (512 * 1024).toString))
    val narrow = try {
      assert(widenedTo(split).isEmpty,
        s"effective splits ${graft.io.Tables.effectiveScanSplits(spark, split, "documents")}")
      entries.map(sha256(split, _))
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    entries.zip(widened.zip(narrow)).foreach { case (e, (w, n)) =>
      assert(w == n, s"the widen changed $e's output")
    }
  }
}

/** A one-row-group documents file of ≥ 3 MB (GenScale's 60 keyed
  * replicas of a gate corpus): big enough that `Tables.widened` widens
  * it, built once per source dir and test JVM. */
object WideDocs {
  private val built = scala.collection.mutable.Map.empty[String, String]
  def from(src: String): String = synchronized {
    built.getOrElseUpdate(src, {
      val d = Files.createTempDirectory("graft_widen_big_").toString
      graft.tools.GenScale.generate(SparkTestSession.spark, src, d, 60, only = Seq("documents"))
      val bytes = new java.io.File(s"$d/documents.parquet").length
      require(bytes >= 3000000L, s"fixture is $bytes B, under 3 MB")
      d
    })
  }
}
