package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.Binary
import graft.similarity.Ann
import graft.streaming.Stream
import graft.text.TextOps

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  val sfBig = "/root/testdata/sf0.1"

  test("minhash-LSH recalls every exact-duplicate pair (sf0.1 has 8 planted)") {
    val exactPairs = Dedup.d1Exact(spark, sfBig)
      .filter(col("n_dups") > 1).count()
    assert(exactPairs == 8, s"expected 8 planted dup groups, got $exactPairs")
    // every doc pair with identical text shares all shingles => all bands collide
    val docs = graft.io.Tables.documents(spark, sfBig)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(expr("ids[0]").as("doc_a"), expr("ids[1]").as("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val lsh = Dedup.d3LshPairs(spark, sfBig)
    assert(docs.join(lsh, Seq("doc_a", "doc_b"), "left_anti").count() == 0,
      "an exact-duplicate pair escaped LSH")
  }

  test("simhash of exact-duplicate docs is identical") {
    val sh = Dedup.d5Simhash(spark, sfBig)
    val dups = graft.io.Tables.documents(spark, sfBig)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(expr("ids[0]").as("a"), expr("ids[1]").as("b"))
    val joined = dups
      .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("simhash", "sim_a"), "a")
      .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("simhash", "sim_b"), "b")
    assert(joined.filter(col("sim_a") =!= col("sim_b")).count() == 0)
  }

  test("LSH ANN results are a subset of brute-force candidates with identical scores") {
    val brute = Ann.s1BruteTopK(spark, sf)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val lsh = Ann.s2LshTopK(spark, sf)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("lsh_cosine"))
    // any (query, neighbor) in both must carry the same cosine
    val both = brute.join(lsh, Seq("query_id", "neighbor_id"))
    assert(both.filter(abs(col("cosine") - col("lsh_cosine")) > 1e-9).count() == 0)
  }

  test("multi-probe recall dominates single-bucket recall per query") {
    // s9's candidate set (own bucket + all Hamming-1 probes) is a strict
    // superset of s2's (own bucket), so for each query, recall@k vs the
    // brute-force truth can only improve.
    val truth = Ann.s1BruteTopK(spark, sf)
      .select(col("query_id"), col("neighbor_id")).cache()
    def hitsPerQuery(df: org.apache.spark.sql.DataFrame) =
      truth
        .join(df.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    val s2h = hitsPerQuery(Ann.s2LshTopK(spark, sf))
      .withColumnRenamed("hits", "h2")
    val s9h = hitsPerQuery(Ann.s9MultiProbe(spark, sf))
      .withColumnRenamed("hits", "h9")
    val cmp = s2h.join(s9h, Seq("query_id"), "full")
      .select(coalesce(col("h2"), lit(0L)).as("h2"),
        coalesce(col("h9"), lit(0L)).as("h9"))
    assert(cmp.filter(col("h9") < col("h2")).count() == 0,
      "a query lost recall going from single-bucket to multi-probe")
  }

  test("s12 k-means: inertia is non-increasing across Lloyd's rounds, centroids are floor-means") {
    val stats = Ann.s12KmeansTrain(spark, sf).collect()
    val byRound = stats.groupBy(_.getInt(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    // Exact Lloyd's is monotone, but the floor-quantized centroid update
    // is not the exact mean, so strict monotonicity is not guaranteed in
    // theory. Allow the flooring perturbation: each coordinate is off by
    // <1, contributing at most ~(2|x_d-m_d|+1) per vector-dim; a slack
    // of n_vecs*Dim covers the additive term (the cross term has never
    // been observed to flip the sign at any shipped SF — empirically the
    // rounds are strictly decreasing; this is the theory-safe bound).
    val nVecs = graft.io.Tables.embeddings(spark, sf).count()
    val slack = nVecs * Ann.Dim
    (1 until Ann.KmRounds).foreach { r =>
      assert(byRound(r + 1) <= byRound(r) + slack,
        s"total inertia rose from round $r (${byRound(r)}) to ${r + 1} (${byRound(r + 1)}) " +
          s"beyond flooring slack $slack")
    }
    // every round keeps the full corpus assigned (no vector dropped)
    val n = nVecs
    stats.groupBy(_.getInt(0)).foreach { case (r, rows) =>
      assert(rows.map(_.getLong(2)).sum == n, s"round $r lost vectors")
    }
  }

  test("s13: trained codebook recall does not fall below the s4 seed codebook's") {
    // s6's harness, two indexes: hits@k vs the s1 brute-force truth for
    // the untrained deterministic codebook (s4) and the k-means-trained
    // one (s13). Lloyd's rounds minimize quantization error, which is
    // what drives IVF cell quality — measured 11>9 (sf0.001), 8>7
    // (sf0.01) at round 8; the spec pins the non-regression direction.
    val brute = Ann.s1BruteTopK(spark, sf).select(col("query_id"), col("neighbor_id"))
    val s4Hits = brute.join(
      Ann.s4IvfTopK(spark, sf).select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val trainedHits = Ann.s13TrainedRecall(spark, sf)
      .agg(sum(col("n_hit"))).collect()(0).getLong(0)
    assert(trainedHits >= s4Hits,
      s"k-means training lost recall: trained=$trainedHits < seed=$s4Hits")
  }

  test("containment dominates jaccard on every sampled pair") {
    // |A∩B|/|A| ≥ |A∩B|/|A∪B| always (|A| ≤ |A∪B|); both entries run
    // on the SAME anchor pair sample, so the comparison is row-for-row.
    val j = Dedup.d4NgramJaccard(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val c = Dedup.d16Containment(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("contain_a"), col("contain_b"))
    val both = j.join(c, Seq("doc_a", "doc_b"))
    assert(both.count() > 0)
    // rounding to 4dp on both sides can flip an equality by at most 1e-4
    val bad = both.filter(
      col("contain_a") < col("jaccard") - 0.0001 ||
      col("contain_b") < col("jaccard") - 0.0001)
    assert(bad.count() == 0, "containment must dominate jaccard")
  }

  test("jaccard is 1.0 for identical docs and within [0,1] everywhere") {
    val j = Dedup.d4NgramJaccard(spark, sf).collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val v = if (r.isNullAt(r.fieldIndex("jaccard"))) 0.0 else r.getAs[Double]("jaccard")
      assert(v >= 0.0 && v <= 1.0)
    }
  }

  test("multimodal decode: one feature row per asset, deterministic") {
    val f1 = Binary.m2DecodeFeatures(spark, sf).collect()
    val f2 = Binary.m2DecodeFeatures(spark, sf).collect()
    assert(f1.length == 500 && f1.sameElements(f2))
    f1.foreach { r =>
      assert(r.getAs[Int]("width") >= 8 && r.getAs[Int]("width") <= 32)
      assert(r.getAs[Int]("height") >= 8 && r.getAs[Int]("height") <= 32)
      assert(r.getAs[Int]("maxval") == 255)
      assert(r.getAs[Int]("n_pixels") ==
        r.getAs[Int]("width") * r.getAs[Int]("height"))
      assert(r.getAs[Int]("min_px") <= r.getAs[Int]("max_px"))
      assert(r.getAs[Long]("sum_px") <= 255L * r.getAs[Int]("n_pixels"))
    }
  }

  test("PGM parser decodes a handcrafted P5 image (comments included)") {
    // 3×2 image, maxval 200, with a header comment — pixel bytes 10..60
    val img = "P5\n# a comment line\n3 2\n200\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    val hd = Binary.parsePgmHeader(img)
    assert(hd.width == 3 && hd.height == 2 && hd.maxval == 200)
    assert(img.drop(hd.rasterOffset).take(6).toSeq ==
      Seq[Byte](10, 20, 30, 40, 50, 60))
    // malformed inputs must fail loudly, not decode garbage
    intercept[IllegalArgumentException] {
      Binary.parsePgmHeader("P6\n3 2\n255\n".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Binary.parsePgmHeader("P5\n9 9\n255\nabc".getBytes("US-ASCII"))
    }
  }

  test("m4 resize is a true nearest-neighbor subsample of the PGM raster") {
    val rows = Binary.m4ResizeStub(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Int]("out_w") == (r.getAs[Int]("in_w") + 1) / 2)
      assert(r.getAs[Int]("out_h") == (r.getAs[Int]("in_h") + 1) / 2)
      // out_bytes = header ("P5\n<ow> <oh>\n255\n") + ow·oh raster
      val (ow, oh) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      val header = s"P5\n$ow $oh\n255\n".length
      assert(r.getAs[Int]("out_bytes") == header + ow * oh)
      assert(r.getAs[String]("out_md5").matches("[0-9a-f]{32}"))
    }
  }

  test("streaming hourly agg equals the batch equivalent") {
    val streamed = Stream.st1StreamHourly(spark, sf)
    val batch = graft.io.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("wstart"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_value_c"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("dup clustering groups every exact duplicate under one kept doc (sf0.1)") {
    val clusters = Dedup.d6DupClusters(spark, sfBig)
    val dups = graft.io.Tables.documents(spark, sfBig)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"), expr("array_min(ids)").as("expect_cluster"))
    val joined = dups.join(clusters, "doc_id")
    // all members of an exact-dup group share one cluster id
    assert(joined.groupBy(col("expect_cluster"))
      .agg(countDistinct(col("cluster_id")).as("k"))
      .filter(col("k") =!= 1).count() == 0)
    // exactly one kept doc per cluster
    val badClusters = clusters.groupBy(col("cluster_id"))
      .agg(sum(col("is_kept")).as("kept")).filter(col("kept") =!= 1).count()
    assert(badClusters == 0)
  }

  test("d18 canonical pick is each cluster's longest member, ties to lowest id") {
    val canon = Dedup.d18Canonical(spark, sf)
    // recompute the argmax straight from d6 + documents and compare
    val members = Dedup.d6DupClusters(spark, sf)
      .join(graft.io.Tables.documents(spark, sf).select(col("doc_id"), col("n_chars")), "doc_id")
    val expect = members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("n_chars"), col("doc_id") * -1)).as("top"))
      .filter(col("n") >= 2)
      .select(col("cluster_id"), (col("top.col2") * -1).as("canonical_id"))
    val joined = canon.select(col("cluster_id"), col("canonical_id")).join(
      expect, Seq("cluster_id"), "full")
    assert(joined.filter(
      canon("canonical_id").isNull || expect("canonical_id").isNull ||
        canon("canonical_id") =!= expect("canonical_id")).count() == 0)
  }

  test("t19 rebalance caps every source at the smallest source's size, deterministically") {
    val mix1 = TextOps.t19SourceMix(spark, sf).collect()
    val minTotal = mix1.map(_.getAs[Long]("n_total")).min
    mix1.foreach { r =>
      assert(r.getAs[Long]("n_kept") == minTotal,
        s"source ${r.getAs[String]("source")} kept ${r.getAs[Long]("n_kept")} != cap $minTotal")
    }
    // salted-hash ranking: a re-run must select the SAME documents
    val mix2 = TextOps.t19SourceMix(spark, sf).collect()
    assert(mix1.map(_.getAs[Long]("kept_id_sum")).toSeq ==
      mix2.map(_.getAs[Long]("kept_id_sum")).toSeq)
  }

  test("st17 drains the 8-file backlog as 4 file-granular batches with exact totals") {
    val r = Stream.st17RateLimitedDrain(spark, sf).collect().head
    assert(r.getAs[Long]("n_batches") == 4, s"batches: $r")
    assert(r.getAs[Long]("min_buckets") == 2 && r.getAs[Long]("max_buckets") == 2,
      s"a micro-batch split or merged files: $r")
    assert(r.getAs[Long]("n_rows") ==
      graft.io.Tables.documents(spark, sf).count())
  }

  test("approx sketches land within tolerance of exact") {
    val r = graft.analytics.Advanced.q23ApproxSketches(spark, sfBig).collect().head
    assert(r.getAs[Long]("exact_parts") > 0)
    assert(r.getAs[Int]("approx_parts_ok") == 1, "HLL estimate off by >10% of exact")
    assert(r.getAs[Double]("exact_p50") > 0)
    assert(r.getAs[Int]("approx_p50_ok") == 1, "approx p50 off by >5% of exact")
  }

  test("as-of join equals the brute-force correlated formulation") {
    import graft.plans.AsOfJoin
    val asof = AsOfJoin.x1AsOfJoin(spark, sf)
      .select(col("bucket"), col("o_orderkey"), col("trade_t"), col("asof_id"))
    // brute force: join every quote at-or-before each trade, keep the
    // latest (then max id at that time) — O(trades x quotes), test-only
    val trades = graft.io.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 10 === 0)
      .select((col("o_custkey") % 10).as("bucket"), col("o_orderdate").as("t"), col("o_orderkey"))
      .groupBy(col("bucket"), col("t")).agg(max(col("o_orderkey")).as("o_orderkey"))
    val quotes = graft.io.Tables.lineitem(spark, sf)
      .select((col("l_suppkey") % 10).as("bucket"), col("l_shipdate").as("qt"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("quote_id"))
      .groupBy(col("bucket"), col("qt")).agg(max(col("quote_id")).as("quote_id"))
    val brute = trades.join(quotes, Seq("bucket"), "left")
      .filter(col("qt").isNull || col("qt") <= col("t"))
      .groupBy(col("bucket"), col("t"), col("o_orderkey"))
      .agg(expr("max_by(quote_id, struct(qt, quote_id))").as("asof_id"))
      .select(col("bucket"), col("o_orderkey"), col("t").as("trade_t"), col("asof_id"))
    assert(asof.exceptAll(brute).count() == 0 && brute.exceptAll(asof).count() == 0)
  }

  test("language ID emits one prediction per doc from the profile set") {
    val langs = TextOps.LangProfiles.map(_._1).toSet + "und"
    val out = TextOps.t1LangId(spark, sf).collect()
    assert(out.length == 500)
    out.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("native dot_f64 is bit-identical to the HOF fold it replaces, in both eval paths") {
    graft.functions.NativeFunctions.register(spark)
    val v = col("embedding").cast("array<double>")
    val base = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), v.as("a"))
      .withColumn("b", expr("transform(a, x -> x * 1.5d + 0.25d)"))
    def diff(df: org.apache.spark.sql.DataFrame): Long = df
      .select(call_function("dot_f64", col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (p, q) => p * q),
          lit(0.0), (acc, x) => acc + x).as("hof"))
      .filter(col("native") =!= col("hof")) // exact: no tolerance
      .count()
    assert(diff(base) == 0, "codegen path diverged from HOF fold")
    val noCodegen = base.hint("COALESCE", 1) // force a fresh plan
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(diff(noCodegen) == 0, "interpreted path diverged from HOF fold")
    }
  }

  test("DotProductRewrite swaps the HOF dot-product fold for the codegen'd dot_f64") {
    val hof = "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    def df = graft.io.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .selectExpr("vec_id", s"$hof AS nrm2")
    // baseline: no rule -> the fold stays a HOF, results are the reference
    val base = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.functions.DotProductRewrite
    try {
      val rewritten = df
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("dot_f64"), "rule did not fire:\n" + plan.take(2000))
      val got = rewritten.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == base, "rewritten results diverged from the HOF fold")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("DotProductRewrite leaves non-dot-product folds alone") {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.functions.DotProductRewrite
    try {
      // sum (not multiply) inside zip_with: must NOT rewrite
      val df = graft.io.Tables.embeddings(spark, sf)
        .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
        .selectExpr("aggregate(zip_with(v, v, (x, y) -> x + y), 0D, (acc, z) -> acc + z) AS s")
      assert(!df.queryExecution.executedPlan.toString.contains("dot_f64"))
      df.collect()
    } finally spark.experimental.extraOptimizations = prev
  }

  test("GraftExtensions installs the native functions via the spark.sql.extensions contract") {
    // A session built with the extension (what spark.sql.extensions
    // does: instantiate the class and hand it the session's
    // extensions) resolves every native function before any graft
    // operator has self-registered one. The builder only creates a
    // new session on the shared context when no default or active one
    // exists, so both are set aside for the build and restored.
    import org.apache.spark.sql.SparkSession
    val shared = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val withExt = try SparkSession.builder().withExtensions(new graft.GraftExtensions()).getOrCreate()
      finally { SparkSession.setDefaultSession(shared); SparkSession.setActiveSession(shared) }
    assert(withExt ne shared, "the builder returned the shared session")
    val names = graft.functions.NativeFunctions.table.map(_._1)
    assert(names.size == 15)
    val missing = names.filterNot(n => withExt.catalog.functionExists(n))
    assert(missing.isEmpty, s"not resolved with the extension: ${missing.mkString(", ")}")
    val r = withExt.sql("SELECT dot_f64(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("Bench.session installs GraftExtensions: the sizing rule, and md5_prefix with no register call") {
    val log = ChildJvm.run("graft.BenchSessionCheck", Nil)
    assert(log.contains("PREP-RULE graft.plans.ExchangeSizing"), log.takeRight(3000))
    assert(log.contains("MD5-PREFIX resolved=true value=1657"), log.takeRight(3000))
  }

  test("NativeFunctions.register leaves names the session already resolves alone") {
    val registry = spark.sessionState.functionRegistry
    graft.functions.NativeFunctions.register(spark)
    // a replace installs a fresh ExpressionInfo; a skip keeps the old one
    def infos() = graft.functions.NativeFunctions.table.map { case (n, _, _) =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n)).get }
    val before = infos()
    graft.functions.NativeFunctions.register(spark)
    val after = infos()
    assert(before.zip(after).forall { case (a, b) => a eq b },
      "a second register replaced already-registered functions")
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

/** Child-JVM half of the ExtensionsSpec `Bench.session` test: a fresh
  * `Bench.session` lists its query-stage preparation rules, then, before
  * anything could call `NativeFunctions.register`, resolves `md5_prefix`
  * and evaluates it (md5("graft") starts with hex 679c, so
  * `md5_prefix('graft', 3)` = 0x679 = 1657). */
object BenchSessionCheck {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session("2")
    spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
      .foreach(r => println(s"PREP-RULE ${r.getClass.getName}"))
    val resolved = spark.catalog.functionExists("md5_prefix")
    val v = spark.sql("SELECT md5_prefix('graft', 3)").head().getLong(0)
    println(s"MD5-PREFIX resolved=$resolved value=$v")
    spark.stop()
  }
}
