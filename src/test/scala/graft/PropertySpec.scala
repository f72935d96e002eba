package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Cleaning

/** Property-based invariants (SURVEY.md §5 item 3): clamps, ordering,
  * idempotence. Uses ScalaCheck generators directly (deterministic
  * seed, 200 cases per property); Column-expression properties are
  * evaluated through one small DataFrame per property.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("normalizeName is idempotent and space/BOM/case-free for arbitrary strings") {
    samples(Gen.asciiPrintableStr).foreach { s =>
      val once = Cleaning.normalizeName("﻿ " + s + " ")
      assert(Cleaning.normalizeName(once) == once)
      assert(!once.exists(_.isWhitespace) && !once.contains("﻿") && once == once.toLowerCase)
    }
  }

  test("score components are clamped to [0,10] for arbitrary inputs") {
    val gen = for {
      sum  <- Gen.chooseNum(-1e6, 1e6)
      jam  <- Gen.chooseNum(0.0, 1e5)
      nBau <- Gen.chooseNum(0L, 100000L)
      hum  <- Gen.chooseNum(0.0, 100.0)
      aqi  <- Gen.chooseNum(0.0, 2000.0)
    } yield (sum, jam, nBau, hum, aqi)
    val df = spark.createDataFrame(samples(gen))
      .toDF("sum_skor", "jam", "n_bau", "humidity", "aqi")
      .select(
        round(least(greatest(col("sum_skor"), lit(0.0)) / 15, lit(10.0)), 2).as("kotor"),
        round(least(col("jam") * 0.3 + col("n_bau") * 0.7 + col("humidity") / 100 * 2,
          lit(10.0)), 2).as("bau"),
        round(least(col("aqi") / 50, lit(10.0)), 2).as("aqi_score"))
    df.collect().foreach { r =>
      Seq("kotor", "bau", "aqi_score").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 10.0, s"$c=$v")
      }
    }
  }

  test("recommendation tiers are monotone in skor_final (ignoring odor override)") {
    def tier(v: Double): Int =
      if (v >= 6.0) 3 else if (v >= 5.0) 2 else if (v >= 4.0) 1 else 0
    samples(Gen.zip(Gen.chooseNum(0.0, 10.0), Gen.chooseNum(0.0, 10.0))).foreach {
      case (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        assert(tier(lo) <= tier(hi))
        assert((0 to 3).contains(tier(lo)))
    }
  }

  test("more activity never lowers the dirtiness sum (monotone accumulation)") {
    samples(Gen.listOf(Gen.chooseNum(0.0, 100.0))).foreach { contributions =>
      val partial = contributions.take(contributions.length / 2).sum
      val full = contributions.sum
      assert(math.min(full / 15, 10.0) >= math.min(partial / 15, 10.0) - 1e-9)
    }
  }

  val sf = "/root/testdata/sf0.001"

  test("d11 nibble banding finds EXACTLY the brute-force hamming pairs (pigeonhole completeness)") {
    import spark.implicits._
    val banded = graft.dedup.Dedup.d11SimhashNeardup(spark, sf)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    // brute force over the same sample, no banding
    val h = graft.dedup.Dedup.d5Simhash(spark, sf)
      .filter(col("doc_id") % 5 === 0)
      .select("doc_id", "simhash").as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- h; (b, hb) <- h if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} diff=${(banded diff brute).take(3)} ${(brute diff banded).take(3)}")
  }

  test("s5 quantization error is bounded by scale/2 for every element") {
    import spark.implicits._
    val bad = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("array_max(transform(embedding, x -> abs(cast(x AS double))))").as("amax"))
      .select(col("vec_id"), (expr("nullif(amax, 0.0d)") / 127.0).as("scale"))
      .join(graft.io.Tables.embeddings(spark, sf), "vec_id")
      .select(expr(
        """size(filter(embedding, x ->
             abs(cast(x AS double) - floor(cast(x AS double) / scale + 0.5d) * scale)
               > scale / 2 + 1e-12)) AS n_bad"""))
      .agg(sum(col("n_bad"))).as[Long].head()
    assert(bad == 0, s"$bad elements exceed the half-step quantization error bound")
  }

  test("x5 bucketized overlap join finds EXACTLY the brute-force overlapping pairs") {
    import spark.implicits._
    val bucketized = graft.plans.RangeJoin.x5IntervalOverlap(spark, sf)
      .select("cust_a", "cust_b", "overlap_days").as[(Long, Long, Int)].collect().toSet
    // brute force: both interval tables on the driver, nested loop
    val o = graft.io.Tables.orders(spark, sf)
    val a = o.filter(col("o_custkey") % 25 === 0).groupBy("o_custkey")
      .agg(min("o_orderdate").as("t0"))
      .select(col("o_custkey"), col("t0"), (col("t0") + expr("INTERVAL 2 YEARS")).as("t1"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
    val b = o.filter(col("o_custkey") % 7 === 0).groupBy("o_custkey")
      .agg(max("o_orderdate").as("u1"))
      .select(col("o_custkey"), (col("u1") - expr("INTERVAL 2 YEARS")).as("u0"), col("u1"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
    def days(x: java.sql.Timestamp, y: java.sql.Timestamp): Int =
      java.time.temporal.ChronoUnit.DAYS.between(
        x.toLocalDateTime.toLocalDate, y.toLocalDateTime.toLocalDate).toInt
    val brute = (for {
      (ca, t0, t1) <- a; (cb, u0, u1) <- b
      if t0.before(u1) && u0.before(t1)
      start = if (t0.getTime >= u0.getTime) t0 else u0
      end = if (t1.getTime <= u1.getTime) t1 else u1
    } yield (ca, cb, days(start, end))).toSet
    assert(bucketized == brute,
      s"bucketized=${bucketized.size} brute=${brute.size} " +
        s"diff=${(bucketized diff brute).take(3)} ${(brute diff bucketized).take(3)}")
  }

  test("session_window boundary: exactly one gap apart MERGES; one tick more splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, session_window}
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    // user 1: events 1801s apart -> two sessions (split needs diff > gap);
    // user 2: events exactly 1800s apart -> ONE session (inclusive end)
    val df = Seq((1L, at(0)), (1L, at(1801)), (2L, at(0)), (2L, at(1800)))
      .toDF("user_id", "ts")
    val sessions = df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(col("*")).as("n"))
      .groupBy(col("user_id")).agg(count(col("*")).as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    assert(sessions == Map(1L -> 2L, 2L -> 1L),
      s"boundary semantics drifted: $sessions (q40/st12 oracles assume diff>gap splits)")
  }

  test("x6 count-min estimate dominates truth (CM upper-bound invariant)") {
    import spark.implicits._
    val bad = graft.plans.Sketches.x6CountMin(spark, sf)
      .filter(col("overcount") < 0).count()
    assert(bad == 0, s"$bad probes had est < truth — CM invariant broken")
  }

  test("q42 exact-moment stddev/corr equal the driver-side brute force") {
    import spark.implicits._
    val rows = graft.analytics.Advanced.q42ExactMoments(spark, sf)
      .select("l_returnflag", "stddev_x", "stddev_y", "corr_xy")
      .as[(String, Double, Double, Double)].collect()
    val raw = graft.io.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      .as[(String, Long, Long)].collect().groupBy(_._1)
    rows.foreach { case (flag, sx, sy, cxy) =>
      val xs = raw(flag).map(_._2.toDouble); val ys = raw(flag).map(_._3.toDouble)
      def stddev(v: Seq[Double]) = {
        val m = v.sum / v.size
        math.sqrt(v.map(a => (a - m) * (a - m)).sum / (v.size - 1))
      }
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val corr = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum /
        math.sqrt(xs.map(a => (a - mx) * (a - mx)).sum * ys.map(b => (b - my) * (b - my)).sum)
      assert(math.abs(sx - stddev(xs)) < 1e-3, s"$flag stddev_x $sx vs ${stddev(xs)}")
      assert(math.abs(sy - stddev(ys)) < 1e-3, s"$flag stddev_y $sy vs ${stddev(ys)}")
      assert(math.abs(cxy - corr) < 1e-3, s"$flag corr $cxy vs $corr")
    }
  }

  test("t7 split assignment is total, deterministic, and ~90/5/5") {
    import spark.implicits._
    val counts = graft.text.TextOps.t7TrainSplit(spark, sf)
      .select("split", "n_docs").as[(String, Long)].collect().toMap
    val total = counts.values.sum
    assert(counts.keySet == Set("train", "val", "test"))
    assert(total == graft.io.Tables.documents(spark, sf).count())
    assert(counts("train") > total * 8 / 10, s"train share off: $counts")
  }

  // --- bit_xor checksum contract (r14 verdict finding 2) -------------
  // The engine's set-pinning id checksums are bit_xor (sum overflows
  // BIGINT at snowflake id magnitudes — commit 705de34), but xor is
  // MULTIPLICITY-BLIND: a bug that emits a row an even number of times
  // leaves the checksum unchanged. The contract that makes xor safe is
  // therefore "a count(*) rides in the SAME aggregation as every xor
  // checksum" — the count flips on any duplicated row. These two tests
  // move that contract from convention into CI.

  test("bit_xor is multiplicity-blind and count is the guard (the contract's why)") {
    import spark.implicits._
    val base = Seq(1L, 2L, 5L, 1L << 62).toDF("id")
    val doubled = base.union(base) // every row exactly twice
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(expr("bit_xor(id)").as("x"), count(lit(1)).as("n"))
        .as[(Long, Long)].collect()(0)
    val (x1, n1) = agg(base)
    val (x2, n2) = agg(doubled)
    assert(x2 == 0L && x1 != 0L,
      "even-multiplicity rows must cancel under xor (that is the blindness)")
    assert(n2 == 2 * n1, "count must catch exactly what xor misses")
  }

  test("every src/main bit_xor agg site carries a count in the same aggregation") {
    // Paren-balanced scan: for each `.agg(` whose argument list
    // contains `bit_xor(`, the SAME argument list must contain a
    // `count(`. graft/tools is excluded — probes there xor plan-variant
    // digests against each other (both variants share any multiplicity
    // bug by construction), they are not correctness gates. Oracle SQL
    // strings mirror the Spark-side agg shape and are covered by the
    // driver's hash compare.
    def aggRegions(src: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = src.indexOf(".agg(")
      while (i >= 0) {
        var j = i + 4 // at '('
        var depth = 0
        var inStr = false
        val sb = new StringBuilder
        var done = false
        while (!done && j < src.length) {
          val c = src.charAt(j)
          if (c == '"') inStr = !inStr
          if (!inStr && c == '(') depth += 1
          if (!inStr && c == ')') { depth -= 1; if (depth == 0) done = true }
          sb.append(c); j += 1
        }
        out += sb.toString
        i = src.indexOf(".agg(", j)
      }
      out.toSeq
    }
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator()
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    var sites = 0
    import scala.jdk.CollectionConverters._
    files.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.toString.contains("/tools/"))
      .foreach { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        aggRegions(src).filter(_.contains("bit_xor(")).foreach { region =>
          sites += 1
          if (!region.contains("count("))
            bad += s"$p: .agg(${region.take(120)}…"
        }
      }
    assert(sites >= 13,
      s"expected the 13+ migrated xor-checksum sites, scanner saw $sites — " +
        "the scan itself regressed (moved files? renamed idiom?)")
    assert(bad.isEmpty,
      "bit_xor checksum without a count(*) in the same aggregation — xor " +
        "alone cannot see even-multiplicity duplicate rows:\n" + bad.mkString("\n"))
  }

  test("starve guard: a single-row-group big table trips, a wide-enough one passes, family map scopes the probe") {
    // r15 task 4: t14 shipped 4.7× slow for two rounds because its
    // sf100 documents file had 5 row groups — the panel tools must
    // refuse to pin a starved run. minBytes is injected (1 byte) so a
    // tiny fixture stands in for the 256 MB production threshold.
    val root = java.nio.file.Files.createTempDirectory("graft_starve_").toString
    try {
      // single file, single row group => effectiveScanSplits = 1
      spark.range(1000).selectExpr("id AS doc_id", "'x' AS text")
        .coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$root/documents.parquet"))
      val starved = graft.tools.StarveGuard.starvedTables(
        spark, "t14_tfidf", root, minBytes = 1L)
      assert(starved.map(_._1) == Seq("documents"),
        s"single-row-group documents must trip the guard, got $starved")
      assert(starved.head._2 * 4 <= spark.sparkContext.defaultParallelism)
      // family scoping: an events-family entry in the SAME dir must not
      // be blocked by the starved documents file it never reads
      // (events.parquet is absent => 0 bytes => skipped)
      assert(graft.tools.StarveGuard.starvedTables(
        spark, "st6_stream_dedup", root, minBytes = 1L).isEmpty,
        "events-family entry blocked by an unrelated starved documents file")
      // a multi-file table is as wide as its file count: 64 parts >= cores/4
      spark.range(10000).selectExpr("id AS event_id")
        .repartition(64).write.parquet(s"$root/events.parquet")
      assert(graft.tools.StarveGuard.starvedTables(
        spark, "st6_stream_dedup", root, minBytes = 1L).isEmpty,
        "a 64-part events dir must not read as starved")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("shuffle-debris sweep never touches young dirs (a live session's store survives any ordering/race)") {
    // r15 regression: Bench ran DiskPreflight AFTER its session existed
    // and, alone on the box, swept its own blockmgr dir — first
    // broadcast died on NoSuchFileException. The age floor makes any
    // such ordering mistake degrade to "swept nothing young".
    val root = java.nio.file.Files.createTempDirectory("graft_sweep_spec_").toFile
    try {
      val stale = System.currentTimeMillis() -
        graft.tools.DiskPreflight.MinDebrisAgeMs - 60000
      val young = new java.io.File(root, "blockmgr-young"); young.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(young, "0e").toPath, "x")
      val old = new java.io.File(root, "spark-old"); old.mkdirs()
      val oldChild = new java.io.File(old, "shuffle_0_0_0.data")
      java.nio.file.Files.writeString(oldChild.toPath, "y")
      oldChild.setLastModified(stale)
      old.setLastModified(stale)
      // r16 ADVICE case: a LIVE blockmgr after ~10 min of runtime — the
      // top dir stopped gaining direct children (hashed subdirs exist)
      // so its own mtime is past the floor, but writes keep touching
      // the subdirs. Staleness must be judged on the newest mtime
      // across dir + immediate children, so this one survives.
      val liveOldTop = new java.io.File(root, "blockmgr-live"); liveOldTop.mkdirs()
      val liveSub = new java.io.File(liveOldTop, "0f"); liveSub.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(liveSub, "blk").toPath, "z")
      liveOldTop.setLastModified(stale) // top dir old, subdir young
      val unrelated = new java.io.File(root, "not-spark"); unrelated.mkdirs()
      unrelated.setLastModified(stale)

      graft.tools.DiskPreflight.sweepShuffleDebris(force = true, root = root)
      assert(young.exists() && new java.io.File(young, "0e").exists(),
        "sweep deleted a YOUNG blockmgr dir — a live session's store")
      assert(liveOldTop.exists() && new java.io.File(liveSub, "blk").exists(),
        "sweep deleted an old-top/young-child blockmgr dir — a live " +
          "session past 10 min of runtime")
      assert(!old.exists(), "sweep must still clear stale dead-JVM debris")
      assert(unrelated.exists(), "sweep must only match spark debris prefixes")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(root)
    }
  }

  test("a java ancestor counts as alive: a fresh child of a live Spark JVM never sweeps") {
    import graft.tools.DiskPreflight.otherJavaAlive
    val self = 100L
    def procs(ps: (Long, String)*) = ps.iterator
    assert(!otherJavaAlive(procs(self -> "/usr/bin/java", 1L -> "/sbin/init",
      7L -> "/bin/bash"), self), "this JVM alone is not another java")
    // the parent Bench (or sbt) JVM that spawned this one
    assert(otherJavaAlive(procs(self -> "/usr/bin/java", 99L -> "/usr/lib/jvm/bin/java",
      1L -> "/sbin/init"), self), "a java parent must count as alive")
    assert(!otherJavaAlive(procs(self -> "/usr/bin/java", 5L -> "/usr/bin/javac",
      6L -> ""), self), "only java commands count")
    // the real case: this JVM and its ancestors only, one of them the
    // java that forked this suite
    val chain = Iterator.iterate(Option(ProcessHandle.current()))(
      _.flatMap(p => Option(p.parent().orElse(null)))).takeWhile(_.isDefined).flatten
      .map(p => (p.pid(), p.info().command().orElse(""))).toSeq
    assume(chain.tail.exists(_._2.endsWith("java")), "suite not forked by a JVM")
    assert(otherJavaAlive(chain.iterator, chain.head._1),
      "the JVM that forked this one must count as alive")
  }
}
