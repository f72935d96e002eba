package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress data generator (round-8 verdict task 1): synthesize an
  * sfN dir by replicating a driver testdata dir K times with
  * distribution-preserving transforms, so the top-cost families can be
  * measured one order of magnitude above the largest shipped SF and
  * the plan-shape scale arguments in SCALING.md become measured
  * exponents.
  *
  * Replication scheme (replica r ∈ 0..K-1; r=0 is the original):
  *  - every id column (+ its FK mirrors) shifts by r·stride, one
  *    universal stride per generation, so intra-replica referential
  *    integrity and the code's modular id selections (% 2..% 211, all
  *    dividing the stride) are preserved exactly — each replica
  *    contributes the same query sets, batch splits and sample
  *    patterns as the original. The stride is ADAPTIVE: the smallest
  *    multiple of [[Stride]] that clears every id already present in
  *    the source ([[strideFor]]), so generating FROM a generated dir
  *    (sf10 → sf100 → …) keeps replicas id-disjoint. A fixed stride is
  *    NOT closed under chaining: once source ids span r·S, shifted
  *    copies collide and the "K× corpus" silently collapses to ~K
  *    distinct-id shells full of duplicate rows (caught in round 11 —
  *    the chained sf100 had 5 M document rows but 545 k distinct
  *    doc_ids);
  *  - document text goes through a per-replica KEYED lowercase
  *    substitution cipher (translate against an md5-keyed permutation
  *    of the alphabet, [[cipher]]): length, whitespace, word shape,
  *    in-replica dup/near-dup topology are IDENTICAL, while shingle
  *    sets across replicas are disjoint — a 10× corpus with the
  *    ORIGINAL dup rate, not 10×-deeper dup clusters. The keyed family
  *    has 26! members, so neither K > 26 nor cipher COMPOSITION under
  *    chaining wraps around (the previous rotation cipher had only 26
  *    members: K=100 put ~3.85 identical copies of every text in the
  *    corpus, and chained rotations collided on (r1+r2) mod 26);
  *  - embeddings go through a per-replica keyed POSITION permutation
  *    (norm- and pairwise-distance-preserving — <Px,Py> = <x,y> — so
  *    neighbors stay in-replica; the 64! family outlives any K, where
  *    the previous rotate-by-r wrapped at 64 positions);
  *  - timestamps are left untouched: 10× the data in the same time
  *    range = 10× denser streams, so time-bucketed aggregations keep
  *    their group counts and watermark behavior while per-group work
  *    scales — the realistic high-throughput shape;
  *  - region/nation stay as-is (true dims don't grow with corpus).
  *
  * Optional 4th arg `skewPct` (0–100, default 0): replica-preserving
  * growth keeps key TOPOLOGY fixed, so skew never worsens with K and
  * the salting/AQE-split entries are never stressed by it. With
  * skewPct = p, p% of ALL event rows (every replica; selected by
  * `event_id % 100 < p`, replica-invariant because STRIDE % 100 = 0)
  * are re-keyed to ONE hot user_id — a heavy hitter whose row count
  * grows LINEARLY with K while every other key stays flat. That is the
  * organic power-law shape replication can't produce, and the input
  * `graft.tools.SkewStress` measures salted vs unsalted vs AQE-split
  * joins against. Skewed dirs are for skew measurement only (FK
  * mixing breaks the per-replica selection invariants other entries
  * rely on).
  *
  * Each table lands as a SINGLE FILE named `<table>.parquet` exactly
  * like the driver layout (the streaming readers' pathGlobFilter
  * matches the leaf file name). Output is NOT oracle-gated — DuckDB
  * correctness runs at the driver SFs; this dir exists to measure
  * cost scaling.
  */
object GenScale {
  // lcm of every modular id selection in src/main (2,3,4,5,7,8,10,13,
  // 16,25,50,61,100,211): 16·3·25·7·13·61·211. The BASE stride unit —
  // every generation's actual shift is a multiple of it (strideFor).
  val Stride = 1405513200L

  /** Id columns shifted per table — shared by replication and the
    * adaptive-stride scan. */
  val IdCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Smallest multiple of [[Stride]] strictly greater than every id in
    * the source dir, scanned over ALL id columns of all tables present
    * (not just the `only` subset — a selective dir must shift with the
    * same stride a full generation from the same source would, so
    * selectively- and fully-generated dirs stay mutually consistent).
    * Driver testdata ids are far below one Stride, so single
    * generations keep the historical shift exactly; only chained
    * generations see a larger multiple. Footer-stats max per column —
    * one cheap agg per table. */
  def strideFor(spark: SparkSession, src: String): Long = {
    val maxId = IdCols.flatMap { case (t, cols) =>
      val f = new java.io.File(s"$src/$t.parquet")
      if (!f.exists()) None
      else {
        val df = spark.read.parquet(f.getPath)
        val present = cols.filter(df.columns.contains)
        if (present.isEmpty) None
        else {
          val widest = present.map(c => col(c).cast("long")) match {
            case Seq(one) => one
            case many => greatest(many: _*)
          }
          Option(df.agg(max(widest).as("m")).head.get(0))
            .map(_.asInstanceOf[Long])
        }
      }
    }.foldLeft(0L)(math.max)
    (maxId / Stride + 1) * Stride
  }

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private val Lower = "abcdefghijklmnopqrstuvwxyz"

  /** md5-keyed permutation of the alphabet for replica r (r = 0 is the
    * identity — the original replica ships unchanged). Keyed by BOTH
    * the replica index and the generation's stride: each chain level
    * has a distinct stride, so chained generations draw from disjoint
    * permutation families and compositions can't collapse — with a
    * single shared family, net ciphers P_{r2}∘P_{r1} collide whenever
    * either index is 0 ((0,r) and (r,0) both net to P_r: measured 7
    * text classes instead of 9 at K=3 chained). With 26! possible
    * images, neither large K nor composition wraps around. */
  def cipher(r: Int, stride: Long): String =
    if (r == 0) Lower
    else Lower.toSeq.sortBy(c => md5hex(s"$stride:$r:$c")).mkString

  /** md5-keyed permutation of 0 until dim for replica r (identity at
    * r = 0) — the embedding position shuffle. Stride-keyed like
    * [[cipher]], for the same chaining-closure reason. */
  def posPerm(r: Int, dim: Int, stride: Long): Seq[Int] =
    if (r == 0) 0 until dim
    else (0 until dim).sortBy(i => md5hex(s"$stride:$r:e:$i"))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val skewPct = if (args.length > 3) args(3).toInt else 0
    // optional 5th arg: comma-separated table subset (the `only`
    // parameter of generate()) — a fourth-decade stress of one entry's
    // hot table shouldn't pay for a K× lineitem write
    val only = if (args.length > 4)
      args(4).split(",").map(_.trim).filter(_.nonEmpty).toSeq else Nil
    val spark = SparkSession.builder()
      .master("local[32]")
      .config(graft.io.LocalFs.conf)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dst, k, skewPct, only)
    spark.stop()
  }

  /** `only`: restrict generation to the named tables (empty = all) —
    * the skew sweep measures events ⋈ customer only and skipping the
    * K× lineitem write makes a 6-point sweep grid affordable. */
  def generate(spark: SparkSession, src: String, dst: String, k: Int,
      skewPct: Int = 0, only: Seq[String] = Nil): Unit = {
    val stride = strideFor(spark, src)

    /** K shifted replicas of `df`; per-replica column rewrites first. */
    def rep(df: DataFrame, idCols: Seq[String],
            perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { r =>
        val shifted = idCols.foldLeft(perReplica(df, r)) { (d, c) =>
          d.withColumn(c, col(c) + lit(stride * r))
        }
        shifted.select(df.columns.map(col).toIndexedSeq: _*) // original order
      }.reduce(_ unionAll _)

    val tables: Seq[(String, DataFrame => DataFrame)] = Seq(
      "region" -> identity,
      "nation" -> identity,
      "customer" -> (df => rep(df, IdCols("customer"))),
      "supplier" -> (df => rep(df, IdCols("supplier"))),
      "part" -> (df => rep(df, IdCols("part"))),
      "orders" -> (df => rep(df, IdCols("orders"))),
      "lineitem" -> (df => rep(df, IdCols("lineitem"))),
      "events" -> (df => {
        val base = rep(df, IdCols("events"))
        if (skewPct <= 0) base
        else {
          // one hot key growing linearly with K: re-key skewPct% of all
          // rows (selection is replica-invariant: stride % 100 == 0)
          val hot = df.agg(min(col("user_id"))).head.get(0)
          base.withColumn("user_id",
            when(pmod(col("event_id"), lit(100L)) < lit(skewPct.toLong),
              lit(hot)).otherwise(col("user_id")))
        }
      }),
      "documents" -> (df => rep(df, IdCols("documents"),
        (d, r) => d.withColumn("text",
          translate(col("text"), Lower, cipher(r, stride))))),
      "embeddings" -> (df => rep(df, IdCols("embeddings"),
        (d, r) =>
          if (r == 0) d
          else d.withColumn("embedding",
            array(posPerm(r, 64, stride).map(i =>
              element_at(col("embedding"), i + 1)): _*)))))

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    tables.filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, f) =>
      val out = f(spark.read.parquet(s"$src/$name.parquet"))
      val tmp = s"$dst/_gen_$name"
      // single leaf file named <table>.parquet, driver-layout-exact
      out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val tgt = java.nio.file.Paths.get(dst, s"$name.parquet")
      java.nio.file.Files.deleteIfExists(tgt)
      java.nio.file.Files.move(part.toPath, tgt)
      new java.io.File(tmp).listFiles.foreach(_.delete())
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
      println(s"gen $name -> $tgt")
    }
  }
}
