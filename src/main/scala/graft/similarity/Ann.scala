package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.io.Tables

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-d).
  *
  * Three tiers:
  *  - [[s1BruteTopK]] — exact cosine top-k for a query set: the
  *    correctness baseline. Cross join is query-set × corpus, so cost is
  *    |Q|·N, not N² — the query side is tiny and broadcast.
  *  - [[s2LshTopK]] — sign-random-projection LSH: corpus is bucketed by
  *    the sign pattern of 8 fixed pseudo-random projections; search
  *    touches only the query's bucket. This is the 100 TB path: the
  *    bucket-join replaces the cross join, and buckets can be written
  *    partitioned-by-bucket so a query prunes to one partition.
  *  - [[s3CosineNearDup]] — embedding near-duplicate pairs, blocked by
  *    `label` (the metadata blocking key): all-pairs only *within* a
  *    block, never globally.
  *
  * All dot products are `aggregate(zip_with(...))` fold expressions over
  * the array columns — codegen'd Column algebra, no UDFs. Floats are
  * cast to double *before* any arithmetic so Spark and the DuckDB oracle
  * accumulate identically; summation is sequential in both.
  *
  * The projection hyperplanes are derived from md5 — computed once
  * driver-side here and inlined as literals into BOTH the Spark plan and
  * the oracle SQL, so the two engines share one source of truth.
  */
object Ann {

  val Dim = 64
  val NumPlanes = 8
  val TopK = 5

  /** Recall-evaluation query panel: every 100th vector, CAPPED to ids
    * below this bound (≈200 queries). At every driver SF the cap is a
    * no-op (max vec_id 1999), so gate outputs are bit-unchanged; at
    * scale it is the design point the round-9 sf1 stress measured: with
    * an uncapped `% 100` panel the brute-force-truth entries (s1, and
    * the s6/s10/s11/s13 recall scoreboards that rank against it) grow
    * queries × corpus = quadratic (s11 hit 40 s at sf1, exp 1.59).
    * A production recall eval uses a FIXED query sample against the
    * growing corpus — panel-capped, every one of them is linear in the
    * corpus (the broadcast side stops growing too, keeping the
    * documented BNLJ/bucket joins broadcastable at any scale). */
  val QueryPanelCap = 20000L

  /** The shared query-panel predicate (Scala side; oracle SQL spells
    * `vec_id % 100 = 0 AND vec_id < 20000`). */
  private def isQuery(id: Column): Column =
    id % 100 === 0 && id < QueryPanelCap

  /** dot(a, b), sequential in index order — mirrors the oracle's
    * list_sum comprehension term-for-term so doubles accumulate
    * identically. Since r3 this is the native codegen'd
    * [[graft.functions.DotF64]] (the HOF fold
    * `aggregate(zip_with(...))` it replaces is CodegenFallback —
    * it dropped the |Q|·N·dim hot loop out of whole-stage codegen);
    * the accumulation order, and therefore every output bit, is
    * unchanged. Callers must have [[graft.functions.NativeFunctions]]
    * registered on the session ([[corpus]] does). */
  private def dot(x: Column, y: Column): Column =
    call_function("dot_f64", x, y)

  /** cos(a, b) with per-vector norms precomputed upstream: dividing by
    * the product of the two cached sqrt norms is bit-identical to
    * computing them per pair, at a third of the flops. */
  private def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  private val cosineSql =
    """list_sum([a.v[i]*b.v[i] for i in range(1, len(a.v)+1)]) /
       (sqrt(list_sum([a.v[i]*a.v[i] for i in range(1, len(a.v)+1)])) *
        sqrt(list_sum([b.v[i]*b.v[i] for i in range(1, len(b.v)+1)])))"""

  /** Deterministic ±1 hyperplanes from md5(plane:dim) — same values are
    * inlined into the oracle SQL below. */
  private[similarity] val planes: Seq[Seq[Int]] = {
    val mdist = java.security.MessageDigest.getInstance("MD5")
    (0 until NumPlanes).map { p =>
      (0 until Dim).map { d =>
        val h = mdist.digest(s"$p:$d".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1 else -1
      }
    }
  }

  private def planeLit(p: Seq[Int]): Column = array(p.map(v => lit(v.toDouble)): _*)
  private def planeSqlLit(p: Seq[Int]): String = p.mkString("[", ",", "]")

  /** Sign-pattern bucket id of an array<double> column: bit b set iff
    * v·plane_b >= 0. */
  private def bucketOf(v: Column): Column =
    (0 until NumPlanes).map { b =>
      val proj = dot(v, planeLit(planes(b)))
      when(proj >= 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  private def bucketSql(vexpr: String): String =
    (0 until NumPlanes).map { b =>
      s"""(CASE WHEN list_sum([($vexpr)[i] * (${planeSqlLit(planes(b))}::DOUBLE[])[i]
                 for i in range(1, ${Dim + 1})]) >= 0 THEN ${1L << b} ELSE 0 END)"""
    }.mkString(" + ")

  /** The embeddings corpus with its cosine inputs. Every tier's
    * corpus-sized math (the 8 plane dots of the LSH bucket id,
    * quantization, Lloyd's-round assignment, the brute dot products
    * themselves) runs in the scan-stage projection, whose width is the
    * file's row-group count ([[Tables.effectiveScanSplits]]; probed
    * r13: sf100's 520 MB embeddings = 4 row groups on 32 cores). Heavy
    * consumers widen a scan narrower than the cores to all of them, as
    * one round-robin exchange of the RAW float rows (pre-cast: half
    * the bytes of the double form); their downstream math is
    * order-independent per pair/row (dots, int-quantized sums,
    * windowed top-k with total-order tie-breaks), so the reorder moves
    * no output bits. Filters on corpus consumers (the query panel,
    * centroid seeds) still push below the exchange, so query-side
    * subplans stay metadata-sized.
    *
    * Not [[Tables.widened]]'s byte-sized width (measured, SCALING.md
    * §"The corpus widen, sized from its bytes"): these tiers' work
    * grows as rows × queries (or × centroids), far more per byte than
    * a tokenizer's, so the documents crossover does not carry over. On
    * a 1.56 MB one-row-group embeddings file the byte rule's 2-wide
    * widen ran s11 in 2.90 and 3.17 s against 2.30 and 2.12 s at all
    * 4 cores (two alternating pairs; the same plan spreads ±35 %).
    *
    * `heavy = false` (r13 ADVICE, measured): the light bucket-hash
    * tiers never widen — s2 went 1.5 → 2.3 s at sf100 with it, because
    * 8 plane dots per row are cheaper than exchanging the row. */
  private def corpus(s: SparkSession, dir: String,
      heavy: Boolean = true): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val v = col("embedding").cast("array<double>")
    val base = Tables.embeddings(s, dir)
    val cores = s.sparkContext.defaultParallelism
    val wide =
      if (heavy && Tables.effectiveScanSplits(s, dir, "embeddings") < cores) base.repartition(cores)
      else base
    wide.select($"vec_id", $"label", v.as("v"), sqrt(dot(v, v)).as("nrm"))
  }

  /** S-1 — exact brute-force cosine top-k: queries = every 100th vector,
    * ranked against the full corpus. */
  def s1BruteTopK(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine($"qv", $"v", $"qnrm", $"nrm").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= TopK)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** S-2 — LSH-bucketed ANN: same queries, but candidates are only the
    * corpus vectors in the query's sign bucket. Output includes the
    * bucket so recall vs S-1 is inspectable. */
  def s2LshTopK(s: SparkSession, dir: String): DataFrame = {
    // light tier: bucket hash + in-bucket dots — the widen exchange
    // costs more than it buys here (corpus() scaladoc, measured)
    val c = corpus(s, dir, heavy = false).withColumn("bucket", bucketOf($"v"))
    val q = c.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"), $"bucket")
    val scored = c.join(broadcast(q), "bucket")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"bucket", $"vec_id".as("neighbor_id"),
        cosine($"qv", $"v", $"qnrm", $"nrm").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= TopK)
      .select($"query_id", $"bucket", $"rank", $"neighbor_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** S-9 — multi-probe LSH with exact rerank (the production two-stage
    * retrieval shape): RETRIEVE from the query's own sign bucket plus
    * every bucket at Hamming distance 1 (flip one of the 8 plane bits —
    * the probes most likely to hold neighbors that a borderline
    * projection pushed across a hyperplane), then RERANK all candidates
    * with exact cosine and keep top-k. Recall strictly dominates S-2's
    * single-bucket search at 9× the candidate cost — still ~N/2^planes
    * per probe, NOT the corpus. The probe set is expanded on the tiny
    * query side (explode → 9 rows/query) so retrieval stays one
    * broadcast EQUI-join on bucket; the oracle states the same
    * candidate set declaratively as bit_count(xor) <= 1. At 100 TB the
    * corpus is written partitioned-by-bucket once, and each probe is a
    * partition-pruned read; rerank cost is |candidates|·dim, linear in
    * the probe count. */
  def s9MultiProbe(s: SparkSession, dir: String): DataFrame = {
    // light tier, same reasoning as s2
    val c = corpus(s, dir, heavy = false).withColumn("bucket", bucketOf($"v"))
    val q0 = c.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"), $"bucket")
    // probe 0 = the bucket itself; probes 1..8 flip one sign bit each.
    // XOR with distinct masks keeps the 9 probe buckets distinct, so no
    // candidate is scored twice and no dedup pass is needed.
    val masks = array((lit(0L) +: (0 until NumPlanes).map(b => lit(1L << b))): _*)
    val q = q0.withColumn("mask", explode(masks))
      .select($"query_id", $"qv", $"qnrm",
        $"bucket".bitwiseXOR($"mask").as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine($"qv", $"v", $"qnrm", $"nrm").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= TopK)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Sub-blocks per label for S-3: a pair (x, y) is matched on exactly
    * one salted key (label, x%G, y%G), so a hot label's all-pairs work
    * spreads over G² tasks of (|label|/G)² each instead of one
    * O(|label|²) straggler. Total work is unchanged (result-identical —
    * the oracle needs no mirror); the cost is ×G row replication. */
  val SaltBuckets = 4

  /** S-3 hot-label WORK guard (round-3 verdict: salting fixes
    * stragglers, not total work — label-blocked all-pairs is quadratic
    * in |label| and dies at 100× if label cardinality doesn't grow with
    * the corpus). Labels larger than [[BlockCap]] rows are sub-blocked
    * by their LSH sign bucket mod [[SubBlocks]], bounding per-block
    * pairs at ~(|label|/SubBlocks)² and total work at |label|²/SubBlocks
    * expected. Near-duplicates (cos→1) agree on every sign plane with
    * high probability, so routing loses only far pairs near the
    * similarity floor — the same approximation contract as S-2, and
    * mirrored EXACTLY in the DuckDB oracle (the bucket function is
    * portable), so the gate hashes the guarded semantics, not an
    * unguarded idealization. BlockCap=150 is deliberately below sf0.1's
    * largest label (218) so the guard path is live in the gate. */
  val BlockCap = 150
  val SubBlocks = 16

  /** Adds the guard key: `sub` = LSH-bucket mod [[SubBlocks]] for rows
    * of oversized labels, 0 (single block) otherwise. Expects columns
    * (label, vec_id, v, nrm). Label sizes ride a broadcast join — label
    * cardinality is assumed dimension-like. */
  private[graft] def blockKeyed(c: DataFrame): DataFrame = {
    val sizes = c.groupBy($"label").agg(count(lit(1)).as("label_n"))
    c.join(broadcast(sizes), "label")
      .withColumn("sub",
        when($"label_n" > BlockCap, (bucketOf($"v") % SubBlocks).cast("int"))
          .otherwise(lit(0)))
  }

  /** Guarded near-dup pairing over a (label, vec_id, v, nrm) corpus:
    * all-pairs within (label, sub) blocks, salted ([[SaltBuckets]]). */
  private[graft] def nearDupPairs(c: DataFrame): DataFrame = {
    val keyed = blockKeyed(c)
    val salts = sequence(lit(0), lit(SaltBuckets - 1))
    val a = keyed.select($"label", $"sub", $"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("na"),
        ($"vec_id" % SaltBuckets).cast("int").as("ga"))
      .withColumn("gb", explode(salts))
    val b = keyed.select($"label", $"sub", $"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nb"),
        ($"vec_id" % SaltBuckets).cast("int").as("gb"))
      .withColumn("ga", explode(salts))
    a.join(b, Seq("label", "sub", "ga", "gb"))
      .filter($"vec_a" < $"vec_b")
      .select($"label", $"vec_a", $"vec_b", cosine($"va", $"vb", $"na", $"nb").as("cos"))
      .filter($"cos" >= 0.3)
      .select($"label", $"vec_a", $"vec_b", round($"cos", 4).as("cosine"))
      .orderBy($"label", $"vec_a", $"vec_b")
  }

  /** S-3 — embedding-cosine near-duplicate pairs, blocked by label,
    * sub-blocked past [[BlockCap]] and salted within block. */
  def s3CosineNearDup(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(corpus(s, dir))

  /** Number of IVF cells; the codebook is a fixed deterministic subset
    * of the corpus (every ⌈N/Cells⌉-th vector) — at production scale
    * this is a trained k-means codebook, but assignment/search
    * structure is identical. */
  val Cells = 8

  /** S-4 — IVF-style ANN: corpus is assigned to the nearest codebook
    * centroid (inverted file); a query searches only its own cell.
    * Cell id is a partition key at scale — retrieval prunes to one
    * cell's partition instead of scanning the corpus. */
  /** Shared IVF construction (S-4 in-plan form, S-8 persisted form):
    * every corpus vector assigned to its max-cosine centroid (ties →
    * lowest cell id) against the broadcast codebook. */
  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val centroids = c.filter($"vec_id" % 61 === 0).orderBy($"vec_id").limit(Cells)
      .select($"vec_id".as("cell_id"), $"v".as("cv"), $"nrm".as("cnrm"))
    c.crossJoin(broadcast(centroids))
      .select(c.columns.map(col) :+ $"cell_id" :+
        cosine($"v", $"cv", $"nrm", $"cnrm").as("ccos"): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cell_id")))
      .filter($"rk" === 1).drop("rk", "ccos")
  }

  /** Ranked cell-local top-k over an assigned corpus — the IVF search
    * kernel shared by S-4 and S-8. */
  private def ivfSearch(assigned: DataFrame): DataFrame = {
    val q = assigned.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"), $"cell_id")
    val scored = assigned.join(broadcast(q), "cell_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"cell_id", $"vec_id".as("neighbor_id"),
        cosine($"qv", $"v", $"qnrm", $"nrm").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= TopK)
      .select($"query_id", $"cell_id", $"rank", $"neighbor_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  def s4IvfTopK(s: SparkSession, dir: String): DataFrame =
    ivfSearch(ivfAssigned(s, dir))

  /** D-15 — semantic dedup, SemDeDup-style: embeddings are blocked by
    * their IVF cell (s4's deterministic codebook — at 100 TB the cell
    * count is the knob that bounds block size, exactly the
    * clustering-then-dedup-within-cluster shape of the published
    * technique), near-dup pairs (cos ≥ 0.3 here; production ~0.95+ on
    * real embeddings) form within cells only, and the HIGHER vec id of
    * every pair is dropped — a deterministic keep rule, no iterative
    * clustering. Output audits each cell: population, drops, and the
    * survivor id-XOR checksum that pins the exact surviving set
    * cross-engine (p2's checksum idiom). Semantic dedup catches what
    * d1/d11 cannot: paraphrases with different bytes but near-identical
    * embeddings. */
  def d15SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val a = ivfAssigned(s, dir).select($"cell_id", $"vec_id", $"v", $"nrm")
    val x = a.select($"cell_id", $"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("anrm"))
    val y = a.select($"cell_id", $"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bnrm"))
    val pairs = x.join(y, Seq("cell_id")).filter($"a_id" < $"b_id")
      .select($"cell_id", $"b_id",
        cosine($"av", $"bv", $"anrm", $"bnrm").as("cos"))
      .filter($"cos" >= 0.3)
    val drops = pairs.select($"cell_id", $"b_id").distinct()
    val cellStats = a.groupBy($"cell_id")
      .agg(count(lit(1)).as("n_vecs"), expr("bit_xor(vec_id)").as("sum_all"))
    val dropStats = drops.groupBy($"cell_id")
      .agg(count(lit(1)).as("n_dropped"), expr("bit_xor(b_id)").as("sum_dropped"))
    cellStats.join(dropStats, Seq("cell_id"), "left")
      .select($"cell_id", $"n_vecs",
        coalesce($"n_dropped", lit(0L)).cast("bigint").as("n_dropped"),
        $"sum_all".bitwiseXOR(coalesce($"sum_dropped", lit(0L))).cast("bigint")
          .as("survivor_id_sum"))
      .orderBy($"cell_id")
  }

  /** S-8 — the PERSISTED IVF index: the assigned corpus written
    * `partitionBy(cell_id)` (one directory per inverted list — the
    * physical layout an ANN serving tier reads), searched from the
    * files. The cell-restricted search joins the scanned index against
    * the broadcast query set on the PARTITION column, so Spark injects
    * a dynamic-partition-pruning subquery into the index scan: at
    * 100 TB retrieval reads only the probed cells' directories, never
    * the corpus (StorageSpec asserts the dynamicpruning filter).
    * Results are identical to S-4 (same assignment, same arithmetic,
    * doubles round-trip parquet exactly) — the oracle is S-4's. */
  def s8IvfPersisted(s: SparkSession, dir: String): DataFrame = {
    graft.pipeline.Pipeline.sweepOldWorkDirs()
    val work = java.nio.file.Files.createTempDirectory("graft_s8_").toString
    ivfAssigned(s, dir)
      .write.partitionBy("cell_id")
      .format(graft.ops.Snapshot.ZoneFormat).save(s"$work/index")
    val idx = s.read.format(graft.ops.Snapshot.ZoneFormat).load(s"$work/index")
      .select($"vec_id", $"label", $"v", $"nrm", $"cell_id")
    ivfSearch(idx)
  }

  /** S-12 — TRAINED IVF codebook: [[KmRounds]] Lloyd's iterations over
    * the corpus, seeded with s4's deterministic codebook. Each round is
    * the canonical scalable k-means shape: one broadcast-join pass for
    * assignment (argmin over k cells, ties → lowest cell id) and one
    * map-side-combinable aggregation for the update (k·Dim partial-sum
    * keys — the mergeable-partial-sums form, never a collect). At
    * 100 TB rounds are bounded a priori (a production codebook trains
    * on a sample anyway), so the plan is static — no convergence loop.
    *
    * Cross-engine determinism is by construction, not tolerance:
    * vectors quantize to integers (floor(x·64 + ½)), every distance is
    * integer arithmetic carried in exactly-representable doubles, and
    * the centroid update floor-divides integer sums — so Spark and the
    * DuckDB oracle agree bit-for-bit (same policy as s5/s10; FP means
    * would diverge by summation order). Output: per (round, cell) the
    * population, inertia (Σ squared distance under that round's
    * assignment), and the updated centroid's component sum — the audit
    * a training job logs per round, and the surface the k-means
    * monotonicity spec pins. */
  val KmRounds = 2
  val KmScale = 64

  /** Integer-quantized corpus (qd carried as exactly-representable
    * doubles so [[dot]] stays in codegen; qq = ‖q‖², exact). */
  private def quantCorpus(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).select($"vec_id",
        // native kernel, not transform(...): this projection is
        // corpus-sized and re-read every Lloyd's round (r13 audit)
        call_function("affine_floor_f64", $"v", lit(KmScale.toDouble)).as("qd"))
      .withColumn("qq", dot($"qd", $"qd").cast("long"))

  /** Argmin cell assignment of a quantized corpus against a broadcast
    * centroid set (ties → lowest cell id); d2 is the exact integer
    * squared distance. */
  private def assignCells(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("d2",
        ($"qq" + $"cc" - lit(2.0) * dot($"qd", $"cqd")).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"d2", $"cell_id")))
      .filter($"rk" === 1)
      .select($"vec_id", $"qd", $"cell_id", $"d2")

  /** The fitted loop: per-round stats plus the final centroid set. */
  private def kmeansFit(s: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    val q = quantCorpus(s, dir)
    var cents = q.filter($"vec_id" % 61 === 0).orderBy($"vec_id").limit(Cells)
      .select($"vec_id".as("cell_id"), $"qd".as("cqd"), $"qq".as("cc"))
    val rounds = (1 to KmRounds).map { r =>
      val assigned = assignCells(q, cents)
      val newCents = assigned.select($"cell_id", posexplode($"qd"))
        .groupBy($"cell_id", $"pos")
        .agg(floor(sum($"col") / count(lit(1))).as("cv"))
        .groupBy($"cell_id")
        // sort_array ≡ array_sort here (struct asc by (pos, cv), no
        // nulls) and the cv extraction is a struct-field walk + array
        // cast — lambda-free (r13 audit; these rows are the k-cell
        // legend, but keeping the sweep clean costs nothing)
        .agg(sort_array(collect_list(struct($"pos", $"cv"))).as("pc"))
        .select($"cell_id", $"pc".getField("cv").cast("array<double>").as("cqd"))
        .withColumn("cc", dot($"cqd", $"cqd").cast("long"))
      // r16 optimization NEGATIVE RESULT, recorded: eagerly
      // localCheckpoint-ing `newCents` per round (d6's loop pattern) to
      // truncate the round chain was tried and REGRESSED s12 0.9→2.1 s
      // / s13 2.5→2.9 s at sf0.1 — the eager per-round jobs run at
      // every fn() construction (per bench rep) ON TOP of the timed
      // consumption, while the lazy chain's apparent O(R²) recompute is
      // largely recovered by exchange reuse within one execution. With
      // KmRounds=2 the lazy chain stays the cheaper plan; revisit only
      // if KmRounds grows.
      val stats = assigned.groupBy($"cell_id")
        .agg(count(lit(1)).as("n_vecs"), sum($"d2").as("inertia"))
        .join(newCents.select($"cell_id",
          call_function("sum_f64", $"cqd").cast("bigint")
            .as("centroid_sum")), Seq("cell_id"))
        .select(lit(r).as("round"), $"cell_id", $"n_vecs",
          $"inertia".cast("long").as("inertia"), $"centroid_sum")
      cents = newCents
      stats
    }
    (rounds, cents)
  }

  def s12KmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val (rounds, _) = kmeansFit(s, dir)
    rounds.reduce(_ unionAll _).orderBy($"round", $"cell_id")
  }

  /** S-13 — the trained codebook EVALUATED: the corpus is re-assigned
    * against the final k-means centroids, searched with the same IVF
    * kernel as s4/s8 (cell-restricted cosine top-k over the ORIGINAL
    * double vectors), and scored for recall@k against the s1
    * brute-force truth — s6's harness pointed at the trained index.
    * Together with s6 (LSH) and s10 (int8) this completes the recall
    * scoreboard: one evaluation surface, four index designs. The
    * KMeansSpec pins the training benefit: total hits with trained
    * cells must not fall below the untrained s4 codebook's. */
  def s13TrainedRecall(s: SparkSession, dir: String): DataFrame = {
    val (_, cents) = kmeansFit(s, dir)
    val assigned = assignCells(quantCorpus(s, dir), cents)
      .select($"vec_id", $"cell_id")
      .join(corpus(s, dir), "vec_id")
    recallVsBrute(s, dir, ivfSearch(assigned))
  }

  /** recall@k of an approximate result set against the s1 truth —
    * shared by s6 (LSH) and s13 (trained IVF). */
  private def recallVsBrute(s: SparkSession, dir: String,
      approx: DataFrame): DataFrame = {
    val brute = s1BruteTopK(s, dir).select($"query_id", $"neighbor_id")
    val hits = approx.select($"query_id", $"neighbor_id", lit(1).as("hit"))
    brute.join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("k"), sum(coalesce($"hit", lit(0))).as("n_hit"))
      .select($"query_id", $"k".cast("int").as("k"),
        $"n_hit".cast("int").as("n_hit"),
        round($"n_hit" / $"k", 4).as("recall_at_k"))
      .orderBy($"query_id")
  }

  /** S-5 — int8 embedding quantization (the storage/bandwidth path for
    * a 100 TB vector corpus: 4 bytes/dim fp32 → 1 byte/dim int8).
    * Per-vector absmax scaling, q = floor(x/scale + 0.5) — floor over
    * IEEE doubles is reproducible bit-for-bit across engines, unlike
    * library-specific round-half modes. Pure projection (no shuffle);
    * output is the audit view (scale + value-range + checksum per
    * vector) a pipeline materializes next to the quantized blobs. */
  def s5Quantize(s: SparkSession, dir: String): DataFrame = {
    // Lambda-free since r13 (codegen audit): absmax = greatest(max,
    // -min) over the once-cast array (array_max/min skip null slots
    // exactly like the abs-transform did); the quantization map and
    // the element-sum run as native kernels, value-identical to the
    // transform/aggregate folds incl. the NULL cases
    // (functions/Quant.scala, pinned in CodegenKernelsSpec).
    graft.functions.NativeFunctions.register(s)
    graft.io.Tables.embeddings(s, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", $"label", $"v",
        greatest(array_max($"v"), -array_min($"v")).as("amax"))
      .select($"vec_id", $"label", $"v",
        (expr("nullif(amax, 0.0d)") / 127.0).as("scale"))
      .select($"vec_id", $"label", $"scale",
        call_function("quant_i64", $"v", $"scale").as("q"))
      .select($"vec_id", $"label", round($"scale", 6).as("scale_r"),
        size($"q").as("dim"),
        call_function("sum_i64", $"q").as("sum_q"),
        expr("array_max(q)").as("max_q"), expr("array_min(q)").as("min_q"))
      .orderBy($"vec_id")
  }

  /** S-6 — ANN quality evaluation: recall@k of the LSH index (S-2)
    * against brute-force ground truth (S-1), per query. The evaluation
    * harness every ANN deployment runs before trusting an index; at
    * scale ground truth comes from a query SAMPLE (here the query set
    * already is one) so cost stays |sample|·N while the index serves
    * the full load. */
  def s6AnnRecall(s: SparkSession, dir: String): DataFrame = {
    recallVsBrute(s, dir, s2LshTopK(s, dir))
  }

  /** S-10 — int8-quantized retrieval recall: rank neighbors by the
    * QUANTIZED cosine (integer dot of s5's int8 codes, normalized by
    * the exact integer self-dots) and measure recall@k against the
    * float ground truth (S-1) — the eval that decides whether a
    * deployment can serve from 1-byte codes (4× memory, SIMD dot) at
    * all. All pair arithmetic is exact BIGINT; the only float ops are
    * one IEEE divide + sqrt from exact integers per pair, which is
    * bit-identical cross-engine (unlike accumulated float sums). At
    * 100 TB the int8 corpus is the RESIDENT index (the float vectors
    * stay in cold storage) and this recall audit runs on a query
    * sample after every index rebuild. */
  def s10QuantRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    // same lambda-free quantization as s5 (native quant_i64 kernel; a
    // zero vector's NULL scale yields all-null q, so qq/cosq are NULL
    // and desc-sort LAST — the HOF fold's behavior, kernel-pinned)
    val qz = graft.io.Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", $"v",
        greatest(array_max($"v"), -array_min($"v")).as("amax"))
      .select($"vec_id", $"v",
        (expr("nullif(amax, 0.0d)") / 127.0).as("scale"))
      .select($"vec_id",
        call_function("quant_i64", $"v", $"scale").as("q"))
      .withColumn("qq", call_function("dot_i64", $"q", $"q"))
    val queries = qz.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"q".as("qa"), $"qq".as("qqa"))
    val scored = qz.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        // native integer dot (exact arithmetic — value-identical to the
        // sequence fold; the HOF form ran TWO interpreted lambda
        // dispatches per element on the corpus × query-panel hot loop)
        (call_function("dot_i64", $"q", $"qa")
          / sqrt(($"qq" * $"qqa").cast("double"))).as("cosq"))
    val w = Window.partitionBy($"query_id").orderBy($"cosq".desc, $"neighbor_id")
    val qtop = scored.withColumn("rank", row_number().over(w)).filter($"rank" <= TopK)
      .select($"query_id", $"neighbor_id", lit(1).as("hit"))
    s1BruteTopK(s, dir).select($"query_id", $"neighbor_id")
      .join(qtop, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("k"), sum(coalesce($"hit", lit(0))).as("n_hit"))
      .select($"query_id", $"k".cast("int").as("k"),
        $"n_hit".cast("int").as("n_hit"),
        round($"n_hit" / $"k", 4).as("recall_at_k"))
      .orderBy($"query_id")
  }

  /** Rerank pool for S-11's two-stage retrieval: the Hamming stage
    * keeps this many candidates per query before the exact rerank. */
  val HammingPool = 12

  /** Per-dim sign bit over dims [lo, hi) packed into one BIGINT word
    * (bit i-lo set iff v[i] > 0). Spelled as 32 when-terms, not an HOF
    * fold — stays inside whole-stage codegen (the same reason dot_f64
    * exists). Two 32-bit words per 64-dim vector keep every shift
    * below the sign bit, so no engine's overflow rules are in play. */
  private def signWord(v: Column, lo: Int, hi: Int): Column =
    (lo until hi).map { i =>
      when(element_at(v, i + 1) > 0d, lit(1L << (i - lo))).otherwise(0L)
    }.reduce(_ + _)

  /** S-11 — binary-sign sketch retrieval with exact rerank: the 1-BIT
    * rung of the quantization ladder (float 256 B → int8 64 B (s5) →
    * PQ ~2 B (s7) → sign sketch 16 B). Stage 1 ranks by Hamming
    * distance over two packed sign words — XOR + popcount, the
    * cheapest possible candidate metric, and the corpus the stage
    * scans is 16 B/vector, so at 100 TB the sketch index is the only
    * thing that needs to be resident (and the same prefix trick as
    * s2's buckets shards it when even that must partition). Stage 2
    * reranks the [[HammingPool]] survivors with exact float cosine —
    * the two-stage shape (cheap wide recall, exact narrow precision)
    * every production retrieval system runs. All stage-1 arithmetic
    * is integer → bit-reproducible; stage-2 reuses the s1 cosine. */
  def s11HammingRerank(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
      .withColumn("w0", signWord($"v", 0, 32))
      .withColumn("w1", signWord($"v", 32, Dim))
    val q = c.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        $"w0".as("qw0"), $"w1".as("qw1"))
    val ham = (call_function("bit_count", $"w0".bitwiseXOR($"qw0")) +
      call_function("bit_count", $"w1".bitwiseXOR($"qw1"))).cast("int")
    val wR = Window.partitionBy($"query_id").orderBy($"hamming".asc, $"neighbor_id")
    val wF = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    // Stage 1 shuffles ONLY (query_id, neighbor_id, hamming) through the
    // pool window — the float vectors (the 32× heavier payload) are
    // joined back for just the |Q|·HammingPool rerank rows. At 100 TB
    // the ranking shuffle is sized by the sketch, never the vectors.
    val pool = c.select($"vec_id", $"w0", $"w1").crossJoin(
        broadcast(q.select($"query_id", $"qw0", $"qw1")))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), ham.as("hamming"))
      .withColumn("rrank", row_number().over(wR)).filter($"rrank" <= HammingPool)
    pool
      .join(c.select($"vec_id".as("neighbor_id"), $"v", $"nrm"), "neighbor_id")
      .join(broadcast(q.select($"query_id", $"qv", $"qnrm")), "query_id")
      .select($"query_id", $"neighbor_id", $"hamming",
        cosine($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      .withColumn("rank", row_number().over(wF)).filter($"rank" <= TopK)
      .select($"query_id", $"rank", $"neighbor_id", $"hamming",
        round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** PQ geometry: 4 subspaces × 16 dims; codebook per subspace = the
    * sub-vectors of the same [[Cells]] deterministic corpus vectors S-4
    * uses (at production scale a trained per-subspace k-means — the
    * assignment/storage structure is identical). */
  val SubSpaces = 4
  val SubDim: Int = Dim / SubSpaces

  /** S-7 — product quantization: each vector's 4 sub-vectors are
    * assigned to their nearest (squared-L2) codebook centroid, packing
    * 64 × 4 B floats into one 12-bit code — the storage/recall ladder's
    * next rung below int8 (s5): 256 B → ~2 B/vector. The corpus is
    * unpivoted to one row per (vector, subspace) and joined to the
    * BROADCAST 32-row sub-codebook — one narrow pass, one window over
    * (vec, m); no shuffle of vector payloads. Output carries the
    * per-subspace codes, the packed code, and the reconstruction error
    * (summed in fixed subspace order; distances are computed with the
    * same sequential fold as the oracle, so every bit matches). */
  def s7PqCode(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val cent = c.filter($"vec_id" % 61 === 0).orderBy($"vec_id").limit(Cells)
      .select((row_number().over(Window.orderBy($"vec_id")) - 1).as("cell_idx"), $"v".as("cv"))
    val ms = explode(sequence(lit(0), lit(SubSpaces - 1))).as("m")
    val sub = c.select($"vec_id", $"label", ms, $"v")
      .select($"vec_id", $"label", $"m", expr(s"slice(v, m * $SubDim + 1, $SubDim)").as("sv"))
    val csub = cent.select($"cell_idx", ms, $"cv")
      .select($"cell_idx", $"m", expr(s"slice(cv, m * $SubDim + 1, $SubDim)").as("csv"))
    // native codegen'd fold (the HOF spelling is CodegenFallback and
    // this is the corpus × codebook × sub-dim hot loop; accumulation
    // order and therefore every output bit is unchanged)
    val d2 = call_function("l2sq_f64", $"sv", $"csv")
    val assigned = sub.join(broadcast(csub), "m")
      .select($"vec_id", $"label", $"m", $"cell_idx", d2.as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"vec_id", $"m").orderBy($"d2", $"cell_idx")))
      .filter($"rk" === 1)
    def perM(i: Int, v: Column) = max(when($"m" === i, v))
    val aggs = (0 until SubSpaces).map(i => perM(i, $"cell_idx").cast("int").as(s"c$i")) ++
      (0 until SubSpaces).map(i => perM(i, $"d2").as(s"e$i"))
    assigned.groupBy($"vec_id", $"label").agg(aggs.head, aggs.tail: _*)
      .select(($"vec_id" +: $"label" +:
        (0 until SubSpaces).map(i => col(s"c$i"))) :+
        (0 until SubSpaces).map(i => col(s"c$i").cast("long") * (1L << (3 * i))).reduce(_ + _).as("code") :+
        round((0 until SubSpaces).map(i => col(s"e$i")).reduce(_ + _), 4).as("err"): _*)
      .orderBy($"vec_id")
  }

  private lazy val oracleS7: String = {
    val perM = (0 until SubSpaces).map(i =>
      s"max(CASE WHEN m = $i THEN cell_idx END) AS c$i, max(CASE WHEN m = $i THEN d2 END) AS e$i")
      .mkString(", ")
    val code = (0 until SubSpaces).map(i => s"c$i * ${1L << (3 * i)}").mkString(" + ")
    val err = (0 until SubSpaces).map(i => s"e$i").mkString(" + ")
    val cInts = (0 until SubSpaces).map(i => s"CAST(c$i AS INT) AS c$i").mkString(", ")
    s"""WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        cent0 AS (SELECT vec_id, v FROM c WHERE vec_id % 61 = 0 ORDER BY vec_id LIMIT $Cells),
        cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_idx, v AS cv FROM cent0),
        ms AS (SELECT unnest(range(0, $SubSpaces)) AS m),
        sub AS (SELECT vec_id, label, m,
                       list_slice(v, m * $SubDim + 1, (m + 1) * $SubDim) AS sv
                FROM c CROSS JOIN ms),
        csub AS (SELECT cell_idx, m,
                        list_slice(cv, m * $SubDim + 1, (m + 1) * $SubDim) AS csv
                 FROM cent CROSS JOIN ms),
        d AS (SELECT s.vec_id AS vec_id, s.label AS label, s.m AS m, cs.cell_idx AS cell_idx,
                     list_sum([(s.sv[i] - cs.csv[i]) * (s.sv[i] - cs.csv[i])
                               for i in range(1, ${SubDim + 1})]) AS d2
              FROM sub s JOIN csub cs ON s.m = cs.m),
        a AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell_idx) AS rk
              FROM d),
        p AS (SELECT vec_id, label, $perM FROM a WHERE rk = 1 GROUP BY 1, 2)
        SELECT vec_id, label, $cInts,
               CAST($code AS BIGINT) AS code, round($err, 4) AS err
        FROM p ORDER BY vec_id"""
  }

  /** S-4 / S-8 share this: the persisted index holds the SAME assigned
    * vectors (doubles round-trip parquet bit-exactly), so both search
    * paths produce one result set. */
  private lazy val IvfOracleSql: String =
    s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT vec_id AS cell_id, v AS cv FROM c
                 WHERE vec_id % 61 = 0 ORDER BY vec_id LIMIT $Cells),
        allcos AS (
          SELECT a.vec_id AS vec_id, a.v AS v, cent.cell_id AS cell_id,
                 ${cosineSql.replace("b.v", "cent.cv")} AS ccos
          FROM c a CROSS JOIN cent),
        asg AS (
          SELECT vec_id, v, cell_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) AS rk
          FROM allcos),
        a AS (SELECT vec_id, v, cell_id FROM asg WHERE rk = 1),
        q AS (SELECT vec_id AS query_id, v, cell_id FROM a WHERE vec_id % 100 = 0 AND vec_id < 20000),
        scored AS (
          SELECT q.query_id AS query_id, q.cell_id AS cell_id, a.vec_id AS neighbor_id,
                 ${cosineSql.replace("b.v", "q.v")} AS cos
          FROM a JOIN q ON a.cell_id = q.cell_id WHERE a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, cell_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, cell_id, rank, neighbor_id, round(cos, 4) AS cosine
        FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  private lazy val oracleS1: String =
    s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v FROM c WHERE vec_id % 100 = 0 AND vec_id < 20000),
        scored AS (
          SELECT q.query_id AS query_id, a.vec_id AS neighbor_id,
                 ${cosineSql.replace("b.v", "q.v").replace("a.v", "a.v")} AS cos
          FROM c a CROSS JOIN q WHERE a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
        FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  private lazy val oracleS2: String =
    s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          ${bucketSql("embedding::DOUBLE[]")} AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v, bucket FROM c WHERE vec_id % 100 = 0 AND vec_id < 20000),
        scored AS (
          SELECT q.query_id AS query_id, q.bucket AS bucket, a.vec_id AS neighbor_id,
                 ${cosineSql.replace("b.v", "q.v")} AS cos
          FROM c a JOIN q ON a.bucket = q.bucket WHERE a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, bucket, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, bucket, rank, neighbor_id, round(cos, 4) AS cosine
        FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** DuckDB twin of [[s12KmeansTrain]]: the bounded-rounds loop unrolls
    * to one CTE block per round (assignment → floor-mean update → round
    * stats); all arithmetic is the same exact-integer form as the Spark
    * side, so no tolerance is needed. */
  private def oracleS12: String = {
    val rounds = (1 to KmRounds)
      .map(r => kmeansRoundCtes(r, if (r == 1) "cent0" else s"cent${r - 1}"))
      .mkString(",\n")
    val union = (1 to KmRounds).map(r => s"SELECT * FROM r${r}o")
      .mkString(" UNION ALL ")
    s"""WITH $kmeansCtePrefix,
        $rounds
        SELECT round, cell_id, n_vecs, inertia, centroid_sum
        FROM ($union) ORDER BY round, cell_id"""
  }

  /** One unrolled Lloyd's round (assignment d/a, floor-mean update
    * u/cent, round stats r) — shared by the s12 and s13 oracles. */
  private def kmeansRoundCtes(r: Int, prev: String): String =
      s"""d$r AS (SELECT a.vec_id AS vec_id, a.q AS q, a.qq AS qq,
                       c0.cell_id AS cell_id,
                       a.qq + c0.cc
                         - 2 * CAST(list_sum([a.q[i] * c0.cq[i]
                                              for i in range(1, ${Dim + 1})]) AS BIGINT) AS d2
                FROM qn a CROSS JOIN $prev c0),
          a$r AS (SELECT vec_id, q, cell_id, d2 FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY d2, cell_id) AS rk
                    FROM d$r)
                  WHERE rk = 1),
          u$r AS (SELECT cell_id, i,
                         CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
                  FROM a$r CROSS JOIN pos GROUP BY cell_id, i),
          cent${r}l AS (SELECT cell_id, list(cv ORDER BY i) AS cq
                        FROM u$r GROUP BY cell_id),
          cent$r AS (SELECT cell_id, cq,
                            CAST(list_sum([x * x for x in cq]) AS BIGINT) AS cc
                     FROM cent${r}l),
          r$r AS (SELECT $r AS round, a.cell_id AS cell_id, count(*) AS n_vecs,
                         CAST(sum(a.d2) AS BIGINT) AS inertia
                  FROM a$r a GROUP BY a.cell_id),
          r${r}o AS (SELECT r$r.round AS round, r$r.cell_id AS cell_id,
                            r$r.n_vecs AS n_vecs, r$r.inertia AS inertia,
                            CAST(list_sum(c.cq) AS BIGINT) AS centroid_sum
                     FROM r$r JOIN cent$r c ON r$r.cell_id = c.cell_id)"""

  /** DuckDB twin of [[s13TrainedRecall]]: the k-means rounds, a final
    * assignment against cent[[KmRounds]], the s4-shaped cell-restricted
    * cosine search over the original double vectors, then s6's recall
    * join against the s1 brute-force truth. */
  private def oracleS13: String = {
    val rounds = (1 to KmRounds)
      .map(r => kmeansRoundCtes(r, if (r == 1) "cent0" else s"cent${r - 1}"))
      .mkString(",\n")
    s"""WITH $kmeansCtePrefix,
        $rounds,
        fd AS (SELECT a.vec_id AS vec_id, c0.cell_id AS cell_id,
                      a.qq + c0.cc
                        - 2 * CAST(list_sum([a.q[i] * c0.cq[i]
                                             for i in range(1, ${Dim + 1})]) AS BIGINT) AS d2
               FROM qn a CROSS JOIN cent$KmRounds c0),
        fa AS (SELECT vec_id, cell_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2, cell_id) AS rk
                 FROM fd)
               WHERE rk = 1),
        m AS (SELECT fa.vec_id AS vec_id, fa.cell_id AS cell_id, c.v AS v
              FROM fa JOIN c ON fa.vec_id = c.vec_id),
        qs AS (SELECT vec_id AS query_id, cell_id, v FROM m
               WHERE vec_id % 100 = 0 AND vec_id < 20000),
        scored AS (SELECT qs.query_id AS query_id, a.vec_id AS neighbor_id,
                          ${cosineSql.replace("b.v", "qs.v")} AS cos
                   FROM m a JOIN qs ON a.cell_id = qs.cell_id
                   WHERE a.vec_id <> qs.query_id),
        tk AS (SELECT query_id, neighbor_id FROM
                (SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, neighbor_id) AS rank
                 FROM scored)
               WHERE rank <= $TopK),
        brute AS ($oracleS1)
        SELECT b.query_id AS query_id, CAST(count(*) AS INT) AS k,
               CAST(count(t.neighbor_id) AS INT) AS n_hit,
               round(count(t.neighbor_id) / CAST(count(*) AS DOUBLE), 4)
                 AS recall_at_k
        FROM brute b LEFT JOIN tk t
          ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
        GROUP BY 1 ORDER BY query_id"""
  }

  /** Shared CTE head for the k-means oracles: quantized corpus, seed
    * codebook, 1-based position table. */
  private def kmeansCtePrefix: String =
    s"""c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        qn0 AS (SELECT vec_id,
                       [CAST(floor(x * $KmScale + 0.5) AS BIGINT) for x in v] AS q
                FROM c),
        qn AS (SELECT vec_id, q,
                      CAST(list_sum([x * x for x in q]) AS BIGINT) AS qq
               FROM qn0),
        cent0 AS (SELECT vec_id AS cell_id, q AS cq, qq AS cc FROM qn
                  WHERE vec_id % 61 = 0 ORDER BY vec_id LIMIT $Cells),
        pos AS (SELECT unnest(generate_series(1, $Dim)) AS i)"""

  val oracles: Map[String, String] = Map(
    "s12_kmeans_train" -> oracleS12,
    "s13_trained_recall" -> oracleS13,
    "s7_pq_code" -> oracleS7,
    "s6_ann_recall" ->
      s"""WITH brute AS ($oracleS1),
          lsh AS ($oracleS2)
          SELECT b.query_id AS query_id, CAST(count(*) AS INT) AS k,
                 CAST(count(l.neighbor_id) AS INT) AS n_hit,
                 round(count(l.neighbor_id) / CAST(count(*) AS DOUBLE), 4) AS recall_at_k
          FROM brute b LEFT JOIN lsh l
            ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
          GROUP BY 1 ORDER BY query_id""",
    "s10_quant_recall" ->
      s"""WITH brute AS ($oracleS1),
          c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          sc AS (SELECT vec_id, v,
                        nullif(list_max(list_transform(v, y -> abs(y))), 0) / 127.0
                          AS scale
                 FROM c),
          qz AS (SELECT vec_id,
                        [CAST(floor(x / scale + 0.5) AS BIGINT) for x in v] AS q
                 FROM sc),
          qn AS (SELECT vec_id, q,
                        CAST(list_sum([x * x for x in q]) AS BIGINT) AS qq
                 FROM qz),
          qs AS (SELECT vec_id AS query_id, q AS qa, qq AS qqa
                 FROM qn WHERE vec_id % 100 = 0 AND vec_id < 20000),
          scored AS (
            SELECT qs.query_id AS query_id, b.vec_id AS neighbor_id,
                   CAST(list_sum([b.q[i] * qs.qa[i]
                                  for i in range(1, $Dim + 1)]) AS BIGINT) /
                     sqrt(CAST(b.qq * qs.qqa AS DOUBLE)) AS cosq
            FROM qn b CROSS JOIN qs WHERE b.vec_id <> qs.query_id),
          rk AS (SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosq DESC, neighbor_id) AS rank
                 FROM scored),
          qtop AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= $TopK)
          SELECT b.query_id AS query_id, CAST(count(*) AS INT) AS k,
                 CAST(count(t.neighbor_id) AS INT) AS n_hit,
                 round(count(t.neighbor_id) / CAST(count(*) AS DOUBLE), 4)
                   AS recall_at_k
          FROM brute b LEFT JOIN qtop t
            ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
          GROUP BY 1 ORDER BY query_id""",
    "s5_quantize" ->
      """WITH s AS (
           SELECT vec_id, label, embedding,
                  nullif(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0) / 127.0 AS scale
           FROM embeddings),
         q AS (
           SELECT vec_id, label, scale,
                  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS q
           FROM s)
         SELECT vec_id, label, round(scale, 6) AS scale_r,
                CAST(len(q) AS INT) AS dim,
                CAST(list_aggregate(q, 'sum') AS BIGINT) AS sum_q,
                CAST(list_max(q) AS BIGINT) AS max_q, CAST(list_min(q) AS BIGINT) AS min_q
         FROM q ORDER BY vec_id""",
    "d15_semantic_dedup" ->
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          cent AS (SELECT vec_id AS cell_id, v AS cv FROM c
                   WHERE vec_id % 61 = 0 ORDER BY vec_id LIMIT $Cells),
          allcos AS (
            SELECT a.vec_id AS vec_id, a.v AS v, cent.cell_id AS cell_id,
                   ${cosineSql.replace("b.v", "cent.cv")} AS ccos
            FROM c a CROSS JOIN cent),
          asgd AS (
            SELECT vec_id, v, cell_id,
                   row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) AS rk
            FROM allcos),
          asg AS (SELECT vec_id, v, cell_id FROM asgd WHERE rk = 1),
          pairs AS (
            SELECT a.cell_id AS cell_id, b.vec_id AS b_id, $cosineSql AS cos
            FROM asg a JOIN asg b
              ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
          drops AS (
            SELECT DISTINCT cell_id, b_id FROM pairs WHERE cos >= 0.3),
          cellstats AS (
            SELECT cell_id, count(*) AS n_vecs,
                   CAST(bit_xor(vec_id) AS BIGINT) AS sum_all
            FROM asg GROUP BY 1),
          dropstats AS (
            SELECT cell_id, count(*) AS n_dropped,
                   CAST(bit_xor(b_id) AS BIGINT) AS sum_dropped
            FROM drops GROUP BY 1)
          SELECT s.cell_id AS cell_id, s.n_vecs AS n_vecs,
                 CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
                 CAST(xor(s.sum_all, coalesce(d.sum_dropped, 0)) AS BIGINT)
                   AS survivor_id_sum
          FROM cellstats s LEFT JOIN dropstats d ON s.cell_id = d.cell_id
          ORDER BY cell_id""",
    "s1_ann_brute" -> oracleS1,
    "s11_hamming_rerank" ->
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          w AS (SELECT vec_id, v,
                  list_sum([CASE WHEN v[i] > 0 THEN 1::BIGINT << (i-1) ELSE 0 END
                            for i in range(1, 33)]) AS w0,
                  list_sum([CASE WHEN v[i+32] > 0 THEN 1::BIGINT << (i-1) ELSE 0 END
                            for i in range(1, 33)]) AS w1
                FROM c),
          q AS (SELECT vec_id AS query_id, v AS qv, w0 AS qw0, w1 AS qw1
                FROM w WHERE vec_id % 100 = 0 AND vec_id < 20000),
          cand AS (
            SELECT q.query_id AS query_id, a.vec_id AS neighbor_id,
                   CAST(bit_count(xor(a.w0, q.qw0)) +
                        bit_count(xor(a.w1, q.qw1)) AS INT) AS hamming,
                   a.v AS v, q.qv AS qv
            FROM w a, q WHERE a.vec_id <> q.query_id),
          pool AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY hamming, neighbor_id) AS rrank
            FROM cand),
          sc AS (
            SELECT query_id, neighbor_id, hamming,
                   list_sum([qv[i]*v[i] for i in range(1, len(v)+1)]) /
                   (sqrt(list_sum([qv[i]*qv[i] for i in range(1, len(qv)+1)])) *
                    sqrt(list_sum([v[i]*v[i] for i in range(1, len(v)+1)]))) AS cos
            FROM pool WHERE rrank <= $HammingPool),
          f AS (
            SELECT query_id, neighbor_id, hamming, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM sc)
          SELECT query_id, rank, neighbor_id, hamming, round(cos, 4) AS cosine
          FROM f WHERE rank <= $TopK ORDER BY query_id, rank""",
    "s2_ann_lsh" -> oracleS2,
    "s9_ann_multiprobe" ->
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            ${bucketSql("embedding::DOUBLE[]")} AS bucket
                     FROM embeddings),
          q AS (SELECT vec_id AS query_id, v, bucket FROM c WHERE vec_id % 100 = 0 AND vec_id < 20000),
          scored AS (
            SELECT q.query_id AS query_id, a.vec_id AS neighbor_id,
                   ${cosineSql.replace("b.v", "q.v")} AS cos
            FROM c a JOIN q ON bit_count(xor(a.bucket, q.bucket)) <= 1
            WHERE a.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
          SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
          FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""",
    "s4_ann_ivf" -> IvfOracleSql,
    // identical computation, persisted index path — same oracle
    "s8_ann_ivf_persisted" -> IvfOracleSql,
    "s3_cosine_neardup" ->
      s"""WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT *, count(*) OVER (PARTITION BY label) AS label_n FROM c),
          k AS (SELECT vec_id, label, v,
                       CASE WHEN label_n > $BlockCap
                            THEN (${bucketSql("v")}) % $SubBlocks ELSE 0 END AS sub
                FROM n),
          pairs AS (
            SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                   $cosineSql AS cos
            FROM k a JOIN k b
              ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id)
          SELECT label, vec_a, vec_b, round(cos, 4) AS cosine
          FROM pairs WHERE cos >= 0.3 ORDER BY label, vec_a, vec_b""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_ann_brute" -> s1BruteTopK _,
    "s2_ann_lsh" -> s2LshTopK _,
    "s9_ann_multiprobe" -> s9MultiProbe _,
    "s3_cosine_neardup" -> s3CosineNearDup _,
    "d15_semantic_dedup" -> d15SemanticDedup _,
    "s4_ann_ivf" -> s4IvfTopK _,
    "s8_ann_ivf_persisted" -> s8IvfPersisted _,
    "s5_quantize" -> s5Quantize _,
    "s6_ann_recall" -> s6AnnRecall _,
    "s10_quant_recall" -> s10QuantRecall _,
    "s11_hamming_rerank" -> s11HammingRerank _,
    "s7_pq_code" -> s7PqCode _,
    "s12_kmeans_train" -> s12KmeansTrain _,
    "s13_trained_recall" -> s13TrainedRecall _,
  )
}
