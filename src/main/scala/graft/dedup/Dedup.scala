package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.io.{SessionMemo, Tables}

/** Large-scale training-data deduplication operators over `documents`.
  *
  * Portable hash family: md5 over seeded strings — identical in Spark
  * (`functions.md5`) and the DuckDB oracle (`md5(...)`), so every
  * signature is bit-reproducible across engines. MinHash uses the
  * lexicographic minimum of seeded md5 hex strings (a valid uniform
  * min-hash family over a 128-bit keyspace).
  *
  * Scale design (the 100 TB story):
  *  - shingling is a per-row Generator (explode) — no shuffle;
  *  - per-doc signatures are ONE groupBy(doc_id) with 16 partial-agg
  *    min()s — a single shuffle on doc_id, map-side combined;
  *  - LSH banding turns O(n²) all-pairs into groupBy(band_signature)
  *    bucket joins — candidate generation touches only colliding docs;
  *  - exact Jaccard verification runs on LSH candidates only, never on
  *    the cross product.
  */
object Dedup {

  val NumHashes = 16
  val Bands = 4 // 4 bands x 4 rows: P(collide) = 1-(1-J^4)^4

  /** Word 3-gram shingles (vocab here is tiny, so unigrams would make
    * every pair look similar; 3-grams give a ~vocab³ shingle space).
    * Spark arrays are 0-based; the oracle's DuckDB lists are 1-based —
    * both enumerate the same trigrams. */
  /** The corpus-wide stream keeps per-doc duplicates: its one
    * consumer, the MinHash signature min(), is duplicate-insensitive.
    * Set-cardinality consumers (Jaccard, containment) shingle only
    * their pair docs, through [[pairOverlap]]. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    // Widened by bytes (Tables.documentsWide): the shingle
    // enumeration + the signature's map-side partial mins fuse into
    // the SCAN stage, whose width is row-group-bound. min() is
    // order-independent.
    graft.functions.Shingles.kgramRows(
      Tables.documentsWide(s, dir, Seq("doc_id", "text")), Seq("doc_id"), k = 3)

  /** D-1 — exact dedup: hash-groupBy on content. Output one row per
    * distinct content hash with the kept (minimum) doc_id and the
    * duplicate count. One shuffle on the md5 key. */
  def d1Exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy($"keep_id")

  /** D-20 — URL/host-level dedup: a crawl pipeline dedups by
    * NORMALIZED host+path BEFORE any content pass — it is the only
    * dedup that can run at fetch time (no bytes needed) and it
    * collapses the mirror/tracking noise that would otherwise multiply
    * every content-dedup stage's input. The documents table carries no
    * URL, so one is derived deterministically from doc_id (mirror
    * subdomains, tracking query params, fragments, trailing slashes —
    * the four classic canonicalization cases) and then canonicalized
    * with the `parse_url` built-ins: host and path extracted, `www.` /
    * `m.` subdomains stripped, query+fragment dropped (PATH excludes
    * them), trailing slash removed. d1's keep-lowest-id shape over the
    * canonical key, plus the id-XOR checksum that pins exact group
    * membership (bit_xor, not sum: id magnitudes scale with the corpus
    * — strided generators, snowflake ids — and a 50 M-doc id sum
    * overflowed BIGINT at the fourth decade, failing the job under
    * ANSI mode; xor is order-independent, overflow-free, and pins set
    * membership just as hard — the round-14 respell applied to every
    * *_checksum/kept_id_sum column engine-wide, oracles in lockstep). At 100 TB this is a single hash-aggregate on the
    * canonical string — map-side combinable, no join, and the key
    * cardinality (distinct pages) is what bounds the shuffle, not the
    * crawl size. */
  def d20UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val page = $"doc_id" % 211
    val url = concat(
      lit("https://"),
      when($"doc_id" % 3 === 0, "www.").when($"doc_id" % 3 === 1, "").otherwise("m."),
      lit("site"), (page % 5).cast("string"), lit(".example.com"),
      lit("/doc/"), page.cast("string"),
      when($"doc_id" % 5 === 0, "/").otherwise(""),
      when($"doc_id" % 4 === 0, concat(lit("?utm_source=feed&ref="), $"doc_id"))
        .when($"doc_id" % 4 === 1, concat(lit("#sec-"), $"doc_id"))
        .otherwise(""))
    Tables.documents(s, dir)
      .select($"doc_id", url.as("url"))
      .select($"doc_id",
        concat(
          regexp_replace(parse_url($"url", lit("HOST")), "^(www|m)\\.", ""),
          regexp_replace(parse_url($"url", lit("PATH")), "/$", ""))
          .as("canon_url"))
      .groupBy($"canon_url")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"canon_url")
  }

  /** The 16 hash functions are 8-hex (32-bit) windows over 4 seeded md5
    * digests — 4 md5 evaluations per shingle instead of 16 (wide-hash
    * slicing, the standard MinHash trick). Lexicographic min over fixed-
    * width hex == numeric min. Same construction verbatim in the oracle. */
  private def hashCols: Seq[org.apache.spark.sql.Column] =
    (0 until NumHashes).map { i =>
      min(substring(md5(concat(lit(s"${i / 4}:"), $"shingle")), (i % 4) * 8 + 1, 8)).as(s"m$i")
    }

  /** D-2 — per-doc MinHash signature (16 min-hashes), digested to one
    * md5 for a compact, comparable output. */
  def d2MinhashSig(s: SparkSession, dir: String): DataFrame =
    signatures(s, dir)
      .select($"doc_id", md5(concat((0 until NumHashes).map(i => col(s"m$i")): _*)).as("sig"))
      .orderBy($"doc_id")

  /** The documents file(s) every dedup memo is keyed on. */
  private def docsInput(dir: String): Seq[String] = Seq(s"$dir/documents.parquet")

  /** Session-level cache of the per-doc SIGNATURE table (m0..m15) —
    * the expensive stage (4 md5 evaluations per shingle) that D-2, D-3
    * and D-6 all consume; banding on top is a cheap projection. This is
    * the session-scale version of the documented production pattern
    * (persist the signature table; it is tiny next to the corpus).
    * Keyed on the documents file fingerprint ([[graft.io.SessionMemo]]),
    * so a rewritten corpus gets fresh signatures. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "signatures", docsInput(dir)) {
      val aggs = hashCols
      shingles(s, dir)
        .groupBy($"doc_id").agg(aggs.head, aggs.tail: _*).persist()
    }

  /** Session cache of the LSH candidate PAIR list — the production
    * artifact a dedup pipeline materializes ONCE per corpus version
    * and every downstream consumer reads (the d3 gate entry, the
    * overlap table behind d8 and d14, the d6 cluster map build, d19
    * cluster split, and t20's leakage audit all start from it). Before
    * round 12 each of them re-ran the band-bucket join per consumer —
    * d8 alone embedded the pair plan four times. */
  def lshPairsCached(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "pairs", docsInput(dir))(lshPairsPlan(s, dir).persist())

  /** Per-doc band signatures (Bands rows per doc). */
  private def banded(s: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(s, dir)
    val rows = NumHashes / Bands
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until rows).map(r => col(s"m${b * rows + r}"))
      struct(lit(b).as("band"), md5(concat(parts :+ lit(b.toString): _*)).as("sig"))
    }
    sigs.select($"doc_id", explode(array(bandCols: _*)).as("bs"))
      .select($"doc_id", $"bs.band".as("band"), $"bs.sig".as("sig"))
  }

  /** D-3 — MinHash-LSH candidate pairs: docs sharing any band bucket.
    * Single pass: groupBy(band, sig) collects each bucket's doc ids and
    * pairs are generated bucket-locally with array transforms — the
    * signature subplan runs ONCE (a self-join would compute it twice)
    * and no bucket leaves its partition before pairing. Buckets are
    * near-duplicate sets, so |ids|² per bucket stays tiny. */
  /** Pathological mega-bucket guard: pair at most this many docs per
    * (band, sig) bucket — the CAP smallest doc_ids, mirrored in the
    * oracle as rank-within-bucket <= CAP. A real near-dup bucket is
    * tiny; a bucket past the cap means a degenerate band signature
    * (e.g. empty docs), where pairing all members is O(bucket²) for no
    * candidate value. Drops are observable via the `d3_bucket_cap`
    * metric (zero extra pass — piggybacks on the existing action). */
  val BucketCap = 1024

  /** The shared bucket subplan: capped, sorted member lists of every
    * multi-doc (band, sig) bucket — every pair expansion reads it.
    *
    * SORT-based bucket build (round-14; r13 verdict finding 3): the
    * old shape was one groupBy(band, sig).agg(collect_set) over the
    * full banded stream — at the fourth decade that is 800 M rows into
    * an ObjectHashAggregate whose per-group ARRAY buffers don't fit
    * (≈25 M groups/partition, almost all singletons), measured as a
    * 28 GB spill at sf1000sel. Respelled: the banded stream goes
    * through one window sort ((band, sig, doc_id) — a radix-sortable
    * UnsafeRow sort that never allocates per-group objects), rank +
    * bucket size come off the sorted run, SINGLETON BUCKETS — the
    * overwhelming majority — are dropped BEFORE any list exists, and
    * only then does collect_list build arrays, over the few million
    * multi-doc rows, reusing the window's (band, sig) partitioning
    * (no second exchange). Output, cap semantics (BucketCap smallest
    * doc_ids per bucket = rank-within-bucket ≤ cap, the oracle's
    * spelling) and the observe metrics are value-identical to the old
    * plan. */
  def d3Buckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = Window.partitionBy($"band", $"sig")
    banded(s, dir)
      .withColumn("__rn", row_number().over(bucket.orderBy($"doc_id")))
      .withColumn("__n", count(lit(1)).over(bucket))
      .filter($"__n" > 1)
      // invocation-unique suffix: two LSH plans meeting in one query
      // (e.g. d18 joined against d6 in a spec) must not collide on
      // DUPLICATED_METRICS_NAME. Per-bucket terms anchor on __rn = 1
      // so each bucket contributes once, exactly like the old
      // one-row-per-bucket observe.
      .observe(s"d3_bucket_cap_i${metricSeq.getAndIncrement()}",
        sum(when($"__rn" === 1 && $"__n" > BucketCap, $"__n" - lit(BucketCap))
          .otherwise(0)).as("dropped_doc_slots"),
        max($"__n").as("max_bucket_size"))
      .filter($"__rn" <= BucketCap)
      .groupBy($"band", $"sig")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .select($"ids")
  }

  /** Bucket-local (i < j) ordered-pair enumeration over a SORTED array
    * column: two Generates + a column-arg slice — the same pair set a
    * nested transform-lambda flatten produces, with every expression
    * codegen'd (r13 audit; the lambda form dispatched an interpreted
    * closure per emitted pair). posexplode's pos is 0-based and slice
    * is 1-based, so "everything after position i" starts at i + 2 —
    * that off-by-one lives HERE and nowhere else (d3's doc pairs and
    * d17's exploded source pairs both enumerate through this). */
  private[graft] def pairsFromSortedArray(df: DataFrame, arr: String,
      aName: String, bName: String): DataFrame =
    df.select(col(arr), posexplode(col(arr)).as(Seq("__i", aName)))
      .select(col(aName),
        explode(slice(col(arr), col("__i") + lit(2), size(col(arr)))).as(bName))

  /** The pair list's build plan; only [[lshPairsCached]] runs it. */
  private def lshPairsPlan(s: SparkSession, dir: String): DataFrame =
    pairsFromSortedArray(d3Buckets(s, dir), "ids", "doc_a", "doc_b")
      .distinct()
      .orderBy($"doc_a", $"doc_b")

  /** D-3 gate entry: the memoized pair list, so a cold session builds
    * it once whichever consumer asks first. */
  def d3LshPairs(s: SparkSession, dir: String): DataFrame = lshPairsCached(s, dir)

  /** Exact shingle overlap of each candidate pair — the verify half of
    * filter-then-verify: `pairs (doc_a, doc_b)` →
    * `(doc_a, doc_b, na, nb, n_inter)` with na = |A|, nb = |B| and
    * n_inter = |A∩B| over distinct word-3-gram sets. Every Jaccard and
    * containment score in the family is a ratio of these three counts.
    *
    * Only the docs named in `pairs` are shingled: their ids broadcast-
    * semi-join into `docs` before the Generate, so the corpus-wide
    * shingle stream never exists. Each doc's distinct shingles fold
    * into ONE array (the rows are already distinct per doc, so the list
    * is the set), the two sets join onto their pair row, and the
    * intersection is counted in the row by `array_intersect` — no
    * (pair, shingle) join and no per-pair regroup. A pair with a
    * shingle-less side (fewer than 3 tokens) has no set and drops out
    * on the inner join, as the oracles' inner join on `sizes` does.
    *
    * PRECONDITION (r12): the broadcast() hint bypasses
    * autoBroadcastJoinThreshold — pair docs ~ corpus (pathological
    * near-dup density) would build a corpus-sized broadcast rather than
    * degrade to a shuffle. A sparse candidate set is the operating
    * assumption of the whole LSH family; a deployment expecting the
    * dense regime must drop the hint. */
  private[graft] def pairOverlap(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val pairDocs = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id"))).distinct()
    val sets = graft.functions.Shingles.kgramRowsDistinct(
        docs.join(broadcast(pairDocs), Seq("doc_id"), "left_semi"), Seq("doc_id"), k = 3)
      .groupBy($"doc_id").agg(collect_list($"shingle").as("sh"))
    pairs
      .join(sets.select($"doc_id".as("doc_a"), $"sh".as("sa")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"sh".as("sb")), "doc_b")
      .select($"doc_a", $"doc_b",
        size($"sa").cast("long").as("na"), size($"sb").cast("long").as("nb"),
        size(array_intersect($"sa", $"sb")).cast("long").as("n_inter"))
  }

  /** |A∩B| / |A∪B| over a [[pairOverlap]] row. */
  private val jaccard = $"n_inter" / ($"na" + $"nb" - $"n_inter")

  /** The overlap of every LSH candidate pair, memoized like
    * [[lshPairsCached]]: d8 filters it and d14 joins its other two
    * signals onto it, so the verify work runs once per corpus version. */
  private def lshOverlap(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "overlap", docsInput(dir))(
      pairOverlap(Tables.documents(s, dir), lshPairsCached(s, dir)).persist())

  /** [[pairOverlap]] on the deterministic pair sample d4, d12 and d16
    * score: every 100th doc anchored to the next 3 ids. The sample
    * keeps the gate outputs non-empty at small SF, where no true
    * near-dups exist; at scale the pair source is [[d3LshPairs]]. Pairs
    * come from one in-row explode of the anchor ids — no join, so no
    * nested loop (the round-1 crossJoin + range filter planned as a
    * BroadcastNestedLoopJoin, O(N/100 × N)); an id past the corpus has
    * no shingle set and drops out like a shingle-less doc. */
  private def anchorOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = docs.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("doc_a"),
        explode(array((1 to 3).map(k => $"doc_id" + k): _*)).as("doc_b"))
    pairOverlap(docs, pairs)
  }

  /** D-4 — exact n-gram Jaccard on the anchor pair sample
    * ([[anchorOverlap]]): ∩ / (|A| + |B| − ∩). */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    anchorOverlap(s, dir)
      .select($"doc_a", $"doc_b", round(jaccard, 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")

  /** Containment threshold above which D-16 flags the smaller doc as
    * subsumed by the larger. */
  val ContainCap = 0.9

  /** D-16 — containment-based near-dup (asymmetric): for each candidate
    * pair, |A∩B|/|A| and |A∩B|/|B| over distinct 3-gram shingles.
    * Symmetric Jaccard (d4/d8) misses the quote-inflation case — a short
    * doc fully embedded in a much longer one scores low Jaccard
    * (∩/∪ is diluted by the big doc's size) but containment of the
    * small side is ~1. A doc whose shingles are ≥ [[ContainCap]]
    * contained in its pair partner is flagged `subsumed` — the
    * training-set policy is to drop the smaller of the two. Pair
    * source and plan shape are d4's ([[anchorOverlap]]); only the
    * scoring changes, so the extra cost over Jaccard is zero — both
    * divisions read the same (na, nb, n_inter) row. */
  def d16Containment(s: SparkSession, dir: String): DataFrame =
    anchorOverlap(s, dir)
      .select($"doc_a", $"doc_b",
        round($"n_inter" / $"na", 4).as("contain_a"),
        round($"n_inter" / $"nb", 4).as("contain_b"),
        (greatest($"n_inter" / $"na", $"n_inter" / $"nb") >= ContainCap).cast("int")
          .as("subsumed"))
      .orderBy($"doc_a", $"doc_b")

  /** D-5 core, width-parameterized — `bits`-wide SimHash (1..64) per
    * doc: bit j is voted ±1 by hex nibble (j mod 32) of md5 digest
    * group (j div 32) of each distinct token; fingerprint = Σ bit_j·2^j.
    * Digest group 0 is the UNSALTED md5 (bit-compatible with the 16-bit
    * oracle gate); groups g ≥ 1 are md5("g:" ‖ token), giving 32 fresh
    * nibbles per group up to 64 bits. Near-dup docs agree on most
    * nibble majorities → small Hamming distance. All integer/string
    * algebra — no UDF, fully portable to the DuckDB oracle. Bit 63's
    * weight is Long.MinValue: adding it to a sum of distinct lower
    * powers of two cannot carry, so the two's-complement pattern is
    * exact and ANSI-overflow-safe. */
  /** Packed SimHash words per doc — the shared core of
    * [[simhashFingerprint]] (≤ 64 bits, one BIGINT word) and
    * [[simhashFingerprint128]] (two words).
    *
    * SHUFFLE-FREE since round 13: a document's tokens live in its own
    * `text` cell, so the signature is row-local by construction — the
    * [[graft.functions.SimhashWords]] kernel tokenizes, dedups and
    * votes inside the projection and nothing exchanges until the
    * consumer's banding groupBy. The history matters for scale math:
    * the r12 spelling (explode → repartition(doc_id) →
    * dropDuplicates → groupBy votes) did the digest work doc-locally
    * but still shuffled the RAW TOKEN STREAM — fine to sf100 (~2 B
    * tokens), physically impossible at sf1000sel (~20 B tokens ≈
    * 150 GB of shuffle on a 94 GB box). Votes-per-token semantics and
    * every fingerprint bit are pinned against the old spelling in
    * CodegenKernelsSpec, and against DuckDB's independent md5 by the
    * d5/d11 oracle gates. Docs with NO tokens are dropped — the
    * boundary the old explode+filter produced. */
  private def simhashWordsTable(s: SparkSession, dir: String, bits: Int): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    // The digest work lives in the scan projection, so its
    // parallelism is the scan's EFFECTIVE split count — row-group-
    // bound, not planned-split-bound (Tables.widened; sf100's 16 GB
    // docs planned 32 splits but carried 5 row groups, so the md5
    // kernel ran 5-wide on 32 cores). A file big enough to pay for it
    // widens with one (doc_id, text) round-robin exchange — corpus
    // bytes, one pass, still ~token-stream-size/30 cheaper than what
    // the retired explode spelling shuffled.
    Tables.documentsWide(s, dir, Seq("doc_id", "text"))
      .select($"doc_id",
        call_function("simhash_words", $"text", lit(bits)).as("words"))
      .filter($"words".isNotNull)
  }

  def simhashFingerprint(s: SparkSession, dir: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"simhash width $bits outside [1,64]")
    simhashWordsTable(s, dir, bits)
      .select($"doc_id", $"words".getItem(0).as("simhash"))
    // NO trailing sort here: d11/d11b band-join this table next, and a
    // fingerprint-table orderBy survives Catalyst as a corpus-sized
    // range-exchange + sort on BOTH self-join sides (seen in PLANS.md
    // before r6) that the band shuffle immediately destroys. Ordered
    // consumers sort at their own boundary (d5's gate entry below).
  }

  /** 128-bit SimHash as TWO BIGINT words (sim0 = bits 0..63, sim1 =
    * bits 64..127) — same salted-md5 nibble votes, digest groups 0..3.
    * This is the CORPUS-SCALE width: banding capacity is the real
    * scale limit of simhash dedup (see [[d11cSimhashWideband]]), and
    * capacity grows only with band width, which at a fixed hamming
    * budget grows only with fingerprint width. */
  def simhashFingerprint128(s: SparkSession, dir: String): DataFrame =
    simhashWordsTable(s, dir, 128)
      .select($"doc_id",
        $"words".getItem(0).as("sim0"), $"words".getItem(1).as("sim1"))

  /** D-5 — the 16-bit gate configuration (brute-forceable oracle; the
    * orderBy matches the oracle's ORDER BY at the entry boundary). */
  def d5Simhash(s: SparkSession, dir: String): DataFrame =
    simhashFingerprint(s, dir, bits = 16).orderBy($"doc_id")

  /** D-8 — the near-dup verdict: exact Jaccard on the LSH candidate
    * pairs (the real pipeline stage between candidate generation and
    * clustering — D-4's sampled variant keeps the gate non-empty at
    * small SF): a projection of the memoized LSH pair overlap
    * ([[lshOverlap]]), which shingles candidate docs only. */
  def d8LshJaccard(s: SparkSession, dir: String): DataFrame =
    lshOverlap(s, dir)
      .select($"doc_a", $"doc_b", round(jaccard, 4).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")

  /** D-6 — duplicate clustering: connected components over the LSH
    * candidate graph, so each near-dup group keeps exactly one doc.
    * Iterative min-label propagation (the scalable CC pattern: each
    * round is one join + one groupBy; rounds ≈ graph diameter, and
    * near-dup components are tiny, so it converges in 2-3 rounds).
    * The driver loop only checks a scalar convergence count — the data
    * never leaves the cluster. Oracle: DuckDB recursive CTE. */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0) // uniquifies observe() names

  /** Unsorted (doc_id, cluster_id, is_kept) assignment — the d6 body,
    * shared with d18 so its join does not inherit a pointless range
    * exchange from d6's output sort. */
  /** Memo of the (doc_id, cluster_id, is_kept) assignment, keyed like
    * [[signatures]]. d6, d18 and d19 all start from this table; without
    * the memo each entry re-runs the whole label-propagation loop (the
    * two slowest bench entries re-doing d6's work, round-7 advice).
    * Production materializes the cluster map once per corpus snapshot;
    * this cache is the in-session analogue. The result is persisted and
    * FORCED before the loop's intermediates are unpersisted, so the
    * cached plan no longer depends on them. */
  private def clusterTable(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "clusters", docsInput(dir))(computeClusterTable(s, dir))

  private def computeClusterTable(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshPairsCached(s, dir)
    val sym = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .unionAll(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .cache()
    var labels = sym.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("label")).cache()
    var converged = false
    var rounds = 0
    val maxRounds = 48 // propagation rounds ~ component diameter
    while (!converged && rounds < maxRounds) {
      val viaNeighbors = labels.join(sym, $"doc_id" === $"src")
        .select($"dst".as("doc_id"), $"label")
      // One job per round, no comparison join: rows are tagged by
      // origin, so the SAME groupBy that takes the new min also
      // recovers each doc's previous label (labels holds exactly one
      // row per doc), and the changed-count rides the materialization
      // job as an observe metric instead of a second action.
      // invocation-unique metric name: two cluster builds may overlap
      // in one session (d18's spec joins d18 against d6) and must not
      // collide on DUPLICATED_METRICS_NAME.
      val obs = org.apache.spark.sql.Observation(
        s"d6_i${metricSeq.getAndIncrement()}_round_$rounds")
      val tagged = labels.select($"doc_id", $"label", lit(1).as("own"))
        .unionAll(viaNeighbors.select($"doc_id", $"label", lit(0).as("own")))
      // Eager localCheckpoint, NOT cache: `labels` appears twice in
      // this round's plan (own-label arm + neighbor join), so a cached
      // lineage DOUBLES the logical tree every round — O(2^rounds)
      // analysis/canonicalization cost even though caching bounds
      // execution (measured: the dumped d19 plan hit 240k lines at 3
      // converged rounds; a diameter-20 component would hit 2^20 nodes
      // long before the 48-round cap). The checkpoint truncates the
      // plan to a LogicalRDD per round, its eager job fires the
      // observe metric (no separate count), and each round's blocks
      // are freed by the ContextCleaner once the next round's
      // truncated plan no longer references them. Trade-off, recorded:
      // localCheckpoint is not fault-tolerant — losing an executor
      // mid-build fails the JOB (loudly, retryable), never the answer;
      // a long-lived production build would pass a reliable checkpoint
      // dir instead, same plan shape.
      val next = tagged.groupBy($"doc_id")
        .agg(min($"label").as("label"),
          min(when($"own" === 1, $"label")).as("old"))
        .observe(obs, sum(($"label" < $"old").cast("long")).as("changed"))
        .select($"doc_id", $"label").localCheckpoint()
      val changed = obs.get("changed").asInstanceOf[Long]
      labels.unpersist() // frees the round-0 seed cache; no-op on checkpointed rounds
      labels = next
      converged = changed == 0
      rounds += 1
    }
    // silent non-convergence would emit wrong cluster ids (and diverge
    // from the oracle's transitive closure) — fail loudly instead
    require(converged,
      s"label propagation did not converge in $maxRounds rounds; component diameter exceeds cap")
    // one line per cold cluster-map build: the round count is the CC
    // loop's scale signal (≈ log₂ of the largest component diameter),
    // and the memo means it prints once per corpus version, not per
    // consumer
    System.err.println(s"[graft] d6 cluster map converged in $rounds rounds")
    val docs = Tables.documents(s, dir).select($"doc_id")
    val assignment = docs
      .join(labels.withColumnRenamed("label", "cluster"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster", $"doc_id").as("cluster_id"),
        ($"doc_id" === coalesce($"cluster", $"doc_id")).cast("int").as("is_kept"))
      .persist()
    // Force the persisted assignment, then release the loop's
    // intermediates. The FINAL round's checkpoint blocks deliberately
    // stay referenced by the memoized plan: they are the recompute
    // path if the persisted assignment is ever evicted.
    assignment.count()
    sym.unpersist()
    assignment
  }

  def d6DupClusters(s: SparkSession, dir: String): DataFrame =
    clusterTable(s, dir).orderBy($"doc_id")

  /** D-19 — CLUSTER-aware train/val/test split: the remedy T-20's
    * leakage audit feeds. Documents are split by the md5 of their d6
    * CLUSTER id (singletons: their own id), so an entire near-dup
    * cluster lands in one split and no LSH candidate pair can straddle
    * the train/test boundary BY CONSTRUCTION — t20 finds leaks,
    * d19 makes them structurally impossible, at the cost of moving
    * whole clusters (split sizes wobble by cluster size, which the
    * per-split doc counts here let a pipeline monitor). Output per
    * split: size, id checksum, within-split candidate pairs, and the
    * straddling count the gate pins to ZERO. At 100 TB the extra cost
    * over t20 is one broadcast-scale join against the cluster map the
    * dedup pipeline already maintains. */
  def d19ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val splits = clusterTable(s, dir)
      .select($"doc_id", graft.text.TextOps.splitAssign(s, $"cluster_id").as("split"))
    val tagged = lshPairsCached(s, dir)
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
    val sizes = splits.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("id_checksum"))
    // Aggregate the pair stream to the (split_a, split_b) MATRIX first
    // (≤ |splits|² rows), then derive both audits from the matrix (r16
    // optimization, guide §2.3 "aggregate before you shuffle"): the
    // within/strays branches previously consumed the tagged pair
    // stream THREE times — three full pairs⋈splits⋈splits passes in
    // one plan. Counts are additive, so summing matrix cells is
    // row-identical to counting raw pairs; at 100 TB the pair stream
    // is Ω(near-dup pairs) and this is two fewer passes over it.
    val pairMatrix = tagged.groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"))
    val within = pairMatrix.filter($"split_a" === $"split_b")
      .groupBy($"split_a".as("split")).agg(sum($"n_pairs").as("n_pairs_within"))
    val strayCells = pairMatrix.filter($"split_a" =!= $"split_b")
    val strays = strayCells.select($"split_a".as("split"), $"n_pairs")
      .unionAll(strayCells.select($"split_b".as("split"), $"n_pairs"))
      .groupBy($"split").agg(sum($"n_pairs").as("n_pairs_straddling"))
    sizes.join(within, Seq("split"), "left").join(strays, Seq("split"), "left")
      .select($"split", $"n_docs", $"id_checksum",
        coalesce($"n_pairs_within", lit(0L)).as("n_pairs_within"),
        coalesce($"n_pairs_straddling", lit(0L)).as("n_pairs_straddling"))
      .orderBy($"split")
  }

  /** D-18 — canonical-copy selection: dedup (d1–d6) decides which
    * documents REPEAT; this decides which copy to KEEP. Within each
    * near-dup cluster (d6's transitive closure over LSH candidate
    * pairs) the longest member wins (ties to the lowest doc_id) — the
    * "most complete copy" rule a crawl pipeline applies when mirror
    * pages differ by truncation or chrome. Output is one row per
    * multi-member cluster: the canonical doc and the characters the
    * drop saves. Cost beyond d6 itself: one join to pick up n_chars and
    * one groupBy(cluster) — cluster sizes are bounded by the dedup
    * radius, so the per-cluster window never sees a skewed partition
    * at 100 TB. */
  def d18Canonical(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = clusterTable(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"n_chars"), "doc_id")
    val rk = row_number().over(
      Window.partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id"))
    sized.withColumn("rk", rk)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(when($"rk" === 1, $"doc_id")).as("canonical_id"),
        sum(when($"rk" === 1, $"n_chars")).as("canonical_chars"),
        sum(when($"rk" =!= 1, $"n_chars")).as("dropped_chars"))
      .filter($"n_members" >= 2)
      .orderBy($"cluster_id")
  }

  /** Shared SQL fragment: word-3-gram shingles (1-based DuckDB lists). */
  private val shingleSql =
    """SELECT DISTINCT doc_id, shingle FROM (
         SELECT doc_id, unnest([arr[i]||' '||arr[i+1]||' '||arr[i+2]
                                for i in range(1, greatest(len(arr)-1, 1))]) AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents))"""

  /** Shared CTE chain ending in `lsh_pairs(doc_a, doc_b)` (used by the
    * D-3 oracle and as the edge set of the D-6 clustering oracle). */
  /** DuckDB twin of [[anchorOverlap]]: CTE chain ending in
    * pairs(doc_a, na, doc_b, nb) and inter(doc_a, doc_b, n_inter) —
    * shared by the d4 and d16 oracles. */
  private def anchorPairCtes: String =
    s"""sh AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (
          SELECT a.doc_id AS doc_a, a.n AS na, b.doc_id AS doc_b, b.n AS nb
          FROM sizes a JOIN sizes b
            ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
          WHERE a.doc_id % 100 = 0),
        inter AS (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
          FROM sh x JOIN sh y ON x.shingle = y.shingle
            AND y.doc_id > x.doc_id AND y.doc_id <= x.doc_id + 3
          WHERE x.doc_id % 100 = 0
          GROUP BY 1, 2)"""

  /** Shared recursive CTE chain: LSH pairs → symmetric edges →
    * transitive reach → per-doc min-label component (`comp`). Callers
    * prepend WITH RECURSIVE. Twin of [[clusterTable]]. */
  private lazy val clusterCtes: String =
    s"""$lshPairsCtes,
        sym(a, b) AS (SELECT doc_a, doc_b FROM lsh_pairs
                      UNION SELECT doc_b, doc_a FROM lsh_pairs),
        reach(doc, label) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, r.label FROM reach r JOIN sym s ON s.b = r.doc),
        comp AS (SELECT doc, min(label) AS cluster FROM reach GROUP BY doc)"""

  private[graft] lazy val lshPairsCtes: String = {
    val rows = NumHashes / Bands
    val bandSelects = (0 until Bands).map { b =>
      val cat = (0 until rows).map(r => s"m${b * rows + r}").mkString("||")
      s"SELECT doc_id, $b AS band, md5($cat||'$b') AS sig FROM mh"
    }.mkString(" UNION ALL ")
    s"""mh AS ($minhashSql), bands AS ($bandSelects),
        bands_r AS (
          SELECT doc_id, band, sig,
                 row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
          FROM bands),
        lsh_pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands_r a JOIN bands_r b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
          WHERE a.rn <= $BucketCap AND b.rn <= $BucketCap)"""
  }

  private val minhashSql = {
    val mins = (0 until NumHashes).map { i =>
      s"min(substr(md5('${i / 4}:'||shingle), ${(i % 4) * 8 + 1}, 8)) AS m$i"
    }.mkString(", ")
    s"SELECT doc_id, $mins FROM ($shingleSql) GROUP BY doc_id"
  }

  /** D-9 — benchmark decontamination: flag corpus documents sharing any
    * token 5-gram with a held-out benchmark/eval set (here: every 50th
    * doc stands in for the eval suite). The production shape for a
    * 100 TB corpus: the benchmark shingle set is tiny (eval suites are
    * KBs–MBs) → distinct once, BROADCAST to the corpus-side shingle
    * stream, count matches per doc. No shuffle of the corpus beyond the
    * per-doc distinct; PlanSpec asserts the broadcast. */
  /** Session cache of the (tiny) contamination table — D-9's output is
    * consumed again by D-10's purge and the P-2/P-3 pipelines, and at
    * production scale a contamination list is materialized once per
    * corpus version, not recomputed per consumer. Keyed like
    * [[signatures]]. */
  def d9Decontaminate(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "d9", docsInput(dir)) {
      val docs = graft.io.Tables.documents(s, dir)
      def shingles(df: DataFrame) = graft.functions.Shingles
        .kgramRows(df, Seq("doc_id"), k = 3)
        .select($"doc_id", md5($"shingle").as("sh"))
      val bench = shingles(docs.filter($"doc_id" % 50 === 0))
        .select($"sh").distinct()
      val corpus = shingles(docs.filter($"doc_id" % 50 =!= 0))
        .select($"doc_id", $"sh").distinct()
      corpus.join(broadcast(bench), "sh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_overlap"))
        .orderBy($"doc_id")
        .persist()
    }

  /** D-11 core, width-parameterized — SimHash near-dup pairs
    * (hamming ≤ bands−1) via banding: pigeonhole guarantees ≤ bands−1
    * flipped bits leave at least one of the `bands` bands intact, so
    * an equi-join on (band, band_key) generates a COMPLETE candidate
    * set — the standard simhash dedup shape — and bit_count(xor)
    * verifies exactly. Band key extraction uses shiftrightunsigned +
    * mask so a set bit 63 (negative Long) bands correctly.
    *
    * Bucket population is ~N/2^(bits/bands) per (band, key): at 16-bit
    * (4-bit bands) that is N/16 per bucket → the banded self-join
    * degenerates toward O(N²/64) as N grows; at the production 64-bit
    * / 16-bit-band config it is ~N/65536 — the config that survives a
    * 100 TB corpus. The 16-bit config is kept ONLY because it makes
    * the DuckDB oracle brute-forceable at gate SF.
    *
    * PRECONDITION: `fp` must hold exactly ONE row per doc_id. The
    * multi-band collision dedup is a zero-shuffle first-shared-band
    * filter (below) rather than a candidate-sized `.distinct()`, and
    * that equivalence rests on doc_id uniqueness — duplicate
    * fingerprint rows would emit duplicate (doc_a, doc_b) pairs the
    * old distinct() collapsed. Both shipped callers feed
    * `simhashFingerprint`, which is one-row-per-doc by construction;
    * new callers aggregating their own fingerprints must dedup first
    * (a doc-count-sized shuffle, far cheaper than the candidate-sized
    * one this design removed). */
  def simhashNeardupPairs(fp: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"bands $bands must divide width $bits")
    val bw = bits / bands
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    // Band structs as a LITERAL array (bands is a plan-time constant),
    // not transform(sequence(...)): the lambda HOF form is
    // CodegenFallback on a corpus-sized projection — the same respell
    // the 128-bit variant below shipped with (round-13 codegen audit).
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned($"simhash", b * bw).bitwiseAND(mask).as("k"))
    }
    val banded = fp.select($"doc_id", $"simhash",
        explode(array(bandStructs: _*)).as("x"))
      .select($"doc_id", $"simhash", $"x.band".as("band"), $"x.k".as("k"))
    // A pair colliding in SEVERAL bands used to be deduped by a
    // `.distinct()` over the candidate set — a second candidate-sized
    // shuffle that went super-linear at the sf1→sf10 stress (candidates
    // grow ∝ n²/2^bw). x5's trick applies here too: both fingerprints
    // are in hand after the band join, so emit the pair only in the
    // FIRST band where its keys agree — a codegen'd filter, no shuffle.
    val firstSharedBand = coalesce((0 until bands).map { bb =>
      when(shiftrightunsigned($"ha", bb * bw).bitwiseAND(mask) ===
        shiftrightunsigned($"hb", bb * bw).bitwiseAND(mask), lit(bb))
    }: _*)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.k") === col("b.k") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"),
        col("a.band").as("band"))
      .filter($"band" === firstSharedBand)
      .select($"doc_a", $"doc_b",
        expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
      .filter($"hamming" <= bands - 1)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Two-word (128-bit) variant of [[simhashNeardupPairs]]: same
    * banding/first-shared-band/verify shape over (sim0, sim1). Bands
    * must not straddle words (bw divides 64), which holds for the
    * shipped 4 × 32 config. Same one-row-per-doc precondition. */
  def simhashNeardupPairs128(fp: DataFrame, bands: Int): DataFrame = {
    require(128 % bands == 0 && 64 % (128 / bands) == 0,
      s"bands $bands must divide 128 with band width dividing 64")
    val bw = 128 / bands
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    def key(simCol: String => org.apache.spark.sql.Column,
        b: Int): org.apache.spark.sql.Column = {
      val w = b * bw / 64
      shiftrightunsigned(simCol(s"sim$w"), (b * bw) % 64).bitwiseAND(mask)
    }
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), key(n => col(n), b).as("k"))
    }
    val banded = fp.select($"doc_id", $"sim0", $"sim1",
        explode(array(bandStructs: _*)).as("x"))
      .select($"doc_id", $"sim0", $"sim1",
        $"x.band".as("band"), $"x.k".as("k"))
    val firstSharedBand = coalesce((0 until bands).map { bb =>
      when(key(n => col(s"a$n"), bb) === key(n => col(s"b$n"), bb), lit(bb))
    }: _*)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.k") === col("b.k") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim0").as("asim0"), col("a.sim1").as("asim1"),
        col("b.sim0").as("bsim0"), col("b.sim1").as("bsim1"),
        col("a.band").as("band"))
      .filter($"band" === firstSharedBand)
      .select($"doc_a", $"doc_b",
        expr("CAST(bit_count(asim0 ^ bsim0) + bit_count(asim1 ^ bsim1) AS INT)")
          .as("hamming"))
      .filter($"hamming" <= bands - 1)
      .orderBy($"doc_a", $"doc_b")
  }

  /** D-11 — the 16-bit gate configuration (4 nibble bands, hamming ≤ 3).
    * Gate entry runs on a deterministic 1-in-5 sample (d4 precedent):
    * the tiny-vocab synthetic corpus makes ~59% of ALL pairs hamming-
    * close at 16 bits, so the unsampled output is O(N²) rows by data
    * degeneracy, not by plan shape. */
  def d11SimhashNeardup(s: SparkSession, dir: String): DataFrame =
    simhashNeardupPairs(
      simhashFingerprint(s, dir, bits = 16)
        .select($"doc_id", $"simhash").filter($"doc_id" % 5 === 0),
      bits = 16, bands = 4)

  /** D-11b — the PRODUCTION width: 64-bit fingerprint, 4 × 16-bit bands
    * (buckets ~N/65536), hamming ≤ 3. Same plan shape as the gate
    * config — only the constants change — and still oracle-checked:
    * DuckDB brute-forces the pair set over the same salted-md5
    * fingerprints. At 64 bits only true near-dups collide, so no
    * sampling is needed even though the gate config required it. */
  def d11bSimhashNeardup64(s: SparkSession, dir: String): DataFrame =
    simhashNeardupPairs(
      simhashFingerprint(s, dir, bits = 64).select($"doc_id", $"simhash"),
      bits = 64, bands = 4)

  /** D-11c — the CORPUS-SCALE banding: 128-bit fingerprint, 4 × 32-bit
    * bands, hamming ≤ 3 (pigeonhole-complete on the 128-bit hash).
    *
    * Why it exists: banding capacity, not compute, is the scale limit
    * of simhash dedup. The candidate set is (true pairs) + (random
    * band collisions ≈ n²·bands/2^bw/2), so every band width has a
    * corpus-size ceiling near n ≈ 2^bw. Measured on the clean r11
    * corpus: d11b's 16-bit bands saturate between n = 500 k (random
    * floor ~8 M candidates, 24.8 s) and n = 5 M (~760 M candidates,
    * 397 s — exp 1.2 and rising quadratically; at n = 50 M the floor
    * is ~76 G candidates and the config is unusable). At 32-bit bands
    * the floor at n = 5 M is ~12 k candidates — the config a 100 TB
    * corpus needs. The hamming budget stays ≤ bands−1 = 3, now out of
    * 128 bits — per-bit stricter than d11b, which is the correct
    * production trade: wider fingerprints both sharpen the similarity
    * estimate and buy band capacity. */
  def d11cSimhashWideband(s: SparkSession, dir: String): DataFrame =
    simhashNeardupPairs128(simhashFingerprint128(s, dir), bands = 4)

  /** D-10 — corpus purge: the removal stage that consumes D-1 and D-9.
    * Drops (a) exact-duplicate losers (keep min doc_id per content
    * hash — one window shuffle on the hash), (b) the held-out benchmark
    * docs themselves, (c) every D-9-contaminated doc (LEFT ANTI against
    * the flagged set — broadcast: the contaminated list is a small
    * fraction of the corpus by construction). Output is the per-source
    * survival audit a pipeline materializes before training. */
  /** The purge SURVIVOR set (D-10's doc-level core, reused by the p2
    * end-to-end training pipeline): exact-dup losers dropped (keep the
    * min doc_id per content hash), benchmark docs dropped, contaminated
    * docs anti-joined away. Lazy — composes into callers' plans. */
  def purgeSurvivors(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val contaminated = d9Decontaminate(s, dir).select($"doc_id")
    docs
      .withColumn("keep_id",
        min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"keep_id")
      .filter($"doc_id" % 50 =!= 0)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
  }

  def d10Purge(s: SparkSession, dir: String): DataFrame =
    purgeSurvivors(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"source")

  /** D-12 — MinHash estimator calibration: on the deterministic pair
    * sample (d4's anchors — every-100th doc vs the next 3), put the
    * signature-agreement estimate next to exact shingle Jaccard. The
    * output is ALL-INTEGER — (matching slots of 16, |∩|, |∪|) — so the
    * gate is bit-exact; the estimate n_match/16 and truth |∩|/|∪| are
    * ratios of these. E[n_match/16] = J, so estimator drift (bad hash
    * family, slicing bug) shows up as |16·n_inter − n_match·n_union|
    * mass. This is the dedup stack's index-quality gate, playing the
    * role s6's recall@k plays for the ANN index. Cost: the signature
    * table (cached) + the anchor pairs' overlap ([[anchorOverlap]]) —
    * never all-pairs. */
  def d12MinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(s, dir)
    def side(tag: String) = sigs.select(
      ($"doc_id".as(s"doc_$tag") +: (0 until NumHashes).map(i => col(s"m$i").as(s"$tag$i"))): _*)
    val nMatch = (0 until NumHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    anchorOverlap(s, dir)
      .join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select($"doc_a", $"doc_b", nMatch.as("n_match"), $"n_inter",
        ($"na" + $"nb" - $"n_inter").as("n_union"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** D-13 — INCREMENTAL dedup: the production path SCALING.md commits
    * to at 100 TB — new documents are checked against the persisted
    * signature index by joining their band signatures to the corpus's,
    * never recomputing (or all-pairs scanning) the corpus. Here the
    * "new batch" is doc_id % 10 == 9 and the remaining 90% plays the
    * indexed corpus; both sides project off the SAME cached signature
    * table, so the corpus text is not re-shingled. Output: each new
    * doc's candidate corpus matches with the band-collision count (the
    * d8 exact-Jaccard verify runs downstream on exactly these pairs).
    * One equi-join on (band, sig), proportional to the NEW batch; the
    * result is the per-new-doc admission verdict — zero-candidate docs
    * (the common case) stay in the output via the left join, so the
    * gate checks the whole batch, not just collisions. */
  def d13IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val all = banded(s, dir)
    val newB = all.filter($"doc_id" % 10 === 9)
      .select($"doc_id".as("new_doc"), $"band", $"sig")
    val corpusB = all.filter($"doc_id" % 10 =!= 9)
      .select($"doc_id".as("corpus_doc"), $"band", $"sig")
    val cand = newB.join(corpusB, Seq("band", "sig"))
      .groupBy($"new_doc")
      .agg(countDistinct($"corpus_doc").as("nd"), count(lit(1)).as("nc"))
    Tables.documents(s, dir).filter($"doc_id" % 10 === 9)
      .select($"doc_id".as("new_doc"))
      .join(cand, Seq("new_doc"), "left")
      .select($"new_doc",
        coalesce($"nd", lit(0L)).as("n_dup_candidates"),
        coalesce($"nc", lit(0L)).as("n_band_collisions"),
        ($"nd".isNotNull).cast("int").as("needs_verify"))
      .orderBy($"new_doc")
  }

  /** D-14 — multi-signal dedup VERDICT: every LSH candidate pair
    * scored by all three independent near-dup signals — exact n-gram
    * Jaccard (text overlap), SimHash hamming distance (token-profile
    * drift), embedding cosine (semantic similarity; LEFT join — not
    * every doc has a vector, a missing signal reads NULL and simply
    * does not vote). `n_signals` counts thresholds passed
    * (J ≥ 0.5, hamming ≤ 3, cos ≥ 0.95) — the ensemble decision a
    * production dedup makes before dropping a document, since any
    * single signal has failure modes (Jaccard misses paraphrase,
    * cosine misses verbatim-with-noise, simhash saturates on tiny
    * docs). The Jaccard counts come from the memoized LSH pair overlap
    * ([[lshOverlap]], candidate docs only); the simhash fingerprint is
    * a per-doc projection of the corpus scan and the embeddings are
    * read whole, each joined onto the candidate pairs — no all-pairs
    * work anywhere. */
  def d14DedupVerdict(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val sim = simhashFingerprint(s, dir, bits = 16)
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(call_function("dot_f64", $"v", $"v")))
    val ham = expr("cast(bit_count(sha ^ shb) AS int)")
    val cos = call_function("dot_f64", $"va", $"vb") / ($"nrma" * $"nrmb")
    lshOverlap(s, dir)
      .join(sim.select($"doc_id".as("doc_a"), $"simhash".as("sha")), "doc_a")
      .join(sim.select($"doc_id".as("doc_b"), $"simhash".as("shb")), "doc_b")
      .join(emb.select($"vec_id".as("doc_a"), $"v".as("va"), $"nrm".as("nrma")),
        Seq("doc_a"), "left")
      .join(emb.select($"vec_id".as("doc_b"), $"v".as("vb"), $"nrm".as("nrmb")),
        Seq("doc_b"), "left")
      .select($"doc_a", $"doc_b",
        round(jaccard, 4).as("jaccard"), ham.as("hamming"), round(cos, 4).as("cosine"),
        (when(jaccard >= 0.5, 1).otherwise(0) +
          when(ham <= 3, 1).otherwise(0) +
          when(cos >= 0.95, 1).otherwise(0)).as("n_signals"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** D-17 — cross-SOURCE overlap matrix: the corpus-provenance audit.
    * Dedup (d1–d16) asks "which documents repeat"; this asks "which
    * SOURCES feed us the same text" — mirror sites, re-crawls, and
    * licensed-set leakage show up as source pairs with high shingle
    * intersection long before per-doc dedup runs. Each source folds to
    * its DISTINCT word-3-gram set (corpus-sublinear — the same shingle
    * table the MinHash family builds, keyed by source instead of doc),
    * pair counts come from ONE equi-join on the shingle, and the
    * matrix is |sources|² at most — metadata-sized however big the
    * corpus. A shingle shared by k sources contributes C(k,2) pairs;
    * ubiquitous boilerplate shingles are exactly what t17 strips
    * upstream of this audit at scale. */
  def d17CrossSourceOverlap(s: SparkSession, dir: String): DataFrame =
    // widened by bytes: the shingle explode + map-side bit_or
    // partials fuse into the scan stage (bit math — order-safe)
    crossSourceOverlap(s, Tables.documentsWide(s, dir, Seq("source", "text")))

  /** d17 core over an arbitrary documents frame (doc_id, source,
    * text) — split out so the >63-source path is unit-gated on a
    * synthetic fixture (Dedup17WideSpec) while the gate entry rides
    * the driver testdata.
    *
    * Masks are MULTI-WORD since round 13: ⌈S/64⌉ BIGINT words
    * (mask0..maskW−1), each a per-word `bit_or` partial aggregate, so
    * the one-shuffle shape has no hard source cap (the r12 form
    * `require`d S ≤ 63 and would THROW on a real crawl's source
    * list). Word selection in the bit tests is a plan-time CASE chain
    * over W — codegen'd, no lambda.
    *
    * Cost model (why the legend crossJoin is the right plan at the
    * audit's regime, and what to do beyond it): the matrix pass does
    * |distinct shingles| × C(S,2) codegen'd bit tests. The entry's
    * OUTPUT is the S² matrix, so S is metadata-sized by semantics —
    * crawl feeds, mirrors, licensed sets: dozens to a few hundred.
    * There the broadcast pair legend (≤ ~50k rows at S=300) beats the
    * old distinct+self-join's second candidate-sized shuffle. Past
    * [[MatrixMaxSources]] the plan switches automatically: each mask
    * row DECODES to its set source indices (native `bitmask_indices`
    * kernel) and pairs enumerate bucket-locally — Σ C(k,2) work, the
    * self-join's output without its second corpus-sized shuffle,
    * since the mask table is already one row per distinct shingle. */
  /** Above this source count [[crossSourceOverlap]] switches from the
    * broadcast-legend matrix pass (|shingles| × C(S,2) codegen'd bit
    * tests) to the exploded set-index plan (Σ C(k,2) bucket-local
    * pair enumeration). MEASURED crossover, not derived
    * (a one-JVM A/B at sf10, 5 M docs, doc_id%S source synthesis,
    * digest-identical outputs): matrix/exploded seconds were
    * S=8: 19.9/20.4, S=16: 21.4/19.9, S=32: 22.0/19.2,
    * S=64: 23.8/19.9, S=150: 31.8/22.4 — the exploded plan is FLAT in
    * S (cost ≈ the shared bit_or aggregate + Σ C(k,2) output work)
    * while the matrix grows with C(S,2), so the matrix earns its keep
    * only at legend-tiny S where it keeps the plan
    * one-aggregate-simple. Both sides are equality-gated on the same
    * fixtures (Dedup17WideSpec). */
  val MatrixMaxSources = 16

  def crossSourceOverlap(s: SparkSession, docs: DataFrame): DataFrame =
    crossSourceOverlap(s, docs, MatrixMaxSources)

  /** `matrixMax` is exposed so a spec or an A/B can force either plan
    * at the SAME source count; every production caller goes through
    * the [[MatrixMaxSources]] default. */
  def crossSourceOverlap(s: SparkSession, docs: DataFrame,
      matrixMax: Int): DataFrame = {
    // Source-index legend. |sources| is metadata-sized by the entry's
    // own semantics (the OUTPUT is the |sources|² matrix), so a
    // bounded driver collect here follows the repo's audit-scalar
    // policy.
    val srcs = docs.select($"source").distinct().orderBy($"source")
      .collect().map(_.getString(0)).toSeq
    val W = math.max(1, (srcs.length + 63) / 64)
    val srcIdx = s.createDataFrame(srcs.zipWithIndex).toDF("source", "idx")
    // ONE corpus shuffle: per-shingle source bitmask words. bit_or is
    // idempotent over duplicate (source, shingle) instances, so the
    // old plan's up-front `.distinct()` — a full (source, shingle)
    // shuffle — is unnecessary, and the raw shingle stream map-side
    // combines into <= one row per shingle per partition. Every
    // downstream step is a broadcast of the source legend against the
    // mask table with codegen'd bit tests, partially aggregated
    // straight into the <= |sources|² result.
    val maskCols = (0 until W).map { w =>
      expr(s"""bit_or(CASE WHEN idx DIV 64 = $w
                 THEN shiftleft(CAST(1 AS BIGINT), idx % 64)
                 ELSE CAST(0 AS BIGINT) END)""").as(s"mask$w")
    }
    val masks = graft.functions.Shingles.kgramRows(docs, Seq("source"), k = 3)
      .join(broadcast(srcIdx), "source")
      .groupBy($"shingle")
      .agg(maskCols.head, maskCols.tail: _*)
    def bitTest(idxName: String): String = {
      val wordSel = (0 until W)
        .map(w => s"WHEN $idxName DIV 64 = $w THEN mask$w").mkString(" ")
      s"(shiftright(CASE $wordSel END, CAST($idxName % 64 AS INT)) & 1) = 1"
    }
    val (inter, counts) = if (srcs.length <= matrixMax) {
      val pairTab = srcIdx.select($"source".as("src_a"), $"idx".as("ia"))
        .crossJoin(srcIdx.select($"source".as("src_b"), $"idx".as("ib")))
        .filter($"src_a" < $"src_b")
      val i = masks.crossJoin(broadcast(pairTab))
        .filter(expr(s"${bitTest("ia")} AND ${bitTest("ib")}"))
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_inter"))
      // n_<src> = distinct shingles per source: each mask row IS one
      // distinct shingle; bit idx is set iff that source contained it.
      // Reads the same aggregated mask table (exchange reuse, x11).
      val c = masks.crossJoin(broadcast(srcIdx))
        .filter(expr(bitTest("idx")))
        .groupBy($"source").agg(count(lit(1)).as("n"))
      (i, c)
    } else {
      // Thousands-of-sources regime: the matrix pass's
      // |shingles| × C(S,2) bit tests stop being metadata-cheap, so
      // DECODE each mask row to its set source indices (native
      // bitmask_indices kernel — the HOF spelling is two
      // CodegenFallback lambdas on a shingle-sized projection) and
      // enumerate each shingle's C(k,2) member pairs bucket-locally,
      // the same two-Generate (i < j) expansion d3 uses. Work is
      // Σ C(k,2) over shingles — the self-join's output size without
      // its second corpus-sized shuffle (the mask table is already
      // one row per distinct shingle). Ubiquitous boilerplate
      // shingles (k → S) dominate Σ C(k,2) in either plan; t17
      // boilerplate stripping upstream is the mitigation, as the
      // scaladoc above records.
      graft.functions.NativeFunctions.register(s)
      val idxArr = masks.select(call_function("bitmask_indices",
        array((0 until W).map(w => col(s"mask$w")): _*)).as("idxs"))
      val i = pairsFromSortedArray(idxArr, "idxs", "ia", "ib")
        .groupBy($"ia", $"ib").agg(count(lit(1)).as("n_inter"))
        .join(broadcast(srcIdx.select($"source".as("src_a"), $"idx".as("ia"))), "ia")
        .join(broadcast(srcIdx.select($"source".as("src_b"), $"idx".as("ib"))), "ib")
        .select($"src_a", $"src_b", $"n_inter")
      val c = idxArr.select(explode($"idxs").as("idx"))
        .groupBy($"idx").agg(count(lit(1)).as("n"))
        .join(broadcast(srcIdx), "idx").select($"source", $"n")
      (i, c)
    }
    inter
      .join(broadcast(counts.select($"source".as("src_a"), $"n".as("n_a"))), "src_a")
      .join(broadcast(counts.select($"source".as("src_b"), $"n".as("n_b"))), "src_b")
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_inter")
      .orderBy($"src_a", $"src_b")
  }

  val oracles: Map[String, String] = Map(
    "d17_source_overlap" ->
      """WITH sh AS (
           SELECT DISTINCT source, shingle FROM (
             SELECT source, unnest([arr[i]||' '||arr[i+1]||' '||arr[i+2]
                                    for i in range(1, greatest(len(arr)-1, 1))]) AS shingle
             FROM (SELECT source, string_split(text, ' ') AS arr FROM documents))),
         c AS (SELECT source, count(*) AS n FROM sh GROUP BY 1)
         SELECT a.source AS src_a, b.source AS src_b, ca.n AS n_a, cb.n AS n_b,
                count(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
         JOIN c ca ON ca.source = a.source
         JOIN c cb ON cb.source = b.source
         GROUP BY 1, 2, 3, 4
         ORDER BY src_a, src_b""",
    "d14_dedup_verdict" -> {
      def dotSql(x: String, y: String) =
        s"list_sum([$x[i] * $y[i] for i in range(1, len($x) + 1)])"
      s"""WITH $lshPairsCtes,
          sh AS ($shingleSql),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT p.doc_a AS doc_a, p.doc_b AS doc_b, count(*) AS n_inter
            FROM lsh_pairs p
            JOIN sh a ON a.doc_id = p.doc_a
            JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2),
          sim AS ($simhashSql),
          emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          j AS (
            SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
                   coalesce(i.n_inter, 0) /
                     CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS DOUBLE) AS jac,
                   bit_count(xor(ha.simhash, hb.simhash)) AS ham,
                   CASE WHEN ea.v IS NULL OR eb.v IS NULL THEN NULL
                        ELSE ${dotSql("ea.v", "eb.v")} /
                             (sqrt(${dotSql("ea.v", "ea.v")}) * sqrt(${dotSql("eb.v", "eb.v")}))
                   END AS cos
            FROM lsh_pairs p
            JOIN sizes sa ON sa.doc_id = p.doc_a
            JOIN sizes sb ON sb.doc_id = p.doc_b
            LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
            JOIN sim ha ON ha.doc_id = p.doc_a
            JOIN sim hb ON hb.doc_id = p.doc_b
            LEFT JOIN emb ea ON ea.vec_id = p.doc_a
            LEFT JOIN emb eb ON eb.vec_id = p.doc_b)
          SELECT doc_a, doc_b, round(jac, 4) AS jaccard,
                 CAST(ham AS INT) AS hamming, round(cos, 4) AS cosine,
                 CAST(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END
                    + CASE WHEN ham <= 3 THEN 1 ELSE 0 END
                    + CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END AS INT) AS n_signals
          FROM j ORDER BY doc_a, doc_b"""
    },
    "d13_incremental_dedup" ->
      s"""WITH $lshPairsCtes,
          cand AS (
            SELECT n.doc_id AS new_doc,
                   count(DISTINCT c.doc_id) AS nd, count(*) AS nc
            FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
            WHERE n.doc_id % 10 = 9 AND c.doc_id % 10 <> 9
            GROUP BY 1)
          SELECT d.doc_id AS new_doc,
                 CAST(coalesce(cand.nd, 0) AS BIGINT) AS n_dup_candidates,
                 CAST(coalesce(cand.nc, 0) AS BIGINT) AS n_band_collisions,
                 CAST(cand.nd IS NOT NULL AS INT) AS needs_verify
          FROM documents d LEFT JOIN cand ON d.doc_id = cand.new_doc
          WHERE d.doc_id % 10 = 9 ORDER BY new_doc""",
    "d12_minhash_calibration" -> {
      val matches = (0 until NumHashes)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH mh AS ($minhashSql), sh AS ($shingleSql),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          pairs AS (
            SELECT x.doc_id AS doc_a, x.n AS na, y.doc_id AS doc_b, y.n AS nb
            FROM sizes x JOIN sizes y
              ON y.doc_id > x.doc_id AND y.doc_id <= x.doc_id + 3
            WHERE x.doc_id % 100 = 0),
          inter AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter0
            FROM sh x JOIN sh y ON x.shingle = y.shingle
              AND y.doc_id > x.doc_id AND y.doc_id <= x.doc_id + 3
            WHERE x.doc_id % 100 = 0
            GROUP BY 1, 2)
          SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
                 CAST($matches AS INT) AS n_match,
                 CAST(coalesce(i.n_inter0, 0) AS BIGINT) AS n_inter,
                 CAST(p.na + p.nb - coalesce(i.n_inter0, 0) AS BIGINT) AS n_union
          FROM pairs p
          JOIN mh a ON a.doc_id = p.doc_a
          JOIN mh b ON b.doc_id = p.doc_b
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          ORDER BY doc_a, doc_b"""
    },
    "d10_purge" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         sh AS (
           SELECT doc_id, unnest(
             CASE WHEN len(a) >= 3
               THEN [md5(a[i]||' '||a[i+1]||' '||a[i+2])
                     for i in range(1, len(a) - 1)]
               ELSE [] END) AS sh
           FROM toks),
         b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
         contam AS (SELECT DISTINCT s.doc_id AS doc_id FROM sh s JOIN b ON s.sh = b.sh
                    WHERE s.doc_id % 50 <> 0),
         keep AS (SELECT doc_id, source, n_chars,
                         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                  FROM documents),
         surv AS (SELECT * FROM keep
                  WHERE doc_id = keep_id AND doc_id % 50 <> 0
                    AND doc_id NOT IN (SELECT doc_id FROM contam))
         SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM surv GROUP BY 1 ORDER BY source""",
    "d9_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         sh AS (
           SELECT doc_id, unnest(
             CASE WHEN len(a) >= 3
               THEN [md5(a[i]||' '||a[i+1]||' '||a[i+2])
                     for i in range(1, len(a) - 1)]
               ELSE [] END) AS sh
           FROM toks),
         b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
         c AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 50 <> 0)
         SELECT c.doc_id AS doc_id, count(*) AS n_overlap
         FROM c JOIN b ON c.sh = b.sh
         GROUP BY 1 ORDER BY doc_id""",
    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "d20_url_dedup" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://'
                  || (CASE WHEN doc_id % 3 = 0 THEN 'www.'
                           WHEN doc_id % 3 = 1 THEN '' ELSE 'm.' END)
                  || 'site' || CAST((doc_id % 211) % 5 AS VARCHAR) || '.example.com'
                  || '/doc/' || CAST(doc_id % 211 AS VARCHAR)
                  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                  || (CASE WHEN doc_id % 4 = 0
                             THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                           WHEN doc_id % 4 = 1
                             THEN '#sec-' || CAST(doc_id AS VARCHAR)
                           ELSE '' END) AS url
           FROM documents),
         canon AS (
           SELECT doc_id,
                  regexp_replace(regexp_extract(url, '^https://([^/?#]+)', 1),
                                 '^(www|m)\.', '')
                  || regexp_replace(regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1),
                                    '/$', '') AS canon_url
           FROM u)
         SELECT canon_url, min(doc_id) AS keep_id, count(*) AS n_dups,
                CAST(bit_xor(doc_id) AS BIGINT) AS id_checksum
         FROM canon GROUP BY 1 ORDER BY canon_url""",
    "d2_minhash_sig" -> {
      val cat = (0 until NumHashes).map(i => s"m$i").mkString("||")
      s"SELECT doc_id, md5($cat) AS sig FROM ($minhashSql) ORDER BY doc_id"
    },
    "d3_lsh_pairs" ->
      s"""WITH $lshPairsCtes
          SELECT doc_a, doc_b FROM lsh_pairs ORDER BY doc_a, doc_b""",
    "d6_dup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
          SELECT d.doc_id AS doc_id,
                 coalesce(c.cluster, d.doc_id) AS cluster_id,
                 CAST(d.doc_id = coalesce(c.cluster, d.doc_id) AS INT) AS is_kept
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc
          ORDER BY doc_id""",
    "d19_cluster_split" ->
      s"""WITH RECURSIVE $clusterCtes,
          cl AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster_id
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc),
          sp AS (SELECT doc_id,
                        ${graft.text.TextOps.splitCaseSql("cluster_id")} AS split
                 FROM cl),
          w AS (SELECT a.split AS sa, b.split AS sb
                FROM lsh_pairs p
                JOIN sp a ON p.doc_a = a.doc_id
                JOIN sp b ON p.doc_b = b.doc_id),
          sizes AS (SELECT split, count(*) AS n_docs,
                           CAST(bit_xor(doc_id) AS BIGINT) AS id_checksum
                    FROM sp GROUP BY 1),
          wi AS (SELECT sa AS split, count(*) AS n_pairs_within
                 FROM w WHERE sa = sb GROUP BY 1),
          st AS (SELECT split, count(*) AS n_straddling FROM (
                   SELECT sa AS split FROM w WHERE sa <> sb
                   UNION ALL SELECT sb FROM w WHERE sa <> sb)
                 GROUP BY 1)
          SELECT s.split AS split, s.n_docs AS n_docs,
                 s.id_checksum AS id_checksum,
                 CAST(coalesce(wi.n_pairs_within, 0) AS BIGINT) AS n_pairs_within,
                 CAST(coalesce(st.n_straddling, 0) AS BIGINT) AS n_pairs_straddling
          FROM sizes s
          LEFT JOIN wi ON s.split = wi.split
          LEFT JOIN st ON s.split = st.split
          ORDER BY split""",
    "d18_canonical" ->
      s"""WITH RECURSIVE $clusterCtes,
          mem AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster_id,
                         d.n_chars
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc),
          rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id) AS rk FROM mem)
          SELECT cluster_id,
                 CAST(count(*) AS BIGINT) AS n_members,
                 CAST(sum(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS canonical_id,
                 CAST(sum(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS canonical_chars,
                 CAST(sum(CASE WHEN rk <> 1 THEN n_chars END) AS BIGINT) AS dropped_chars
          FROM rk GROUP BY cluster_id HAVING count(*) >= 2
          ORDER BY cluster_id""",
    "d4_ngram_jaccard" ->
      s"""WITH $anchorPairCtes
          SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
                 round(coalesce(i.n_inter, 0) / (p.na + p.nb - coalesce(i.n_inter, 0)), 4) AS jaccard
          FROM pairs p LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
          ORDER BY p.doc_a, p.doc_b""",
    "d16_containment" ->
      s"""WITH $anchorPairCtes
          SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
                 round(coalesce(i.n_inter, 0) / p.na, 4) AS contain_a,
                 round(coalesce(i.n_inter, 0) / p.nb, 4) AS contain_b,
                 CAST(greatest(coalesce(i.n_inter, 0) / p.na,
                               coalesce(i.n_inter, 0) / p.nb) >= $ContainCap AS INT)
                   AS subsumed
          FROM pairs p LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
          ORDER BY p.doc_a, p.doc_b""",
    "d8_lsh_jaccard" ->
      s"""WITH $lshPairsCtes,
          sh AS ($shingleSql),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT p.doc_a AS doc_a, p.doc_b AS doc_b, count(*) AS n_inter
            FROM lsh_pairs p
            JOIN sh a ON a.doc_id = p.doc_a
            JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2)
          SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
                 round(coalesce(i.n_inter, 0) /
                   (sa.n + sb.n - coalesce(i.n_inter, 0)), 4) AS jaccard
          FROM lsh_pairs p
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          WHERE round(coalesce(i.n_inter, 0) /
                (sa.n + sb.n - coalesce(i.n_inter, 0)), 4) >= 0.5
          ORDER BY doc_a, doc_b""",
    "d5_simhash" -> simhashSql,
    // d11: oracle may brute-force the O(n²) hamming comparison — it only
    // runs at gate SF; the Spark side must arrive at the SAME pair set
    // through banded candidates (pigeonhole: ≤3 flipped bits over 4
    // nibbles leaves ≥1 nibble intact, so candidate gen is complete).
    "d11_simhash_neardup" ->
      s"""WITH h0 AS ($simhashSql),
          h AS (SELECT * FROM h0 WHERE doc_id % 5 = 0)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM h a JOIN h b ON b.doc_id > a.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY doc_a, doc_b""",
    // d11b: production 64-bit width; oracle brute-forces the O(n²)
    // hamming comparison over the SAME salted-md5 fingerprints (runs
    // only at gate SF). xor/bit_count on BIGINT are two's-complement
    // bitwise in both engines, so a set bit 63 compares identically.
    "d11b_simhash_neardup64" ->
      s"""WITH h AS (${simhashSqlW(64)})
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM h a JOIN h b ON b.doc_id > a.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY doc_a, doc_b""",
    // d11c: corpus-scale 128-bit config — oracle brute-forces hamming
    // over the same two-word fingerprints (gate SF only).
    "d11c_simhash_wideband" ->
      s"""WITH h AS ($simhashSql2x64)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.sim0, b.sim0)) +
                      bit_count(xor(a.sim1, b.sim1)) AS INT) AS hamming
          FROM h a JOIN h b ON b.doc_id > a.doc_id
          WHERE bit_count(xor(a.sim0, b.sim0)) +
                bit_count(xor(a.sim1, b.sim1)) <= 3
          ORDER BY doc_a, doc_b""",
  )

  /** Oracle twin of [[simhashFingerprint]] at width `bits` — the same
    * salted-md5 nibble votes in DuckDB SQL. Bit 63's weight renders as
    * the negative Long.MinValue literal; it is added LAST (j ascending)
    * so every intermediate sum stays in BIGINT range. */
  private def simhashSqlW(bits: Int): String = {
    val groups = (bits + 31) / 32
    val hs = (0 until groups).map { g =>
      val e = if (g == 0) "md5(tok)" else s"md5('$g:' || tok)"
      s"$e AS h$g"
    }.mkString(", ")
    val votes = (0 until bits).map { j =>
      s"sum(CASE WHEN strpos('0123456789abcdef', substr(h${j / 32}, ${j % 32 + 1}, 1)) - 1 >= 8 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(", ")
    val bitsSum = (0 until bits).map(j => s"CASE WHEN v$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
          SELECT DISTINCT doc_id, $hs FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE tok <> ''),
        v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id)
        SELECT doc_id, CAST($bitsSum AS BIGINT) AS simhash FROM v ORDER BY doc_id"""
  }

  private lazy val simhashSql: String = simhashSqlW(16)

  /** Oracle twin of [[simhashFingerprint128]]: the simhashSqlW vote
    * CTEs at 128 bits, assembled into two BIGINT words. */
  private lazy val simhashSql2x64: String = {
    val groups = 4
    val hs = (0 until groups).map { g =>
      val e = if (g == 0) "md5(tok)" else s"md5('$g:' || tok)"
      s"$e AS h$g"
    }.mkString(", ")
    val votes = (0 until 128).map { j =>
      s"sum(CASE WHEN strpos('0123456789abcdef', substr(h${j / 32}, ${j % 32 + 1}, 1)) - 1 >= 8 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(", ")
    def word(w: Int) = (64 * w until 64 * w + 64)
      .map(j => s"CASE WHEN v$j >= 0 THEN ${1L << (j - 64 * w)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
          SELECT DISTINCT doc_id, $hs FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE tok <> ''),
        v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id)
        SELECT doc_id, CAST(${word(0)} AS BIGINT) AS sim0,
               CAST(${word(1)} AS BIGINT) AS sim1 FROM v ORDER BY doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> d1Exact _,
    "d20_url_dedup" -> d20UrlDedup _,
    "d2_minhash_sig" -> d2MinhashSig _,
    "d3_lsh_pairs" -> d3LshPairs _,
    "d4_ngram_jaccard" -> d4NgramJaccard _,
    "d16_containment" -> d16Containment _,
    "d17_source_overlap" -> d17CrossSourceOverlap _,
    "d5_simhash" -> d5Simhash _,
    "d6_dup_clusters" -> d6DupClusters _,
    "d19_cluster_split" -> d19ClusterSplit _,
    "d18_canonical" -> d18Canonical _,
    "d8_lsh_jaccard" -> d8LshJaccard _,
    "d9_decontaminate" -> d9Decontaminate _,
    "d10_purge" -> d10Purge _,
    "d11_simhash_neardup" -> d11SimhashNeardup _,
    "d11b_simhash_neardup64" -> d11bSimhashNeardup64 _,
    "d11c_simhash_wideband" -> d11cSimhashWideband _,
    "d12_minhash_calibration" -> d12MinhashCalibration _,
    "d13_incremental_dedup" -> d13IncrementalDedup _,
    "d14_dedup_verdict" -> d14DedupVerdict _,
  )
}
