package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.functions.Md5Prefix
import graft.io.Tables

/** Text-analysis operators for training-data pipelines, over `documents`.
  *
  * All per-document metrics are single-pass projections (no shuffle at
  * all — a 100 TB corpus maps partition-by-partition); only the
  * aggregated views group. Everything is Column algebra / built-in
  * regex — no UDFs, so whole-stage codegen applies.
  */
object TextOps {

  /** Per-language token profiles for the n-gram/stopword language-ID
    * heuristic. Tiny fixed lists — inlined as literals in both engines. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data", "query", "table", "row"),
    "es" -> Seq("the", "order", "part", "filter", "value"),
    "de" -> Seq("stream", "batch", "spark", "window", "hash"),
    "fr" -> Seq("join", "merge", "sort", "agg", "column"),
    "zh" -> Seq("fast", "slow", "big", "small", "key"),
  )

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Head ranks used for the T-16 Zipf fit (and the 10-rank head-mass
    * numerator within it). */
  val ZipfHead = 100

  /** T-17 shingle width and the distinct-doc threshold past which a
    * shingle counts as boilerplate. */
  val BoilerShingle = 5
  val BoilerMinDocs = 5

  /** THE tokenization rule (split on single space, drop empties) over
    * an arbitrary frame carrying `text` — one definition shared by the
    * whole t-family and the streaming gate; `keep` selects the columns
    * carried alongside each token. */
  private def tokensOf(docs: DataFrame, keep: Column*): DataFrame =
    docs.select(keep :+ explode(split($"text", " ")).as("tok"): _*)
      .filter($"tok" =!= "")

  private def tokens(s: SparkSession, dir: String): DataFrame =
    tokensOf(Tables.documents(s, dir), $"doc_id", $"lang")

  /** T-1 — language ID: score each doc's tokens against the per-language
    * profiles; prediction = argmax with a fixed tie-break order (profile
    * declaration order). Emits prediction + whether it matches the
    * labelled lang. */
  def t1LangId(s: SparkSession, dir: String): DataFrame = {
    val scores = LangProfiles.map { case (lang, words) =>
      sum(when($"tok".isin(words: _*), 1).otherwise(0)).as(s"s_$lang")
    }
    val scored = tokens(s, dir).groupBy($"doc_id", $"lang")
      .agg(scores.head, scores.tail: _*)
    // argmax with declaration-order tie-break: first profile with score == max
    val maxScore = greatest(LangProfiles.map { case (l, _) => col(s"s_$l") }: _*)
    // argmax with declaration-order tie-break (first profile hitting the max)
    val predFirst = LangProfiles.reverse.foldLeft(lit("und"): Column) { case (acc, (l, _)) =>
      when(col(s"s_$l") === maxScore, lit(l)).otherwise(acc)
    }
    scored.select($"doc_id", $"lang", predFirst.as("pred_lang"),
        maxScore.as("best_score"))
      .withColumn("is_match", ($"pred_lang" === $"lang").cast("int"))
      .orderBy($"doc_id")
  }

  /** T-2 — quality scoring: length / punctuation / stopword ratios
    * combined into one bounded score. */
  def t2Quality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val nChars = length($"text")
    val nTokens = size(split($"text", "\\s+")) -
      when(trim($"text") === "", 1).otherwise(0)
    val alphaChars = length(regexp_replace($"text", "[^a-z]", ""))
    // Token-exact stopword count as ONE codegen'd regex scan: the HOF
    // spelling size(filter(split(...), isin)) is CodegenFallback and
    // drops this projection out of whole-stage codegen. Lookarounds pin
    // token boundaries (space-delimited, same tokens as split(text,' '));
    // the lookAHEAD also forces longest-alternative semantics ("an" is
    // not counted as "a" + trailing garbage).
    val stopPattern = Stopwords.mkString("(?<![^ ])(?:", "|", ")(?![^ ])")
    val stopHits = size(regexp_extract_all($"text", lit(stopPattern), lit(0)))
    d.select($"doc_id", nChars.as("n_chars"), nTokens.as("n_tokens"),
        round(alphaChars / greatest(nChars, lit(1)).cast("double"), 4).as("alpha_ratio"),
        round(stopHits / greatest(nTokens, lit(1)).cast("double"), 4).as("stopword_ratio"))
      .withColumn("quality",
        round(least(lit(1.0),
          ($"n_tokens" / 100.0) * 0.4 + $"alpha_ratio" * 0.4 + $"stopword_ratio" * 0.2), 4))
      .orderBy($"doc_id")
  }

  /** T-3 — token counting: whitespace tokens + a BPE-ish subword
    * estimate (chars/4, the classic bytes-per-token heuristic). */
  def t3TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
        $"doc_id",
        (size(split($"text", "\\s+")) - when(trim($"text") === "", 1).otherwise(0)).as("n_ws_tokens"),
        size(split($"text", "[^a-z0-9]+")).as("n_word_tokens_raw"),
        ceil(length($"text") / 4.0).cast("bigint").as("n_bpe_est"))
      .orderBy($"doc_id")

  /** T-4 — document fingerprinting: md5 of the whitespace-normalized
    * text (order-sensitive) + the minimum shingle hash (order-robust,
    * rolling-window flavored). */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame = {
    // The normalized token array is computed ONCE per row in its own
    // codegen'd projection. The pre-round-13 spelling re-derived
    // split(lower(trim(regexp_replace(...)))) inside the lambda body —
    // and interpreted lambda eval does no subexpression elimination, so
    // every shingle re-normalized the whole document: O(tokens²) per
    // doc. Shingle windows come from the arrays_zip slice trick
    // (functions/Shingles.scala); the remaining per-element transform
    // does exactly one concat + md5, which the digest dominates —
    // allowlisted in PlanSpec's codegen audit with the measured
    // verdict (SCALING.md §round-13). Keeping the min in-array keeps
    // t4 a pure narrow map: no shuffle at any corpus size.
    // Widened by bytes (Tables.documentsWide): the md5-per-window
    // work fuses into the scan stage, whose width is row-group-bound;
    // per-row digests under the total-order final sort are
    // order-independent, so the round-robin exchange moves no bits.
    val d = Tables.documentsWide(s, dir, Seq("doc_id", "text"))
      .withColumn("__norm", lower(trim(regexp_replace($"text", "\\s+", " "))))
      .withColumn("__arr", split($"__norm", " "))
    val n = size($"__arr")
    val slices = (0 until 3).map(i =>
      slice($"__arr", lit(i + 1), n - 2).as(s"w$i"))
    val shingleMin = array_min(
      when(n >= 3, expr(
        "transform(__zip, g -> md5(concat(g.w0, ' ', g.w1, ' ', g.w2)))"))
        .otherwise(array(md5($"__norm"))))
    // __zip is guarded by the SAME n >= 3 predicate as its consumer:
    // slice's length operand (n - 2) is negative on 0/1-token docs and
    // slice THROWS on negative length. Unguarded, the projection only
    // survived because CollapseProject inlined the single-use alias
    // into the lazy CaseWhen branch above — an optimizer artifact, not
    // a structural guarantee (excluding an optimizer rule through
    // spark.sql.optimizer.excludedRules undoes it). Shingles.kgram
    // uses the same pattern.
    d.withColumn("__zip", when(n >= 3, arrays_zip(slices: _*)))
      .select($"doc_id", md5($"__norm").as("fingerprint"),
        shingleMin.as("min_shingle_fp"))
      .orderBy($"doc_id")
  }

  /** Deterministic split assignment (T-7 core): bucket 0..255 from the
    * first two hex digits of a seeded md5 over the key — the portable
    * hash family — so the same document lands in the same split on any
    * engine, any cluster size, any run. Narrow map; no shuffle. */
  def splitAssign(s: SparkSession, docId: Column): Column = {
    val bucket = hashBucket(s, "split:", docId)
    when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test")
  }

  /** T-7 — train/val/test split for a training corpus (~90/5/5):
    * per-split document counts + char volume. The per-doc assignment is
    * [[splitAssign]]; this entry is the auditable summary (the shape a
    * pipeline materializes to verify split balance before training). */
  def t7TrainSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select($"doc_id", $"n_chars", splitAssign(s, $"doc_id").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"split")

  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhonePat = "\\+[0-9][0-9\\- ]{6,}[0-9]"

  /** T-8 — PII scrubbing: regex redaction of emails and phone-like
    * spans, with per-doc redaction counts and a digest of the scrubbed
    * text. The synthetic corpus contains no PII, so a deterministic
    * doc_id-derived contact line is appended BEFORE scrubbing (both
    * engines inject identically) — the gate then proves the redaction
    * actually fires, not just that the plumbing runs. Pure projection;
    * the regexes are RE2-and-Java-compatible (no backrefs/lookaround). */
  def t8PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = concat($"text", lit(" contact: user"), $"doc_id",
      lit("@example.com or +62 811-"), $"doc_id")
    val scrubbed = regexp_replace(
      regexp_replace(injected, EmailPat, "<EMAIL>"), PhonePat, "<PHONE>")
    Tables.documents(s, dir).select(
        $"doc_id",
        regexp_count(injected, lit(EmailPat)).cast("int").as("n_email"),
        regexp_count(injected, lit(PhonePat)).cast("int").as("n_phone"),
        md5(scrubbed).as("scrub_md5"))
      .orderBy($"doc_id")
  }

  /** T-9 — intra-document repetition scoring (Gopher/C4-style quality
    * rule): type-token ratio + top-token fraction. Two chained
    * aggregations, both with map-side partial agg — no row explosion
    * leaves the executor. */
  def t9Repetition(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir)
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max($"c").as("top_c"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        round($"n_distinct" / $"n_tokens".cast("double"), 4).as("ttr"),
        round($"top_c" / $"n_tokens".cast("double"), 4).as("top_tok_frac"))
      .orderBy($"doc_id")

  /** Token budget per packed training sequence (T-10). */
  val SeqBudget = 2048L

  /** T-10 — training sequence packing: assign documents to fixed
    * token-budget sequences by contiguous cumulative-sum binning within
    * each source shard (seq = floor(running_tokens / budget)). The
    * partition-parallel formulation of packing: greedy first-fit is
    * inherently sequential, but contiguous binning needs only one
    * window cumsum per shard — deterministic, scalable (shards pack
    * independently), and within one doc of first-fit's utilization when
    * docs ≪ budget. Output is the per-doc placement (seq id + token
    * offset) a dataloader consumes. */
  def t10SeqPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir).select($"doc_id", $"source",
      ceil(length($"text") / 4.0).cast("bigint").as("n_tok")) // T-3's BPE estimate
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    toks
      .withColumn("cum", sum($"n_tok").over(w))
      .select($"doc_id", $"source", $"n_tok",
        floor(($"cum" - $"n_tok") / SeqBudget).cast("bigint").as("seq_id"),
        (($"cum" - $"n_tok") % SeqBudget).as("tok_offset"))
      .orderBy($"doc_id")
  }

  private def profileSumSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("CAST(sum(CASE WHEN tok IN (", ",", ") THEN 1 ELSE 0 END) AS BIGINT)")

  /** T-11 — stratified (per-source) downsampling: each source keeps a
    * hash-derived fraction of its documents — the mixture-rebalancing
    * op every training pipeline runs before packing. Both the per-doc
    * uniform draw and the per-source rate come from the portable
    * two-hex-digit md5 bucket ([[splitAssign]]'s family), so membership
    * is reproducible on any engine and any cluster size, and the
    * decision is a narrow map (keep iff u(doc) < rate(source)). Output
    * is the audit summary: per source, the rate, totals, and realized
    * keep share in ppm (integer division — bit-exact). */
  /** Two-hex-digit md5 bucket 0..255 over a seeded key — the portable
    * uniform draw (t11's core; t7's split and t12's feature bucket are
    * the same family, and the p2/p4 pipelines reuse it). Read off the
    * digest by the native `md5_prefix` kernel. */
  def hashBucket(s: SparkSession, seed: String, k: Column): Column =
    Md5Prefix.column(s, concat(lit(seed), k), 2).cast("int")

  /** t11's keep predicate: per-doc uniform draw under the per-source
    * hash-derived rate (16..79 of 256). */
  def sampleKeep(s: SparkSession, docId: Column, source: Column): Column =
    hashBucket(s, "samp:", docId) < lit(16) + hashBucket(s, "rate:", source) % 64

  def t11StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        hashBucket(s, "samp:", $"doc_id").as("u"),
        (lit(16) + hashBucket(s, "rate:", $"source") % 64).as("rb"))
      .groupBy($"source")
      .agg(max($"rb").as("rate_b"), count(lit(1)).as("n_total"),
        sum(when($"u" < $"rb", 1L).otherwise(0L)).as("n_kept"))
      .select($"source", $"rate_b", $"n_total", $"n_kept",
        expr("(n_kept * 1000000) div n_total").as("kept_ppm"))
      .orderBy($"source")
  }

  /** T-19 — source-mix rebalancing: a training corpus is rarely served
    * as-crawled — over-represented sources are downsampled to a target
    * mix. Here every source is capped at the SMALLEST source's size (a
    * uniform mix), keeping each source's lowest-hash documents: rank by
    * a salted md5 of doc_id within source and keep rank <= cap, so the
    * selection is deterministic, seedable (the salt), and re-runs pick
    * the SAME documents — the property that lets a 100 TB rebalance be
    * resumed or audited. One count aggregate + one rank shuffle by
    * source; at scale the rank's skewed giant-source partition is cut
    * by pre-filtering on the same hash to ~cap survivors per source (a
    * prefix of the rank order, so the result is identical — see
    * SCALING.md) before ranking. */
  def t19SourceMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val counts = d.groupBy($"source").agg(count(lit(1)).as("n_total"))
    val cap = counts.agg(min($"n_total").as("cap"))
    val ranked = d.select($"doc_id", $"source",
        md5(concat(lit("mix:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")))
    ranked.join(broadcast(cap)).filter($"rk" <= $"cap")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), expr("bit_xor(doc_id)").as("kept_id_sum"))
      .join(counts, "source")
      .select($"source", $"n_total", $"n_kept", $"kept_id_sum")
      .orderBy($"source")
  }

  /** T-20 — split-LEAKAGE audit: near-duplicate pairs that STRADDLE the
    * t7 train/val/test split are evaluation contamination — the model
    * is tested on paraphrases of its training data and the benchmark
    * silently inflates. The pair source is d3's LSH candidates (the
    * corpus-sublinear near-dup surface — never all-pairs), each side
    * joined to its deterministic split; output is the (split_a,
    * split_b) pair matrix with a leak flag and an id checksum pinning
    * the exact pair set. At 100 TB this audit is two broadcast-scale
    * joins on top of the dedup pipeline's EXISTING candidate pairs —
    * effectively free — and its nonzero leak rows are the list a
    * pipeline either re-splits around (cluster-aware splitting: assign
    * d6 clusters, not documents, to splits) or purges (d10). */
  def t20SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.lshPairsCached(s, dir)
    val splits = Tables.documents(s, dir)
      .select($"doc_id", splitAssign(s, $"doc_id").as("split"))
    pairs
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"),
        // xor of per-pair XOR, not per-pair SUM: `doc_a + doc_b` kept
        // an ANSI BIGINT overflow inside the checksum for ids above
        // 2^62 — the snowflake-magnitude class the r14 bit_xor
        // migration exists for. xor never overflows. (r15 advice)
        expr("bit_xor(doc_a ^ doc_b)").as("pair_checksum"))
      .select($"split_a", $"split_b", $"n_pairs", $"pair_checksum",
        ($"split_a" =!= $"split_b").cast("int").as("leak"))
      .orderBy($"split_a", $"split_b")
  }

  /** T-12 — hashing-trick feature vectors: each token is hashed into a
    * fixed 16-bucket space (two-hex-digit md5 % 16 — the portable
    * family) and per-doc bucket counts form the feature vector; the
    * fixed dimensionality is what lets a 100 TB corpus stream into a
    * model without a vocabulary pass. Narrow explode + ONE
    * groupBy(doc): counts pivot to 16 integer columns map-side (no
    * per-bucket shuffles), plus nnz / l1 / an order-pinned digest.
    * Everything integer or md5 — bit-exact gate. */
  def t12HashFeatures(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .withColumn("b", hashBucket(s, "feat:", $"tok") % 16)
    val bucketCounts = (0 until 16).map(i =>
      sum(when($"b" === i, 1L).otherwise(0L)).as(s"f$i"))
    tok.groupBy($"doc_id").agg(bucketCounts.head, bucketCounts.tail: _*)
      .select(($"doc_id" +:
        (0 until 16).map(i => col(s"f$i"))) :+
        (0 until 16).map(i => (col(s"f$i") > 0).cast("int")).reduce(_ + _).as("nnz") :+
        (0 until 16).map(i => col(s"f$i")).reduce(_ + _).as("l1") :+
        md5(concat_ws(",", (0 until 16).map(i => col(s"f$i")): _*)).as("vec_md5"): _*)
      .orderBy($"doc_id")
  }

  /** T-13 — text canonicalization: the normalization pass every dedup
    * pipeline runs BEFORE shingling/fingerprinting (D-1..D-5 operate on
    * raw text here because the testdata is already clean): lowercase →
    * strip non-alphanumerics → collapse runs of whitespace → trim.
    * Pure narrow projection (codegen'd regexes, no shuffle); the audit
    * emits per-doc before/after lengths, token count, and the md5 of
    * the canonical form — the key exact dedup would group on. */
  def t13Normalize(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(s, dir)
      .select($"doc_id", length($"text").as("n_raw_chars"), norm.as("norm"))
      .select($"doc_id", $"n_raw_chars",
        length($"norm").as("n_norm_chars"),
        when($"norm" === "", 0).otherwise(size(split($"norm", " ")))
          .cast("bigint").as("n_tokens"),
        md5($"norm").as("norm_md5"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin of the seeded md5 bucket (0..255) behind
    * [[splitAssign]]/[[sampleKeep]] — ONE definition shared by the
    * t7, p2 and p4 oracles so the hash family can never diverge
    * engine-side vs oracle-side in only some entries. */
  private[graft] def bucketSqlOf(seed: String, k: String): String =
    s"""((strpos('0123456789abcdef', substr(md5('$seed' || $k), 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5('$seed' || $k), 2, 1)) - 1))"""

  /** DuckDB twin of [[splitAssign]]'s full train/val/test CASE. */
  private[graft] def splitCaseSql(k: String): String =
    s"""CASE WHEN ${bucketSqlOf("split:", k)} < 230 THEN 'train'
             WHEN ${bucketSqlOf("split:", k)} < 243 THEN 'val'
             ELSE 'test' END"""

  val oracles: Map[String, String] = Map(
    "t13_normalize" ->
      """WITH n AS (
           SELECT doc_id, length(text) AS n_raw_chars,
                  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                       ' +', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id, n_raw_chars, length(norm) AS n_norm_chars,
                CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens,
                md5(norm) AS norm_md5
         FROM n ORDER BY doc_id""",
    "t12_hash_features" -> {
      val bucket =
        """((strpos('0123456789abcdef', substr(md5('feat:' || tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5('feat:' || tok), 2, 1)) - 1)) % 16"""
      val counts = (0 until 16)
        .map(i => s"CAST(sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS BIGINT) AS f$i")
        .mkString(", ")
      val nnz = (0 until 16).map(i => s"CASE WHEN f$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      val l1 = (0 until 16).map(i => s"f$i").mkString(" + ")
      val cat = (0 until 16).map(i => s"CAST(f$i AS VARCHAR)").mkString(" || ',' || ")
      s"""WITH tok AS (
            SELECT doc_id, $bucket AS b FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
            WHERE tok <> ''),
          v AS (SELECT doc_id, $counts FROM tok GROUP BY doc_id)
          SELECT doc_id, ${(0 until 16).map(i => s"f$i").mkString(", ")},
                 CAST($nnz AS INT) AS nnz, CAST($l1 AS BIGINT) AS l1,
                 md5($cat) AS vec_md5
          FROM v ORDER BY doc_id"""
    },
    "t20_split_leakage" -> {
      s"""WITH ${graft.dedup.Dedup.lshPairsCtes},
          sp AS (SELECT doc_id, ${splitCaseSql("doc_id")} AS split FROM documents)
          SELECT a.split AS split_a, b.split AS split_b,
                 count(*) AS n_pairs,
                 CAST(bit_xor(xor(p.doc_a, p.doc_b)) AS BIGINT) AS pair_checksum,
                 CAST(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END AS INT) AS leak
          FROM lsh_pairs p
          JOIN sp a ON p.doc_a = a.doc_id
          JOIN sp b ON p.doc_b = b.doc_id
          GROUP BY a.split, b.split
          ORDER BY split_a, split_b"""
    },
    "t19_source_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1),
         cap AS (SELECT min(n_total) AS cap FROM c),
         r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                        ORDER BY md5('mix:' || doc_id), doc_id) AS rk
               FROM documents)
         SELECT r.source AS source, c.n_total AS n_total,
                count(*) AS n_kept,
                CAST(bit_xor(r.doc_id) AS BIGINT) AS kept_id_sum
         FROM r JOIN c ON r.source = c.source, cap
         WHERE r.rk <= cap.cap
         GROUP BY 1, 2 ORDER BY source""",
    "t11_stratified_sample" ->
      """WITH hx AS (
           SELECT doc_id, source,
                  (strpos('0123456789abcdef', substr(md5('samp:' || doc_id), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5('samp:' || doc_id), 2, 1)) - 1) AS u,
                  16 + ((strpos('0123456789abcdef', substr(md5('rate:' || source), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(md5('rate:' || source), 2, 1)) - 1)) % 64 AS rb
           FROM documents)
         SELECT source, CAST(max(rb) AS INT) AS rate_b,
                count(*) AS n_total,
                CAST(sum(CASE WHEN u < rb THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST((sum(CASE WHEN u < rb THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS kept_ppm
         FROM hx GROUP BY 1 ORDER BY source""",
    "t1_langid" -> {
      val scores = LangProfiles.map { case (l, ws) => s"${profileSumSql(ws)} AS s_$l" }.mkString(", ")
      val maxExpr = LangProfiles.map { case (l, _) => s"s_$l" }.mkString("greatest(", ",", ")")
      val pred = LangProfiles.map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents),
          scored AS (SELECT doc_id, lang, $scores FROM tok WHERE tok <> '' GROUP BY doc_id, lang),
          m AS (SELECT *, $maxExpr AS m FROM scored)
          SELECT doc_id, lang, $pred AS pred_lang, CAST(m AS BIGINT) AS best_score,
                 CAST(($pred = lang) AS INT) AS is_match
          FROM m ORDER BY doc_id"""
    },
    "t2_quality" -> {
      val stop = Stopwords.map(w => s"'$w'").mkString("(", ",", ")")
      s"""WITH base AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(regexp_split_to_array(text, '\\s+')) -
                     (CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS n_tokens,
                   length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
                   len(list_filter(string_split(text, ' '), t -> t IN $stop)) AS stop_hits
            FROM documents)
          SELECT doc_id, n_chars, n_tokens,
                 round(n_alpha / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS alpha_ratio,
                 round(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS stopword_ratio,
                 round(least(1.0,
                   (n_tokens/100.0)*0.4
                   + round(n_alpha / CAST(greatest(n_chars, 1) AS DOUBLE), 4)*0.4
                   + round(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE), 4)*0.2), 4) AS quality
          FROM base ORDER BY doc_id"""
    },
    "t3_token_count" ->
      """SELECT doc_id,
                len(regexp_split_to_array(text, '\s+')) -
                  (CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS n_ws_tokens,
                len(regexp_split_to_array(text, '[^a-z0-9]+')) AS n_word_tokens_raw,
                CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
         FROM documents ORDER BY doc_id""",
    "t4_fingerprint" ->
      """WITH n AS (SELECT doc_id,
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
          w AS (SELECT doc_id, norm, string_split(norm, ' ') AS arr FROM n)
          SELECT doc_id, md5(norm) AS fingerprint,
                 CASE WHEN len(arr) >= 3
                   THEN list_min([md5(arr[i]||' '||arr[i+1]||' '||arr[i+2])
                                  for i in range(1, len(arr)-1)])
                   ELSE md5(norm) END AS min_shingle_fp
          FROM w ORDER BY doc_id""",
  ) ++ oraclesNew

  // lazy: referenced from `oracles` above its declaration point
  /** DuckDB CTE chain ending in `qmask(doc_id, n_tokens, reason_mask)`
    * — the t18 rule set as SQL; shared with p4's pipeline oracle. */
  private[graft] def qualityMaskCtes: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString("(", ",", ")")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS c FROM toks
               WHERE tok <> '' GROUP BY 1, 2),
        agg AS (SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(max(c) AS BIGINT) AS top_c,
                       CAST(sum(length(tok) * c) AS BIGINT) AS sum_chars,
                       CAST(sum(CASE WHEN tok IN $stop THEN c ELSE 0 END)
                            AS BIGINT) AS stop_hits
                FROM tf GROUP BY 1),
        qmask AS (SELECT doc_id, n_tokens,
                     CAST((CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
                        + (CASE WHEN n_tokens > 10000 THEN 2 ELSE 0 END)
                        + (CASE WHEN sum_chars < n_tokens * 3
                                  OR sum_chars > n_tokens * 10 THEN 4 ELSE 0 END)
                        + (CASE WHEN top_c * 5 > n_tokens THEN 8 ELSE 0 END)
                        + (CASE WHEN stop_hits < 2 THEN 16 ELSE 0 END)
                          AS INT) AS reason_mask
                  FROM agg)"""
  }

  private lazy val oraclesNew: Map[String, String] = Map(
    "t18_quality_gate" ->
      s"""WITH $qualityMaskCtes
          SELECT doc_id, n_tokens, reason_mask,
                 CAST(CASE WHEN reason_mask = 0 THEN 1 ELSE 0 END AS INT) AS keep
          FROM qmask ORDER BY doc_id""",
    "t16_zipf_profile" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
          tf AS (SELECT tok, count(*) AS freq FROM toks WHERE tok <> '' GROUP BY 1),
          totals AS (SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
                            count(*) AS n_vocab FROM tf),
          head AS (SELECT tok, freq,
                          row_number() OVER (ORDER BY freq DESC, tok) AS rank
                   FROM tf ORDER BY freq DESC, tok LIMIT $ZipfHead),
          q AS (SELECT CAST(round(ln(rank) * 1e6) AS BIGINT) AS lx,
                       CAST(round(ln(freq) * 1e6) AS BIGINT) AS ly,
                       rank FROM head),
          s AS (SELECT count(*) AS n, CAST(sum(lx) AS BIGINT) AS sx,
                       CAST(sum(ly) AS BIGINT) AS sy,
                       CAST(sum(lx * ly) AS BIGINT) AS sxy,
                       CAST(sum(lx * lx) AS BIGINT) AS sxx
                FROM q),
          fit AS (SELECT round(CAST(n * sxy - sx * sy AS DOUBLE) /
                               CAST(n * sxx - sx * sx AS DOUBLE), 4)
                           AS zipf_slope FROM s),
          h10 AS (SELECT CAST(sum(freq) AS BIGINT) AS head10 FROM head WHERE rank <= 10)
          SELECT n_vocab, n_tokens,
                 round(head10 / CAST(n_tokens AS DOUBLE), 4) AS head10_frac,
                 zipf_slope
          FROM totals, h10, fit""",
    "t17_boilerplate" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
          sh AS (SELECT doc_id,
                        unnest([array_to_string(list_slice(arr, i, i + ${BoilerShingle - 1}), ' ')
                                for i in range(1, len(arr) - ${BoilerShingle - 2})]) AS sh
                 FROM d WHERE len(arr) >= $BoilerShingle),
          df AS (SELECT sh, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY 1),
          j AS (SELECT s.doc_id AS doc_id, f.n_docs AS n_docs
                FROM sh s JOIN df f USING (sh)),
          agg AS (SELECT doc_id, count(*) AS n_shingles,
                         CAST(sum(CASE WHEN n_docs >= $BoilerMinDocs THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_boiler
                  FROM j GROUP BY 1)
          SELECT d.doc_id AS doc_id,
                 coalesce(a.n_shingles, 0) AS n_shingles,
                 coalesce(a.n_boiler, 0) AS n_boiler,
                 round(coalesce(a.n_boiler, 0) /
                       CAST(greatest(coalesce(a.n_shingles, 0), 1) AS DOUBLE), 4)
                   AS boiler_frac
          FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",
    "t15_bigram_lm" ->
      """WITH toks AS (
           SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         toksf AS (SELECT * FROM toks WHERE tok <> ''),
         bi AS (
           SELECT doc_id, source, tok,
                  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next
           FROM toksf),
         big AS (SELECT * FROM bi WHERE next IS NOT NULL),
         c12 AS (
           SELECT tok, next, count(*) AS c12 FROM big
           WHERE source = 'src0' GROUP BY 1, 2),
         c1 AS (
           SELECT tok, count(*) AS c1 FROM toksf
           WHERE source = 'src0' GROUP BY 1),
         model AS (
           SELECT c12.tok, c12.next,
                  CAST(round(ln(CAST(c12.c12 AS DOUBLE) / c1.c1) * 1000000)
                    AS BIGINT) AS lp_micro
           FROM c12 JOIN c1 ON c12.tok = c1.tok),
         scored AS (
           SELECT b.doc_id, coalesce(m.lp_micro, -10000000) AS lp
           FROM big b LEFT JOIN model m ON b.tok = m.tok AND b.next = m.next)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
                CAST(CAST(sum(lp) AS BIGINT) < count(*) * -3000000 AS INT)
                  AS low_quality
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "t14_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         tf AS (
           SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok <> '' GROUP BY 1, 2),
         df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.tok, tf.tf, df.df,
                  CAST(tf.tf * CAST(round(ln(n.n_total / df.df) * 1000000)
                    AS BIGINT) AS BIGINT) AS score_micro
           FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
         SELECT doc_id, tok, tf, df, score_micro FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY score_micro DESC, tok) AS rn
           FROM scored)
         WHERE rn <= 3 ORDER BY doc_id, score_micro DESC, tok""",
    "t7_train_split" ->
      s"""SELECT ${splitCaseSql("doc_id")} AS split,
                 count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents GROUP BY 1 ORDER BY split""",
    "t8_pii_scrub" ->
      """WITH inj AS (
           SELECT doc_id,
                  text || ' contact: user' || doc_id || '@example.com or +62 811-' || doc_id AS t
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
                CAST(len(regexp_extract_all(t, '\+[0-9][0-9\- ]{6,}[0-9]')) AS INT) AS n_phone,
                md5(regexp_replace(
                      regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                      '\+[0-9][0-9\- ]{6,}[0-9]', '<PHONE>', 'g')) AS scrub_md5
         FROM inj ORDER BY doc_id""",
    "t9_repetition" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         cnt AS (
           SELECT doc_id, tok, count(*) AS c FROM tok WHERE tok <> '' GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct, max(c) AS top_c
           FROM cnt GROUP BY 1)
         SELECT doc_id, n_tokens, n_distinct,
                round(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS ttr,
                round(top_c / CAST(n_tokens AS DOUBLE), 4) AS top_tok_frac
         FROM agg ORDER BY doc_id""",
    "t10_seq_pack" ->
      s"""WITH t AS (
            SELECT doc_id, source,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tok
            FROM documents),
          c AS (
            SELECT doc_id, source, n_tok,
                   sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM t)
          SELECT doc_id, source, n_tok,
                 CAST(floor((cum - n_tok) / $SeqBudget) AS BIGINT) AS seq_id,
                 CAST((cum - n_tok) % $SeqBudget AS BIGINT) AS tok_offset
          FROM c ORDER BY doc_id""",
  )

  /** T-14 — TF-IDF top-3 terms per document. Three shuffles total:
    * TF = groupBy(doc, tok); DF = groupBy(tok) over the (already
    * distinct) TF pairs; the per-doc top-3 by score. N (corpus size)
    * rides along as a 1-row broadcast. IDF is quantized to integer
    * MICRO units — `round(ln(N/df)·1e6)` — so the score
    * `tf · idf_micro` is exact BIGINT algebra and the cross-engine
    * gate never depends on float summation or comparison order (the
    * repo's cents policy applied to term weights). The top-3 selection
    * is written in the portable row_number()<=k spelling: the x10
    * TopKRewrite turns it into the bounded-heap TopKPerGroup plan (no
    * per-doc sort — at 100 TB the vocabulary join shuffles on tok and
    * the final pass keeps 3 rows per doc per task).
    *
    * The token source rides the widened scan seam
    * ([[graft.io.Tables.documentsWide]], r15): the tokenize+explode
    * stage is the entry's compute bulk, and on a row-group-starved
    * single-file dir it ran at 4–5/32 threads (sf100 measured 224–378 s
    * pre-widen vs ~12 GB of shuffle that takes a fraction of that).
    * t14 is widen-eligible because every downstream step is
    * order-independent: tf/df are counts, the score is exact BIGINT
    * micro-unit algebra, and the top-3 tie-break (score desc, tok asc)
    * is total per doc — no float summation anywhere. */
  def t14TfIdf(s: SparkSession, dir: String): DataFrame = {
    graft.plans.TopK.install(s)
    val tf = tokensOf(Tables.documentsWide(s, dir, Seq("doc_id", "text")),
        $"doc_id")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir)
      .agg(count(lit(1)).cast("double").as("n_total"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(n))
      .select($"doc_id", $"tok", $"tf", $"df",
        ($"tf" * round(log($"n_total" / $"df") * 1e6).cast("bigint"))
          .as("score_micro"))
    scored.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")
          .orderBy($"score_micro".desc, $"tok".asc)))
      .filter($"rn" <= 3)
      .select($"doc_id", $"tok", $"tf", $"df", $"score_micro")
      .orderBy($"doc_id", $"score_micro".desc, $"tok")
  }

  /** T-15 — bigram language-model quality scoring (the CCNet/Gopher LM
    * filter): train bigram MLE counts on one trusted source slice,
    * score every document by its summed bigram log-probability, flag
    * low-quality outliers. All cross-engine arithmetic is exact
    * integers: each bigram's `ln(c12/c1)` is quantized to MICRO units
    * once (one transcendental per MODEL row, never per document), doc
    * scores are BIGINT sums of those, unseen bigrams draw a fixed
    * integer floor penalty, and the quality flag is an integer
    * inequality (sum < n·threshold) — no float accumulation anywhere.
    *
    * Bigram extraction is SHUFFLE-FREE (round 12): adjacency lives
    * inside one document's token array, so pairing is `arrays_zip`
    * over two `slice`s of the split array — per-row array work inside
    * the scan stage. The previous form (posexplode + lead over a
    * Window.partitionBy(doc_id).orderBy(pos)) sort-shuffled the ENTIRE
    * token stream (~2 B rows at sf100, the widest intermediate in the
    * suite) just to pair neighbors, and that sort's buffering was the
    * measured source of t15's GC-bound bimodality at 16 GB (97–245 s
    * fresh-JVM spread; see SCALING.md §round-12).
    * Shuffles: model groupBys (2, train-slice/vocab-bounded), model
    * join on the bigram key (the 100 TB path — the model table is
    * corpus-sublinear but vocab² worst-case, so it equi-joins rather
    * than broadcasts), final per-doc agg (1).
    */
  def t15BigramLm(s: SparkSession, dir: String): DataFrame = {
    val TrainSource = "src0"
    val UnseenPenaltyMicro = -10000000L // ln floor for unseen bigrams
    val ThresholdMicro = -3000000L      // avg logp < -3 → low quality
    // array_remove / arrays_zip / slice, NOT the lambda HOFs
    // (filter/zip_with): higher-order functions are CodegenFallback,
    // and measured at sf10 the lambda spelling cost 1.6× the whole
    // entry by dropping the scan-side projection out of whole-stage
    // codegen.
    // widened by bytes: tokenize + bigram zip + the count
    // partials fuse into the scan stage (integer counts — order-safe)
    val docs = Tables.documentsWide(s, dir, Seq("doc_id", "source", "text"))
      .select($"doc_id", $"source",
        array_remove(split($"text", " "), "").as("toks"))
    val bigrams = docs
      .filter(size($"toks") >= 2)
      .select($"doc_id", $"source",
        explode(arrays_zip(
          slice($"toks", lit(1), size($"toks") - 1).as("tok"),
          slice($"toks", lit(2), size($"toks") - 1).as("next"))).as("bg"))
      .select($"doc_id", $"source", $"bg.tok", $"bg.next")
    val train = bigrams.filter($"source" === TrainSource)
    val c12 = train.groupBy($"tok", $"next").agg(count(lit(1)).as("c12"))
    val c1 = docs.filter($"source" === TrainSource)
      .select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c1"))
    val model = c12.join(c1, "tok")
      .select($"tok", $"next",
        round(log($"c12".cast("double") / $"c1") * 1e6).cast("bigint").as("lp_micro"))
    bigrams.join(model, Seq("tok", "next"), "left")
      .select($"doc_id", coalesce($"lp_micro", lit(UnseenPenaltyMicro)).as("lp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lp").cast("bigint").as("sum_lp_micro"))
      .withColumn("low_quality",
        ($"sum_lp_micro" < $"n_bigrams" * ThresholdMicro).cast("int"))
      .orderBy($"doc_id")
  }

  // (ZipfHead/BoilerShingle/BoilerMinDocs are declared near Stopwords,
  // ABOVE the strict `oracles` val that interpolates them — a later
  // declaration would read as 0 during object init.)

  /** T-16 — corpus Zipf profile: the vocabulary-level health check a
    * training corpus gets before a tokenizer is fit. Term frequencies →
    * rank → least-squares slope of ln(freq) on ln(rank) over the top
    * [[ZipfHead]] ranks (natural text ≈ −1; synthetic/templated corpora
    * flatten toward 0), plus vocabulary size, token volume, and top-10
    * head mass. One groupBy(token) shuffle; the head is a
    * TakeOrderedAndProject (per-partition heap, no global sort), and
    * the fit runs on [[ZipfHead]] rows driver-free. At 100 TB the
    * term-frequency table is the only large intermediate and it
    * map-side combines. */
  def t16ZipfProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tokens(s, dir).groupBy($"tok").agg(count(lit(1)).as("freq"))
    val totals = tf.agg(sum($"freq").as("n_tokens"), count(lit(1)).as("n_vocab"))
    val head = tf.orderBy($"freq".desc, $"tok").limit(ZipfHead)
      .withColumn("rank", row_number().over(Window.orderBy($"freq".desc, $"tok")))
    // ln quantized to micro units per row (the t15 policy: ONE
    // transcendental per row, then exact BIGINT sums — no float
    // accumulation-order dependence between engines); slope =
    // (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) in integer micro algebra, one
    // final division. Magnitudes: lx ≤ ln(100)·1e6 ≈ 4.6e6 → nΣxy ≲
    // 2e17, inside Long.
    val fit = head
      .select(round(log($"rank".cast("double")) * 1e6).cast("bigint").as("lx"),
        round(log($"freq".cast("double")) * 1e6).cast("bigint").as("ly"))
      .agg(count(lit(1)).as("n"), sum($"lx").as("sx"), sum($"ly").as("sy"),
        sum($"lx" * $"ly").as("sxy"), sum($"lx" * $"lx").as("sxx"))
      .select(round(
        ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 4).as("zipf_slope"))
    val h10 = head.filter($"rank" <= 10).agg(sum($"freq").as("head10"))
    totals.crossJoin(h10).crossJoin(fit)
      .select($"n_vocab", $"n_tokens",
        round($"head10" / $"n_tokens".cast("double"), 4).as("head10_frac"),
        $"zipf_slope")
  }

  /** T-17 — cross-document boilerplate detection (the CCNet/template
    * -removal pass): a [[BoilerShingle]]-gram that appears in ≥
    * [[BoilerMinDocs]] DISTINCT documents is boilerplate (headers,
    * footers, licence blocks); per document, report total shingle
    * positions, boilerplate positions, and the boilerplate fraction a
    * cleaning pass would strip. Plan: one shingle explode (narrow), one
    * groupBy(shingle) for document frequency, one join back on shingle,
    * one groupBy(doc). Differs from dedup (d-family): this finds
    * SEGMENTS shared across many non-duplicate docs, not duplicate doc
    * pairs. At 100 TB the shingle DF table is the big intermediate;
    * countDistinct map-side combines per shingle, and the join back is
    * shuffle-on-shingle — co-partitioned with the DF aggregate, so AQE
    * reuses the exchange. */
  def t17Boilerplate(s: SparkSession, dir: String): DataFrame = {
    // widened by bytes: the shingle explode + both count partials
    // fuse into the scan stage (count math — order-safe)
    val sh = graft.functions.Shingles.kgramRows(
        Tables.documentsWide(s, dir, Seq("doc_id", "text")),
        Seq("doc_id"), k = BoilerShingle)
      .select($"doc_id", $"shingle".as("sh"))
    // (doc, shingle) pre-aggregation (r16 optimization, guide §2.3
    // "aggregate before you shuffle"): the JOIN PROBE side previously
    // shipped the RAW shingle stream (every instance) into the sh-join
    // against docFreq; it now ships deduped (doc_id, sh, c) pairs —
    // strictly fewer rows/bytes through the join, and the docFreq arm
    // replaces countDistinct's internal two-phase dedup+count with a
    // plain count over the already-distinct pairs. n_shingles/n_boiler
    // are sums of c (additivity ⇒ identical counts). This is t14's
    // tf/df shape applied to t17.
    val pairCounts = sh.groupBy($"doc_id", $"sh").agg(count(lit(1)).as("c"))
    // The explode still runs once per branch (t14's accepted 2-pass
    // doc-frequency shape): forcing ReusedExchange by referencing `c`
    // in this count was tried and defeated — the optimizer rewrites
    // count(non-null col) to count(1) and prunes `c`, de-identifying
    // the subtrees. The win that stands is on the PROBE side below.
    // The shingle-frequency table is as large as the corpus's distinct
    // shingles, so the join is a shuffle join on sh, by hint: the
    // planner's estimate of it ignores the explode's fan-out (a Generate
    // inherits its child's size) and read 7.6 MB for a 57 MB documents
    // file, under the 10 MB broadcast threshold, while the relation it
    // built passed 3.6 GB; AQE then keeps a planned broadcast, because
    // a sort-merge join would add an exchange.
    val docFreq = pairCounts.groupBy($"sh").agg(count(lit(1)).as("n_docs")).hint("merge")
    val perDoc = pairCounts.join(docFreq, "sh")
      .groupBy($"doc_id").agg(
        sum($"c").as("n_shingles"),
        sum(when($"n_docs" >= BoilerMinDocs, $"c").otherwise(0L)).as("n_boiler"))
    Tables.documents(s, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"n_boiler", lit(0L)).as("n_boiler"),
        round(coalesce($"n_boiler", lit(0L)) /
          greatest(coalesce($"n_shingles", lit(0L)), lit(1L)).cast("double"), 4)
          .as("boiler_frac"))
      .orderBy($"doc_id")
  }

  /** T-18 — composite quality gate (the Gopher-rules filter stage): the
    * per-document keep/drop VERDICT a training pipeline materializes,
    * with a reason bitmask so every drop is attributable. Rules (bit
    * set = rule fired): 1 too short (<20 tokens), 2 too long (>10k), 4
    * degenerate mean token length (<3 or >10 chars — integer form
    * sum_chars vs 3n/10n, no division), 8 repetition (top token >20% —
    * integer form 5·top_c > n), 16 unnatural (fewer than 2 stopword
    * hits). All predicates are exact integer algebra over one
    * row-local token-frequency summary (the `token_profile` kernel,
    * [[graft.functions.TokenProfile]]), so the gate is bit-exact and
    * runs inside the scan stage: no exchange before the verdict. The
    * kernel costs about what decoding the row does, so the table form
    * reads the narrow documents scan: the byte-sized widen made it
    * slower at every measured size (SCALING.md §"The corpus widen,
    * sized from its bytes"). */
  def t18QualityGate(s: SparkSession, dir: String): DataFrame =
    qualityVerdict(Tables.documents(s, dir)).orderBy($"doc_id")

  /** The t18 rule set over an arbitrary (doc_id, text) frame: (doc_id,
    * n_tokens, reason_mask, keep), one row per document with at least
    * one token. Per-row independent, so a batch boundary never changes
    * a verdict; the streaming gates (st15, p5) apply the same rules
    * through [[qualityAdmitted]]. */
  def qualityVerdict(docs: DataFrame): DataFrame =
    profiled(docs).select($"doc_id", $"__p.n_tokens".as("n_tokens"),
        reasonMask.cast("int").as("reason_mask"))
      .withColumn("keep", ($"reason_mask" === 0).cast("int"))

  /** The rows of `docs` the t18 gate keeps, columns unchanged — the
    * in-row equivalent of a semi join against [[qualityVerdict]]'s
    * kept ids, for frames keyed uniquely by doc_id. */
  def qualityAdmitted(docs: DataFrame): DataFrame =
    profiled(docs).filter(reasonMask === 0).drop("__p")

  /** `docs` with its token profile in `__p`, documents without tokens
    * dropped (the explode spelling never saw them). */
  private def profiled(docs: DataFrame): DataFrame =
    docs.withColumn("__p", graft.functions.TokenProfile.column(docs.sparkSession, $"text"))
      .filter($"__p".isNotNull)

  private def reasonMask: Column = {
    val (n, top, chars, stops) =
      ($"__p.n_tokens", $"__p.top_c", $"__p.sum_chars", $"__p.stop_hits")
    when(n < 20, 1).otherwise(0) +
      when(n > 10000, 2).otherwise(0) +
      when(chars < n * 3 || chars > n * 10, 4).otherwise(0) +
      when(top * 5 > n, 8).otherwise(0) +
      when(stops < 2, 16).otherwise(0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t18_quality_gate" -> t18QualityGate _,
    "t16_zipf_profile" -> t16ZipfProfile _,
    "t17_boilerplate" -> t17Boilerplate _,
    "t15_bigram_lm" -> t15BigramLm _,
    "t14_tfidf" -> t14TfIdf _,
    "t1_langid" -> t1LangId _,
    "t2_quality" -> t2Quality _,
    "t3_token_count" -> t3TokenCount _,
    "t4_fingerprint" -> t4Fingerprint _,
    "t7_train_split" -> t7TrainSplit _,
    "t8_pii_scrub" -> t8PiiScrub _,
    "t9_repetition" -> t9Repetition _,
    "t10_seq_pack" -> t10SeqPack _,
    "t11_stratified_sample" -> t11StratifiedSample _,
    "t19_source_mix" -> t19SourceMix _,
    "t20_split_leakage" -> t20SplitLeakage _,
    "t12_hash_features" -> t12HashFeatures _,
    "t13_normalize" -> t13Normalize _,
  )
}
