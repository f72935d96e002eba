package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The round-12 codegen rewrites, pinned against the lambda-HOF
  * reference spellings they replaced. Each rewrite shipped because the
  * HOF form is CodegenFallback (1.6–4× the entry, SCALING.md
  * §round-12); these tests keep the cheap forms from ever drifting
  * semantically — every comparison is value-exact (bit-exact for the
  * sequential double folds, which accumulate in the same index order
  * by construction).
  */
class CodegenKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  // --- Shingles.kgramRows ≡ transform(sequence(...)) lambda ----------

  private def lambdaKgrams(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select($"id", explode(expr(
      s"""CASE WHEN size(split(text, ' ')) >= $k
            THEN transform(sequence(0, size(split(text, ' ')) - $k),
                 i -> concat_ws(' ', slice(split(text, ' '), i + 1, $k)))
            ELSE CAST(array() AS array<string>) END""")).as("shingle"))

  private val edgeDocs = Seq(
    "",                        // splits to [""] — below every k
    "a",                       // 1 token
    "a b",                     // exactly 2
    "a b c",                   // exactly 3
    "a b c d e",               // exactly 5
    "a  b c",                  // consecutive spaces → empty middle token
    " a b c",                  // leading space → empty first token
    "a b c ",                  // trailing space → empty last token
    "x y x y x",               // repeats (duplicate shingles preserved)
    "one two three four five six seven")

  for (k <- Seq(2, 3, 5)) {
    test(s"kgramRows(k=$k) ≡ transform-lambda enumeration (edge docs + random)") {
      val rand = samples(Gen.listOfN(8, Gen.oneOf("a", "b", "cc", "", "d e"))
        .map(_.mkString(" ")), 60)
      val df = (edgeDocs ++ rand).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = graft.functions.Shingles.kgramRows(df, Seq("id"), k)
        .orderBy($"id", $"shingle").collect().toSeq
      val want = lambdaKgrams(df, k)
        .orderBy($"id", $"shingle").collect().toSeq
      assert(got == want)
    }

    test(s"kgramRowsDistinct(k=$k) ≡ kgramRows(...).distinct() (in-row dedup ≡ exchange dedup)") {
      // repeats engineered: duplicated docs-with-repeats plus random
      // text where small vocab forces duplicate k-grams
      val rand = samples(Gen.listOfN(12, Gen.oneOf("a", "b", "a", "cc")).map(_.mkString(" ")), 40)
      val df = (edgeDocs ++ rand ++ Seq("a b a b a b a b", "x x x x x"))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = graft.functions.Shingles.kgramRowsDistinct(df, Seq("id"), k)
        .orderBy($"id", $"shingle").collect().toSeq
      val want = graft.functions.Shingles.kgramRows(df, Seq("id"), k).distinct()
        .orderBy($"id", $"shingle").collect().toSeq
      assert(got == want)
    }
  }

  // --- native folds ≡ HOF folds (bit-exact) ---------------------------

  test("l2sq_f64 ≡ aggregate(zip_with(...)) bit-for-bit on random doubles") {
    graft.functions.NativeFunctions.register(spark)
    val gen = Gen.listOfN(16, Gen.chooseNum(-1e3, 1e3))
    val rows = samples(Gen.zip(gen, gen), 150)
      .map { case (a, b) => (a.toArray, b.toArray) }
    val df = rows.toDF("a", "b")
      .select(call_function("l2sq_f64", $"a", $"b").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, z) -> acc + z)")
          .as("hof"))
    // bit-exact, not tolerance: same sequential accumulation order
    assert(df.collect().forall { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    })
  }

  test("dot_i64 ≡ integer fold, and dot_i64(q,q) ≡ sum-of-squares fold") {
    graft.functions.NativeFunctions.register(spark)
    val gen = Gen.listOfN(16, Gen.chooseNum(-1000000L, 1000000L))
    val rows = samples(Gen.zip(gen, gen), 150)
      .map { case (a, b) => (a.toArray, b.toArray) }
    val df = rows.toDF("q", "qa")
      .select(call_function("dot_i64", $"q", $"qa").as("native"),
        expr(s"aggregate(sequence(0, 15), 0L, (a, i) -> a + q[i] * qa[i])").as("hof"),
        call_function("dot_i64", $"q", $"q").as("native_qq"),
        expr("aggregate(transform(q, x -> x * x), 0L, (a, x) -> a + x)").as("hof_qq"))
    assert(df.collect().forall(r =>
      r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3)))
  }

  // --- d17 bitmask plan ≡ the self-join reference shape ---------------

  test("d17 bitmask overlap ≡ distinct+self-join reference at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.dedup.Dedup.d17CrossSourceOverlap(spark, sf)
      .collect().toSeq.map(_.toString).sorted
    val sh = graft.functions.Shingles.kgramRows(
        graft.io.Tables.documents(spark, sf), Seq("source"), k = 3)
      .distinct()
    val counts = sh.groupBy($"source").agg(count(lit(1)).as("n"))
    val want = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(counts.select($"source".as("src_a"), $"n".as("n_a")), "src_a")
      .join(counts.select($"source".as("src_b"), $"n".as("n_b")), "src_b")
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_inter")
      .collect().toSeq.map(_.toString).sorted
    assert(got == want)
  }

  // --- t15 array pairing ≡ the window-lead reference shape ------------

  test("t15 arrays_zip bigram pairing ≡ posexplode+lead window at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.documents(spark, sf)
    val got = graft.text.TextOps.t15BigramLm(spark, sf)
      .collect().toSeq.map(_.toString).sorted
    // reference: the pre-round-12 window form, inlined
    val toks = docs
      .select($"doc_id", $"source", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .filter($"tok" =!= "")
    val bigrams = toks
      .withColumn("next", lead($"tok", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id").orderBy($"pos")))
      .filter($"next".isNotNull)
    val train = bigrams.filter($"source" === "src0")
    val c12 = train.groupBy($"tok", $"next").agg(count(lit(1)).as("c12"))
    val c1 = toks.filter($"source" === "src0")
      .groupBy($"tok").agg(count(lit(1)).as("c1"))
    val model = c12.join(c1, "tok")
      .select($"tok", $"next",
        round(log($"c12".cast("double") / $"c1") * 1e6).cast("bigint").as("lp_micro"))
    val want = bigrams.join(model, Seq("tok", "next"), "left")
      .select($"doc_id", coalesce($"lp_micro", lit(-10000000L)).as("lp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lp").cast("bigint").as("sum_lp_micro"))
      .withColumn("low_quality",
        ($"sum_lp_micro" < $"n_bigrams" * -3000000L).cast("int"))
      .collect().toSeq.map(_.toString).sorted
    assert(got == want)
  }

  // --- r13 kernels ≡ their lambda reference spellings -----------------

  test("quant_i64 / affine_floor_f64 ≡ transform spellings (values, null scale, null elems, empty)") {
    graft.functions.NativeFunctions.register(spark)
    val gen = Gen.listOfN(16, Gen.chooseNum(-1e3, 1e3))
    val rows = samples(Gen.zip(gen, Gen.chooseNum(0.01, 50.0)), 120)
      .map { case (a, sc) => (a.toArray, sc) }
    val df = rows.toDF("v", "scale")
      .select(
        call_function("quant_i64", $"v", $"scale").as("nq"),
        expr("transform(v, x -> cast(floor(x / scale + 0.5d) AS bigint))").as("hq"),
        call_function("affine_floor_f64", $"v", $"scale").as("na"),
        expr("transform(v, x -> CAST(floor(x * scale + 0.5d) AS DOUBLE))").as("ha"))
    assert(df.collect().forall(r => r.getSeq[Long](0) == r.getSeq[Long](1) &&
      r.getSeq[Double](2) == r.getSeq[Double](3)))
    // dirty cases: NULL scale → array of null slots (length preserved),
    // null element → null slot, empty array → empty array
    val dirty = spark.sql(
      """SELECT
           quant_i64(array(1D, 2D), CAST(NULL AS DOUBLE)) AS nq,
           transform(array(1D, 2D), x -> cast(floor(x / CAST(NULL AS DOUBLE) + 0.5d) AS bigint)) AS hq,
           quant_i64(array(1D, CAST(NULL AS DOUBLE)), 2D) AS nq2,
           transform(array(1D, CAST(NULL AS DOUBLE)), x -> cast(floor(x / 2D + 0.5d) AS bigint)) AS hq2,
           quant_i64(CAST(array() AS array<double>), 2D) AS nq3,
           affine_floor_f64(array(1D, 2D), CAST(NULL AS DOUBLE)) AS na,
           size(quant_i64(array(1D, 2D), CAST(NULL AS DOUBLE))) AS dim_null_scale""").collect()(0)
    assert(dirty.getSeq[Any](0) == Seq(null, null) && dirty.getSeq[Any](0) == dirty.getSeq[Any](1))
    assert(dirty.getSeq[Any](2) == Seq(1L, null) && dirty.getSeq[Any](2) == dirty.getSeq[Any](3))
    assert(dirty.getSeq[Any](4) == Seq())
    assert(dirty.getSeq[Any](5) == Seq(null, null))
    assert(dirty.getInt(6) == 2, "s5's dim column must survive a NULL scale")
  }

  test("sum_i64 / sum_f64 ≡ aggregate folds (bit-exact; NULL elem → NULL)") {
    graft.functions.NativeFunctions.register(spark)
    val genL = Gen.listOfN(16, Gen.chooseNum(-1000000L, 1000000L))
    val genD = Gen.listOfN(16, Gen.chooseNum(-1e3, 1e3))
    val rows = samples(Gen.zip(genL, genD), 120).map { case (l, d) => (l.toArray, d.toArray) }
    val df = rows.toDF("ql", "qd")
      .select(call_function("sum_i64", $"ql").as("nl"),
        expr("aggregate(ql, 0L, (a, x) -> a + x)").as("hl"),
        call_function("sum_f64", $"qd").as("nd"),
        expr("aggregate(qd, 0D, (a, x) -> a + x)").as("hd"))
    assert(df.collect().forall { r =>
      r.getLong(0) == r.getLong(1) &&
        java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(3))
    })
    val dirty = spark.sql(
      """SELECT sum_i64(array(1L, CAST(NULL AS BIGINT))) AS a,
                sum_f64(array(1D, CAST(NULL AS DOUBLE))) AS b,
                sum_i64(CAST(array() AS array<bigint>)) AS c""").collect()(0)
    assert(dirty.isNullAt(0) && dirty.isNullAt(1) && dirty.getLong(2) == 0L)
  }

  test("phash_ascii ≡ the nested transform/aggregate aHash spelling") {
    graft.functions.NativeFunctions.register(spark)
    val bits = graft.multimodal.Binary.PhashBits
    val edge = Seq("", "a", "ab", "abcdefghijklmnop", "abcdefghijklmnopq",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "zzzzaaaazzzzaaaazzzzaaaa",
      " leading and trailing ", "é-unicode-χαρακτήρες-混合")
    val rand = samples(Gen.listOfN(40,
      Gen.oneOf(('a' to 'z') ++ ('0' to '9') ++ Seq(' ', '.', ','))).map(_.mkString), 80)
    val df = (edge ++ rand).zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      .withColumn("n", length($"text"))
      .withColumn("seg_len", ceil($"n" / lit(bits.toDouble)).cast("int"))
      .withColumn("segs", expr(
        s"""transform(sequence(0, ${bits - 1}), j -> named_struct(
              'sb', greatest(least((j + 1) * seg_len, n) - j * seg_len, 0),
              'ss', CASE WHEN j * seg_len < n
                    THEN aggregate(sequence(j * seg_len, least((j + 1) * seg_len, n) - 1),
                         0L, (acc, k) -> acc + ascii(substring(text, k + 1, 1)))
                    ELSE 0L END))"""))
      .withColumn("total", expr("aggregate(segs, 0L, (acc, x) -> acc + x.ss)"))
      .select($"id",
        call_function("phash_ascii", $"text", lit(bits)).as("native"),
        expr(
          s"""aggregate(transform(sequence(0, ${bits - 1}), j ->
                CASE WHEN segs[j].sb > 0 AND segs[j].ss * n >= total * segs[j].sb
                     THEN shiftleft(1L, j) ELSE 0L END), 0L, (acc, x) -> acc + x)""").as("hof"))
    assert(df.collect().forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("t4 arrays_zip shingle-min ≡ the index-lambda spelling at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.text.TextOps.t4Fingerprint(spark, sf)
      .collect().toSeq.map(_.toString)
    val want = graft.io.Tables.documents(spark, sf).select($"doc_id", $"text",
        md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("fingerprint"),
        array_min(expr(
          """CASE WHEN size(split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ')) >= 3
               THEN transform(
                 sequence(0, size(split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ')) - 3),
                 i -> md5(concat(
                   split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ')[i], ' ',
                   split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ')[i+1], ' ',
                   split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ')[i+2])))
               ELSE array(md5(lower(trim(regexp_replace(text, '\\s+', ' '))))) END"""))
          .as("min_shingle_fp"))
      .select($"doc_id", $"fingerprint", $"min_shingle_fp")
      .orderBy($"doc_id").collect().toSeq.map(_.toString)
    assert(got == want)
  }

  // --- NULL contract: kernels ≡ HOF folds on dirty inputs -------------
  // (ADVICE round-12: null slots read as 0 would make a zero vector's
  // cosq = dot/0 → NaN, which desc-sorts HIGHEST — silent top-rank.)

  test("kernels propagate NULL on null elements and length mismatch (≡ HOF folds)") {
    graft.functions.NativeFunctions.register(spark)
    val r = spark.sql(
      """SELECT
           dot_f64(array(1D, CAST(NULL AS DOUBLE), 3D), array(1D, 2D, 3D)) AS d_nul,
           aggregate(zip_with(array(1D, CAST(NULL AS DOUBLE), 3D), array(1D, 2D, 3D),
             (x, y) -> x * y), 0D, (a, z) -> a + z) AS d_nul_hof,
           dot_f64(array(1D, 2D), array(1D, 2D, 3D)) AS d_mis,
           aggregate(zip_with(array(1D, 2D), array(1D, 2D, 3D),
             (x, y) -> x * y), 0D, (a, z) -> a + z) AS d_mis_hof,
           l2sq_f64(array(1D, 2D), array(CAST(NULL AS DOUBLE), 2D)) AS l_nul,
           aggregate(zip_with(array(1D, 2D), array(CAST(NULL AS DOUBLE), 2D),
             (x, y) -> (x - y) * (x - y)), 0D, (a, z) -> a + z) AS l_nul_hof,
           l2sq_f64(array(1D), array(1D, 2D)) AS l_mis,
           dot_i64(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS i_nul,
           aggregate(zip_with(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L),
             (x, y) -> x * y), 0L, (a, z) -> a + z) AS i_nul_hof,
           dot_i64(array(1L, 2L, 3L), array(1L, 2L)) AS i_mis,
           dot_f64(array(1D, 2D), array(3D, 4D)) AS d_ok""").collect()(0)
    (0 until 10).foreach(i => assert(r.isNullAt(i), s"column $i should be NULL"))
    assert(r.getDouble(10) == 11.0) // clean inputs unchanged
  }

  test("kernels propagate NULL in the interpreted path too (nullSafeEval)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val at = ArrayType(LongType, containsNull = true)
    val ad = ArrayType(DoubleType, containsNull = true)
    def lit(v: Any, t: ArrayType) = Literal.create(v, t)
    assert(graft.functions.DotI64(
      lit(Seq[Any](1L, null), at), lit(Seq[Any](1L, 2L), at)).eval(null) == null)
    assert(graft.functions.DotI64(
      lit(Seq[Any](1L), at), lit(Seq[Any](1L, 2L), at)).eval(null) == null)
    assert(graft.functions.DotF64(
      lit(Seq[Any](1.0, null), ad), lit(Seq[Any](1.0, 2.0), ad)).eval(null) == null)
    assert(graft.functions.L2SqF64(
      lit(Seq[Any](1.0, 2.0), ad), lit(Seq[Any](1.0), ad)).eval(null) == null)
    assert(graft.functions.DotI64(
      lit(Seq[Any](2L, 3L), at), lit(Seq[Any](4L, 5L), at)).eval(null) == 23L)
  }

  test("bitmask_indices ≡ filter/transform HOF decode (multi-word, edges, null word)") {
    graft.functions.NativeFunctions.register(spark)
    // random masks up to 4 words, plus edges: empty, zero words,
    // all-ones, single high bit, word-boundary bits
    val rand = samples(Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue))), 120)
    val edges: Seq[Seq[Long]] = Seq(
      Seq(), Seq(0L), Seq(0L, 0L, 0L), Seq(-1L), Seq(-1L, -1L),
      Seq(1L << 63), Seq(0L, 1L), Seq(Long.MinValue, Long.MaxValue))
    val df = (edges ++ rand).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.toArray) }.toDF("id", "words")
    val rows = df.select($"id",
      call_function("bitmask_indices", $"words").as("native"),
      expr("""CASE WHEN size(words) = 0 THEN array()
              ELSE filter(transform(sequence(0, size(words) * 64 - 1),
                     i -> CASE WHEN (shiftright(element_at(words, CAST(i DIV 64 AS INT) + 1),
                                     CAST(i % 64 AS INT)) & 1) = 1 THEN i END),
                   x -> x IS NOT NULL) END""").as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"mask id ${r.getLong(0)}")
    }
    // a null WORD slot must refuse (NULL), not silently drop 64 sources
    // (which is what the HOF spelling's null-dropping filter would do)
    val nul = spark.sql(
      "SELECT bitmask_indices(array(1L, CAST(NULL AS BIGINT))) AS x").collect()(0)
    assert(nul.isNullAt(0))
    assert(graft.functions.BitmaskIndices(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq[Any](1L, null),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true)))
      .eval(null) == null, "interpreted path must refuse null words too")
  }

  test("every native kernel's doGenCode COMPILES — no silent interpreted fallback") {
    // Spark catches Janino compile errors from bad generated code and
    // silently re-runs the stage interpreted, so a value-equality test
    // alone cannot distinguish "codegen'd kernel" from "broken codegen
    // + fallback" (this caught a wrong UnsafeArrayData package in
    // bitmask_indices that every value test sailed through).
    // GenerateUnsafeProjection.generate THROWS on a compile error.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
    import graft.functions._
    val aL = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true)
    val bL = BoundReference(1, ArrayType(LongType, containsNull = false), nullable = true)
    val aD = BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true)
    val bD = BoundReference(1, ArrayType(DoubleType, containsNull = false), nullable = true)
    val sD = BoundReference(1, DoubleType, nullable = true)
    val txt = BoundReference(0, StringType, nullable = true)
    val kernels: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
      "dot_f64" -> DotF64(aD, bD),
      "l2sq_f64" -> L2SqF64(aD, bD),
      "dot_i64" -> DotI64(aL, bL),
      "quant_i64" -> QuantI64(aD, sD),
      "affine_floor_f64" -> AffineFloorF64(aD, sD),
      "sum_i64" -> SumI64(aL),
      "sum_f64" -> SumF64(aD),
      "phash_ascii" -> PhashAscii(txt, 64),
      "bitmask_indices" -> BitmaskIndices(aL),
      "simhash_words" -> SimhashWords(txt, 128),
      "md5_prefix" -> Md5Prefix(txt, 15),
      "token_profile" -> TokenProfile(txt))
    kernels.foreach { case (name, e) =>
      val proj = GenerateUnsafeProjection.generate(Seq(e)) // throws if codegen is broken
      assert(proj != null, name)
    }
    // and the compiled bitmask_indices actually computes
    val proj = GenerateUnsafeProjection.generate(Seq(BitmaskIndices(aL)))
    val got = proj(InternalRow(new GenericArrayData(Array(5L, 1L)), null))
      .getArray(0).toIntArray.toSeq
    assert(got == Seq(0, 2, 64))
  }

  test("simhash_words ≡ the retired explode/groupBy md5-vote spelling (bits 16/64/128)") {
    graft.functions.NativeFunctions.register(spark)
    // the r12 SQL spelling, verbatim minus its repartition (a pure
    // distribution hint — values are unaffected), over real corpus
    // text plus the tokenizer edges
    def reference(docs: org.apache.spark.sql.DataFrame, bits: Int) = {
      val groups = (bits + 31) / 32
      val tok0 = docs
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .filter($"tok" =!= "")
        .dropDuplicates("doc_id", "tok")
      val tok = (0 until groups).foldLeft(tok0) { (df, g) =>
        df.withColumn(s"h$g", if (g == 0) md5($"tok") else md5(concat(lit(s"$g:"), $"tok")))
      }
      val nChunks = (bits + 7) / 8
      val chunked = (0 until nChunks).foldLeft(tok) { (df, c) =>
        df.withColumn(s"c$c",
          conv(substring(col(s"h${c / 4}"), (c % 4) * 8 + 1, 8), 16, 10).cast("long"))
      }
      val votes = (0 until bits).map { j =>
        val c = (j / 32) * 4 + (j % 32) / 8
        val shift = (7 - j % 8) * 4 + 3
        sum(shiftrightunsigned(col(s"c$c"), shift).bitwiseAND(1) * 2 - 1).as(s"v$j")
      }
      def word(w: Int) = {
        val lo = 64 * w
        (lo until math.min(bits, lo + 64))
          .map(j => when(col(s"v$j") >= 0, lit(1L << (j - lo))).otherwise(0L))
          .reduce(_ + _).as(s"w$w")
      }
      chunked.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
        .select($"doc_id" +: (0 until (bits + 63) / 64).map(word): _*)
    }
    val real = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").limit(300)
    val edges = Seq(
      (100001L, "a"), (100002L, "a a a"), (100003L, "a  b  a"),
      (100004L, " leading and trailing "), (100005L, "x y x y x"),
      (100006L, "unicode tøken prøve tøken"))
      .toDF("doc_id", "text")
    val docs = real.unionAll(edges).cache()
    for (bits <- Seq(16, 64, 128)) {
      val nw = (bits + 63) / 64
      val kernel = docs.select($"doc_id",
          call_function("simhash_words", $"text", lit(bits)).as("words"))
        .filter($"words".isNotNull)
        .select($"doc_id" +: (0 until nw).map(w => $"words".getItem(w).as(s"w$w")): _*)
      val want = reference(docs, bits).collect().map(_.toString).sorted.toSeq
      val got = kernel.collect().map(_.toString).sorted.toSeq
      assert(got == want, s"bits=$bits")
    }
    // no-token docs return NULL (the old spelling dropped them); the
    // fingerprint builders filter on it
    val empt = docs.sparkSession.createDataFrame(Seq((1L, ""), (2L, "   "), (3L, "a")))
      .toDF("doc_id", "text")
      .select($"doc_id", call_function("simhash_words", $"text", lit(16)).as("words"))
      .collect().sortBy(_.getLong(0))
    assert(empt(0).isNullAt(1) && empt(1).isNullAt(1) && !empt(2).isNullAt(1))
    docs.unpersist()
  }

  test("md5_prefix ≡ conv(substring(md5(x), 1, n), 16, 10) for n = 1..15, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    graft.functions.NativeFunctions.register(spark)
    val rand = samples(Gen.choose(0, 24).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaNumChar.map(_.toString),
        Gen.oneOf(" ", "|", "é", "ø", "ß", "中", "文", "😀", "\u0000")))
      .map(_.mkString)), 500)
    val texts: Seq[String] = Seq(null, "", "a", "split:17", "tøken 中文 😀") ++ rand
    val digits = 1 to 15
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "x")
      .repartition(2) // a Project over a LocalRelation would be folded interpreted
    val rows = df.select($"id" +: digits.flatMap(n => Seq(
        conv(substring(md5($"x"), 1, n), 16, 10).cast("bigint").as(s"want$n"),
        call_function("md5_prefix", $"x", lit(n)).as(s"got$n"))): _*)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == texts.length)
    val x = BoundReference(0, StringType, nullable = true)
    val compiled = digits.map(n =>
      GenerateUnsafeProjection.generate(Seq(graft.functions.Md5Prefix(x, n))))
    rows.foreach { r =>
      val t = texts(r.getInt(0))
      val in = InternalRow(if (t == null) null else UTF8String.fromString(t))
      digits.foreach { n =>
        val want = if (r.isNullAt(2 * n - 1)) null else r.getLong(2 * n - 1)
        val got = if (r.isNullAt(2 * n)) null else r.getLong(2 * n)
        assert(got == want, s"whole-stage n=$n x=$t")
        val out = compiled(n - 1)(in)
        assert((if (out.isNullAt(0)) null else out.getLong(0)) == want, s"codegen n=$n x=$t")
        assert(graft.functions.Md5Prefix(x, n).eval(in) == want, s"nullSafeEval n=$n x=$t")
      }
    }
    assert(rows.head.isNullAt(1) && rows.head.isNullAt(2), "NULL in must be NULL out")
  }

  test("md5_prefix refuses a non-foldable or out-of-range width at analysis, naming itself") {
    graft.functions.NativeFunctions.register(spark)
    val df = Seq(("a", 2)).toDF("x", "n")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    for (n <- Seq($"n", lit(0), lit(16), lit(null).cast("int"))) {
      val e = intercept[Exception](df.select(call_function("md5_prefix", $"x", n)))
      assert(messages(e).contains("md5_prefix"), s"width $n: ${messages(e)}")
    }
  }

  test("token_profile ≡ the explode/groupBy verdict spelling, whole-stage, compiled and interpreted") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val stop = graft.text.TextOps.Stopwords
    // the retired qualityVerdict aggregates, verbatim over (id, text)
    def reference(docs: org.apache.spark.sql.DataFrame) =
      docs.select($"id", explode(split($"text", " ")).as("tok")).filter($"tok" =!= "")
        .groupBy($"id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"id").agg(sum($"c").as("n_tokens"), max($"c").as("top_c"),
          sum(length($"tok") * $"c").as("sum_chars"),
          sum(when($"tok".isin(stop: _*), $"c").otherwise(0L)).as("stop_hits"))
    val edges = Seq(null, "", " ", "   ", "a  b", "  a b  ", "a\tb c", // empty, spaces, tab
      "tøken 中文 😀 tøken", "é é ß", // multibyte
      (0 until 5000).map(i => s"w${i % 4999}").mkString(" "), // outgrows the reused scratch map
      "x y x y z", "b a b a", // tied top tokens
      "a a", "an", "the an a", "and to of", "thee a_ an the", "THE The the")
    val rand = samples(Gen.choose(0, 40).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.oneOf(stop), Gen.oneOf("", " ", "an", "ab", "ø", "中", "😀", "x"),
        Gen.alphaStr.map(_.take(6))))
      .map(_.mkString(" "))), 500)
    val texts = edges ++ rand
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      .repartition(2) // a Project over a LocalRelation would be folded interpreted
    val want = reference(df).collect().map(r => r.getInt(0) -> (1 to 4).map(r.getLong)).toMap
    val got = df.select($"id", graft.functions.TokenProfile.column(spark, $"text").as("p"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some((0 to 3).map(r.getStruct(1).getLong)))).toMap
    assert(got.size == texts.size)
    val x = BoundReference(0, StringType, nullable = true)
    val compiled = GenerateUnsafeProjection.generate(Seq(graft.functions.TokenProfile(x)))
    texts.zipWithIndex.foreach { case (t, i) =>
      val w = want.get(i)
      assert(got(i) == w, s"whole-stage text=[$t]")
      val in = InternalRow(if (t == null) null else UTF8String.fromString(t))
      val out = compiled(in)
      assert((if (out.isNullAt(0)) None else Some((0 to 3).map(out.getStruct(0, 4).getLong))) == w,
        s"compiled text=[$t]")
      val ev = graft.functions.TokenProfile(x).eval(in).asInstanceOf[InternalRow]
      assert(Option(ev).map(r => (0 to 3).map(r.getLong)) == w, s"nullSafeEval text=[$t]")
    }
    assert(Seq(null, "", " ", "   ").forall(t => !want.contains(texts.indexOf(t))),
      "the reference keeps no token-free text")
    // a caller that rewrites its buffer between rows is profiled afresh
    val buf = "a a".getBytes("UTF-8")
    val row = InternalRow(UTF8String.fromBytes(buf))
    assert(compiled(row).getStruct(0, 4).getLong(1) == 2L)
    buf(2) = 'b'.toByte
    assert(compiled(row).getStruct(0, 4).getLong(1) == 1L, "the last-text memo served a stale profile")
  }

  test("s10 zero-vector: the quantization chain yields NULL qq, never 0/NaN") {
    graft.functions.NativeFunctions.register(spark)
    // the exact s5/s10 spelling: amax = 0 → scale NULL via nullif →
    // q = all-null array → dot_i64(q, q) must be NULL (desc-sorts LAST),
    // not 0 (which made cosq = dot/sqrt(0) → NaN, desc-sorting FIRST)
    val r = spark.sql(
      """SELECT dot_i64(q, q) AS qq FROM (
           SELECT transform(v, x -> cast(floor(x / scale + 0.5d) AS bigint)) AS q
           FROM (SELECT v, nullif(array_max(transform(v, x -> abs(x))), 0.0d) / 127.0 AS scale
                 FROM (SELECT array(0D, 0D, 0D, 0D) AS v)))""").collect()(0)
    assert(r.isNullAt(0), "zero-vector self-dot must be NULL, got " + r)
  }
}
