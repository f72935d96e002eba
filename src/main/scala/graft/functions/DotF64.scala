package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Shared shape of the three native array-fold kernels: typed
  * array-pair input check plus the NULL contract that makes each
  * kernel VALUE-IDENTICAL to the lambda-HOF fold it replaced, on all
  * inputs (not just the clean ones):
  *
  *   - mismatched lengths → NULL. `zip_with` pads the shorter array
  *     with nulls, the padded product is null, and `aggregate`'s `+`
  *     folds null in → null; the `sequence(0, dim-1)`-indexed spelling
  *     reads `q[i]` out of range → null → same. A silent min-length
  *     truncation here (the pre-round-13 behavior) was a latent
  *     divergence for any SQL consumer of the registered functions.
  *   - a null ELEMENT in either array → NULL, same fold argument.
  *     This is what keeps s10 honest on zero vectors: an all-zero
  *     embedding makes the quantization scale NULL via `nullif`, so q
  *     is an array of null slots — the HOF fold returned NULL qq/cosq
  *     (and NULLs sort LAST under desc), whereas reading null slots as
  *     0 would make cosq = dot/0 → NaN, which Spark orders HIGHEST
  *     under desc: the zero vector would silently top-rank for every
  *     query. The kernels therefore propagate NULL; pinned with null
  *     cases in CodegenKernelsSpec.
  *
  * The per-element null check is only generated when either input's
  * ArrayType says `containsNull` — the embeddings hot path reads
  * parquet arrays, so the check is a bitset probe per slot and the
  * branch is never-taken/perfectly predicted on real corpora.
  */
trait ArrayFoldKernel { self: BinaryExpression =>
  // Result can be NULL even for non-null inputs (null slot / length
  // mismatch), so nullability must not derive from the children.
  override def nullable: Boolean = true

  protected def elemType: DataType

  protected def mayHaveNullElems: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(e, _) => e == elemType
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<${elemType.simpleString}>, array<${elemType.simpleString}>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * WHY a custom Expression (the one place built-ins genuinely fall
  * short): the composable form `aggregate(zip_with(a, b, *), 0.0, +)`
  * is a higher-order function — HOFs are CodegenFallback in Spark, so
  * every similarity operator's innermost loop (|Q|·N·dim multiplies)
  * drops out of whole-stage codegen into interpreted lambda calls with
  * per-element closure dispatch. This expression generates the tight
  * Java loop instead and keeps the projection inside codegen.
  *
  * Accumulation is sequential in index order — bit-identical to the
  * HOF fold it replaces (and to the DuckDB oracle's list
  * comprehension), so swapping it in changes NO oracle output. Null
  * slots and length mismatch propagate NULL exactly like the fold —
  * see [[ArrayFoldKernel]].
  */
case class DotF64(left: Expression, right: Expression)
    extends BinaryExpression with ArrayFoldKernel {

  override def dataType: DataType = DoubleType
  override protected def elemType: DataType = DoubleType
  override def prettyName: String = "dot_f64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over two `array<double>` columns — sequential
  * Σ(xᵢ−yᵢ)² in index order, bit-identical to the HOF fold
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, +)` it
  * replaces (and to the oracle's list comprehension), including the
  * NULL cases ([[ArrayFoldKernel]]). Same rationale as [[DotF64]]:
  * HOFs are CodegenFallback, and this fold is the innermost loop of
  * the PQ assignment (corpus × codebook × sub-dim). */
case class L2SqF64(left: Expression, right: Expression)
    extends BinaryExpression with ArrayFoldKernel {

  override def dataType: DataType = DoubleType
  override protected def elemType: DataType = DoubleType
  override def prettyName: String = "l2sq_f64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i); acc += d * d; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    final double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product over two `array<bigint>` columns — sequential
  * Σ xᵢ·yᵢ (exact integer arithmetic, so order is irrelevant to the
  * value; sequential anyway for symmetry). Replaces the
  * `aggregate(sequence(0, dim-1), 0L, (a,i) -> a + q[i]*qa[i])`
  * fold — the per-pair hot loop of the int8-recall audit (corpus ×
  * query panel × dim), which as a HOF ran interpreted with TWO lambda
  * dispatches per element. NULL slots / length mismatch → NULL like
  * the fold ([[ArrayFoldKernel]]) — this is load-bearing for s10's
  * zero-vector rows, whose quantized q is an all-null array. */
case class DotI64(left: Expression, right: Expression)
    extends BinaryExpression with ArrayFoldKernel {

  override def dataType: DataType = LongType
  override protected def elemType: DataType = LongType
  override def prettyName: String = "dot_i64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |long $acc = 0L;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft's native SQL functions: ONE table, read by both install
  * paths — [[graft.GraftExtensions]] (`spark.sql.extensions`) injects
  * every row into new sessions, and [[register]] adds the rows a
  * session does not resolve yet, so an operator works without the
  * extension configured. */
object NativeFunctions {
  /** (name, implementing class, builder). */
  val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_f64", classOf[DotF64], e => DotF64(e(0), e(1))),
    ("l2sq_f64", classOf[L2SqF64], e => L2SqF64(e(0), e(1))),
    ("dot_i64", classOf[DotI64], e => DotI64(e(0), e(1))),
    ("quant_i64", classOf[QuantI64], e => QuantI64(e(0), e(1))),
    ("affine_floor_f64", classOf[AffineFloorF64], e => AffineFloorF64(e(0), e(1))),
    ("sum_i64", classOf[SumI64], e => SumI64(e(0))),
    ("sum_f64", classOf[SumF64], e => SumF64(e(0))),
    ("phash_ascii", classOf[PhashAscii],
      e => PhashAscii(e(0), foldableInt("phash_ascii", e(1)))),
    ("bitmask_indices", classOf[BitmaskIndices], e => BitmaskIndices(e(0))),
    ("simhash_words", classOf[SimhashWords],
      e => SimhashWords(e(0), foldableInt("simhash_words", e(1)))),
    ("md5_prefix", classOf[Md5Prefix],
      e => Md5Prefix(e(0), foldableInt("md5_prefix", e(1)))),
    ("token_profile", classOf[TokenProfile], e => TokenProfile(e(0))),
    ("bottom_k_sketch", classOf[graft.plans.BottomKSketch],
      e => graft.plans.Sketches.bottomK(e.head)),
    // Catalyst's own bloom-filter pair: Spark ships the expressions for
    // its runtime row-level filtering but does not register them; the
    // partial sketches merge map-side and the probe is codegen'd
    ("bloom_agg", classOf[BloomFilterAggregate], e => new BloomFilterAggregate(e(0), e(1), e(2))),
    ("bloom_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

  /** Registry seam for a width argument the kernel needs at plan
    * time: the SQL form must pass a foldable int. */
  private def foldableInt(fn: String, e: Expression): Int = e match {
    case other if other.foldable && other.dataType == IntegerType =>
      other.eval(null).asInstanceOf[Int]
    case other =>
      throw new IllegalArgumentException(
        s"$fn width must be a foldable int literal, got $other")
  }

  /** Registers the rows `s` does not resolve yet: a session built with
    * the extension, or already registered, is left untouched. */
  def register(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    table.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
