package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Round-13 additions to the native-kernel family (see
  * [[DotF64]] for the rationale): elementwise array maps that the
  * similarity/multimodal tiers previously spelled as
  * `transform(arr, x -> …)` lambdas on CORPUS-SIZED projections.
  * Higher-order functions are CodegenFallback — the per-element lambda
  * dispatch runs interpreted, and interpreted eval does no
  * subexpression elimination — so each of these carries the exact HOF
  * semantics (null element → null element; the whole-array fold forms
  * propagate NULL like `aggregate` does) into a compiled loop, one
  * static call per row from within whole-stage codegen.
  *
  * Every kernel is pinned value-identical to its lambda reference
  * spelling (clean + null cases) in CodegenKernelsSpec; PlanSpec's
  * codegen audit enforces that the lambda forms never come back.
  */
object Quant {
  /** transform(arr, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) —
    * s5/s10's int8 quantization. scale NULL → every element NULL
    * (length preserved), exactly the lambda's behavior on a zero
    * vector's nullif'd scale. Precondition |x/scale| < 2^63 (holds by
    * construction: scale = absmax/127 bounds the ratio to ±127).
    *
    * HONEST NEGATIVE (r13 review follow-up, measured): a "clean path"
    * that fills a primitive array and returns
    * UnsafeArrayData.fromPrimitiveArray — the obvious
    * boxing-elimination — is NOT faster here. Interleaved fresh-JVM
    * A/B at sf10: s12 (affine_floor per Lloyd round over the 2 M-row
    * corpus) regressed 4.97-5.07 s → 5.89-6.02 s on the Unsafe path
    * and recovered on revert; s10 (quant_i64) was a wash (8.78 vs
    * 8.74 s). The boxed Object[] rows are small (64 elems), die in
    * TLAB, and JIT-inline well in the consuming kernels, while
    * fromPrimitiveArray pays a second allocation + copyMemory per
    * row. Keep the one boxed path; re-measure before "optimizing"
    * this again. */
  def quantI64(arr: ArrayData, scale: Double, scaleNull: Boolean): ArrayData = {
    val n = arr.numElements()
    val boxed = new Array[Any](n)
    var i = 0
    while (i < n) {
      boxed(i) =
        if (scaleNull || arr.isNullAt(i)) null
        else java.lang.Long.valueOf(math.floor(arr.getDouble(i) / scale + 0.5).toLong)
      i += 1
    }
    new GenericArrayData(boxed)
  }

  /** transform(arr, x -> CAST(floor(x * scale + 0.5) AS DOUBLE)) —
    * s12's integer-quantized k-means corpus (values carried as
    * exactly-representable doubles so dot_f64 applies). Boxed path by
    * measurement — see [[quantI64]]'s honest negative. */
  def affineFloorF64(arr: ArrayData, scale: Double, scaleNull: Boolean): ArrayData = {
    val n = arr.numElements()
    val boxed = new Array[Any](n)
    var i = 0
    while (i < n) {
      boxed(i) =
        if (scaleNull || arr.isNullAt(i)) null
        else java.lang.Double.valueOf(math.floor(arr.getDouble(i) * scale + 0.5))
      i += 1
    }
    new GenericArrayData(boxed)
  }

  /** The m7 aHash in one compiled pass: text split into `bits`
    * segments of ceil(n/bits) code points, bit j set iff segment j's
    * code-point sum ≥ the whole-payload mean (integer cross-multiply,
    * no division) — value-identical to the nested
    * transform/aggregate/ascii(substring) spelling, which evaluated
    * O(chars) interpreted lambda calls per document. Code points
    * match `ascii(substring(text, k+1, 1))` per character. */
  def phashAscii(t: UTF8String, bits: Int): Long = {
    val cps = t.toString.codePoints().toArray
    val n = cps.length
    val segLen = math.ceil(n.toDouble / bits).toInt
    val ss = new Array[Long](bits)
    val sb = new Array[Int](bits)
    var j = 0
    var total = 0L
    while (j < bits) {
      val lo = j * segLen
      val hi = math.min((j + 1) * segLen, n)
      sb(j) = math.max(hi - lo, 0)
      var s = 0L
      var k = lo
      while (k < hi) { s += cps(k); k += 1 }
      ss(j) = s
      total += s
      j += 1
    }
    var h = 0L
    j = 0
    while (j < bits) {
      if (sb(j) > 0 && ss(j) * n >= total * sb(j)) h |= 1L << j
      j += 1
    }
    h
  }
}

/** Shared shape of the two elementwise affine array kernels. NOT
  * null-safe on the scale side: a NULL scale must yield an array of
  * NULL elements (length preserved), not a NULL array — that is what
  * the `transform` lambda does, and s5's `dim` audit column reads
  * `size(q)` off it. Result is NULL iff the ARRAY input is NULL. */
abstract class ElementwiseAffineKernel extends BinaryExpression {
  protected def helperName: String // static method on graft.functions.Quant

  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, double), got (${l.simpleString}, ${r.simpleString})")
    }

  protected def compute(arr: ArrayData, scale: Double, scaleNull: Boolean): ArrayData

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null
    else {
      val sv = right.eval(input)
      if (sv == null) compute(a.asInstanceOf[ArrayData], 0.0, scaleNull = true)
      else compute(a.asInstanceOf[ArrayData], sv.asInstanceOf[Double], scaleNull = false)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${leftGen.code}
      boolean ${ev.isNull} = ${leftGen.isNull};
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) {
        ${rightGen.code}
        ${ev.value} = graft.functions.Quant.$helperName(
          ${leftGen.value}, ${rightGen.value}, ${rightGen.isNull});
      }""")
  }
}

/** `quant_i64(arr, scale)` — see [[Quant.quantI64]]. */
case class QuantI64(left: Expression, right: Expression)
    extends ElementwiseAffineKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "quant_i64"
  override protected def helperName: String = "quantI64"
  override protected def compute(arr: ArrayData, scale: Double, scaleNull: Boolean): ArrayData =
    Quant.quantI64(arr, scale, scaleNull)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `affine_floor_f64(arr, scale)` — see [[Quant.affineFloorF64]]. */
case class AffineFloorF64(left: Expression, right: Expression)
    extends ElementwiseAffineKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "affine_floor_f64"
  override protected def helperName: String = "affineFloorF64"
  override protected def compute(arr: ArrayData, scale: Double, scaleNull: Boolean): ArrayData =
    Quant.affineFloorF64(arr, scale, scaleNull)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sequential element sum over `array<bigint>` — replaces
  * `aggregate(q, 0L, (a, x) -> a + x)`. NULL element / NULL array →
  * NULL, like the fold. Exact integer arithmetic. */
case class SumI64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sum_i64"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sum_i64 expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      acc += x.getLong(i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sequential element sum over `array<double>` in index order —
  * bit-identical to `aggregate(arr, 0D, (a, x) -> a + x)`. NULL
  * element / NULL array → NULL, like the fold. */
case class SumF64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sum_f64"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sum_f64 expects array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      acc += x.getDouble(i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `phash_ascii(text, bits)` — see [[Quant.phashAscii]]. `bits` must
  * be a foldable positive int ≤ 64 (plan-time constant). */
case class PhashAscii(child: Expression, bits: Int) extends UnaryExpression {
  require(bits > 0 && bits <= 64, s"phash bits $bits must be in 1..64")
  override def dataType: DataType = LongType
  override def prettyName: String = "phash_ascii"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"phash_ascii expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    Quant.phashAscii(a.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Quant.phashAscii($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
