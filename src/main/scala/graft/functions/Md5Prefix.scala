package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5_prefix(x, n)` → bigint: the first `n` hex digits of md5(x)
  * read as an unsigned integer, i.e. the top 4·n bits of the digest.
  * Value-identical to `conv(substring(md5(x), 1, n), 16, 10)
  * .cast("bigint")` for n in 1..15 (NULL in, NULL out) — the seeded
  * md5 bucket of t7/t11/t12/x6 and q9's digest term.
  *
  * WHY a kernel: the composed spelling hex-encodes all 16 digest
  * bytes into a fresh 32-char string, cuts a substring and parses it
  * back through `conv`'s string path, per row. Here the UTF-8 bytes
  * are hashed straight into a reused 16-byte sink and the bits are
  * read off the digest — the same move [[SimhashWords]] made.
  */
object Md5Prefix {
  private[functions] val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Reused 16-byte digest sink (one per thread): no allocation per row. */
  private[functions] val sink = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  def prefix(x: UTF8String, digits: Int): Long = {
    val m = md.get()
    val d = sink.get()
    m.update(x.getByteBuffer) // wraps the row's bytes, no copy
    m.digest(d, 0, 16)
    var hi = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (d(i) & 0xffL); i += 1 }
    hi >>> (64 - 4 * digits)
  }

  /** `md5_prefix(x, digits)` on `s`, registering graft's native
    * functions there first. */
  def column(s: SparkSession, x: Column, digits: Int): Column = {
    NativeFunctions.register(s)
    call_function("md5_prefix", x, lit(digits))
  }
}

/** See [[Md5Prefix$]]. `digits` must be a foldable int in 1..15. */
case class Md5Prefix(child: Expression, digits: Int) extends UnaryExpression {
  require(digits >= 1 && digits <= 15, s"md5_prefix digits $digits must be in 1..15")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    Md5Prefix.prefix(a.asInstanceOf[UTF8String], digits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix.prefix($c, $digits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
