package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** `token_profile(text)` → `struct<n_tokens, top_c, sum_chars,
  * stop_hits>` (all bigint): the token-frequency summary the t18
  * quality rules read, computed in one pass over the row's UTF-8 bytes.
  *
  * Value-identical to the explode/groupBy spelling over valid UTF-8:
  * tokens are the non-empty segments of `split(text, ' ')`;
  * `n_tokens` counts them, `top_c` is the count of the most frequent
  * one, `sum_chars` sums their lengths in characters (Spark's `length`,
  * not bytes) and `stop_hits` counts the occurrences that equal one of
  * `TextOps.Stopwords`. A text with no tokens (or NULL) returns NULL —
  * the explode spelling dropped such documents, so callers filter
  * `isNotNull` to keep that boundary.
  *
  * WHY a kernel: the summary is row-local, yet the explode →
  * groupBy(doc, tok) → groupBy(doc) spelling shuffled the raw token
  * stream twice, the same case [[SimhashWords]] makes. In-row the
  * verdict runs inside the scan stage with no exchange.
  */
object TokenProfile {
  val schema: StructType = StructType(
    Seq("n_tokens", "top_c", "sum_chars", "stop_hits")
      .map(StructField(_, LongType, nullable = false)))

  private val stopwords: Array[Array[Byte]] =
    graft.text.TextOps.Stopwords.map(_.getBytes(UTF_8)).toArray

  /** A scratch map that held more distinct tokens than this is dropped
    * rather than cleared: `HashMap.clear` walks the whole table, which
    * never shrinks, so one long document would tax every later row. */
  private val MaxReusedTokens = 4096

  /** Per-thread scratch: the token → count map (reused per row), and
    * the last text profiled with its result. */
  private final class Scratch {
    var counts = new java.util.HashMap[java.nio.ByteBuffer, Array[Long]]()
    var lastBytes: Array[Byte] = _
    var lastProfile: InternalRow = _
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue() = new Scratch
  }

  private def isStopword(b: Array[Byte], start: Int, end: Int): Boolean =
    stopwords.exists(w => w.length == end - start &&
      java.util.Arrays.equals(w, 0, w.length, b, start, end))

  /** Null iff the text has no non-empty tokens.
    *
    * A repeat of the thread's previous text returns the previous result
    * after one byte compare. A filter over the profile calls the
    * kernel once per field it reads: Catalyst inlines the projected
    * alias into the predicate when it pushes the filter below the
    * projection, and a whole-stage Filter does no subexpression
    * elimination (a 3-field gate compiled to 3 calls). */
  def profile(text: UTF8String): InternalRow = {
    val sc = scratch.get()
    val last = sc.lastBytes
    if (last != null && last.length == text.numBytes && ByteArrayMethods.arrayEquals(
        text.getBaseObject, text.getBaseOffset, last, Platform.BYTE_ARRAY_OFFSET, last.length))
      return sc.lastProfile
    // kept as the next call's key, so never the caller's own array
    val bytes = { val b = text.getBytes; if (b eq text.getBaseObject) b.clone() else b }
    val n = bytes.length
    if (sc.counts.size > MaxReusedTokens) sc.counts = new java.util.HashMap()
    else sc.counts.clear()
    val seen = sc.counts
    var nTokens, topC, sumChars, stopHits = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start) {
          nTokens += 1
          val c = seen.computeIfAbsent(java.nio.ByteBuffer.wrap(bytes, start, i - start),
            _ => new Array[Long](1))
          c(0) += 1
          if (c(0) > topC) topC = c(0)
          // UTF8String.numChars over the token's bytes
          var j = start
          while (j < i) { j += UTF8String.numBytesForFirstByte(bytes(j)); sumChars += 1 }
          if (isStopword(bytes, start, i)) stopHits += 1
        }
        start = i + 1
      }
      i += 1
    }
    sc.lastBytes = bytes
    sc.lastProfile =
      if (nTokens == 0) null
      else new GenericInternalRow(Array[Any](nTokens, topC, sumChars, stopHits))
    sc.lastProfile
  }

  /** `token_profile(text)` on `s`, registering graft's native functions
    * there first. */
  def column(s: SparkSession, text: Column): Column = {
    NativeFunctions.register(s)
    call_function("token_profile", text)
  }
}

/** See [[TokenProfile$]]. */
case class TokenProfile(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TokenProfile.schema
  override def nullable: Boolean = true
  override def prettyName: String = "token_profile"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_profile expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = TokenProfile.profile(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.TokenProfile.profile($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
