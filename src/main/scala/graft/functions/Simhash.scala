package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash_words(text, bits)` → `array<bigint>` of ⌈bits/64⌉ words —
  * the salted-md5 SimHash fingerprint of a document, computed entirely
  * WITHIN the row.
  *
  * Semantics are bit-for-bit the engine's original SQL spelling (and
  * therefore the DuckDB oracle): tokens are the non-empty segments of
  * `split(text, ' ')`, deduplicated per doc; each distinct token votes
  * ±1 on bit j by the TOP bit of hex nibble (j mod 32) of md5 digest
  * group (j div 32), where group 0 is the unsalted md5 and group
  * g ≥ 1 is md5("g:" ‖ token); bit j of the fingerprint is set iff
  * the vote sum is ≥ 0, packed little-endian (word w bit b ↔
  * j = 64·w + b, weight 2^b — bit 63 landing on the sign is exact
  * two's-complement, same as the old `1L << j` sum). A doc with NO
  * tokens returns NULL — the old explode+filter spelling dropped such
  * docs from the fingerprint table entirely, so callers filter
  * `isNotNull` to keep that boundary identical.
  *
  * WHY a kernel: a document's tokens live in its own `text` column,
  * so the signature is row-local by construction — yet the
  * explode → repartition(doc_id) → dropDuplicates → groupBy spelling
  * shuffles the RAW TOKEN STREAM (the round-12 one-narrow-shuffle
  * design; ~corpus-sized — measured ~150 GB demand at 50 M docs /
  * ~20 B tokens, which physically cannot spill on this box). In-row
  * there is NO exchange at all before banding, and the banding
  * shuffle carries only (band, sig, doc_id). The per-token digest
  * work is unchanged; the hex-string `conv`/`substring` parsing is
  * replaced by direct digest-byte bit tests.
  */
object Simhash {
  /** Null iff the text has no non-empty tokens. */
  def words(text: UTF8String, bits: Int): ArrayData = {
    val groups = (bits + 31) / 32
    val bytes = text.getBytes
    val n = bytes.length
    val votes = new Array[Int](bits)
    val seen = new java.util.HashSet[java.nio.ByteBuffer]()
    val md = Md5Prefix.md.get()
    val d = Md5Prefix.sink.get() // ~1 G md.digest() allocations per B tokens otherwise
    var any = false
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start &&
            seen.add(java.nio.ByteBuffer.wrap(bytes, start, i - start))) {
          any = true
          var g = 0
          while (g < groups) {
            md.reset()
            if (g > 0) { md.update(('0' + g).toByte); md.update(':'.toByte) }
            md.update(bytes, start, i - start)
            md.digest(d, 0, 16)
            val base = g * 32
            val hi = math.min(bits, base + 32)
            var j = base
            while (j < hi) {
              val nib = j - base // hex-nibble index within this digest
              val bit = (d(nib >> 1) >> (if ((nib & 1) == 0) 7 else 3)) & 1
              votes(j) += (bit << 1) - 1
              j += 1
            }
            g += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    if (!any) return null
    val w = new Array[Long]((bits + 63) / 64)
    var j = 0
    while (j < bits) {
      if (votes(j) >= 0) w(j >> 6) |= 1L << (j & 63)
      j += 1
    }
    new GenericArrayData(w)
  }
}

/** See [[Simhash.words]]. `bits` must be a foldable int in 1..128. */
case class SimhashWords(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 128, s"simhash bits $bits must be in 1..128")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_words"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_words expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    Simhash.words(a.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.Simhash.words($c, $bits);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
