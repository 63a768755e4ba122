package graft.functions.expr

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, NullType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one tokenization rule, as a static kernel with a JVM-stable
  * address for generated code (the [[NfcHelper]] pattern) and a Scala entry
  * point for row-side code (DAG processors, typed stream maps).
  *
  * A token is a maximal run of `[a-z0-9]` in the lowercased text — exactly
  * `filter(split(lower(text), "[^a-z0-9]+"), _ != "")`:
  *   - lowercasing is Spark's UTF8_BINARY `lower()`: full-ASCII text maps
  *     A–Z byte for byte, anything else goes through ICU's root-locale
  *     `UCharacter.toLowerCase` of the valid-UTF-8 string (the same call
  *     Spark makes, minus `CollationAwareUTF8String`, whose static
  *     initializer builds a title-case table over all 1,114,112 code
  *     points — 0.7 s cold on a 4-vCPU VM — that lowercasing never reads);
  *   - every non-ASCII character is a separator (`[^a-z0-9]` matches it), so
  *     only ICU mappings INTO ASCII (KELVIN SIGN → `k`, U+0130 → `i` +
  *     U+0307) change which bytes are token bytes.
  * Tokens are fresh copies: none aliases the input's buffer, which a scan
  * reuses row to row.
  */
object TokensKernel {

  /** Lowercased token byte per unsigned byte value, 0 for a separator
    * (every byte >= 0x80 is one).
    */
  private val tokenByte: Array[Byte] = Array.tabulate(256) { b =>
    if (b >= 'a' && b <= 'z' || b >= '0' && b <= '9') b.toByte
    else if (b >= 'A' && b <= 'Z') (b + 32).toByte
    else 0.toByte
  }

  /** Spark's `lower()` (`isFullAscii ? toLowerCaseAscii :
    * fromString(UCharacter.toLowerCase(toValidString))`) fused with the
    * split: full-ASCII text is lowercased as it is copied out.
    */
  def tokens(s: UTF8String): ArrayData =
    if (s.isFullAscii) runs(s)
    else runs(UTF8String.fromString(UCharacter.toLowerCase(s.toValidString)))

  /** The `[a-z0-9]` runs of `s` (A–Z read as a–z), each copied out. */
  private def runs(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    def tok(i: Int): Byte = tokenByte(Platform.getByte(base, off + i) & 0xff)
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val t = tok(i) != 0
      if (t && !inTok) count += 1
      inTok = t
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (tok(i) == 0) i += 1
      var j = i + 1
      while (j < n && tok(j) != 0) j += 1
      val bytes = new Array[Byte](j - i)
      var p = 0
      while (p < bytes.length) {
        bytes(p) = tok(i + p)
        p += 1
      }
      out(k) = UTF8String.fromBytes(bytes)
      k += 1
      i = j
    }
    new GenericArrayData(out)
  }

  /** Row-side entry point: the same tokens as the column expression for the
    * same text; a null text has none.
    */
  def tokens(text: String): Array[String] =
    if (text == null) Array.empty
    else {
      val ts = tokens(UTF8String.fromString(text))
      Array.tabulate(ts.numElements())(i => ts.getUTF8String(i).toString)
    }
}

/** string → array<string>: the text family's tokenizer as a native codegen
  * `Expression` ([[TokensKernel]]). It replaces the composed
  * `filter(split(lower(text), "[^a-z0-9]+"), _ != "")` — a case-mapping pass,
  * a Java-regex split and an interpreted (CodegenFallback) filter lambda per
  * row — with one byte scan, and equals it token for token (TokensSpec pins
  * both paths against ComposedForms.tokens). Null input gives null.
  */
case class Tokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(input: Any): Any =
    TokensKernel.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expr.TokensKernel.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}
