package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode-aware word tokenization with
  * CJK char-fallback, in ONE pass over the UTF-8 bytes.
  *
  * Semantics are EXACTLY `TextStats.tokensRegex` (the composable
  * regex form, which is also the DuckDB oracle mirror): lowercase,
  * then emit maximal runs of Unicode letter/mark/digit code points as
  * tokens, except that CJK code points (Hiragana / Katakana / Han,
  * the no-space scripts) each become their own single-char token.
  * `\p{L}\p{M}\p{N}` membership is Unicode general-category 1..11 —
  * java.util.regex defines the classes from the same
  * `Character.getType` table this expression consults, so parity is
  * by construction (and pinned by a ScalaCheck net in
  * MultilingualSpec).
  *
  * Why native: the regex form costs two full regex passes per
  * document (a CJK-spacing `replaceAll` + a Unicode-class `split`),
  * measured ~2.2x the ASCII tokenizer it replaced. Tokenization feeds
  * ~20 operators (shingle dedup, MinHash, SimHash, BM25, KN-LM, BPE,
  * DSIR, langID, fingerprints), i.e. it's scan-side code on EVERY
  * text query — at 100 TB this expression is the difference between
  * the corpus scan being tokenizer-bound or IO-bound. Codegen'd via a
  * static kernel call, so it stays inside whole-stage codegen; the
  * UTF-8 walk has an inherent ASCII fast path (single-byte decode +
  * category table hit).
  */
case class UnicodeTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other      => TypeCheckResult.TypeCheckFailure(s"unicode_tokens requires string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    UnicodeTokens.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"${ev.value} = graft.functions.UnicodeTokens$$.MODULE$$.tokenize($c);"
    )

  override protected def withNewChildInternal(newChild: Expression): UnicodeTokens =
    copy(child = newChild)

  override def prettyName: String = "unicode_tokens"
}

object UnicodeTokens {
  def tokens(text: Column): Column = column(UnicodeTokens(expression(text)))

  /** Unicode general categories forming tokens: letters (1..5), marks
    * (6..8), numbers (9..11) — exactly java.util.regex `\p{L}\p{M}\p{N}`.
    */
  private final val TokenMask: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER) |
      (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
      (1 << Character.COMBINING_SPACING_MARK) |
      (1 << Character.DECIMAL_DIGIT_NUMBER) | (1 << Character.LETTER_NUMBER) |
      (1 << Character.OTHER_NUMBER)

  /** Mirrors `TextStats.CjkCharClass` (kept in sync by MultilingualSpec). */
  private def isCjk(cp: Int): Boolean =
    (cp >= 0x3040 && cp <= 0x30ff) || (cp >= 0x3400 && cp <= 0x4dbf) ||
      (cp >= 0x4e00 && cp <= 0x9fff) || (cp >= 0xf900 && cp <= 0xfaff)

  /** One-pass kernel. Lowercases with UTF8String.toLowerCase (the same
    * kernel `lower()` uses, so casing matches the regex form exactly),
    * then walks the UTF-8 bytes decoding code points.
    *
    * The decoder validates continuation bytes (10xxxxxx) and
    * substitutes U+FFFD consuming ONE byte on any malformed sequence —
    * the same observable tokenization as the regex twin's String
    * decode. Today toLowerCase's non-ASCII path already round-trips
    * through String (substituting malformed bytes) before the walk,
    * so validation is defense-in-depth: the walk must not depend on
    * that lowercase implementation detail (MultilingualSpec pins
    * native ≡ regex on malformed inputs either way).
    */
  def tokenize(input: UTF8String): ArrayData = {
    val b = input.toLowerCase.getBytes
    val n = b.length
    val out = new java.util.ArrayList[UTF8String](16)
    var i = 0
    var start = -1
    while (i < n) {
      val b0 = b(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0x80) {
        // every continuation byte must match 10xxxxxx: a lead byte
        // followed by ASCII (e.g. 0xC3 'a') is a malformed SEQUENCE,
        // and consuming the 'a' as its payload would silently diverge
        // from the regex twin, whose String decode substitutes U+FFFD
        // for the bad lead and then decodes the 'a' normally
        def cont(k: Int): Boolean = (b(i + k) & 0xc0) == 0x80
        if ((b0 & 0xe0) == 0xc0 && i + 1 < n && cont(1)) {
          cp = ((b0 & 0x1f) << 6) | (b(i + 1) & 0x3f); len = 2
        } else if ((b0 & 0xf0) == 0xe0 && i + 2 < n && cont(1) && cont(2)) {
          cp = ((b0 & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) | (b(i + 2) & 0x3f); len = 3
        } else if ((b0 & 0xf8) == 0xf0 && i + 3 < n && cont(1) && cont(2) && cont(3)) {
          cp = ((b0 & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
            ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f); len = 4
        } else {
          cp = 0xfffd // malformed byte: substitute, consume ONE byte
        }
      }
      val isTok = ((1 << Character.getType(cp)) & TokenMask) != 0
      if (isTok && isCjk(cp)) {
        if (start >= 0) { out.add(UTF8String.fromBytes(b, start, i - start)); start = -1 }
        out.add(UTF8String.fromBytes(b, i, len))
      } else if (isTok) {
        if (start < 0) start = i
      } else if (start >= 0) {
        out.add(UTF8String.fromBytes(b, start, i - start)); start = -1
      }
      i += len
    }
    if (start >= 0) out.add(UTF8String.fromBytes(b, start, n - start))
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]])
  }
}
