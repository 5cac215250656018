package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte scanners behind the tokenizer kernels. Each walks the UTF-8
  * bytes of a string once, ASCII bytes through a table and other code
  * points decoded in place, and copies every token's bytes out, so no
  * token points into the (reused) input row.
  *
  * The spellings they replace decode the row to a `java.lang.String`,
  * which turns malformed UTF-8 into U+FFFD. The scanners decode strictly
  * (no overlongs, surrogates or code points past U+10FFFF) and, on a
  * malformed sequence, rescan the string as that decoder repairs it, so
  * the result matches on any input.
  */
object TokenScan {

  private final val Space = 0
  private final val Letter = 1
  private final val Number = 2
  private final val Other = 3

  /** Java regex classes of the ASCII range: `\s` is exactly 0x20 and
    * 0x09–0x0D, `\p{L}` is A–Z and a–z, `\p{N}` is 0–9.
    */
  private val ascii: Array[Byte] = Array.tabulate(128) { b =>
    if (b == 0x20 || (b >= 0x09 && b <= 0x0d)) Space
    else if ((b | 0x20) >= 'a' && (b | 0x20) <= 'z') Letter
    else if (b >= '0' && b <= '9') Number
    else Other
  }.map(_.toByte)

  /** `\p{L}` / `\p{N}` / other of a non-ASCII code point (never `\s`). */
  private def kind(cp: Int): Int = Character.getType(cp) match {
    case Character.UPPERCASE_LETTER | Character.LOWERCASE_LETTER | Character.TITLECASE_LETTER |
        Character.MODIFIER_LETTER | Character.OTHER_LETTER => Letter
    case Character.DECIMAL_DIGIT_NUMBER | Character.LETTER_NUMBER | Character.OTHER_NUMBER =>
      Number
    case _ => Other
  }

  /** Byte length of the sequence a lead byte >= 0x80 starts. */
  private def seqLen(lead: Int): Int = if (lead < 0xe0) 2 else if (lead < 0xf0) 3 else 4

  /** The code point of the well-formed sequence at `at` (lead byte
    * `lead` >= 0x80, `left` bytes remain), or -1 when it is malformed.
    */
  private def codePoint(base: AnyRef, at: Long, left: Int, lead: Int): Int = {
    def cont(k: Int): Int = Platform.getByte(base, at + k) & 0xff
    if (lead < 0xc2 || lead > 0xf4) -1
    else if (lead < 0xe0) {
      if (left < 2 || (cont(1) & 0xc0) != 0x80) -1
      else ((lead & 0x1f) << 6) | (cont(1) & 0x3f)
    } else if (lead < 0xf0) {
      if (left < 3) return -1
      val b1 = cont(1)
      val lo = if (lead == 0xe0) 0xa0 else 0x80
      val hi = if (lead == 0xed) 0x9f else 0xbf
      if (b1 < lo || b1 > hi || (cont(2) & 0xc0) != 0x80) -1
      else ((lead & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (cont(2) & 0x3f)
    } else {
      if (left < 4) return -1
      val b1 = cont(1)
      val lo = if (lead == 0xf0) 0x90 else 0x80
      val hi = if (lead == 0xf4) 0x8f else 0xbf
      if (b1 < lo || b1 > hi || (cont(2) & 0xc0) != 0x80 || (cont(3) & 0xc0) != 0x80) -1
      else ((lead & 0x07) << 18) | ((b1 & 0x3f) << 12) | ((cont(2) & 0x3f) << 6) |
        (cont(3) & 0x3f)
    }
  }

  /** The string as `toString` decodes it, re-encoded: well-formed. */
  private def repaired(s: UTF8String): UTF8String = UTF8String.fromString(s.toString)

  /** Runs of code points outside ASCII `\s`, empties dropped: exactly
    * `filter(split(s, "\\s+"), t -> t != "")`.
    */
  def whitespace(s: UTF8String): ArrayData = tokens(s, letters = false)

  /** Maximal runs of code points where `Character.isLetter` holds (Java's
    * `\p{L}`): exactly `split(s, "[^\\p{L}]+")` without its empty tokens.
    */
  def letters(s: UTF8String): ArrayData = tokens(s, letters = true)

  private def tokens(s: UTF8String, letters: Boolean): ArrayData = {
    val found = scanTokens(s, letters)
    new GenericArrayData(if (found != null) found else scanTokens(repaired(s), letters))
  }

  /** The tokens, or null when `s` is not well-formed UTF-8. */
  private def scanTokens(s: UTF8String, letters: Boolean): Array[Any] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new java.util.ArrayList[UTF8String]()
    var start = -1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i) & 0xff
      var len = 1
      val in =
        if (b < 0x80) {
          val c = ascii(b)
          if (letters) c == Letter else c != Space
        } else {
          val cp = codePoint(base, off + i, n - i, b)
          if (cp < 0) return null
          len = seqLen(b)
          !letters || Character.isLetter(cp)
        }
      if (in) {
        if (start < 0) start = i
      } else if (start >= 0) {
        out.add(copy(base, off + start, i - start))
        start = -1
      }
      i += len
    }
    if (start >= 0) out.add(copy(base, off + start, n - start))
    out.toArray.asInstanceOf[Array[Any]]
  }

  private def copy(base: AnyRef, at: Long, len: Int): UTF8String = {
    val bytes = new Array[Byte](len)
    Platform.copyMemory(base, at, bytes, Platform.BYTE_ARRAY_OFFSET, len)
    UTF8String.fromBytes(bytes)
  }

  /** Matches of `TextAnalysis.BpePattern`, `" ?\p{L}+| ?\p{N}+|
    * ?[^\s\p{L}\p{N}]+"`, as `regexp_extract_all` finds them. Every match
    * is one maximal run of letters, numbers or other non-`\s` code points;
    * the optional leading U+0020 only widens a match to the left, so the
    * count is the number of such runs.
    */
  def bpeCount(s: UTF8String): Int = {
    val found = scanBpe(s)
    if (found >= 0) found else scanBpe(repaired(s))
  }

  /** The run count, or -1 when `s` is not well-formed UTF-8. */
  private def scanBpe(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var runs = 0
    var prev = Space
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i) & 0xff
      var c = 0
      if (b < 0x80) {
        c = ascii(b)
        i += 1
      } else {
        val cp = codePoint(base, off + i, n - i, b)
        if (cp < 0) return -1
        c = kind(cp)
        i += seqLen(b)
      }
      if (c != Space && c != prev) runs += 1
      prev = c
    }
    runs
  }
}

/** Shared shape of the two token-array kernels: string in, non-null
  * token array out (the element nullability of `split`), null in → null.
  */
sealed abstract class TokenKernel(scanner: String) extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.TokenScan.$scanner($v);")
}

/** Whitespace tokens: [[TokenScan.whitespace]], the codegen'd form of
  * `filter(split(c, "\\s+"), t -> t != "")`.
  */
case class WhitespaceTokens(child: Expression) extends TokenKernel("whitespace") {
  override def nullSafeEval(input: Any): Any = TokenScan.whitespace(input.asInstanceOf[UTF8String])
  override def prettyName: String = "whitespace_tokens"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Letter tokens: [[TokenScan.letters]], the codegen'd form of
  * `split(c, "[^\\p{L}]+")` with the empty tokens filtered out.
  */
case class LetterTokens(child: Expression) extends TokenKernel("letters") {
  override def nullSafeEval(input: Any): Any = TokenScan.letters(input.asInstanceOf[UTF8String])
  override def prettyName: String = "letter_tokens"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE pre-token count: [[TokenScan.bpeCount]], the codegen'd form of
  * `size(regexp_extract_all(c, BpePattern, 0))`. A null string counts
  * like `size(null)`: -1 under `spark.sql.legacy.sizeOfNull` with ANSI
  * off, else null (read when the node is built, as `size` does).
  */
case class BpePreTokenCount(child: Expression, legacySizeOfNull: Boolean) extends UnaryExpression {
  def this(child: Expression) = this(child, SQLConf.get.legacySizeOfNull)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${other.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = !legacySizeOfNull && child.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) { if (legacySizeOfNull) -1 else null }
    else TokenScan.bpeCount(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!legacySizeOfNull)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.TokenScan.bpeCount($v);")
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        int ${ev.value} = ${c.isNull} ? -1 : graft.functions.TokenScan.bpeCount(${c.value});""")
    }

  override def prettyName: String = "bpe_pretoken_count"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
