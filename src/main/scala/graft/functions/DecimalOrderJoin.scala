package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The longs of an array as decimal strings, in string order, joined
  * with ",": exactly `array_join(sort_array(cast(ids AS
  * array<string>)), ",")` (null elements skipped, duplicates kept, an
  * empty or all-null array gives "").
  *
  * Fast path, when every element's decimal string fits in 8 bytes
  * (-9,999,999 to 99,999,999): each string's ASCII bytes are packed
  * big-endian into a long, padded with zero bytes at the end, so the
  * longs sort in the strings' order — the zero padding puts a prefix
  * first, and '-' (0x2D) sorts below the digits. Every packed key's top
  * byte is ASCII (below 0x80), so the signed `Arrays.sort(long[])` is
  * already the unsigned byte order: no sign flip is needed. The joined
  * UTF-8 is written straight from the sorted keys. Any other array
  * takes the general path, which sorts the strings.
  */
object DecimalOrder {

  private final val FastMin = -9999999L
  private final val FastMax = 99999999L

  /** The decimal string of `x` (within the fast range), big-endian in
    * the high bytes of a long, zero bytes after it.
    */
  private def pack(x: Long): Long = {
    var v = math.abs(x)
    var k = 0L
    var n = 0
    while ({
      k |= ('0' + v % 10) << (8 * n)
      v /= 10
      n += 1
      v != 0
    }) ()
    if (x < 0) { k |= '-'.toLong << (8 * n); n += 1 }
    k << (8 * (8 - n))
  }

  /** Bytes in a packed key: 8 less its zero padding. */
  private def packedLen(k: Long): Int = 8 - (java.lang.Long.numberOfTrailingZeros(k) >>> 3)

  def join(ids: ArrayData): UTF8String = {
    val n = ids.numElements()
    val keys = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!ids.isNullAt(i)) {
        val x = ids.getLong(i)
        if (x < FastMin || x > FastMax) return joinStrings(ids)
        keys(m) = pack(x)
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    var len = math.max(m - 1, 0)
    i = 0
    while (i < m) { len += packedLen(keys(i)); i += 1 }
    val out = new Array[Byte](len)
    var at = 0
    i = 0
    while (i < m) {
      if (i > 0) { out(at) = ','.toByte; at += 1 }
      val k = keys(i)
      val kn = packedLen(k)
      var b = 0
      while (b < kn) { out(at) = (k >>> (56 - 8 * b)).toByte; at += 1; b += 1 }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The general path: the decimal strings sorted (all ASCII, so
    * `String` order is byte order) and joined.
    */
  private def joinStrings(ids: ArrayData): UTF8String = {
    val strs = new java.util.ArrayList[String](ids.numElements())
    var i = 0
    while (i < ids.numElements()) {
      if (!ids.isNullAt(i)) strs.add(java.lang.Long.toString(ids.getLong(i)))
      i += 1
    }
    java.util.Collections.sort(strs)
    UTF8String.fromString(String.join(",", strs))
  }
}

/** [[DecimalOrder.join]] as a codegen'd expression over `array<bigint>`:
  * `mr_indexer`'s doc list, in the string order of the oracle's
  * `ORDER BY doc`. A null array gives null.
  */
case class DecimalOrderJoin(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = DecimalOrder.join(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.DecimalOrder.join($v);")

  override def prettyName: String = "decimal_order_join"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
