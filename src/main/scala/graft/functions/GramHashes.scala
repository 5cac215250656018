package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 helpers for the gram-hash natives: every dedup-family hash
  * in the catalog is a prefix of `md5(space-joined-gram)` read as hex —
  * a grid both engines replay bit-for-bit
  * ([[graft.text.Dedup.md5Prefix32]]). These compute the same values on
  * the raw UTF-8 bytes without materializing the hex string, the
  * gram string, or the per-element interpreted lambda the SQL spelling
  * pays (higher-order-function lambdas are CodegenFallback — every
  * element walks an interpreted expression tree).
  */
private[functions] object GramMd5 {

  /** Thread-local digest: MessageDigest.getInstance per row measured as
    * the dominant cost of a per-gram hash loop.
    */
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5 of the space-joined tokens arr[i..i+n-1], as the first 15 hex
    * chars parsed base-16 — exactly
    * `conv(substring(md5(concat_ws(' ', ...)), 1, 15), 16, 10)::long`
    * (60 bits, always non-negative).
    */
  def hash60(arr: Array[UTF8String], i: Int, n: Int): Long = {
    val d = digest(arr, i, n)
    // first 15 hex chars = the top 60 bits of the big-endian first 8 bytes
    (bytesToLongBE(d) >>> 4) & 0x0FFFFFFFFFFFFFFFL
  }

  /** md5 of the space-joined tokens arr[i..i+n-1], as hex chars [1,8] —
    * exactly `conv(substring(md5(g), 1, 8), 16, 10)::long` (32 bits).
    */
  def hash32(arr: Array[UTF8String], i: Int, n: Int): Long = {
    val d = digest(arr, i, n)
    bytesToLongBE(d) >>> 32
  }

  /** Both 32-bit md5-prefix words of ONE token packed into a long:
    * `(conv(substring(md5(t), 9, 8), 16, 10) << 32) |
    *  conv(substring(md5(t), 1, 8), 16, 10)` — hex chars [1,8] are
    * digest bytes 0-3, chars [9,16] bytes 4-7; one digest serves both.
    */
  def packedHash64(t: UTF8String): Long = {
    val m = md.get()
    m.reset()
    m.update(t.getBytes)
    val d = m.digest()
    val lo = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    val hi = ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
    (hi << 32) | lo
  }

  private def digest(arr: Array[UTF8String], i: Int, n: Int): Array[Byte] = {
    val m = md.get()
    m.reset()
    var j = i
    val end = i + n
    while (j < end) {
      if (j > i) m.update(' '.toByte)
      val t = arr(j)
      m.update(t.getBytes)
      j += 1
    }
    m.digest()
  }

  private def bytesToLongBE(d: Array[Byte]): Long =
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)

  def toArray(arr: ArrayData): Array[UTF8String] = {
    val n = arr.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    while (i < n) { out(i) = arr.getUTF8String(i); i += 1 }
    out
  }
}

/** The distinct 60-bit gram-hash SET of a token array, in one codegen'd
  * pass: `array_distinct(transform(sequence(...), i ->
  * conv(substring(md5(concat_ws(' ', slice(t, i, n))), 1, 15), 16,
  * 10)::long))` without the interpreted lambda, the gram string
  * allocation, or the hex round-trip. Emitting the per-doc DISTINCT set
  * lets [[graft.text.Dedup.containmentPairs]] drop its corpus-scale
  * `(doc_id, h)` distinct exchange and the doc-partitioned window that
  * counted `n_doc` — the set size rides in-row as `size(...)`.
  *
  * Order is first occurrence; consumers explode into keyed aggregates,
  * so order never reaches a result. Distinctness is on the HASH value
  * (two colliding grams merge), matching the SQL distinct-after-hash.
  */
case class DistinctGramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"distinct_gram_hashes expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val toks = GramMd5.toArray(arr)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
    var i = 0
    while (i < m) {
      seen.add(GramMd5.hash60(toks, i, n))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("gramHashes", this, classOf[DistinctGramHashes].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = s"distinct_gram_hashes$n"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All space-joined n-grams of a token array, in positional order —
  * `transform(sequence(1, size(t)-n+1), i -> concat_ws(' ', slice(t, i,
  * n)))` without the interpreted per-element lambda, and without the
  * posexplode + stacked-lead-window spelling's doc_id exchange and
  * per-document sort (the gram at position i is a pure function of the
  * row's own array — the window shuffled the whole token stream to
  * compute it). Empty when the doc has fewer than n tokens.
  */
case class Grams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"grams expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val toks = GramMd5.toArray(arr)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      out(i) = UTF8String.concat(parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("grams", this, classOf[Grams].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = s"grams$n"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The DISTINCT space-joined n-gram set of a token array, first
  * occurrence first — `array_distinct(grams_n(t))` in one pass. Lets a
  * per-document-distinct consumer (novelty, containment matrices) drop
  * its corpus-scale `(key, gram)` distinct exchange: exploded rows are
  * already unique per document.
  */
case class DistinctGrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"distinct_grams expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val toks = GramMd5.toArray(arr)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("distinctGrams", this, classOf[DistinctGrams].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = s"distinct_grams$n"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The 60-bit md5-prefix hash of the n-gram at EVERY position (no
  * dedup): element i hashes tokens [i, i+n) — so
  * `posexplode(pos_gram_hashes_n(t))` yields the same (pos, hash)
  * stream the posexplode + lead-window + md5-hex spelling produced,
  * without the doc_id exchange, the per-doc sort, or the hex round-trip
  * ([[graft.text.Dedup.spanExtentsOf]]' positional gram anchor).
  */
case class PosGramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pos_gram_hashes expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val toks = GramMd5.toArray(arr)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = GramMd5.hash60(toks, i, n); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("posGramHashes", this, classOf[PosGramHashes].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = s"pos_gram_hashes$n"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints of a token array in one codegen'd pass: the
  * k-gram 32-bit md5-prefix hash stream, per-window minima over w
  * consecutive hashes, distinct in first-occurrence order — exactly
  * [[graft.text.Dedup.winnowFingerprints]]' two chained interpreted
  * lambdas (`transform(sequence, md5...)` then
  * `array_distinct(transform(sequence, array_min(slice)))`) fused into
  * native code. Empty when the doc has fewer than k tokens or fewer
  * than w k-grams, matching the SQL `when(...).otherwise(array())`.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val toks = GramMd5.toArray(arr)
    val m = toks.length - k + 1
    if (m < w) return new GenericArrayData(Array.emptyLongArray)
    val kh = new Array[Long](m)
    var i = 0
    while (i < m) { kh(i) = GramMd5.hash32(toks, i, k); i += 1 }
    // per-window minima, distinct in first-occurrence order (the
    // array_distinct contract); windows overlap so a sliding scan would
    // need a deque — w is 4, the direct min is cheaper than bookkeeping
    val seen = new java.util.LinkedHashSet[java.lang.Long](m)
    var j = 0
    val lastStart = m - w
    while (j <= lastStart) {
      var mn = kh(j)
      var x = j + 1
      val end = j + w
      while (x < end) { if (kh(x) < mn) mn = kh(x); x += 1 }
      seen.add(mn)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var c = 0
    while (it.hasNext) { out(c) = it.next(); c += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowFps", this, classOf[WinnowFps].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = "winnow_fps"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
