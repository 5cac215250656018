package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole Poisson-bootstrap fold as ONE typed aggregate: per input
  * row, compute the unit's `b` multipliers ([[BootFold.multipliers]])
  * and accumulate Σ m·w_j into a flat b×k BIGINT buffer — no
  * 64× row explode, no per-resample shuffle at all (the former shape
  * exploded every unit into b (b, m) rows and hash-aggregated them back
  * to b groups; this folds the identical exact-integer sums in-row,
  * map-side partial buffers merge cell-wise). Output: array of b
  * elements, element i = [Σ m_i·w_1 .. Σ m_i·w_k] — the element index
  * IS the resample id, exactly the former groupBy(b) keys.
  *
  * Weights arrive as an array<bigint> column so one aggregate serves
  * both callers (bootstrap_ci: [cents, 1]; ab_uplift_bootstrap: the
  * four arm-conditional cells). Addition is commutative/associative on
  * exact BIGINTs, so partial/merge order cannot change a sum.
  */
case class BootFold(
    key: Expression,
    weights: Expression,
    b: Int,
    k: Int,
    thresholds: Array[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(key, weights)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), weights = newChildren(1))

  override def checkInputDataTypes(): TypeCheckResult =
    (key.dataType, weights.dataType) match {
      case (StringType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"boot_fold expects (string, array<bigint>), got $other")
    }
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](b * k)

  override def update(buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val pre = key.eval(input)
    val ws = weights.eval(input)
    if (pre != null && ws != null) {
      val wArr = ws.asInstanceOf[ArrayData]
      val ms = BootFold.multipliers(
        pre.asInstanceOf[UTF8String], b, thresholds)
      var i = 0
      while (i < b) {
        val m = ms(i)
        if (m != 0L) {
          var j = 0
          while (j < k) {
            buf(i * k + j) += m * wArr.getLong(j)
            j += 1
          }
        }
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[AnyRef](b)
    var i = 0
    while (i < b) {
      val cell = new Array[Long](k)
      var j = 0
      while (j < k) { cell(j) = buf(i * k + j); j += 1 }
      out(i) = new GenericArrayData(cell)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](b * k)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BootFold =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BootFold =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "boot_fold"
}

object BootFold {
  /** Thread-local digest in the STATIC companion (the GramMd5
    * discipline) — a ThreadLocal field on the expression itself is not
    * serializable and a shared MessageDigest is not thread-safe.
    */
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** All `b` Poisson(1) bootstrap multipliers of one unit key — the
    * [[graft.relational.StatModels.bootstrapCi]] / abUpliftBootstrap lane
    * draw (md5(prefix ':' g) per 4-resample group, four 32-bit hex lanes
    * per digest, u = lane / 2^32, multiplier = Poisson(1) inverse CDF of
    * u) without the per-group string concat, the 32-hex-char
    * materialization, or the four conv/substring round-trips per digest.
    * Element index IS the resample id (b = g*4 + lane).
    *
    * Bit-identity: hex chars [1+8l, 8] of the md5 parse to the big-endian
    * value of digest bytes [4l, 4l+4); that 32-bit integer divided by the
    * exact power-of-two 2^32 is the same double; the thresholds are THE
    * SAME doubles ([[graft.relational.StatModels.poissonMultiplier]]'s),
    * compared with the same `<`.
    */
  private[functions] def multipliers(prefix: UTF8String, b: Int,
      thresholds: Array[Double]): Array[Long] = {
    val m = md.get()
    val pre = prefix.getBytes
    val out = new Array[Long](b)
    var g = 0
    while (g < b / 4) {
      m.reset()
      m.update(pre)
      m.update(':'.toByte)
      m.update(String.valueOf(g).getBytes(
        java.nio.charset.StandardCharsets.US_ASCII))
      val d = m.digest()
      var lane = 0
      while (lane < 4) {
        val v = ((d(4 * lane) & 0xFFL) << 24) |
          ((d(4 * lane + 1) & 0xFFL) << 16) |
          ((d(4 * lane + 2) & 0xFFL) << 8) | (d(4 * lane + 3) & 0xFFL)
        val u = v.toDouble / 4294967296.0
        var k = 0
        var mult = thresholds.length.toLong
        var found = false
        while (k < thresholds.length && !found) {
          if (u < thresholds(k)) { mult = k.toLong; found = true }
          k += 1
        }
        out(g * 4 + lane) = mult
        lane += 1
      }
      g += 1
    }
    out
  }
}
