package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Native aggregate: 64-bit SimHash from a column of 64-bit token
  * hashes. Bit b of the result is set iff the signed balance of bit b
  * across all input hashes is positive (each hash contributes +1 if its
  * bit b is set, else -1).
  *
  * This is the `TypedImperativeAggregate` tier SURVEY.md §4.3 reserves
  * for when performance demands it: the composable formulation — 64
  * separate `sum(shiftright(h,b)&1 * 2 - 1)` aggregate columns — keeps
  * 64 SQL aggregation buffers per group and evaluates 64 expression
  * trees per row; this keeps ONE long[64] buffer and runs a single
  * fused loop per row. Merge is element-wise addition, so partial
  * aggregation (map-side combine) works unchanged and the shuffle
  * carries 512 bytes per (partition, group).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_agg expects a bigint hash column, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val h = child.eval(input)
    if (h != null) {
      val hv = h.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += ((hv >>> b) & 1L) * 2L - 1L
        b += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var b = 0
    while (b < 64) { b1(b) += b2(b); b += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    var r = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) > 0) r |= (1L << b)
      b += 1
    }
    r
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 8)
    var b = 0
    while (b < 64) { bb.putLong(buf(b)); b += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](64)
    var b = 0
    while (b < 64) { buf(b) = bb.getLong(); b += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "simhash_agg"
}
