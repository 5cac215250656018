package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native in-bucket pair generators for the LSH/gram bucket tier — the
  * [[PairStructs]] discipline applied to the remaining
  * `flatten(transform(ds, (x, i) -> transform(filter(ds, (y, j) -> j > i
  * ...), ...)))` spellings. Higher-order functions are CodegenFallback:
  * every bucket element walks an interpreted expression tree and the
  * filter() allocates a sub-array per element, on the corpus-scale
  * inner loop of each consumer (the containment probe measured the
  * lambda at ~0.5 s of dedup_containment's ~2.2 s warm wall). Each
  * kernel emits EXACTLY the rows its retained SQL spelling emits
  * (pinned by NativeKernelExprSpec), so the DuckDB oracles are
  * untouched. Inputs are MaxBucket-capped collect_lists, so output
  * stays <= C(cap, 2) per bucket by construction.
  */
private[functions] trait BucketPairKernel extends UnaryExpression {

  /** The expected per-element struct field types, for the type check. */
  def inFields: Seq[DataType]
  def kernelName: String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _)
        if fs.map(_.dataType).toSeq == inFields =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$kernelName expects array<struct<${inFields.mkString(",")}>>, " +
        s"got ${other.sql}")
  }

  def compute(arr: ArrayData): ArrayData

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(kernelName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = kernelName
}

/** array<struct<id:bigint, n:bigint>> -> all i<j pairs as
  * struct(doc_a, n_a, doc_b, n_b) with the SMALLER id first — exactly
  * the containment bucket lambda's IF(x.doc_id < y.doc_id, ...) field
  * routing (ties, impossible for distinct doc_ids, route y-first like
  * the IF's false branch).
  */
case class OrderedPairStructs(child: Expression) extends BucketPairKernel {
  override def inFields: Seq[DataType] = Seq(LongType, LongType)
  override def kernelName: String = "ordered_pair_structs"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("n_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false))),
    containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val ids = new Array[Long](n)
    val ns = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getStruct(i, 2)
      ids(i) = s.getLong(0); ns(i) = s.getLong(1)
      i += 1
    }
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) =
          if (ids(i) < ids(j)) InternalRow(ids(i), ns(i), ids(j), ns(j))
          else InternalRow(ids(j), ns(j), ids(i), ns(i))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<struct<id:bigint, is_new:boolean>> -> i<j pairs KEPT only when
  * x.is_new OR y.is_new, as struct(a = least, b = greatest,
  * nn = x.is_new AND y.is_new) — the incremental-pairs bucket lambda
  * with its pair filter folded in (fewer structs materialized; the
  * emitted row set is identical because the lambda's filter() drops
  * the same pairs).
  */
case class NewPairStructs(child: Expression) extends BucketPairKernel {
  override def inFields: Seq[DataType] = Seq(LongType, BooleanType)
  override def kernelName: String = "new_pair_structs"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("nn", BooleanType, nullable = false))),
    containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val ids = new Array[Long](n)
    val nw = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val s = arr.getStruct(i, 2)
      ids(i) = s.getLong(0); nw(i) = s.getBoolean(1)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](n)
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (nw(i) || nw(j)) {
          val a = math.min(ids(i), ids(j))
          val b = math.max(ids(i), ids(j))
          out += InternalRow(a, b, nw(i) && nw(j))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<struct<id:bigint, lo:bigint, hi:bigint>> -> i<j pairs as
  * struct(a = least, b = greatest, h = bit_count(lo^lo') +
  * bit_count(hi^hi')) — the simhash / phash 16-bit-chunk bucket lambda.
  * h stays INT like the SQL spelling's bit_count sum (consumers cast).
  */
case class HammingPairStructs(child: Expression) extends BucketPairKernel {
  override def inFields: Seq[DataType] = Seq(LongType, LongType, LongType)
  override def kernelName: String = "hamming_pair_structs"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("h", IntegerType, nullable = false))),
    containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val ids = new Array[Long](n)
    val lo = new Array[Long](n)
    val hi = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getStruct(i, 3)
      ids(i) = s.getLong(0); lo(i) = s.getLong(1); hi(i) = s.getLong(2)
      i += 1
    }
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val h = java.lang.Long.bitCount(lo(i) ^ lo(j)) +
          java.lang.Long.bitCount(hi(i) ^ hi(j))
        val a = math.min(ids(i), ids(j))
        val b = math.max(ids(i), ids(j))
        out(k) = InternalRow(a, b, h)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
