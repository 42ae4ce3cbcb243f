package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._

/** Elementwise sum of `array<bigint>` rows — the exact-integer vector
  * aggregate behind cross-engine-reproducible embedding centroids
  * ([[graft.ops.Similarity.intCentroid]]): FP vector means depend on
  * summation order and can't hash-oracle, but quantize-to-long first and
  * the per-dimension sums are exact under ANY partitioning (Long addition
  * is associative-commutative; overflow needs 2^53-scale mass — far past
  * any real corpus × quantization). A custom TypedImperativeAggregate:
  * map-side combine, one dim-sized state per task.
  *
  * Rows shorter than `dim` contribute their prefix; longer rows are
  * truncated at `dim`; null rows are skipped.
  */
case class LongVecSumAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(dim > 0, s"dim must be positive, got $dim")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dim)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) buffer(i) += arr.getLong(i)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dim) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * dim)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(dim)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "long_vec_sum"

  override def withNewMutableAggBufferOffset(newOffset: Int): LongVecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LongVecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): LongVecSumAgg =
    copy(child = newChild)
}

object LongVecSumAgg {
  /** `df.agg(longVecSum($"qvec", dim))` over an `array<bigint>` column. */
  def longVecSum(c: Column, dim: Int): Column =
    shims.column(LongVecSumAgg(shims.expression(c), dim).toAggregateExpression())
}
