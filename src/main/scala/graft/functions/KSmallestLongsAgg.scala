package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded k-smallest aggregate: the k smallest long values of the group,
  * returned as an ASCENDING array. A custom `TypedImperativeAggregate`
  * (same pattern as [[graft.stats.FreqSketchAgg]]) whose state is a max-heap
  * of AT MOST k elements — so partial aggregation (map-side combine) keeps
  * every task's state bounded by k, and merging two partials is O(k log k).
  *
  * This is the skew-immune replacement for `row_number() OVER
  * (PARTITION BY key ORDER BY v)` + `rank <= k`: the window form sorts a
  * hot key's ENTIRE partition in one task (10^9 rows for a mega-domain at
  * crawl scale), while this aggregate reduces the same key map-side — each
  * scan task contributes at most k candidates per key to the one exchange.
  */
case class KSmallestLongsAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[Long]]
  with UnaryLike[Expression] {

  require(k > 0, s"k must be positive, got $k")

  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[Long] =
    scala.collection.mutable.PriorityQueue.empty[Long] // max-heap

  private def offer(buf: scala.collection.mutable.PriorityQueue[Long], v: Long): Unit =
    if (buf.size < k) buf.enqueue(v)
    else if (v < buf.head) { buf.dequeue(); buf.enqueue(v) }

  override def update(buffer: scala.collection.mutable.PriorityQueue[Long],
                      input: InternalRow): scala.collection.mutable.PriorityQueue[Long] = {
    val v = child.eval(input)
    if (v != null) offer(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: scala.collection.mutable.PriorityQueue[Long],
                     other: scala.collection.mutable.PriorityQueue[Long]): scala.collection.mutable.PriorityQueue[Long] = {
    other.foreach(offer(buffer, _))
    buffer
  }

  override def eval(buffer: scala.collection.mutable.PriorityQueue[Long]): Any =
    new GenericArrayData(buffer.toArray.sorted)

  override def serialize(buffer: scala.collection.mutable.PriorityQueue[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "k_smallest"

  override def withNewMutableAggBufferOffset(newOffset: Int): KSmallestLongsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KSmallestLongsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KSmallestLongsAgg =
    copy(child = newChild)
}

object KSmallestLongsAgg {
  /** `df.agg(kSmallest($"id", k))` — ascending array of the k smallest. */
  def kSmallest(c: Column, k: Int): Column =
    shims.column(
      KSmallestLongsAgg(shims.expression(c.cast("long")), k).toAggregateExpression())
}
