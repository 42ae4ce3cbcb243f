package graft.stats

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Frequent-items (heavy-hitters) sketch aggregate — the bounded-state,
  * MERGEABLE counterpart of the exact `groupBy(item).count()` heavy-hitter
  * path: a DataSketches `ItemsSketch[String]` (Misra–Gries style) holding
  * at most `maxMapSize` counters, so the per-partition state is KBs no
  * matter how many distinct items flow through — at 10^12 rows the exact
  * group-count needs a full shuffle of every distinct key; this needs one
  * shuffle of fixed-size blobs. A custom `TypedImperativeAggregate`:
  * map-side combine + cross-partition merge come from the aggregate
  * framework.
  *
  * Error contract (DataSketches): every item with true count >
  * `getMaximumError()` of the total stream is reported under
  * NO_FALSE_NEGATIVES, and `lb <= true <= ub` always. While the counter
  * map never overflows (distinct items < ~0.75·maxMapSize) the error is
  * ZERO and every estimate is the exact count — the regime the DuckDB
  * oracle pins (`q_freq_items`); the over-capacity guarantees are
  * FreqSketchSpec's job.
  *
  * NULL items are skipped (they are `not_null`'s business, not
  * frequency's).
  */
case class FreqSketchAgg(
    child: Expression,
    maxMapSize: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike[Expression] {

  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize=$maxMapSize must be a power of 2 >= 8")

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.toString)
    buffer
  }

  override def merge(buffer: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "freq_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketchAgg =
    copy(child = newChild)
}

object FreqSketchAgg {
  /** `df.agg(freq_sketch($"item"))` — serialized heavy-hitters sketch. */
  def freq_sketch(c: Column, maxMapSize: Int = 1024): Column =
    shims.column(
      FreqSketchAgg(shims.expression(c.cast("string")), maxMapSize)
        .toAggregateExpression())
}

/** Merges a column of SERIALIZED frequent-items sketch blobs — the stored
  * per-day/per-source heavy-hitter directory path: snapshot N+1's corpus
  * heavy hitters are yesterday's stored blobs merged with today's
  * increment's blob, never a rescan of history (the
  * [[KllMergeAgg.kll_merge]] pattern on the frequency plane). Null/empty
  * blobs are skipped.
  */
case class FreqMergeAgg(
    child: Expression,
    maxMapSize: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike[Expression] {

  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize=$maxMapSize must be a power of 2 >= 8")

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[Array[Byte]]
      if (bytes.nonEmpty)
        buffer.merge(ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe()))
    }
    buffer
  }

  override def merge(buffer: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "freq_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqMergeAgg =
    copy(child = newChild)
}

object FreqMergeAgg {
  /** `blobs.agg(freq_merge($"freq"))` — merge stored sketch blobs. */
  def freq_merge(c: Column, maxMapSize: Int = 1024): Column =
    shims.column(FreqMergeAgg(shims.expression(c), maxMapSize).toAggregateExpression())
}

/** Driver-side helpers over serialized frequent-items sketches. */
object FreqStats {

  def sketchOf(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  /** Per-GROUP item-count deltas between two `(group, freq-blob)` frames
    * — "which item surged or faded in which source", answered from
    * STORED sketches (the count-plane companion of
    * [[ThetaStats.setChurnByGroup]]'s set plane): per (group, item) the
    * two sides' estimates and their delta, items drawn from both sides'
    * NO_FALSE_NEGATIVES lists, groups present on one side only included
    * with zeros on the other. Exact integers wherever the sketch never
    * purged (`exact` column per group-side pair); estimates with the
    * ItemsSketch error bound otherwise. Driver-side over the
    * group-count-sized frames (`maxGroups`-guarded).
    */
  def countsDeltaByGroup(prev: DataFrame, cur: DataFrame,
                         maxGroups: Int = 100000): DataFrame = {
    val spark = prev.sparkSession
    def side(df: DataFrame): Map[String, ItemsSketch[String]] = {
      val rows = df.limit(maxGroups + 1).collect()
      require(rows.length <= maxGroups,
        s"counts delta: more than $maxGroups groups — bound the group key")
      rows.map(r => r.get(0).toString -> sketchOf(r.getAs[Array[Byte]](1))).toMap
    }
    val (a, b) = (side(prev), side(cur))
    def items(sk: Option[ItemsSketch[String]]): Map[String, Long] =
      sk.map(_.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .map(r => r.getItem -> r.getEstimate).toMap).getOrElse(Map.empty)
    val out = (a.keySet ++ b.keySet).toSeq.sorted.flatMap { g =>
      val (ia, ib) = (items(a.get(g)), items(b.get(g)))
      val exact = a.get(g).forall(_.getMaximumError == 0L) &&
        b.get(g).forall(_.getMaximumError == 0L)
      (ia.keySet ++ ib.keySet).toSeq.sorted.map { item =>
        val (np, nc) = (ia.getOrElse(item, 0L), ib.getOrElse(item, 0L))
        (g, item, np, nc, nc - np, exact)
      }
    }
    import spark.implicits._
    out.toDF("group", "item", "n_prev", "n_cur", "delta", "exact")
  }
}
