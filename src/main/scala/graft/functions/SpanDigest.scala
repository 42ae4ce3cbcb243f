package graft.functions

import org.apache.commons.codec.digest.MurmurHash3
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** 128-bit digest of a document's span sequence, the change detector of
  * the snapshot diff (`Pipeline.snapshotDiffWithCounts`): two snapshots'
  * spans of one doc_id digest equal iff their offset-ordered sequences are
  * equal, barring a 128-bit hash collision (about 2^-128 per pair of
  * unrelated inputs; MurmurHash3, like md5, does not resist inputs
  * crafted to collide).
  *
  * One native walk per document:
  *
  *  - span indices are sorted STABLY by `offset`, NULL offsets first (in
  *    array order) — a total order, so two permutations of the same spans
  *    with distinct offsets digest equal, and spans with tied offsets keep
  *    their array order;
  *  - each span serializes injectively: a presence byte per element, then
  *    per struct field (every field, in struct order — an annotated
  *    corpus's `datatype` included) a presence byte and, when present, a
  *    4-byte length + UTF-8 bytes (strings) or the 4-byte value (ints).
  *    No separator byte can occur inside a field, so no two distinct
  *    sequences serialize alike;
  *  - the serialization hashes with MurmurHash3 x64/128 into `hi`/`lo`.
  *
  * A NULL spans array digests to NULL: the diff reads presence from its
  * per-side doc_id counts and compares digests null-safe, so no sentinel
  * value is needed. The output is two fixed-width longs, so `min` of each
  * half aggregates in a `HashAggregate` (a string digest plans as a
  * `SortAggregate`).
  */
case class SpanDigest(child: Expression)
  extends UnaryExpression with UnaryLike[Expression] {

  override def dataType: DataType = SpanDigest.OutType

  override def nullable: Boolean = child.nullable

  private def spanType: Option[StructType] = child.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = spanType match {
    case Some(st) if st.fieldNames.contains("offset") &&
        st("offset").dataType == IntegerType &&
        st.forall(f => SpanDigest.FieldCodes.contains(f.dataType)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"span_digest needs array<struct> with an int `offset` and only " +
        s"string/int fields, got ${child.dataType.catalogString}")
  }

  /** One code char per struct field (S string, I int). */
  private def layout: String = spanType.get.map(f => SpanDigest.FieldCodes(f.dataType)).mkString

  private def offsetOrdinal: Int = spanType.get.fieldIndex("offset")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SpanDigest.compute(v.asInstanceOf[ArrayData], layout, offsetOrdinal)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.SpanDigest.compute($c, "$layout", $offsetOrdinal)""")

  override protected def withNewChildInternal(newChild: Expression): SpanDigest =
    copy(child = newChild)

  override def prettyName: String = "span_digest"
}

object SpanDigest {

  val OutType: DataType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  private val FieldCodes: Map[DataType, Char] =
    Map(StringType -> 'S', IntegerType -> 'I')

  /** Span indices in digest order: NULL elements and NULL offsets first
    * (array order), then the rest by (offset, index). Offsets are ints,
    * so (offset − Int.MinValue) << 31 | index packs into a non-negative
    * long whose natural order is exactly that.
    */
  private def order(spans: ArrayData, arity: Int, offsetOrd: Int): Array[Int] = {
    val n = spans.numElements()
    val out = new Array[Int](n)
    val keys = new Array[Long](n)
    var nNull = 0
    var nKeyed = 0
    var i = 0
    while (i < n) {
      val s = if (spans.isNullAt(i)) null else spans.getStruct(i, arity)
      if (s == null || s.isNullAt(offsetOrd)) {
        out(nNull) = i; nNull += 1
      } else {
        keys(nKeyed) = ((s.getInt(offsetOrd).toLong - Int.MinValue) << 31) | i
        nKeyed += 1
      }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, nKeyed)
    var k = 0
    while (k < nKeyed) {
      out(nNull + k) = (keys(k) & Int.MaxValue).toInt
      k += 1
    }
    out
  }

  /** Referenced from generated code — must stay public. */
  def compute(spans: ArrayData, layout: String, offsetOrd: Int): InternalRow = {
    val arity = layout.length
    val ord = order(spans, arity, offsetOrd)
    // exact serialized size first, so the buffer is allocated once
    var size = 4
    var i = 0
    while (i < ord.length) {
      size += 1
      if (!spans.isNullAt(ord(i))) {
        val s = spans.getStruct(ord(i), arity)
        var f = 0
        while (f < arity) {
          size += 1
          if (!s.isNullAt(f))
            size += (if (layout.charAt(f) == 'S') 4 + s.getUTF8String(f).numBytes() else 4)
          f += 1
        }
      }
      i += 1
    }
    val buf = new Array[Byte](size)
    val base = Platform.BYTE_ARRAY_OFFSET
    Platform.putInt(buf, base, ord.length)
    var pos = 4
    i = 0
    while (i < ord.length) {
      if (spans.isNullAt(ord(i))) { buf(pos) = 0; pos += 1 }
      else {
        buf(pos) = 1; pos += 1
        val s = spans.getStruct(ord(i), arity)
        var f = 0
        while (f < arity) {
          if (s.isNullAt(f)) { buf(pos) = 0; pos += 1 }
          else {
            buf(pos) = 1; pos += 1
            if (layout.charAt(f) == 'S') {
              val u = s.getUTF8String(f)
              Platform.putInt(buf, base + pos, u.numBytes()); pos += 4
              u.writeToMemory(buf, base + pos); pos += u.numBytes()
            } else {
              Platform.putInt(buf, base + pos, s.getInt(f)); pos += 4
            }
          }
          f += 1
        }
      }
      i += 1
    }
    val h = MurmurHash3.hash128x64(buf, 0, size, 0)
    InternalRow(h(0), h(1))
  }

  /** Column entry point over the whole spans column: `struct<hi, lo>`. */
  def spanDigest(spans: Column): Column =
    shims.column(SpanDigest(shims.expression(spans)))
}
