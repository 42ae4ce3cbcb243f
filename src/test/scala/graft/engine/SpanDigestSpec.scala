package graft.engine

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArraySort, ArrayTransform, Md5}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Fuzzed parity of the snapshot diff's native span digest
  * ([[graft.functions.SpanDigest]]): on generated (prev, cur) span-array
  * pairs, "changed" equals a plain-Scala truth — inequality of the two
  * stably offset-sorted sequences, NULL offsets (and NULL elements) first
  * — and, where the old md5 form is exact (non-NULL offsets, no control
  * characters), the md5 oracle too. The executed plan of the diff is
  * pinned to hash aggregation with no higher-order array functions.
  */
class SpanDigestSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** A span; None fields are NULL. */
  private case class Sp(kind: Option[String], text: Option[String],
                        media: Option[String], offset: Option[Int])
  /** None = NULL spans; an inner None = a NULL element. */
  private type Spans = Option[Seq[Option[Sp]]]

  private val spanType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))
  private val docType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(spanType, containsNull = true))))

  private val Control = Set('\u0000', '\u0001', '\u0002', '\u0003')
  private val plain = Seq("a", "b", "k", "t", "x", "", "é", "日", "txt:title", "med:link")
  private val controls = Seq("\u0000", "\u0001", "\u0002", "\u0003")

  /** `md5Exact`: stay inside the md5 form's exact domain — no control
    * characters, NULL offsets or NULL elements.
    */
  private def genStr(r: scala.util.Random, nullP: Double, md5Exact: Boolean): Option[String] = {
    val pieces = if (md5Exact) plain else plain ++ controls
    if (r.nextDouble() < nullP) None
    else Some((0 until r.nextInt(4)).map(_ => pieces(r.nextInt(pieces.size))).mkString)
  }

  private def genSpan(r: scala.util.Random, md5Exact: Boolean): Option[Sp] =
    if (!md5Exact && r.nextDouble() < 0.05) None
    else Some(Sp(genStr(r, 0.1, md5Exact), genStr(r, 0.1, md5Exact), genStr(r, 0.3, md5Exact),
      // a small offset range: ties are common
      if (!md5Exact && r.nextDouble() < 0.1) None else Some(r.nextInt(6) - 1)))

  private def genSpans(r: scala.util.Random, md5Exact: Boolean): Spans =
    r.nextInt(20) match {
      case 0 => None
      case 1 => Some(Nil)
      case 2 => Some(Seq.fill(40 + r.nextInt(20))(genSpan(r, md5Exact)))
      case _ => Some(Seq.fill(1 + r.nextInt(8))(genSpan(r, md5Exact)))
    }

  /** cur from prev: unchanged, permuted, one field edited, a separator
    * moved across a field boundary, a NULL element inserted, NULL or empty
    * spans, or a fresh draw.
    */
  private def mutate(r: scala.util.Random, prev: Spans, md5Exact: Boolean): Spans =
    (prev, r.nextInt(9)) match {
      case (_, 0) => prev
      case (Some(s), 1 | 2) => Some(r.shuffle(s))
      case (Some(s), 3) if s.nonEmpty =>
        val i = r.nextInt(s.size)
        Some(s.updated(i, s(i).map(sp => sp.copy(text = genStr(r, 0.2, md5Exact)))))
      case (Some(s), 4) if s.nonEmpty && !md5Exact =>
        val i = r.nextInt(s.size)
        Some(s.updated(i, s(i).map(shiftSeparator)))
      case (Some(s), 5) if !md5Exact => Some(s :+ None)
      case (Some(s), 6) if s.nonEmpty =>
        val i = r.nextInt(s.size)
        Some(s.updated(i, s(i).map(sp => sp.copy(offset = sp.offset.map(_ + 1)))))
      case (_, 7) => if (r.nextBoolean()) None else Some(Nil)
      case _ => genSpans(r, md5Exact)
    }

  /** Move text across the kind/text boundary at a 0x01: ("a␁b", "c")
    * becomes ("a", "b␁c") and back — the pairs a separator-joined
    * serialization cannot tell apart.
    */
  private def shiftSeparator(sp: Sp): Sp = (sp.kind, sp.text) match {
    case (Some(k), t) if k.contains('\u0001') =>
      val j = k.indexOf('\u0001')
      sp.copy(kind = Some(k.take(j)), text = Some(k.drop(j + 1) + "\u0001" + t.getOrElse("")))
    case (k, Some(t)) =>
      sp.copy(kind = Some(k.getOrElse("") + "\u0001" + t.takeWhile(_ != '\u0001')),
        text = Some(t.dropWhile(_ != '\u0001').drop(1)))
    case _ => sp.copy(kind = Some("k\u0001t"))
  }

  /** The plain-Scala truth: stably offset-sorted sequences, NULLs first. */
  private def ordered(s: Seq[Option[Sp]]): Seq[Option[Sp]] = {
    val (nulls, keyed) = s.partition(e => e.isEmpty || e.get.offset.isEmpty)
    nulls ++ keyed.sortBy(_.get.offset.get)
  }
  private def truthChanged(p: Spans, c: Spans): Boolean = (p, c) match {
    case (None, None) => false
    case (Some(a), Some(b)) => ordered(a) != ordered(b)
    case _ => true
  }

  private def toRow(id: String, s: Spans): Row = Row(id, s.map(_.map(_.map(sp =>
    Row(sp.kind.orNull, sp.text.orNull, sp.media.orNull,
      sp.offset.map(Int.box).orNull)).orNull)).orNull)

  /** Repartitioned, so the digest runs in generated code: over a bare
    * local relation the optimizer evaluates projections itself.
    */
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, docType).repartition(3)

  private def pairs(seed: Long, n: Int, md5Exact: Boolean): Seq[(String, Spans, Spans)] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val p = genSpans(r, md5Exact)
      (f"d$i%05d", p, mutate(r, p, md5Exact))
    }
  }

  private def statuses(prev: DataFrame, cur: DataFrame): Map[String, String] =
    Pipeline.snapshotDiff(prev, cur).collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("native diff == plain-Scala truth on fuzzed pairs (ties, NULLs, separators, large arrays)") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val ps = pairs(seed, 1500, md5Exact = false)
      // presence: a few docs only in prev (removed) or only in cur (added)
      val prev = frame(ps.map { case (id, p, _) => toRow(id, p) } :+ toRow("gone", Some(Nil)))
      val cur = frame(ps.map { case (id, _, c) => toRow(id, c) } :+ toRow("new", None))
      val got = statuses(prev, cur)
      assert(got("gone") == "removed" && got("new") == "added")
      val wrong = ps.filter { case (id, p, c) =>
        (got(id) == "changed") != truthChanged(p, c) || !Set("changed", "unchanged")(got(id))
      }
      assert(wrong.isEmpty, s"seed $seed: ${wrong.take(3)}")
      // the fuzz really exercises both outcomes and the hard cases
      val nChanged = ps.count { case (_, p, c) => truthChanged(p, c) }
      assert(nChanged > 300 && nChanged < 1200, s"seed $seed: $nChanged changed")
      assert(ps.exists { case (_, p, c) => p != c && !truthChanged(p, c) },
        "no permuted-but-unchanged pair generated")
    }
  }

  test("native diff == the md5 oracle where the md5 form is exact (non-NULL offsets, no control chars)") {
    val ps = pairs(11L, 2000, md5Exact = true)
    assert(ps.forall { case (_, p, c) => Seq(p, c).flatten.flatten.forall(e =>
      e.exists(sp => sp.offset.isDefined &&
        Seq(sp.kind, sp.text, sp.media).flatten.forall(_.forall(ch => !Control(ch)))))
    }, "generator left the md5 form's exact domain")
    val prev = frame(ps.map { case (id, p, _) => toRow(id, p) })
    val cur = frame(ps.map { case (id, _, c) => toRow(id, c) })
    val got = statuses(prev, cur)
    val md5Changed = prev.select(col("doc_id"),
        Md5SpanDigestOracle.spanDigest(col("spans")).as("dp"))
      .join(cur.select(col("doc_id"), Md5SpanDigestOracle.spanDigest(col("spans")).as("dc")),
        "doc_id")
      .select(col("doc_id"), col("dp") =!= col("dc")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val wrong = ps.filter { case (id, p, c) =>
      (got(id) == "changed") != md5Changed(id) || md5Changed(id) != truthChanged(p, c)
    }
    assert(wrong.isEmpty, wrong.take(3).toString)
    assert(md5Changed.values.exists(identity) && md5Changed.values.exists(!_))
  }

  test("interpreted and generated SpanDigest agree") {
    val ps = pairs(21L, 500, md5Exact = false)
    val df = frame(ps.map { case (id, p, _) => toRow(id, p) })
    def digests(): Map[String, (Long, Long)] =
      df.select(col("doc_id"), graft.functions.SpanDigest.spanDigest(col("spans")).as("d"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) (0L, 0L)
           else (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
    val generated = digests()
    val interpreted = {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val old = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try digests() finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(generated == interpreted)
  }

  test("executed plan of the diff: hash aggregation on both sides, no array HOFs or md5") {
    val ps = pairs(31L, 400, md5Exact = false)
    val diff = Pipeline.snapshotDiffWithCounts(
      frame(ps.map { case (id, p, _) => toRow(id, p) }),
      frame(ps.map { case (id, _, c) => toRow(id, c) }))
    diff.collect()
    val plan = diff.queryExecution.executedPlan
    val aggs = collect(plan) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty && aggs.forall(_.isInstanceOf[HashAggregateExec]),
      aggs.map(_.nodeName).mkString(", "))
    // partial + final per side
    assert(aggs.size >= 4, aggs.map(_.nodeName).mkString(", "))
    val hofs = collect(plan) { case p => p.expressions.flatMap(_.collect {
      case e @ (_: ArraySort | _: ArrayTransform | _: Md5) => e.prettyName
    }) }.flatten
    assert(hofs.isEmpty, hofs.mkString(", "))
  }
}
