package graft.stats

import graft.SparkTestBase
import org.apache.datasketches.frequencies.ErrorType
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-items sketch: exact in the under-capacity regime, guaranteed
  * (no false negatives, bounds contain truth) over capacity, and MERGEABLE
  * — per-day blobs merged equal the whole-corpus sketch's answers.
  */
class FreqSketchSpec extends SparkTestBase {

  /** (item, estimate, lb, ub, exact) of one sketch over `colName`, under
    * NO_FALSE_NEGATIVES; `exact` iff the sketch never purged.
    */
  private def heavyHitters(df: DataFrame, colName: String, maxMapSize: Int)
      : Seq[(String, Long, Long, Long, Boolean)] = {
    val sk = FreqStats.sketchOf(df.agg(FreqSketchAgg.freq_sketch(col(colName), maxMapSize))
      .collect()(0).getAs[Array[Byte]](0))
    val exact = sk.getMaximumError == 0L
    sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).toSeq
      .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound, exact))
  }

  test("under capacity the sketch is exact and matches groupBy counts") {
    val df = spark.range(100000)
      .select((col("id") % 5).as("day"),
        concat(lit("item"), (col("id") % 50).cast("string")).as("item"))
    val truth = df.groupBy("item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hh = heavyHitters(df, "item", maxMapSize = 256)
    assert(hh.forall(_._5), "expected exact regime (no purge)")
    assert(hh.map(r => r._1 -> r._2).toMap == truth)
    assert(hh.forall(r => r._3 == r._2 && r._4 == r._2))
  }

  test("per-day sketch blobs merge to the whole-corpus answer without rescanning") {
    val df = spark.range(100000)
      .select((col("id") % 5).as("day"),
        concat(lit("item"), (col("id") % 50).cast("string")).as("item"))
    val daily = df.groupBy("day")
      .agg(FreqSketchAgg.freq_sketch(col("item"), 256).as("freq"))
    assert(daily.count() == 5)
    val mergedBytes = daily.agg(FreqMergeAgg.freq_merge(col("freq"), 256))
      .collect()(0).getAs[Array[Byte]](0)
    val sk = FreqStats.sketchOf(mergedBytes)
    assert(sk.getStreamLength == 100000L && sk.getMaximumError == 0L)
    val truth = df.groupBy("item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(r => r.getItem -> r.getEstimate).toMap
    assert(merged == truth)
  }

  test("over capacity: every planted heavy hitter reported, bounds contain truth, state stays bounded") {
    // 20 planted heavies at 5,000 each (100k rows) + 200k-distinct tail of
    // singletons: 200k distinct >> maxMapSize=256
    val heavy = spark.range(100000)
      .select(concat(lit("hot"), (col("id") % 20).cast("string")).as("item"))
    val tail = spark.range(200000)
      .select(concat(lit("cold"), col("id").cast("string")).as("item"))
    val df = heavy.unionByName(tail).repartition(8)
    val bytes = df.agg(FreqSketchAgg.freq_sketch(col("item"), 256))
      .collect()(0).getAs[Array[Byte]](0)
    val sk = FreqStats.sketchOf(bytes)
    assert(sk.getStreamLength == 300000L)
    val err = sk.getMaximumError
    assert(err > 0L && err < 5000L, s"maxError $err should be < planted heavy count")
    val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
    val items = rows.map(_.getItem).toSet
    (0 until 20).foreach(i => assert(items.contains(s"hot$i"), s"hot$i missing"))
    rows.filter(_.getItem.startsWith("hot")).foreach { r =>
      assert(r.getLowerBound <= 5000L && 5000L <= r.getUpperBound,
        s"${r.getItem}: [${r.getLowerBound},${r.getUpperBound}] misses 5000")
    }
  }

  test("countsDeltaByGroup: exact per-group item deltas; one-sided groups zero-filled; purge flagged") {
    def sk(df: org.apache.spark.sql.DataFrame, cap: Int = 256) =
      df.groupBy("g").agg(FreqSketchAgg.freq_sketch(col("item"), cap).as("freq"))
    def grp(g: String, item: String, n: Long) =
      spark.range(n).select(lit(g).as("g"), lit(item).as("item"))
    val prev = sk(grp("g0", "a", 100).unionByName(grp("g0", "b", 50))
      .unionByName(grp("g1", "x", 30)))
    val cur = sk(grp("g0", "a", 70).unionByName(grp("g0", "c", 20))
      .unionByName(grp("g2", "y", 10)))
    val d = FreqStats.countsDeltaByGroup(prev, cur).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(d(("g0", "a")).getLong(4) == -30L && d(("g0", "a")).getBoolean(5))
    assert(d(("g0", "b")).getLong(2) == 50L && d(("g0", "b")).getLong(3) == 0L)
    assert(d(("g0", "c")).getLong(2) == 0L && d(("g0", "c")).getLong(4) == 20L)
    assert(d(("g1", "x")).getLong(4) == -30L) // group removed -> drained
    assert(d(("g2", "y")).getLong(4) == 10L)  // group added
    // over-capacity side flips the exact flag
    val big = sk(spark.range(50000)
      .select(lit("g0").as("g"),
        concat(lit("i"), col("id").cast("string")).as("item")), cap = 64)
    val inexact = FreqStats.countsDeltaByGroup(prev, big).collect()
    assert(inexact.filter(_.getString(0) == "g0").forall(!_.getBoolean(5)))
  }

  test("merge skips null and empty blobs") {
    val df = spark.range(1000)
      .select((col("id") % 2).as("day"),
        concat(lit("i"), (col("id") % 10).cast("string")).as("item"))
    val daily = df.groupBy("day")
      .agg(FreqSketchAgg.freq_sketch(col("item"), 64).as("freq"))
    val junk = spark.range(1).select(lit(2L).as("day"),
      lit(null).cast("binary").as("freq"))
      .unionByName(spark.range(1).select(lit(3L).as("day"),
        lit(Array.emptyByteArray).as("freq")))
    val sk = FreqStats.sketchOf(
      daily.unionByName(junk).agg(FreqMergeAgg.freq_merge(col("freq"), 64))
        .collect()(0).getAs[Array[Byte]](0))
    assert(sk.getStreamLength == 1000L && sk.getMaximumError == 0L)
  }

  test("null items are skipped, not counted") {
    val df = spark.range(1000).select(
      when(col("id") % 4 === 0, lit(null))
        .otherwise(concat(lit("i"), (col("id") % 3).cast("string"))).as("item"))
    val hh = heavyHitters(df, "item", 64)
    assert(hh.map(_._2).sum == 750L)
  }
}
