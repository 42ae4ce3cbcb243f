package graft.stats

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Mergeable drift baselines: per-day KLL sketch blobs merged must
  * reproduce the whole-corpus sketch's answers within
  * KLL error — the rescan-free 100 TB drift-baseline contract.
  */
class KllMergeSpec extends SparkTestBase {

  // 30 "days" × 40k rows, day d drawing from [1000·d, 1000·d + 999] so the
  // corpus distribution is wide and no single day resembles it
  private def corpus = spark.range(1200000)
    .select((col("id") % 30).as("day"),
      ((col("id") % 30) * 1000 + col("id") % 1000).cast("double").as("v"))

  test("kll_merge over per-day sketch blobs equals the whole-corpus sketch within KLL error") {
    val df = corpus.repartition(16)
    // the stored profile table: one sketch blob per day
    val daily = df.groupBy("day").agg(KllSketchAgg.kll_sketch(col("v")).as("kll"))
    assert(daily.count() == 30)
    val mergedBytes = daily.agg(KllMergeAgg.kll_merge(col("kll")))
      .collect()(0).getAs[Array[Byte]](0)
    val wholeBytes = df.agg(KllSketchAgg.kll_sketch(col("v")))
      .collect()(0).getAs[Array[Byte]](0)
    val (m, w) = (DriftStats.sketchOf(mergedBytes), DriftStats.sketchOf(wholeBytes))
    // counts, min, max are EXACT under merge
    assert(m.getN == 1200000L && m.getN == w.getN)
    assert(m.getMinItem == 0.0 && m.getMaxItem == 29999.0)
    assert(m.getMinItem == w.getMinItem && m.getMaxItem == w.getMaxItem)
    // quantiles agree in RANK space within the k=200 bound (~1.65%) ×2
    // (both sketches carry error)
    Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { q =>
      val dRank = math.abs(w.getRank(m.getQuantile(q)) - q)
      assert(dRank < 0.04, s"q=$q merged-quantile rank off by $dRank")
    }
    // and against the TRUE distribution (uniform over 30 bands)
    val med = m.getQuantile(0.5)
    assert(math.abs(med - 15000.0) < 30000 * 0.04, s"median $med")
  }

  test("kll_merge skips null and empty blobs") {
    val daily = corpus.repartition(8)
      .groupBy("day").agg(KllSketchAgg.kll_sketch(col("v")).as("kll"))
    val aggWithJunk = DriftStats.sketchOf(daily.select("kll")
      .unionByName(spark.range(1).select(lit(null).cast("binary").as("kll")))
      .unionByName(spark.range(1).select(lit(Array.emptyByteArray).as("kll")))
      .agg(KllMergeAgg.kll_merge(col("kll"))).collect()(0).getAs[Array[Byte]](0))
    assert(aggWithJunk.getN == 1200000L)
  }

  test("a merged baseline drift-checks a new day without rescanning history") {
    val daily = corpus.groupBy("day").agg(KllSketchAgg.kll_sketch(col("v")).as("kll"))
    // baseline = merge of days 0..28; day 29 is the "new day"
    val baseline = daily.filter(col("day") < 29)
      .agg(KllMergeAgg.kll_merge(col("kll"))).collect()(0).getAs[Array[Byte]](0)
    val newDay = daily.filter(col("day") === 29)
      .collect()(0).getAs[Array[Byte]](1)
    // day 29's values live in [29000, 29999] — far right tail of the
    // baseline → near-total drift; same-day comparison reports ~none
    assert(DriftStats.ksStatistic(baseline, newDay) > 0.9)
    assert(DriftStats.ksStatistic(newDay, newDay) < 1e-9)
  }

  test("per-source merged baselines: exact n/min/max per source, quantiles within KLL error") {
    // 3 sources with DIFFERENT distributions so a global merge could never
    // stand in for the per-source baselines
    val df = spark.range(300000).select(
      concat(lit("s"), (col("id") % 3).cast("string")).as("source"),
      (col("id") % 7).as("day"), // 7 ⊥ 3: every (source, day) combo occurs
      ((col("id") % 3) * 100000 + col("id") % 1000).cast("double").as("v"))
      .repartition(8)
    val daily = df.groupBy("source", "day")
      .agg(KllSketchAgg.kll_sketch(col("v")).as("kll"))
    assert(daily.count() == 21)
    val merged = DriftStats.mergedBaselinesBySource(daily)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val direct = df.groupBy("source").agg(KllSketchAgg.kll_sketch(col("v")).as("kll"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(merged.keySet == Set("s0", "s1", "s2"))
    merged.foreach { case (src, bytes) =>
      val m = DriftStats.sketchOf(bytes)
      val w = DriftStats.sketchOf(direct(src))
      val base = src.stripPrefix("s").toDouble * 100000
      assert(m.getN == 100000L && m.getN == w.getN, src)
      // 1000 ⊥ 3, so every source hits its band's exact ends
      assert(m.getMinItem == base && m.getMaxItem == base + 999, src)
      assert(m.getMinItem == w.getMinItem && m.getMaxItem == w.getMaxItem, src)
      Seq(0.1, 0.5, 0.9).foreach { q =>
        val dRank = math.abs(w.getRank(m.getQuantile(q)) - q)
        assert(dRank < 0.04, s"$src q=$q rank off by $dRank")
      }
    }
  }

  test("ksExact auto-bin guard engages above maxDistinct and stays accurate") {
    // 200k distinct uniform values per side, b shifted by half the range:
    // true KS = 0.5
    val a = spark.range(200000).select(col("id").cast("double").as("v"))
    val b = spark.range(200000).select((col("id") + 100000).cast("double").as("v"))
    val guarded = DriftStats.ksExact(a, b, "v", maxDistinct = 1000)
      .collect()(0)
    assert(guarded.getLong(1) == 200000L && guarded.getLong(2) == 200000L)
    // binned KS is within the largest bin's combined mass of the true stat
    assert(math.abs(guarded.getDouble(0) - 0.5) < 0.01,
      s"binned ks ${guarded.getDouble(0)}")
    // under the threshold the exact path still runs (hand case from StatsSpec)
    val exact = DriftStats.ksExact(a, b, "v").collect()(0).getDouble(0)
    assert(math.abs(exact - 0.5) < 1e-12)
  }
}
