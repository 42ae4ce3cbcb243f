package graft.stats

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Theta set-operation sketches: exact in the under-capacity regime
  * (estimates, intersections, differences are exact integers), mergeable
  * (per-day blobs union to the whole-corpus sketch), bounded error over
  * capacity.
  */
class ThetaSketchSpec extends SparkTestBase {

  // side a holds values 0..699, side b holds 300..999: |a\b|=300,
  // |b\a|=300, |a∩b|=400 — all well under nominalEntries
  private def sides = {
    val a = spark.range(140000)
      .select(lit("a").as("side"), (col("id") % 700).as("v"))
    val b = spark.range(140000)
      .select(lit("b").as("side"), (col("id") % 700 + 300).as("v"))
    a.unionByName(b)
  }

  test("exact regime: estimate, intersection and difference are exact integers") {
    val sk = sides.groupBy("side")
      .agg(ThetaSketchAgg.theta_sketch(col("v")).as("theta"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val (onlyA, onlyB, common, totA, totB, exact) =
      ThetaStats.setChurn(sk("a"), sk("b"))
    assert(exact, "expected both sketches in exact mode")
    assert(totA == 700.0 && totB == 700.0)
    assert(onlyA == 300.0 && onlyB == 300.0 && common == 400.0)
  }

  test("per-day blobs merge to the whole-corpus sketch without rescanning") {
    val df = spark.range(200000)
      .select((col("id") % 10).as("day"), (col("id") % 1500).as("v"))
    val daily = df.groupBy("day")
      .agg(ThetaSketchAgg.theta_sketch(col("v")).as("theta"))
    assert(daily.count() == 10)
    val merged = daily.agg(ThetaMergeAgg.theta_merge(col("theta")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(!ThetaStats.sketchOf(merged).isEstimationMode)
    assert(ThetaStats.estimate(merged) == 1500.0)
    // junk blobs skipped
    val withJunk = daily.select("theta")
      .unionByName(spark.range(1).select(lit(null).cast("binary").as("theta")))
      .unionByName(spark.range(1).select(lit(Array.emptyByteArray).as("theta")))
      .agg(ThetaMergeAgg.theta_merge(col("theta"))).collect()(0).getAs[Array[Byte]](0)
    assert(ThetaStats.estimate(withJunk) == 1500.0)
  }

  test("over capacity the estimate stays within the documented relative error") {
    val n = 200000L
    val bytes = spark.range(n)
      .select(concat(lit("u"), col("id").cast("string")).as("v"))
      .agg(ThetaSketchAgg.theta_sketch(col("v"), 4096))
      .collect()(0).getAs[Array[Byte]](0)
    val sk = ThetaStats.sketchOf(bytes)
    assert(sk.isEstimationMode)
    // rse ≈ 1/sqrt(4096) ≈ 1.6%; allow 5 sigma
    assert(math.abs(sk.getEstimate - n) / n < 0.08,
      s"estimate ${sk.getEstimate} vs $n")
    assert(sk.getLowerBound(3) <= n && n <= sk.getUpperBound(3))
  }

  test("setChurnByGroup: per-group exact churn; one-sided groups surface as added/removed") {
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(ThetaSketchAgg.theta_sketch(col("v"), 256).as("theta"))
    def grp(g: String, lo: Int, n: Int) =
      spark.range(n * 20).select(lit(g).as("g"), (col("id") % n + lo).as("v"))
    val prev = sk(grp("g0", 0, 50).unionByName(grp("g1", 0, 50))
      .unionByName(grp("g2", 0, 50)))
    // cur: g0 unchanged, g1 shifted by 25 (half overlap), g2 gone, g9 new
    val cur = sk(grp("g0", 0, 50).unionByName(grp("g1", 25, 50))
      .unionByName(grp("g9", 0, 5)))
    val churn = ThetaStats.setChurnByGroup(prev, cur).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(churn("g0").getString(1) == "present" &&
      churn("g0").getLong(2) == 0L && churn("g0").getLong(3) == 0L &&
      churn("g0").getLong(4) == 50L)
    assert(churn("g1").getString(1) == "present" &&
      churn("g1").getLong(2) == 25L && churn("g1").getLong(3) == 25L &&
      churn("g1").getLong(4) == 25L)
    assert(churn("g2").getString(1) == "removed" && churn("g2").getLong(5) == 50L)
    assert(churn("g9").getString(1) == "added" && churn("g9").getLong(6) == 5L)
    assert(churn.values.forall(_.getBoolean(7)))
  }

  test("nominalEntries must be a power of 2 >= 16") {
    Seq(0, 8, 100, 4095).foreach { n =>
      intercept[IllegalArgumentException](ThetaSketchAgg.theta_sketch(col("v"), n))
      intercept[IllegalArgumentException](ThetaMergeAgg.theta_merge(col("v"), n))
    }
  }

  test("nulls are skipped") {
    val bytes = spark.range(1000)
      .select(when(col("id") % 2 === 0, lit(null)).otherwise(col("id") % 7).as("v"))
      .agg(ThetaSketchAgg.theta_sketch(col("v")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(ThetaStats.estimate(bytes) == 7.0)
  }
}
