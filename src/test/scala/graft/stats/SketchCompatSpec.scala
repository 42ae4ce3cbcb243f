package graft.stats

import java.nio.file.{Files, Paths}
import java.util.Properties

import graft.SparkTestBase
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.frequencies.ErrorType
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Stored sketches outlive the code that wrote them: profile blobs written
  * by the engine's earlier hand-rolled KLL/theta aggregates (the fixtures
  * under `sketch-compat/`, see [[SketchCompatFixtures]]) must merge with
  * sketches the current facades write, give the known exact answers, and
  * let a delta run's drift read old parts against new ones.
  */
class SketchCompatSpec extends SparkTestBase {
  import SketchCompatFixtures._

  private def path(name: String): String =
    Paths.get(getClass.getResource(s"$resourceDir/$name").toURI).toString
  private def bytes(name: String): Array[Byte] = Files.readAllBytes(Paths.get(path(name)))
  private lazy val expected: Properties = {
    val p = new Properties()
    val in = getClass.getResourceAsStream(s"$resourceDir/expected.properties")
    try p.load(in) finally in.close()
    p
  }

  private def blob(df: DataFrame, agg: Column): Array[Byte] =
    df.agg(agg).collect()(0).getAs[Array[Byte]](0)
  private def blobs(bs: Array[Byte]*): DataFrame = {
    val session = spark
    import session.implicits._
    bs.toDF("b")
  }
  private def kllMerge(bs: Array[Byte]*): KllDoublesSketch =
    DriftStats.sketchOf(blob(blobs(bs: _*), KllMergeAgg.kll_merge(col("b"))))
  private def thetaMerge(bs: Array[Byte]*): Array[Byte] =
    blob(blobs(bs: _*), ThetaMergeAgg.theta_merge(col("b")))

  test("exact-mode KLL: an old blob merges with a new sketch into every item") {
    val old = bytes("kll_exact.bin")
    assert(DriftStats.sketchOf(old).getN == 100L)
    val m = kllMerge(old, blob(kllExactNew(spark), KllSketchAgg.kll_sketch(col("v"))))
    assert(!m.isEstimationMode)
    assert(m.getN == 150L && m.getMinItem == 1.0 && m.getMaxItem == 150.0)
    // every item is retained, so each rank is the exact order statistic
    (1 to 150).foreach(x => assert(m.getRank(x.toDouble) == x / 150.0, s"rank of $x"))
  }

  test("estimation-mode KLL: an old blob merges with a new sketch; n/min/max exact") {
    val old = bytes("kll_est.bin")
    assert(DriftStats.sketchOf(old).getN == expected.getProperty("kll_est.n").toLong)
    val m = kllMerge(old, blob(kllEstNew(spark), KllSketchAgg.kll_sketch(col("v"))))
    assert(m.isEstimationMode)
    assert(m.getN == 200000L && m.getMinItem == 0.0 && m.getMaxItem == 199999.0)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      assert(math.abs(m.getRank(q * 200000) - q) < 0.04, s"q=$q")
    }
  }

  test("an old empty KLL blob, NULL and zero-length blobs add nothing to a merge") {
    val m = kllMerge(bytes("kll_exact.bin"), bytes("kll_empty.bin"), null, Array.emptyByteArray)
    assert(m.getN == 100L && m.getMinItem == 1.0 && m.getMaxItem == 100.0)
    assert(kllMerge(bytes("kll_empty.bin")).isEmpty)
  }

  test("exact-mode theta: old and new blobs give the true churn in every pairing") {
    val (oldA, oldB) = (bytes("theta_exact_a.bin"), bytes("theta_exact_b.bin"))
    val newA = blob(strings(spark, thetaA), ThetaSketchAgg.theta_sketch(col("v")))
    val newB = blob(strings(spark, thetaB), ThetaSketchAgg.theta_sketch(col("v")))
    for ((a, b) <- Seq((oldA, oldB), (oldA, newB), (newA, oldB), (newA, newB)))
      assert(ThetaStats.setChurn(a, b) == ((302.0, 300.0, 401.0, 703.0, 701.0, true)))
    // the same set from either writer hashes the same values: the escape
    // of "" and NUL-prefixed strings did not change
    assert(ThetaStats.setChurn(oldA, newA) == ((0.0, 0.0, 703.0, 703.0, 703.0, true)))
    assert(ThetaStats.estimate(thetaMerge(oldA, newB)) == 1003.0)
    assert(ThetaStats.estimate(thetaMerge(oldA, newA, oldB)) == 1003.0)
    assert(ThetaStats.estimate(thetaMerge(oldA, bytes("theta_empty.bin"), null,
      Array.emptyByteArray)) == 703.0)
    assert(ThetaStats.estimate(thetaMerge(bytes("theta_empty.bin"))) == 0.0)
  }

  test("estimation-mode theta: old blob, new sketch and their union read the recorded estimate") {
    val recorded = expected.getProperty("theta_est.estimate").toDouble
    val old = bytes("theta_est.bin")
    assert(ThetaStats.sketchOf(old).isEstimationMode)
    assert(ThetaStats.estimate(thetaMerge(old)) == recorded)
    val fresh = blob(thetaEst(spark), ThetaSketchAgg.theta_sketch(col("v")))
    assert(ThetaStats.estimate(fresh) == recorded)
    assert(ThetaStats.estimate(thetaMerge(old, fresh)) == recorded)
  }

  private def storedParts: DataFrame = spark.read.parquet(path("profile_parts"))

  test("mergeProfiles of old stored parts and a new part equals the recorded merged profile") {
    val part3 = ColumnStats.mergeableProfile(
      profileCorpus(spark).filter(col("part") === newPart), "part", profileCols)
    def byColumn(df: DataFrame): Map[String, Row] =
      df.collect().map(r => r.getAs[String]("column") -> r).toMap
    val got = byColumn(ColumnStats.mergeProfiles(storedParts.unionByName(part3)))
    val want = byColumn(spark.read.parquet(path("profile_merged")))
    assert(got.keySet == profileCols.toSet && want.keySet == got.keySet)
    val exact = Seq("n", "nulls", "min_d", "max_d", "min_s", "max_s", "sum_l", "sum_d",
      "distinct_est")
    def kll(r: Row) = DriftStats.sketchOf(r.getAs[Array[Byte]]("kll"))
    def freq(r: Row) = FreqStats.sketchOf(r.getAs[Array[Byte]]("freq"))
      .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).map(i => i.getItem -> i.getEstimate).toMap
    profileCols.foreach { c =>
      val (g, w) = (got(c), want(c))
      exact.foreach(f => assert(g.getAs[Any](f) == w.getAs[Any](f), s"$c.$f"))
      val (gk, wk) = (kll(g), kll(w))
      assert(gk.getN == wk.getN, s"$c.kll n")
      if (!wk.isEmpty)
        assert(gk.getMinItem == wk.getMinItem && gk.getMaxItem == wk.getMaxItem, s"$c.kll min/max")
      assert(ThetaStats.estimate(g.getAs[Array[Byte]]("theta")) ==
        ThetaStats.estimate(w.getAs[Array[Byte]]("theta")), s"$c.theta")
      assert(freq(g) == freq(w), s"$c.freq")
    }
    // the string and all-NULL-in-old-parts columns carry what they should
    assert(kll(got("s")).isEmpty && kll(got("z")).getN == 100L)
    assert(ThetaStats.estimate(got("s").getAs[Array[Byte]]("theta")) == 6.0)
  }

  test("profile drift between old stored parts and new parts over the same rows is all-quiet") {
    val fresh = ColumnStats.mergeableProfile(
      profileCorpus(spark).filter(col("part").isin(oldParts: _*)), "part", profileCols)
    val drift = ProfileDrift.byPart(storedParts, fresh).collect()
    assert(drift.length == oldParts.size * profileCols.size)
    drift.foreach { r =>
      def l(f: String) = r.getAs[Long](f)
      assert(r.getAs[String]("status") == "present", r.toString)
      assert(l("n_prev") == l("n_cur") && l("nulls_prev") == l("nulls_cur"), r.toString)
      assert(l("null_rate_shift_e6") == 0L && l("distinct_prev") == l("distinct_cur"), r.toString)
      assert(l("values_only_prev") == 0L && l("values_only_cur") == 0L, r.toString)
      assert(l("ks_e6") == 0L && l("psi_e6") == 0L, r.toString)
    }
    // the stored blobs are not all empty: the quiet reading compared values
    assert(drift.exists(r => r.getAs[Long]("values_common") > 50L))
  }
}
