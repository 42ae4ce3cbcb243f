package graft.stats

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests for the mergeable-sketch plane: every EXACT channel of
  * the mergeable profile, and every exact-regime sketch answer, must be
  * invariant to how the data is partitioned and how the parts are merged
  * — the property that makes "merge stored rows instead of rescanning"
  * sound at any granularity. Generator style per CurationPropertySpec
  * (scalacheck Gen driven directly, Spark work batched per property).
  */
class SketchPropertySpec extends SparkTestBase {

  private def genCases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(700L + i)))

  // mixed-shape rows: nullable long, nullable string, fractional
  private def rows(seed: Int) = genCases(for {
    k <- Gen.option(Gen.chooseNum(-1000L, 1000L))
    s <- Gen.option(Gen.oneOf("a", "b", "cc", "dddd", "", "Z9", "~", " ",
      "\u0000", "\u0000a"))
    f <- Gen.chooseNum(-50, 50).map(_ / 7.0)
  } yield (k, s, f), 600 + seed)

  test("mergeable-profile exact channels are invariant to partitioning and part shape") {
    val session = spark
    import session.implicits._
    val data = rows(0)
    val exact = Seq("n", "nulls", "min_d", "max_d", "min_s", "max_s", "sum_l")
    def profile(parts: Int, partMod: Int) = {
      val df = data.zipWithIndex
        .map { case ((k, s, f), i) => (i.toLong % partMod, k, s, f) }
        .toDF("part", "k", "s", "f").repartition(parts)
      ColumnStats.mergeProfiles(
          ColumnStats.mergeableProfile(df, "part", Seq("k", "s", "f")))
        .select(col("column") +: exact.map(col): _*)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    }
    val base = profile(1, 1)
    Seq((2, 3), (7, 5), (16, 13), (4, 600)).foreach { case (parts, mod) =>
      assert(profile(parts, mod) == base, s"parts=$parts mod=$mod diverged")
    }
  }

  test("theta and frequent-items exact-regime answers are invariant to grouping") {
    val session = spark
    import session.implicits._
    val data = rows(1).flatMap(t => t._2.map(s => (t._1.getOrElse(0L), s)))
    def viaParts(mod: Int): (Double, Map[String, Long]) = {
      val df = data.zipWithIndex
        .map { case ((k, s), i) => (i.toLong % mod, s) }.toDF("g", "s")
      val blobs = df.groupBy("g").agg(
        ThetaSketchAgg.theta_sketch(col("s"), 256).as("theta"),
        FreqSketchAgg.freq_sketch(col("s"), 256).as("freq"))
      val t = blobs.agg(ThetaMergeAgg.theta_merge(col("theta"), 256))
        .collect()(0).getAs[Array[Byte]](0)
      val fq = blobs.agg(FreqMergeAgg.freq_merge(col("freq"), 256))
        .collect()(0).getAs[Array[Byte]](0)
      val sk = FreqStats.sketchOf(fq)
      assert(sk.getMaximumError == 0L)
      (ThetaStats.estimate(t),
        sk.getFrequentItems(org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
          .map(r => r.getItem -> r.getEstimate).toMap)
    }
    val truthDistinct = data.map(_._2).distinct.size.toDouble
    val truthCounts = data.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    Seq(1, 2, 9, 50).foreach { mod =>
      val (est, hh) = viaParts(mod)
      assert(est == truthDistinct, s"mod=$mod theta $est != $truthDistinct")
      assert(hh == truthCounts, s"mod=$mod freq diverged")
    }
  }

  test("profile drift on identical part frames is all-quiet (ks/psi zero, shifts zero)") {
    val session = spark
    import session.implicits._
    val df = rows(2).zipWithIndex
      .map { case ((k, s, f), i) => (i.toLong % 4, k, s, f) }
      .toDF("part", "k", "s", "f")
    val parts = ColumnStats.mergeableProfile(df, "part", Seq("k", "s", "f"))
      .cache()
    val drift = ProfileDrift.byPart(parts, parts).collect()
    parts.unpersist()
    assert(drift.nonEmpty)
    drift.foreach { r =>
      assert(r.getAs[String]("status") == "present")
      assert(r.getAs[Long]("n_prev") == r.getAs[Long]("n_cur"))
      assert(r.getAs[Long]("null_rate_shift_e6") == 0L)
      assert(r.getAs[Long]("ks_e6") == 0L && r.getAs[Long]("psi_e6") == 0L, r.toString)
    }
  }
}
