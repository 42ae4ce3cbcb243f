package graft.stats

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs of the stored-sketch compatibility fixtures under
  * `src/test/resources/sketch-compat/`, and the generator that wrote them.
  * The blobs and profile parquet there were written by the engine's
  * hand-rolled KLL/theta aggregates before the facades moved to Spark's
  * built-in sketches; [[SketchCompatSpec]] reads them back through the
  * current facades. Every input is closed-form (no RNG), so the spec
  * rebuilds the same rows to compare against.
  *
  * Regenerate (this rewrites the fixtures with the CURRENT aggregates, so
  * only do it at the commit FIXTURES.md names):
  * {{{
  *   sbt "Test/runMain graft.stats.SketchCompatFixtures src/test/resources/sketch-compat"
  * }}}
  */
object SketchCompatFixtures {

  val resourceDir = "/sketch-compat"

  private def doubles(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 3).select(col("id").cast("double").as("v"))

  /** KLL exact mode (n < k = 200): the fixture holds 1..100, the spec
    * sketches 101..150 with the current facade.
    */
  def kllExactOld(spark: SparkSession): DataFrame = doubles(spark, 1, 101)
  def kllExactNew(spark: SparkSession): DataFrame = doubles(spark, 101, 151)

  /** KLL estimation mode: the fixture holds 0..99999, the spec 100000..199999. */
  def kllEstOld(spark: SparkSession): DataFrame = doubles(spark, 0, 100000)
  def kllEstNew(spark: SparkSession): DataFrame = doubles(spark, 100000, 200000)

  /** Theta exact mode. Both sides carry "" and A carries NUL-prefixed
    * values, so a change to the escape shows as a wrong count:
    * |A| = 703, |B| = 701, |A ∩ B| = 401, |A \ B| = 302, |B \ A| = 300.
    */
  val thetaA: Seq[String] = Seq("", "\u0000", "\u0000a") ++ (0 until 700).map(i => s"v$i")
  val thetaB: Seq[String] = "" +: (300 until 1000).map(i => s"v$i")

  def strings(spark: SparkSession, vs: Seq[String]): DataFrame = {
    import spark.implicits._
    vs.toDF("v").repartition(3)
  }

  /** Theta estimation mode: 200000 distinct strings into 4096 nominal entries. */
  def thetaEst(spark: SparkSession): DataFrame =
    spark.range(0, 200000, 1, 4).select(concat(lit("u"), col("id").cast("string")).as("v"))

  /** All-NULL input: both aggregates return a non-empty EMPTY sketch. */
  def allNull(spark: SparkSession): DataFrame =
    spark.range(0, 10, 1, 2).select(lit(null).cast("double").as("v"))

  /** The profile corpus: 400 rows in parts 0..3 over an integral column
    * with planted nulls, a fractional column whose sums are exact in
    * binary, a string column with "", NUL and nulls, and a fractional
    * column that is NULL outside part 3 (so the stored parts carry EMPTY
    * sketch blobs). The fixture holds the profile rows of parts 0..2 and
    * the merged profile of parts 0..3.
    */
  val profileCols: Seq[String] = Seq("k", "f", "s", "z")
  val oldParts: Seq[Long] = Seq(0L, 1L, 2L)
  val newPart: Long = 3L

  def profileCorpus(spark: SparkSession): DataFrame = spark.range(0, 400, 1, 3).select(
    (col("id") % 4).as("part"),
    when(col("id") % 11 === 0, lit(null)).otherwise((col("id") * 37) % 1000 - 500).as("k"),
    ((col("id") % 13) / 4.0).as("f"),
    when(col("id") % 7 === 6, lit(null))
      .otherwise(element_at(array(Seq("", "a", "b", "cc", "\u0000", "Z9").map(lit): _*),
        (col("id") % 7 + 1).cast("int")))
      .as("s"),
    when(col("id") % 4 === 3, col("id") / 2.0).as("z"))

  private def blob(df: DataFrame, agg: org.apache.spark.sql.Column): Array[Byte] =
    df.agg(agg).collect()(0).getAs[Array[Byte]](0)

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val spark = graft.TestSpark.spark
    Files.createDirectories(out)
    def write(name: String, bytes: Array[Byte]): Unit = Files.write(out.resolve(name), bytes)

    write("kll_exact.bin", blob(kllExactOld(spark), KllSketchAgg.kll_sketch(col("v"))))
    write("kll_est.bin", blob(kllEstOld(spark), KllSketchAgg.kll_sketch(col("v"))))
    write("theta_exact_a.bin", blob(strings(spark, thetaA), ThetaSketchAgg.theta_sketch(col("v"))))
    write("theta_exact_b.bin", blob(strings(spark, thetaB), ThetaSketchAgg.theta_sketch(col("v"))))
    write("kll_empty.bin", blob(allNull(spark), KllSketchAgg.kll_sketch(col("v"))))
    write("theta_empty.bin", blob(allNull(spark), ThetaSketchAgg.theta_sketch(col("v"))))
    val thetaEstBytes = blob(thetaEst(spark), ThetaSketchAgg.theta_sketch(col("v")))
    write("theta_est.bin", thetaEstBytes)

    val corpus = profileCorpus(spark)
    def parquet(name: String, df: DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      // keep only the parquet part file: checksums and markers are noise
      Files.list(out.resolve(name)).toArray.map(_.asInstanceOf[Path])
        .filterNot(_.getFileName.toString.endsWith(".parquet"))
        .foreach(Files.delete)
    }
    parquet("profile_parts", ColumnStats.mergeableProfile(
      corpus.filter(col("part").isin(oldParts: _*)), "part", profileCols))
    parquet("profile_merged", ColumnStats.mergeProfiles(
      ColumnStats.mergeableProfile(corpus, "part", profileCols)))

    val kllEstN = DriftStats.sketchOf(Files.readAllBytes(out.resolve("kll_est.bin"))).getN
    val expected =
      s"""theta_est.estimate=${java.lang.Double.toString(ThetaStats.estimate(thetaEstBytes))}
         |kll_est.n=$kllEstN
         |""".stripMargin
    Files.write(out.resolve("expected.properties"), expected.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
