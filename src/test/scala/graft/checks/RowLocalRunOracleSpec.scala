package graft.checks

import graft.SparkTestBase
import graft.datagen.DocGen
import graft.engine.Pipeline
import graft.streaming.StreamingValidator
import org.apache.spark.sql.DataFrame

/** Each row-local check run ALONE — its native pass compiled for a
  * single-check constraint set — against the test-scope HOF oracle, and
  * the streaming path against the batch row-local core. The golden
  * three-way equality only ever compiles the full five-check set; these
  * compare the single-check compile that `RowLocalCheck.run` uses.
  */
class RowLocalRunOracleSpec extends SparkTestBase {

  private val n = 3500L
  private lazy val schema = DocGen.schema
  private lazy val corpora: Seq[(String, DataFrame)] = Seq(
    "plain" -> DocGen.documents(spark, n).toDF(),
    "annotated" -> DocGen.annotatedDocuments(spark, n).toDF())

  private def datatype(mode: String): RowLocalCheck =
    CheckDatatype.configure(Map("mode" -> mode)).asInstanceOf[RowLocalCheck]

  private def multiset(df: DataFrame,
                       cols: Seq[String] = Seq("checkId", "severity", "docId",
                         "kind", "value", "expected")): Map[Seq[Any], Int] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().groupBy(_.toSeq).map { case (k, rs) => k -> rs.length }

  private def diff(got: Map[Seq[Any], Int], want: Map[Seq[Any], Int]): String =
    s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}"

  test("each row-local check alone: native run ≡ explode(violArray) ∪ extraFrames, plain and annotated, strict and loose") {
    val checks: Seq[(String, RowLocalCheck)] = Seq(
      "domain" -> CheckDomain, "datatype/strict" -> datatype("strict"),
      "datatype/loose" -> datatype("loose"), "cardinality" -> CheckCardinality,
      "some" -> CheckSome, "only" -> CheckOnly)
    for ((corpus, docs) <- corpora; (name, c) <- checks) {
      val ctx = CheckContext(spark, docs, schema)
      val got = multiset(c.run(ctx))
      val want = multiset(HofOracle.run(c, ctx))
      assert(want.nonEmpty, s"$corpus/$name: the oracle flags nothing, so the comparison is vacuous")
      assert(got == want, s"$corpus/$name: ${diff(got, want)}")
    }
  }

  test("violationStream over a static frame ≡ Pipeline.rowLocalCore") {
    for ((corpus, docs) <- corpora; mode <- Seq("strict", "loose")) {
      val checks = StreamingValidator.StatelessChecks.map {
        case _: CheckDatatypeImpl => datatype(mode)
        case c => c
      }
      val cols = Seq("checkId", "check", "docId", "kind", "value", "expected")
      val got = multiset(StreamingValidator.violationStream(spark, docs, schema, checks), cols)
      val want = multiset(Pipeline.rowLocalCore(spark, docs, schema, checks), cols)
      assert(want.nonEmpty)
      assert(got == want, s"$corpus/$mode: ${diff(got, want)}")
    }
  }
}
