package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.checks._
import graft.model.SchemaDef

/** Row-local checks over a stream of documents. The reference is
  * batch-only (dvt:106-203); this runs the same check definitions over a
  * streaming DataFrame.
  *
  * Only the subject-local checks (datatype, domain, cardinality, some/only)
  * stream: they are stateless projections, exactly-once under any output
  * mode. The referential check and the vocabulary checks need the whole
  * corpus (a doc_id universe, global distincts) and stay batch-only.
  */
object StreamingValidator {

  /** Checks that are pure row-local projections — streaming-safe with no
    * state, watermark, or output-mode constraints. (Their batch-side
    * warning passes involve global distincts and are excluded here.)
    */
  val StatelessChecks: Seq[ConstraintCheck] =
    Seq(CheckDomain, CheckDatatype, CheckCardinality, CheckSome, CheckOnly)

  /** Violation stream from a streaming documents DataFrame (same schema as
    * the batch table): the batch row-local core
    * ([[CheckContext.rowLocalCore]], one native ValidateSpans projection)
    * — stateless, INCLUDING the span-datatype seam (strict mode +
    * qualified counts engage when the stream's span struct carries the
    * annotation field, exactly as in Pipeline.violations).
    */
  def violationStream(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
                      checks: Seq[ConstraintCheck] = StatelessChecks): DataFrame = {
    // only row-local checks stream through the fused expression — a
    // vocabulary/referential check passed here would otherwise compile to
    // an EMPTY constraint set and silently never run
    val nonRowLocal = checks.filterNot(_.isInstanceOf[RowLocalCheck])
    require(nonRowLocal.isEmpty,
      s"violationStream takes row-local checks only; got ${nonRowLocal.map(_.id).mkString(", ")} " +
        "(the referential and vocabulary checks need the whole corpus: run them with Pipeline.violations)")
    CheckContext(spark, docs, schema).rowLocalCore(checks)
  }
}
