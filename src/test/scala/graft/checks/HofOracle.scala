package graft.checks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.validators.XsdColumnOracle

/** The higher-order-function (HOF) formulation of the five row-local
  * checks: each check's violations as a per-row
  * `array<struct<checkId,kind,value,expected>>` built from built-in array
  * functions over the span subfields, with the Column validators of
  * [[XsdColumnOracle]]. It is the reference semantics the native
  * [[graft.functions.ValidateSpans]] pass is compared against: every body
  * is written independently of `CompiledConstraints` and `ScalaValidators`.
  *
  * Two oracle plans are built from it:
  *  - [[fusedViolations]]: all row-local arrays concatenated and exploded
  *    once, plus the extras and corpus checks over the unshared context;
  *  - [[perCheckViolations]]: every check on its own
  *    (`explode(violArray)` ∪ extras for row-local checks, `run` for the
  *    others).
  */
object HofOracle {

  /** Typed empty violation-struct array. */
  private def emptyVArray: Column =
    array().cast("array<struct<checkId:string,kind:string,value:string,expected:string>>")

  private def hasSpanDatatype(ctx: CheckContext): Boolean = ctx.spanDatatypeOrd >= 0

  /** Lexical validator for a datatype URI, facet-aware. */
  private def validatorFor(ctx: CheckContext, dt: String): Column => Column =
    ctx.schema.facets.find(_.datatype == dt) match {
      case Some(f) => XsdColumnOracle.facet(f)
      case None    => XsdColumnOracle.forDatatype(dt)
    }

  /** Explode a row-local array of violation structs
    * (checkId, kind, value, expected) into standard violation rows.
    */
  private def explodeViolations(ctx: CheckContext, violArray: Column): DataFrame =
    ctx.docs.select(col("doc_id"), explode(violArray).as("v"))
      .select(ctx.violation(null, "error", col("doc_id"), col("v.kind"),
        col("v.value"), col("v.expected")).patch(0,
        Seq(col("v.checkId").as("checkId")), 1): _*)

  /** `array<struct<checkId,kind,value,expected>>` of one row's violations. */
  def violArray(check: RowLocalCheck, ctx: CheckContext): Column = check match {
    case CheckDomain => domain(ctx)
    case c: CheckDatatypeImpl => datatype(ctx, c.strict)
    case CheckCardinality => cardinality(ctx)
    case CheckSome => some(ctx)
    case CheckOnly => only(ctx)
  }

  /** One row-local check alone: `explode(violArray)` ∪ its extras. */
  def run(check: RowLocalCheck, ctx: CheckContext): DataFrame =
    check.extraFrames(ctx).foldLeft(explodeViolations(ctx, violArray(check, ctx)))(
      _ unionByName _)

  /** All row-local arrays tagged with their check id, concatenated and
    * exploded once; extras and corpus checks over the unshared context.
    */
  def fusedViolations(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
                      checks: Seq[ConstraintCheck] = Checks.all): DataFrame = {
    val ctx = CheckContext(spark, docs, schema)
    val rowLocal = checks.collect { case c: RowLocalCheck => c }
    val others = checks.filterNot(_.isInstanceOf[RowLocalCheck])
    val tagged = rowLocal.map { c =>
      transform(violArray(c, ctx), v => struct(
        v.getField("checkId").as("checkId"), v.getField("kind").as("kind"),
        v.getField("value").as("value"), v.getField("expected").as("expected"),
        lit(c.id).as("check")))
    }
    val core = CheckContext.coreRows(docs, concat(tagged: _*))
    val extras = rowLocal.flatMap(c =>
      c.extraFrames(ctx).map(_.withColumn("check", lit(c.id))))
    val otherFrames = others.map(c => c.run(ctx).withColumn("check", lit(c.id)))
    ((core +: extras) ++ otherFrames).reduce(_ unionByName _)
  }

  /** Every check on its own, each tagged with its id. */
  def perCheckViolations(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
                         checks: Seq[ConstraintCheck] = Checks.all): DataFrame = {
    val ctx = CheckContext(spark, docs, schema)
    checks.map {
      case c: RowLocalCheck => run(c, ctx).withColumn("check", lit(c.id))
      case c => c.run(ctx).withColumn("check", lit(c.id))
    }.reduce(_ unionByName _)
  }

  // ---- the five violation-array bodies -------------------------------

  /** Domain: distinct used domain-kinds whose (kind, subject class) is not
    * allowed.
    */
  private def domain(ctx: CheckContext): Column = {
    val id = CheckDomain.id
    val domainKinds = ctx.schema.kinds.filter(_.domain.nonEmpty)
    if (domainKinds.isEmpty) return emptyVArray
    val cls = coalesce(ctx.clsCol, lit(SchemaDef.OWL_THING))
    def allowed(k: KindDef): Seq[String] =
      k.domain.flatMap(d => ctx.schema.subClosure.getOrElse(d, Set(d))).distinct
    val badKinds = filter(
      array_distinct(filter(ctx.field("kind"),
        k => k.isin(domainKinds.map(_.kind): _*))),
      k => !domainKinds.map(kd =>
        k === kd.kind && cls.isin(allowed(kd): _*)).reduce(_ || _))
    transform(badKinds, k =>
      ctx.vStruct(s"$id-100", k, cls, lit("subject class in kind's domain")))
  }

  /** Datatype conformance: `-101` lexical errors; in strict mode on an
    * annotated corpus also `-100` asserted-datatype mismatches.
    */
  private def datatype(ctx: CheckContext, strict: Boolean): Column = {
    val id = CheckDatatype.id
    val dtKinds = ctx.schema.kinds.filter(k => k.kindType == "datatype" && k.range != null)
    if (dtKinds.isEmpty) return emptyVArray

    def validOf(kind: Column, text: Column): Column =
      dtKinds.foldLeft(lit(true)) { (acc, k) =>
        when(kind === k.kind, validatorFor(ctx, k.range)(text)).otherwise(acc)
      }
    // the declared range: doubles as the violation's `expected` field
    def expectedOf(kind: Column): Column =
      dtKinds.foldLeft(lit(null).cast("string")) { (acc, k) =>
        when(kind === k.kind, lit(k.range)).otherwise(acc)
      }

    val strictOn = strict && hasSpanDatatype(ctx)
    val spans =
      if (strictOn) ctx.zipped("kind", "text", "datatype")
      else ctx.zipped("kind", "text")
    val isDtKind = (p: Column) =>
      p.getField("kind").isin(dtKinds.map(_.kind): _*) && p.getField("text").isNotNull

    if (!strictOn) {
      val badSpans = filter(spans, p => isDtKind(p) &&
        !coalesce(validOf(p.getField("kind"), p.getField("text")), lit(false)))
      transform(badSpans, p =>
        ctx.vStruct(s"$id-101", p.getField("kind"), p.getField("text"),
          expectedOf(p.getField("kind"))))
    } else {
      val xsdString = SchemaDef.XSD + "string"
      val customRanges = dtKinds.map(_.range).filter(ctx.schema.isCustomDatatype).distinct
      def asserted(p: Column): Column =
        coalesce(p.getField("datatype"), lit(SchemaDef.RDFS + "Literal"))
      def whitelisted(p: Column): Column =
        SchemaDef.VirtuosoCoercions.foldLeft(lit(false)) { case (acc, (range, dts)) =>
          when(expectedOf(p.getField("kind")) === range,
            asserted(p).isin(dts.toSeq: _*)).otherwise(acc)
        }
      def mismatch(p: Column): Column =
        asserted(p) =!= expectedOf(p.getField("kind")) &&
          asserted(p) =!= xsdString && !whitelisted(p)
      def skipLexical(p: Column): Column = mismatch(p) ||
        (expectedOf(p.getField("kind")).isin(customRanges: _*) && asserted(p) === xsdString)

      val flagged = filter(spans, p => isDtKind(p) && (mismatch(p) ||
        (!skipLexical(p) &&
          !coalesce(validOf(p.getField("kind"), p.getField("text")), lit(false)))))
      transform(flagged, p =>
        ctx.vStruct(null, p.getField("kind"), p.getField("text"),
          expectedOf(p.getField("kind"))).withField("checkId",
          when(mismatch(p), lit(s"$id-100")).otherwise(lit(s"$id-101"))))
    }
  }

  /** Unqualified min/max/exact counts (datatype-qualified on an annotated
    * corpus) and the per-value validity sub-pass.
    */
  private def cardinality(ctx: CheckContext): Column = {
    val rs = ctx.schema.restrictions.filter(r =>
      Set("min", "max", "exact").contains(r.rtype) && r.classExpr == null)
    if (rs.isEmpty) return emptyVArray
    val cls = ctx.clsCol
    val counted = rs.flatMap { r =>
      val applicable = ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq
      val accept = ctx.schema.qualifiedDtAccept(r.dataRange)
      val cnt =
        if (hasSpanDatatype(ctx) && accept != null)
          size(filter(ctx.zipped("kind", "datatype"), p =>
            p.getField("kind") === r.onProperty &&
              coalesce(p.getField("datatype"), lit(SchemaDef.XSD + "string"))
                .isin(accept.toSeq: _*)))
        else size(filter(ctx.field("kind"), k => k === r.onProperty))
      val app = cls.isin(applicable: _*)
      r.rtype match {
        case "max" => Seq(
          when(app && cnt > r.n, ctx.vStruct("OWL-RESTRICTION-MAX-100",
            lit(r.onProperty), cnt, lit(s"at most ${r.n} ${r.onProperty}"))))
        case "min" => Seq(
          when(app && cnt > 0 && cnt < r.n, ctx.vStruct("OWL-RESTRICTION-MIN-100",
            lit(r.onProperty), cnt, lit(s"at least ${r.n} ${r.onProperty}"))),
          when(app && cnt === 0, ctx.vStruct("OWL-RESTRICTION-MIN-102",
            lit(r.onProperty), cnt, lit(s"at least ${r.n} ${r.onProperty}"))))
        case "exact" => Seq(
          when(app && cnt > 0 && cnt =!= r.n, ctx.vStruct("OWL-RESTRICTION-EXACT-100",
            lit(r.onProperty), cnt, lit(s"exactly ${r.n} ${r.onProperty}"))),
          when(app && cnt === 0 && r.n != 0, ctx.vStruct("OWL-RESTRICTION-EXACT-102",
            lit(r.onProperty), cnt, lit(s"exactly ${r.n} ${r.onProperty}"))))
      }
    }
    val perValue = rs.filter(_.dataRange != null).map { r =>
      val applicable = ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq
      val valid = validatorFor(ctx, r.dataRange)
      val vid = s"OWL-RESTRICTION-${r.rtype.toUpperCase}-${if (r.rtype == "max") 102 else 104}"
      val accept = ctx.schema.qualifiedDtAccept(r.dataRange)
      val useDt = hasSpanDatatype(ctx) && accept != null
      val zippedSpans =
        if (useDt) ctx.zipped("kind", "text", "datatype")
        else ctx.zipped("kind", "text")
      def dtOk(p: Column): Column =
        if (!useDt) lit(true)
        else coalesce(p.getField("datatype"), lit(SchemaDef.XSD + "string"))
          .isin(accept.toSeq: _*)
      val offending = array_distinct(transform(
        filter(zippedSpans, p =>
          p.getField("kind") === r.onProperty && p.getField("text").isNotNull &&
            dtOk(p) && !coalesce(valid(p.getField("text")), lit(false))),
        p => p.getField("text")))
      when(cls.isin(applicable: _*),
        transform(offending, t =>
          ctx.vStruct(vid, lit(r.onProperty), t, lit(r.dataRange))))
        .otherwise(emptyVArray)
    }
    concat(filter(array(counted: _*), v => v.isNotNull) +: perValue: _*)
  }

  /** Existential data-range restrictions: `-100` no value, `-102` no
    * valid value.
    */
  private def some(ctx: CheckContext): Column = {
    val id = CheckSome.id
    val rs = ctx.schema.restrictions.filter(r => r.rtype == "some" && r.dataRange != null)
    if (rs.isEmpty) return emptyVArray
    val cls = ctx.clsCol
    val structs = rs.flatMap { r =>
      val applicable = ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq
      val valid = validatorFor(ctx, r.dataRange)
      val app = cls.isin(applicable: _*)
      val nProp = size(filter(ctx.field("kind"), k => k === r.onProperty))
      val anyValid = exists(
        filter(ctx.zipped("kind", "text"), p => p.getField("kind") === r.onProperty),
        p => coalesce(valid(p.getField("text")), lit(false)))
      Seq(
        when(app && nProp === 0, ctx.vStruct(s"$id-100", lit(r.onProperty),
          lit(null), lit(s"some ${r.dataRange} value for ${r.onProperty}"))),
        when(app && nProp > 0 && !anyValid, ctx.vStruct(s"$id-102", lit(r.onProperty),
          lit(null), lit(s"some valid ${r.dataRange} value for ${r.onProperty}"))))
    }
    filter(array(structs: _*), v => v.isNotNull)
  }

  /** Universal data-range restrictions: every lexically invalid value. */
  private def only(ctx: CheckContext): Column = {
    val id = CheckOnly.id
    val rs = ctx.schema.restrictions.filter(r => r.rtype == "only" && r.dataRange != null)
    if (rs.isEmpty) return emptyVArray
    val cls = ctx.clsCol
    val perR = rs.map { r =>
      val applicable = ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq
      val valid = validatorFor(ctx, r.dataRange)
      val offending = filter(ctx.zipped("kind", "text"), p =>
        p.getField("kind") === r.onProperty &&
          !coalesce(valid(p.getField("text")), lit(false)))
      when(cls.isin(applicable: _*),
        transform(offending, p => ctx.vStruct(s"$id-100", p.getField("kind"),
          p.getField("text"), lit(r.dataRange))))
        .otherwise(emptyVArray)
    }
    flatten(array(perR: _*))
  }
}
