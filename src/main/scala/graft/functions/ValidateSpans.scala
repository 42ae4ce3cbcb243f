package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.SchemaDef
import graft.validators.ScalaValidators

/** All subject-local constraint checks (domain, datatype conformance,
  * cardinality incl. zero-cases, some, only) evaluated in ONE native
  * codegen'd expression over the spans array.
  *
  * Why: the higher-order-function formulation of the same checks is
  * CodegenFallback — interpreted per span, allocation-heavy, and it stops
  * scaling past ~8 local cores (GC pressure). This expression makes one
  * tight pass per row: compiled regex validators, primitive counters, and a
  * single output array. The HOF formulation is kept with the tests as the
  * semantics oracle: the golden three-way equality (this pass in the
  * shared scan / the HOF arrays fused / each check alone through the HOF
  * arrays) and the single-check comparison (RowLocalRunOracleSpec).
  *
  * Output: array<struct<checkId,kind,value,expected,check>> where `check`
  * is the owning check family id (for per-check verdict rollups).
  */
case class ValidateSpans(child: Expression, constraints: CompiledConstraints)
  extends UnaryExpression with UnaryLike[Expression] {

  override def dataType: DataType = ValidateSpans.OutType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any])
    else ValidateSpans.compute(v.asInstanceOf[ArrayData], constraints)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("graftConstraints", constraints,
      classOf[CompiledConstraints].getName)
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
         |${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (${childGen.isNull}) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
         |} else {
         |  ${ev.value} = graft.functions.ValidateSpans.compute(${childGen.value}, $ref);
         |}
       """.stripMargin
    ev.copy(code = resultCode,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ValidateSpans =
    copy(child = newChild)

  override def prettyName: String = "validate_spans"
}

/** One compiled datatype-kind entry: declared range, its lexical validator,
  * the strict-mode coercion whitelist for the range, and whether the range
  * is a facet-defined custom datatype (strict mode skips lexical validation
  * of custom-range values asserted xsd:string — the reference's
  * validateCustomDatatype can't resolve 'xsd:string' as a custom type).
  */
final case class DtDef(range: String, validator: String => Boolean,
                       coerce: Set[String], isCustom: Boolean)
    extends Serializable

/** One compiled min/max/exact restriction: `acceptDt` is the asserted-
  * datatype filter of a datatype-qualified count
  * ([[graft.model.SchemaDef.qualifiedDtAccept]]); null = unqualified. It is
  * applied only when the corpus carries the span-level datatype column.
  */
final case class CardDef(classes: Set[String], prop: String, rtype: String,
                         n: Int, dataRange: String,
                         validator: String => Boolean, acceptDt: Set[String])
    extends Serializable

/** Driver-compiled, serializable form of the subject-local constraint set.
  * Validators are compiled `String => Boolean` closures over precompiled
  * regex patterns ([[ScalaValidators]]); class sets are hash sets.
  *
  * `spanArity`/`dtOrdinal` describe the physical span-struct layout:
  * (kind, text, media_ref, offset) plus the OPTIONAL trailing `datatype`
  * annotation column — `dtOrdinal = -1` when the corpus has none, in which
  * case strict mode and qualified counting are inert. `strictDt` is the
  * reference's `?mode=strict` check parameter.
  */
final case class CompiledConstraints(
    // datatype kind -> compiled entry
    dtKinds: Map[String, DtDef],
    // kind -> allowed subject classes (domain closure)
    domainKinds: Map[String, Set[String]],
    // data-range/unqualified min/max/exact; the validator drives the
    // per-value lexical sub-pass (MAX-102 / MIN-104 / EXACT-104)
    cards: Seq[CardDef],
    // (classSet, prop, dataRange, validator) for some
    somes: Seq[(Set[String], String, String, String => Boolean)],
    // (classSet, prop, dataRange, validator) for only
    onlys: Seq[(Set[String], String, String, String => Boolean)],
    strictDt: Boolean = false,
    spanArity: Int = 4,
    dtOrdinal: Int = -1
) extends Serializable {
  /** Per-JVM UTF8String-keyed runtime index — rebuilt after deserialization
    * on each executor; avoids materializing a java.lang.String per span
    * field for lookups/comparisons (only regex-validated texts are
    * materialized).
    */
  @transient lazy val index: RuntimeIndex = new RuntimeIndex(this)
}

/** See [[CompiledConstraints.index]]. */
final class RuntimeIndex(cc: CompiledConstraints) {
  import org.apache.spark.unsafe.types.UTF8String
  private def u(s: String): UTF8String = UTF8String.fromString(s)
  private def uset(ss: Iterable[String]): java.util.HashSet[UTF8String] = {
    val h = new java.util.HashSet[UTF8String]()
    ss.foreach(s => h.add(u(s)))
    h
  }

  val typeKind: UTF8String = u(SchemaDef.TypeKind)
  val owlThing: UTF8String = u(SchemaDef.OWL_THING)
  val xsdString: UTF8String = u(SchemaDef.XSD + "string")
  val rdfsLiteral: UTF8String = u(SchemaDef.RDFS + "Literal")

  final class DtEntry(val expected: UTF8String, val fn: String => Boolean,
                      val coerce: java.util.HashSet[UTF8String],
                      val isCustom: Boolean)
  val dt = new java.util.HashMap[UTF8String, DtEntry]()
  cc.dtKinds.foreach { case (k, d) =>
    dt.put(u(k), new DtEntry(u(d.range), d.validator, uset(d.coerce), d.isCustom))
  }

  val domain = new java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]]()
  cc.domainKinds.foreach { case (k, cls) => domain.put(u(k), uset(cls)) }

  final class CardEntry(val classes: java.util.HashSet[UTF8String],
                        val prop: UTF8String, val rtype: Int, val n: Int,
                        val idWrong: UTF8String, val idZero: UTF8String,
                        val expected: UTF8String,
                        val fn: String => Boolean, val idInvalid: UTF8String,
                        val expectedDt: UTF8String,
                        val acceptDt: java.util.HashSet[UTF8String])
  val cards: Array[CardEntry] = cc.cards.map { c =>
    val (idW, idZ, idI, word) = c.rtype match {
      case "max" => (u("OWL-RESTRICTION-MAX-100"), null,
        u("OWL-RESTRICTION-MAX-102"), "at most")
      case "min" => (u("OWL-RESTRICTION-MIN-100"), u("OWL-RESTRICTION-MIN-102"),
        u("OWL-RESTRICTION-MIN-104"), "at least")
      case _ => (u("OWL-RESTRICTION-EXACT-100"), u("OWL-RESTRICTION-EXACT-102"),
        u("OWL-RESTRICTION-EXACT-104"), "exactly")
    }
    val rt = c.rtype match { case "max" => 0; case "min" => 1; case _ => 2 }
    new CardEntry(uset(c.classes), u(c.prop), rt, c.n, idW, idZ,
      u(s"$word ${c.n} ${c.prop}"), c.validator, idI,
      if (c.dataRange == null) null else u(c.dataRange),
      if (c.acceptDt == null) null else uset(c.acceptDt))
  }.toArray

  final class SomeEntry(val classes: java.util.HashSet[UTF8String],
                        val prop: UTF8String, val fn: String => Boolean,
                        val expected100: UTF8String, val expected102: UTF8String)
  val somes: Array[SomeEntry] = cc.somes.map { case (cls, prop, dr, fn) =>
    new SomeEntry(uset(cls), u(prop), fn,
      u(s"some $dr value for $prop"), u(s"some valid $dr value for $prop"))
  }.toArray

  final class OnlyEntry(val classes: java.util.HashSet[UTF8String],
                        val prop: UTF8String, val fn: String => Boolean,
                        val expected: UTF8String)
  val onlys: Array[OnlyEntry] = cc.onlys.map { case (cls, prop, dr, fn) =>
    new OnlyEntry(uset(cls), u(prop), fn, u(dr))
  }.toArray
}

object CompiledConstraints {
  /** Compile the subsystems named in `enable` (check ids of the five
    * row-local checks); others come out empty so a configured subset of the
    * pipeline behaves identically in native mode.
    */
  def from(schema: SchemaDef,
           enable: Set[String] = Set("OBJECT-DATATYPE-PROPERTIES-DOMAIN",
             "DATATYPE-PROPERTIES-DATATYPE", "OWL-RESTRICTION-CARD",
             "OWL-RESTRICTION-SOME", "OWL-RESTRICTION-ONLY"),
           strictDt: Boolean = false,
           spanArity: Int = 4,
           dtOrdinal: Int = -1): CompiledConstraints = {
    def closure(c: String): Set[String] =
      schema.subClosure.getOrElse(c, Set(c))
    CompiledConstraints(
      dtKinds = if (!enable.contains("DATATYPE-PROPERTIES-DATATYPE")) Map.empty
        else schema.kinds.filter(k => k.kindType == "datatype" && k.range != null)
          .map(k => k.kind -> DtDef(k.range,
            ScalaValidators.validatorFor(schema, k.range),
            SchemaDef.VirtuosoCoercions.getOrElse(k.range, Set.empty),
            schema.isCustomDatatype(k.range))).toMap,
      domainKinds = if (!enable.contains("OBJECT-DATATYPE-PROPERTIES-DOMAIN")) Map.empty
        else schema.kinds.filter(_.domain.nonEmpty)
          .map(k => k.kind -> k.domain.flatMap(closure).toSet).toMap,
      cards = if (!enable.contains("OWL-RESTRICTION-CARD")) Nil
        else schema.restrictions
          .filter(r => Set("min", "max", "exact").contains(r.rtype) && r.classExpr == null)
          .map(r => CardDef(closure(r.onClass), r.onProperty, r.rtype, r.n, r.dataRange,
            if (r.dataRange == null) null
            else ScalaValidators.validatorFor(schema, r.dataRange),
            schema.qualifiedDtAccept(r.dataRange))),
      somes = if (!enable.contains("OWL-RESTRICTION-SOME")) Nil
        else schema.restrictions.filter(r => r.rtype == "some" && r.dataRange != null)
          .map(r => (closure(r.onClass), r.onProperty, r.dataRange,
            ScalaValidators.validatorFor(schema, r.dataRange))),
      onlys = if (!enable.contains("OWL-RESTRICTION-ONLY")) Nil
        else schema.restrictions.filter(r => r.rtype == "only" && r.dataRange != null)
          .map(r => (closure(r.onClass), r.onProperty, r.dataRange,
            ScalaValidators.validatorFor(schema, r.dataRange))),
      strictDt = strictDt,
      spanArity = spanArity,
      dtOrdinal = dtOrdinal
    )
  }
}

object ValidateSpans {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("checkId", StringType), StructField("kind", StringType),
    StructField("value", StringType), StructField("expected", StringType),
    StructField("check", StringType))), containsNull = false)

  private def u(s: String) = UTF8String.fromString(s)
  // reference id convention (CheckDatatypePropertiesDatatype.php:219,:488):
  // -100 = strict-mode asserted-datatype mismatch, -101 = lexically invalid
  private val DT100 = u("DATATYPE-PROPERTIES-DATATYPE-100")
  private val DT101 = u("DATATYPE-PROPERTIES-DATATYPE-101")
  private val DTCHK = u("DATATYPE-PROPERTIES-DATATYPE")
  private val DOM100 = u("OBJECT-DATATYPE-PROPERTIES-DOMAIN-100")
  private val DOMCHK = u("OBJECT-DATATYPE-PROPERTIES-DOMAIN")
  private val DOMEXP = u("subject class in kind's domain")
  private val CARDCHK = u("OWL-RESTRICTION-CARD")
  private val SOME100 = u("OWL-RESTRICTION-SOME-100")
  private val SOME102 = u("OWL-RESTRICTION-SOME-102")
  private val SOMECHK = u("OWL-RESTRICTION-SOME")
  private val ONLY100 = u("OWL-RESTRICTION-ONLY-100")
  private val ONLYCHK = u("OWL-RESTRICTION-ONLY")

  private def row(checkId: UTF8String, kind: UTF8String, value: UTF8String,
                  expected: UTF8String, check: UTF8String): InternalRow =
    InternalRow(checkId, kind, value, expected, check)

  /** Referenced from generated code — must stay public.
    * spans struct layout: (kind string, text string, media_ref string,
    * offset int) — field ordinals 0..3 — plus the optional trailing
    * `datatype` annotation at `cc.dtOrdinal` (arity `cc.spanArity`).
    */
  def compute(spans: ArrayData, cc: CompiledConstraints): ArrayData = {
    val idx = cc.index
    val n = spans.numElements()
    val arity = cc.spanArity
    val dtOrd = cc.dtOrdinal
    val out = new java.util.ArrayList[InternalRow](4)

    // pass 1: subject class (first type-kind span)
    var cls: UTF8String = null
    var i = 0
    var seenType = false
    while (i < n && !seenType) {
      val s = spans.getStruct(i, arity)
      if (!s.isNullAt(0) && idx.typeKind.equals(s.getUTF8String(0))) {
        seenType = true
        cls = if (s.isNullAt(1)) null else s.getUTF8String(1)
      }
      i += 1
    }
    val clsOrThing = if (cls == null) idx.owlThing else cls

    // pass 2: span-wise datatype validation + domain usage + counts.
    // UTF8String comparisons throughout; a java String is materialized only
    // for texts that actually reach a regex validator.
    val cardCounts = new Array[Int](idx.cards.length)
    val someCounts = new Array[Int](idx.somes.length)
    val someValid = new Array[Boolean](idx.somes.length)
    var badDomainKinds: java.util.LinkedHashSet[UTF8String] = null
    // per-restriction seen-set for the lexical sub-pass (distinct values
    // per subject, mirroring the reference's `select distinct ?value ?s`)
    var cardBadSeen: Array[java.util.HashSet[UTF8String]] = null

    i = 0
    while (i < n) {
      val s = spans.getStruct(i, arity)
      if (!s.isNullAt(0)) {
        val kind = s.getUTF8String(0)
        val text = if (s.isNullAt(1)) null else s.getUTF8String(1)
        val dtAnn: UTF8String =
          if (dtOrd >= 0 && !s.isNullAt(dtOrd)) s.getUTF8String(dtOrd) else null

        // datatype conformance: strict-mode asserted-datatype gate first
        // (mismatch → -100 and NO lexical validation — the reference's
        // `continue`), then lexical validity (→ -101)
        if (text != null) {
          val dt = idx.dt.get(kind)
          if (dt != null) {
            var skipLexical = false
            if (cc.strictDt && dtOrd >= 0) {
              // unannotated values compare as rdfs:Literal at this layer
              // (CheckDatatypePropertiesDatatype.php:188-192)
              val asserted = if (dtAnn == null) idx.rdfsLiteral else dtAnn
              if (!asserted.equals(dt.expected) && !asserted.equals(idx.xsdString)) {
                if (!dt.coerce.contains(asserted)) {
                  out.add(row(DT100, kind, text, dt.expected, DTCHK))
                  skipLexical = true
                }
                // whitelisted coercion → fall through to lexical validation
              } else if (dt.isCustom && asserted.equals(idx.xsdString)) {
                // custom range + asserted xsd:string: the reference would
                // call validateCustomDatatype('xsd:string', v), which cannot
                // resolve — no lexical verdict either way
                skipLexical = true
              }
            }
            if (!skipLexical && !dt.fn(text.toString)) {
              out.add(row(DT101, kind, text, dt.expected, DTCHK))
            }
          }
        }

        // domain
        if (!idx.domain.isEmpty) {
          val allowed = idx.domain.get(kind)
          if (allowed != null && !allowed.contains(clsOrThing)) {
            if (badDomainKinds == null) badDomainKinds = new java.util.LinkedHashSet[UTF8String]()
            badDomainKinds.add(kind)
          }
        }

        // cardinality / some counters + per-value lexical sub-pass
        var c = 0
        while (c < idx.cards.length) {
          val e = idx.cards(c)
          if (e.prop.equals(kind)) {
            // datatype-qualified gate: with annotations present, only
            // values whose asserted datatype (unannotated → xsd:string at
            // the SPARQL datatype() layer) passes the range filter count —
            // AND only those reach the per-value validity sub-pass (the
            // reference's validity query carries the SAME datatypeFilter,
            // CheckOwlRestrictionMax.php:244-252)
            val counted =
              if (dtOrd < 0 || e.acceptDt == null) true
              else e.acceptDt.contains(if (dtAnn == null) idx.xsdString else dtAnn)
            if (counted) cardCounts(c) += 1
            if (counted && e.fn != null && text != null && e.classes.contains(clsOrThing) &&
              !e.fn(text.toString)) {
              if (cardBadSeen == null)
                cardBadSeen = new Array[java.util.HashSet[UTF8String]](idx.cards.length)
              if (cardBadSeen(c) == null)
                cardBadSeen(c) = new java.util.HashSet[UTF8String]()
              if (cardBadSeen(c).add(text))
                out.add(row(e.idInvalid, kind, text, e.expectedDt, CARDCHK))
            }
          }
          c += 1
        }
        c = 0
        while (c < idx.somes.length) {
          val so = idx.somes(c)
          if (so.prop.equals(kind)) {
            someCounts(c) += 1
            if (!someValid(c) && text != null && so.fn(text.toString)) someValid(c) = true
          }
          c += 1
        }

        // only: offending values
        var o = 0
        while (o < idx.onlys.length) {
          val on = idx.onlys(o)
          if (on.prop.equals(kind) && on.classes.contains(clsOrThing) &&
            !(text != null && on.fn(text.toString))) {
            out.add(row(ONLY100, kind, text, on.expected, ONLYCHK))
          }
          o += 1
        }
      }
      i += 1
    }

    if (badDomainKinds != null) {
      val it = badDomainKinds.iterator()
      while (it.hasNext) {
        out.add(row(DOM100, it.next(), clsOrThing, DOMEXP, DOMCHK))
      }
    }

    var c = 0
    while (c < idx.cards.length) {
      val e = idx.cards(c)
      if (e.classes.contains(clsOrThing)) {
        val cnt = cardCounts(c)
        val id =
          if (e.rtype == 0) { if (cnt > e.n) e.idWrong else null }
          else if (e.rtype == 1) {
            if (cnt == 0) e.idZero else if (cnt < e.n) e.idWrong else null
          } else {
            if (cnt == 0) { if (e.n != 0) e.idZero else null }
            else if (cnt != e.n) e.idWrong else null
          }
        if (id != null)
          out.add(row(id, e.prop, u(cnt.toString), e.expected, CARDCHK))
      }
      c += 1
    }

    c = 0
    while (c < idx.somes.length) {
      val e = idx.somes(c)
      if (e.classes.contains(clsOrThing)) {
        if (someCounts(c) == 0)
          out.add(row(SOME100, e.prop, null, e.expected100, SOMECHK))
        else if (!someValid(c))
          out.add(row(SOME102, e.prop, null, e.expected102, SOMECHK))
      }
      c += 1
    }

    new GenericArrayData(out.toArray)
  }

  /** Column entry point over the spans column. */
  def validateSpans(spans: Column, cc: CompiledConstraints): Column =
    shims.column(ValidateSpans(shims.expression(spans), cc))
}
