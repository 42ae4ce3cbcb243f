package graft.checks

import graft.SparkTestBase
import graft.datagen.DocGen
import graft.engine.Pipeline
import graft.model.SchemaDef
import graft.validators.ScalaValidators

/** The span-level datatype seam: strict-mode asserted-datatype comparison
  * (DATATYPE-...-100 with the Virtuoso coercion whitelist,
  * CheckDatatypePropertiesDatatype.php:198-231) and datatype-qualified
  * cardinality counting (CheckOwlRestrictionMax.php:122-150) over the
  * ANNOTATED corpus variant. Expected sets come from an independent
  * plain-Scala replay of the reference control flow.
  */
class DatatypeSeamSpec extends SparkTestBase {

  // 3500 covers doc 3306 = lcm(19, 29, 6): an Article with BOTH the
  // dropped-annotation plant and the invalid-date plant (the validity-
  // filter test below)
  private val n = 3500L
  private lazy val schema = DocGen.schema
  // strict IS the default (reference: private $mode = 'strict'); loose is
  // the configured opt-out
  private val strictChecks = Checks.all
  private val looseChecks = Checks.all.map {
    case c: CheckDatatypeImpl => c.configure(Map("mode" -> "loose"))
    case c => c
  }

  private def collectSets(df: org.apache.spark.sql.DataFrame) =
    df.collect().groupBy(_.getString(0)).map { case (cid, rs) =>
      cid -> rs.map(r => (r.getString(2), r.getString(3), r.getString(4))).toSet
    }

  /** Plain-Scala replay of the reference's strict-mode value loop
    * (:188-231 gate, :236-495 lexical switch).
    */
  private def strictReplay(): (Set[(String, String, String)], Set[(String, String, String)]) = {
    val xsdString = SchemaDef.XSD + "string"
    val m100 = Set.newBuilder[(String, String, String)]
    val m101 = Set.newBuilder[(String, String, String)]
    for (i <- 0L until n; s <- DocGen.makeAnnotated(i, n).spans) {
      val did = DocGen.docId(i)
      schema.kindByName.get(s.kind)
        .filter(k => k.kindType == "datatype" && k.range != null)
        .foreach { k =>
          if (s.text != null) {
            val asserted = Option(s.datatype).getOrElse(SchemaDef.RDFS + "Literal")
            val wl = SchemaDef.VirtuosoCoercions.getOrElse(k.range, Set.empty[String])
            val mismatch =
              asserted != k.range && asserted != xsdString && !wl.contains(asserted)
            if (mismatch) m100 += ((did, s.kind, s.text))
            else if (!(schema.isCustomDatatype(k.range) && asserted == xsdString) &&
              !ScalaValidators.validatorFor(schema, k.range)(s.text))
              m101 += ((did, s.kind, s.text))
          }
        }
    }
    (m100.result(), m101.result())
  }

  private lazy val annotated = DocGen.annotatedDocuments(spark, n).toDF()
  private lazy val strictActual = collectSets(
    Pipeline.violations(spark, annotated, schema, strictChecks))
  private lazy val looseActual = collectSets(
    Pipeline.violations(spark, annotated, schema, looseChecks))

  test("strict is the default mode, matching the reference") {
    assert(CheckDatatype.strict)
    assert(!CheckDatatype.configure(Map("mode" -> "loose"))
      .asInstanceOf[CheckDatatypeImpl].strict)
  }

  test("strict mode: -100 mismatches and -101 lexical errors match the replay exactly") {
    val (e100, e101) = strictReplay()
    assert(e100.nonEmpty && e101.nonEmpty) // plants fired
    assert(strictActual.getOrElse("DATATYPE-PROPERTIES-DATATYPE-100", Set.empty) == e100)
    assert(strictActual.getOrElse("DATATYPE-PROPERTIES-DATATYPE-101", Set.empty) == e101)
  }

  test("whitelisted coercion (boolean ← integer) is muted; lexical check still fires") {
    val v100 = strictActual.getOrElse("DATATYPE-PROPERTIES-DATATYPE-100", Set.empty)
    assert(!v100.exists(_._2 == "txt:flag"), "whitelisted txt:flag mismatches must be muted")
    // m=23 ∧ m=47 docs (lcm 1081): integer-annotated flag with value "T" —
    // gate muted, lexical -101 still fires
    val both = (0L until n).filter(i => i % 23 == 0 && i % 47 == 0)
    assert(both.nonEmpty)
    val v101 = strictActual.getOrElse("DATATYPE-PROPERTIES-DATATYPE-101", Set.empty)
    both.foreach(i => assert(v101.contains((DocGen.docId(i), "txt:flag", "T"))))
  }

  test("custom range asserted xsd:string: no lexical verdict in strict, flagged in loose") {
    val skipDocs = (0L until n).filter(i => i % 13 == 0 && i % 59 == 0) // score = "150"
    assert(skipDocs.nonEmpty)
    val strict101 = strictActual.getOrElse("DATATYPE-PROPERTIES-DATATYPE-101", Set.empty)
    val loose101 = looseActual.getOrElse("DATATYPE-PROPERTIES-DATATYPE-101", Set.empty)
    skipDocs.foreach { i =>
      assert(!strict101.contains((DocGen.docId(i), "txt:score", "150")))
      assert(loose101.contains((DocGen.docId(i), "txt:score", "150")))
    }
  }

  test("datatype-qualified EXACT count: unannotated dates stop counting (any mode)") {
    def articles = (0L until n).filter(DocGen.isArticle)
    // qualified count 0 ⇔ no date spans (m=83) OR annotation dropped (m=19)
    val zero = articles.filter(i => i % 83 == 0 || i % 19 == 0)
      .map(i => (DocGen.docId(i), "txt:date", "0")).toSet
    val two = articles.filter(i => i % 83 != 0 && i % 19 != 0 && i % 71 == 0)
      .map(i => (DocGen.docId(i), "txt:date", "2")).toSet
    for (actual <- Seq(strictActual, looseActual)) {
      assert(actual.getOrElse("OWL-RESTRICTION-EXACT-102", Set.empty)
        .filter(_._2 == "txt:date") == zero)
      assert(actual.getOrElse("OWL-RESTRICTION-EXACT-100", Set.empty) == two)
    }
  }

  test("per-value validity sub-pass is datatype-filtered on annotated corpora") {
    // doc 3306: Article, txt:date annotation dropped (m=19) AND the date is
    // lexically invalid (m=29). The reference's validity query filters
    // datatype(?value) like the count query, so the value never reaches the
    // validator on the annotated corpus — but IS flagged on the plain one.
    val i = 3306L
    assert(DocGen.isArticle(i) && i % 19 == 0 && i % 29 == 0 && i % 83 != 0)
    for (actual <- Seq(strictActual, looseActual)) {
      val e104 = actual.getOrElse("OWL-RESTRICTION-EXACT-104", Set.empty)
      assert(!e104.exists(_._1 == DocGen.docId(i)),
        "datatype-excluded value must not reach the validity sub-pass")
      assert(e104.nonEmpty) // other m=29 Articles still flagged
    }
    val plain = collectSets(
      Pipeline.violations(spark, DocGen.documents(spark, n).toDF(), schema))
    assert(plain.getOrElse("OWL-RESTRICTION-EXACT-104", Set.empty)
      .exists(_._1 == DocGen.docId(i)))
  }

  test("native ≡ HOF ≡ per-check on the annotated corpus, strict and loose") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getString(6))).toSet
    for (checks <- Seq(strictChecks, looseChecks)) {
      val nat = sets(Pipeline.violations(spark, annotated, schema, checks))
      val hof = sets(HofOracle.fusedViolations(spark, annotated, schema, checks))
      val per = sets(HofOracle.perCheckViolations(spark, annotated, schema, checks))
      assert(nat == hof,
        s"native vs HOF: missing=${(hof -- nat).take(3)} extra=${(nat -- hof).take(3)}")
      assert(hof == per)
    }
  }

  test("corpus without the datatype column: strict config is inert") {
    val plain = DocGen.documents(spark, 500L).toDF()
    val a = Pipeline.violations(spark, plain, schema, strictChecks).collect()
      .map(_.toString).sorted
    val b = Pipeline.violations(spark, plain, schema).collect()
      .map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
