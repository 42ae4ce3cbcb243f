package graft.checks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** The reference's check inventory (SURVEY.md §2.8) re-expressed as Spark
  * plans over the `documents` table. Key inversion vs the reference: where
  * the PHP orchestrator issued one-to-three SPARQL queries *per property or
  * restriction* (classic N+1, e.g. CheckObjectPropertiesRange.php:118-313),
  * every check here is ONE declarative plan — and ONE parquet scan — that
  * evaluates the whole broadcast constraint set at once.
  *
  * Scale notes (10^12-doc design):
  *  - Scans are nested-schema-pruned: every check extracts exactly the span
  *    subfields it needs via `spans.field` / `arrays_zip` (the forms
  *    Catalyst pushes into the Parquet ReadSchema) — a kind-only pass reads
  *    one subfield of the struct, not four.
  *  - Subject-local checks (datatype, domain, cardinality, some/only) are
  *    single-scan and shuffle-free: all restrictions evaluate row-locally
  *    into an array of violation structs, exploded once. The reference's
  *    `group by ?s having count(...)` (CheckOwlRestrictionMax.php:153-164)
  *    degenerates to a per-row count of the property's spans because the
  *    grouping key is the row key. The domain check needs NO join at all — the
  *    allowed (kind → classes) table is driver-known and compiles into the
  *    predicate.
  *  - Vocabulary checks (defined kinds/classes) shuffle only the distinct
  *    kind/class strings — bytes, not documents.
  *  - Referential checks (URI existence, object range) deduplicate the
  *    probe side FIRST (distinct media_ref), then anti/left join against
  *    the doc_id universe — the one genuinely big join; AQE skew handling
  *    + the pre-dedup keep hot media_ref keys (the skew knob) balanced.
  *  - All schema-side joins are `broadcast(...)`: the ontology is KBs.
  */
final case class CheckContext(
    spark: SparkSession,
    docs: DataFrame,
    schema: SchemaDef,
    universeOpt: Option[DataFrame] = None,
    sharedOpt: Option[DataFrame] = None
) {
  import spark.implicits._

  /** Referential TARGET universe. Defaults to `docs`, but a resumed run
    * validates a bucket-filtered subset whose references may point into
    * already-completed buckets — probing the filtered frame would flag those
    * as dangling (and resolve their classes to owl:Thing). Callers that
    * filter `docs` must pass the full corpus here (see ValidatorApp).
    */
  lazy val universe: DataFrame = universeOpt.getOrElse(docs)

  /** The referential target universe's doc_id column. In shared mode
    * (and with no separate universe) it reads the shared scan's cached
    * doc_id instead of re-scanning the corpus parquet — one less corpus
    * read in the composed pass.
    */
  lazy val universeIds: DataFrame = sharedOpt match {
    case Some(s) if universeOpt.isEmpty => s.select(col("doc_id"))
    case _ => universe.select(col("doc_id"))
  }

  /** Array of one span subfield — `spans.kind` etc. Catalyst prunes the
    * Parquet ReadSchema to exactly this subfield.
    */
  def field(name: String): Column = col(s"spans.$name")

  /** Ordinal of the OPTIONAL span-level `datatype` annotation field in the
    * span struct (-1 when the corpus carries none). Its presence enables
    * strict-mode datatype comparison and datatype-qualified cardinality
    * counting (the span-datatype seam).
    */
  lazy val spanDatatypeOrd: Int = docs.schema.find(_.name == "spans").map(_.dataType) match {
    case Some(org.apache.spark.sql.types.ArrayType(
        st: org.apache.spark.sql.types.StructType, _)) =>
      st.fieldNames.indexOf("datatype")
    case _ => -1
  }

  /** Number of fields in the span struct (4, or 5 with the datatype seam). */
  lazy val spanArity: Int = docs.schema.find(_.name == "spans").map(_.dataType) match {
    case Some(org.apache.spark.sql.types.ArrayType(
        st: org.apache.spark.sql.types.StructType, _)) => st.size
    case _ => 4
  }

  /** Array of (f1, f2, ...) structs zipped from span subfields — also
    * nested-pruning-friendly (unlike a lambda that rebuilds the struct).
    */
  def zipped(fields: String*): Column =
    arrays_zip(fields.map(f => col(s"spans.$f")): _*)

  // ---- the shared single-scan projection (round-9 optimization) ----------
  // Without it, the COMPOSED validation pass (Pipeline.violations) pays one
  // corpus scan per vocabulary/referential/class subplan: distinct kinds,
  // distinct type-classes, distinct refs, the class projection and the
  // restriction ref frame each re-read the spans column (~7 scans measured,
  // each ~0.7-1.5 s at 800k docs — the pass summed to its parts). With it,
  // ONE wide scan materializes every per-doc projection the non-row-local
  // checks consume — doc_id, class, kind list, type-class list, reference
  // list — as a localCheckpoint'd frame that every subplan reads instead of
  // the corpus (guide §8: decide with small rows; the heavy span texts are
  // read once and never materialized). The projections below each branch on
  // `sharedOpt`, with the per-check (no-shared) form IDENTICAL to rounds
  // 6-8, so single-check oracle queries keep their exact plans.

  /** Text of every `type` span (possibly several per doc) — the
    * ClassesDefined probe array.
    */
  private def typeClassesExpr: Column = transform(
    filter(zipped("kind", "text"), p => p.getField("kind") === SchemaDef.TypeKind),
    p => p.getField("text"))

  /** (kind, media_ref) of every reference span — the referential probe
    * array.
    */
  private def refsExpr: Column =
    filter(zipped("kind", "media_ref"), p => p.getField("media_ref").isNotNull)

  /** ONE wide corpus scan carrying every per-doc projection the composed
    * pass needs (`extra` appends caller columns, e.g. the fused native
    * violation array), as a LAZY columnar Dataset cache so each consumer
    * subplan reads the doc-metadata-sized frame instead of re-scanning the
    * corpus. The frame ships NO span texts beyond type-class names — at
    * scale its bytes are kind/ref ids, a small fraction of corpus bytes
    * (the text payload stays in the one scan).
    *
    * Columnar cache, NOT localCheckpoint: a localCheckpoint stores
    * deserialized object rows (one UTF8String per kind per span), and at
    * 800k docs the resulting old-gen churn MORE than ate the saved scans
    * (measured: 21.4 s with 13 s of GC vs 10.2 s unshared). The compressed
    * columnar batches are plain byte arrays — low allocation, spill-able.
    *
    * LAZY on purpose, twice over: (1) building a DataFrame must not do
    * work — callers separate construction from the timed/executed action;
    * (2) the first executing consumer materializes each cache partition
    * under the BlockManager's compute-or-wait lock, so concurrent branches
    * of the one composed query never duplicate the scan. Each composed
    * pass REGISTERS its caches and drops the previous pass's
    * ([[sharedPersist]]) — so a repeated pass over the same corpus
    * recomputes honestly (no cross-run result carry) and cache memory is
    * bounded to one pass's mid-frames per JVM.
    */
  def buildSharedScan(extra: Seq[Column]): DataFrame = {
    CheckContext.dropSharedCaches()
    // cls + typeClasses + refs in ONE native walk (SpanProjections): the
    // HOF forms are CodegenFallback and were a large slice of the build
    // stage's CPU; the per-check (unshared) plans keep the HOF forms.
    // coalesce BEFORE persist: the cache otherwise inherits the input's
    // split count (e.g. 33 partitions on 4 cores), and EVERY consumer
    // stage then pays one task per cached partition — task-launch waves
    // plus tasks parked on the cache's compute-or-wait locks holding the
    // few cores (measured: consumer stages with 33 tasks, 2.7 s wall,
    // 0.1 s of work). Bounding the cache at session parallelism keeps
    // build parallelism intact and makes consumer stages core-sized.
    // 4 partitions per core, not 1: exactly-core-sized partitions make
    // every consumer stage's wall its SLOWEST partition (measured 46%
    // more CPU-time per doc at 4 cores from stage tails); 4x gives the
    // scheduler waves to balance while keeping task counts bounded.
    sharedPersist(docs.select(Seq(col("doc_id"),
      graft.functions.SpanProjections.spanProjections(col("spans"), spanArity)
        .as("__proj"),
      field("kind").as("__kinds")) ++ extra: _*)
      .coalesce(4 * spark.sparkContext.defaultParallelism))
  }

  /** Persist a shared-mode mid-frame (columnar, MEMORY_AND_DISK) and
    * register it with the current composed pass. Explicit persist rather
    * than ReuseExchange because AQE's query-stage reuse was measured NOT
    * to fire across the composed union's branches (qualifiedCounts and the
    * target-class exchange each materialized 2-3x, ~4-25 CPU-s per extra
    * copy); the CacheManager's canonical-plan substitution is what makes
    * every reference read one materialization.
    */
  private def sharedPersist(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CheckContext.registerSharedCache(df)
    df
  }

  /** Wrap `df` in a registered cache only in shared mode (the per-check
    * single-query plans stay exactly as rounds 6-8 shipped them).
    */
  private def sharedCached(df: DataFrame): DataFrame =
    if (sharedOpt.isDefined) sharedPersist(df) else df

  /** Row-local class-of-document (the `?s a ?class` span); reads only
    * spans.kind + spans.text (nested-pruned), computed by the native
    * codegen'd [[graft.functions.SpanClass]] expression — the HOF
    * formulation is interpreted and this projection runs over the full
    * corpus on both the subject and target side of the class checks.
    */
  val clsCol: Column =
    graft.functions.SpanClass.spanClass(field("kind"), field("text"))

  /** (doc_id, cls) over the whole corpus — the ONE canonical class
    * projection. Subject-side and target-side class tables both rename ON
    * TOP of this exact subplan, so their scans/exchanges canonicalize
    * identically and materialize once at runtime.
    */
  lazy val docsCls: DataFrame = sharedOpt match {
    case Some(s) => s.select(col("doc_id"), col("__proj.cls").as("cls"))
    case None => docs.select(col("doc_id"), clsCol.as("cls"))
  }

  /** (doc_id, cls) over the TARGET universe — what reference targets join
    * against. The same instance as [[docsCls]] when no separate universe is
    * set, so ReuseExchange keeps sharing the one class-projection subplan in
    * the common (non-resumed) case.
    */
  lazy val universeCls: DataFrame =
    universeOpt.map(u => u.select(col("doc_id"), clsCol.as("cls"))).getOrElse(docsCls)

  lazy val kindsDf: DataFrame =
    schema.kinds.map(k => (k.kind, k.kindType, k.range)).toDF("kind", "kindType", "range")

  lazy val classesDf: DataFrame = schema.classes.toDF("cls")

  /** (kind, allowed target class) pairs for object kinds with a declared
    * range — range's subclass closure, precomputed on the driver
    * (reference: reasoner getSubClasses, CheckOwlRestrictionMax.php:683-707).
    */
  lazy val allowedRangePairs: DataFrame = schema.kinds
    .filter(k => k.kindType == "object" && k.range != null)
    .flatMap(k => schema.subClosure.getOrElse(k.range, Set(k.range)).map(c => (k.kind, c)))
    .toDF("kind", "valueCls")

  /** Distinct kinds used anywhere in the data — the shared base of every
    * vocabulary-style pass (undefined-kind check and the -50 warning series
    * of range/datatype/domain, plus fieldType). Each consumer filters AFTER
    * the distinct (semantics-equal to filtering before), so all of them
    * reuse ONE scan+explode+distinct exchange at execution time.
    */
  lazy val distinctKinds: DataFrame = sharedOpt match {
    // shared mode: 4 consumers (KindsDefined + the -50 warning passes) —
    // derive from the shared frame AND cache the tiny distinct RESULT, so
    // the explode+distinct runs once. Deriving from the shared frame (not
    // the corpus) also keeps every registered cache canonically DISTINCT
    // from the per-check parquet plans — a later single-check query can
    // never silently read a composed-pass cache.
    case Some(s) => sharedPersist(
      s.select(explode(col("__kinds")).as("kind")).distinct())
    case None => docs.select(explode(field("kind")).as("kind")).distinct()
  }

  /** Distinct classes asserted by `type` spans — the ClassesDefined probe
    * (same sharing discipline as [[distinctKinds]]).
    */
  lazy val distinctTypeClasses: DataFrame = sharedOpt match {
    case Some(s) => s.select(explode(col("__proj.typeClasses")).as("cls")).distinct()
    case None => docs.select(explode(typeClassesExpr).as("cls")).distinct()
  }

  /** Distinct (kind, media_ref) pairs over ALL reference spans — the shared
    * probe base of the referential checks. URI-existence and object-range
    * both derive from this exact subplan (filtering by kind AFTER the
    * distinct, which is semantics-equal), so at execution time Spark's
    * ReuseExchange materializes the scan+explode+distinct shuffle ONCE.
    */
  lazy val distinctRefs: DataFrame = sharedOpt match {
    // shared mode: 2 consumers (URI existence + object range) — from the
    // shared frame, distinct RESULT cached
    case Some(s) => sharedPersist(s.select(explode(col("__proj.refs")).as("r"))
      .select(col("r.kind").as("kind"), col("r.media_ref").as("media_ref"))
      .distinct())
    case None => docs.select(explode(refsExpr).as("r"))
      .select(col("r.kind").as("kind"), col("r.media_ref").as("media_ref"))
      .distinct()
  }

  /** (doc_id, subject class) with untyped docs coalesced to owl:Thing —
    * the join-side subject-class table of the class-qualified restriction
    * checks.
    */
  lazy val subjectCls: DataFrame =
    docsCls.select(col("doc_id"),
      coalesce(col("cls"), lit(SchemaDef.OWL_THING)).as("cls"))

  /** (doc_id, cls, kind, media_ref, targetCls) for every reference span
    * whose kind is targeted by a class-qualified (owl:onClass /
    * owl:someValuesFrom-class / owl:allValuesFrom-class) restriction:
    * the SUBJECT's class is carried through the explode (row-local — no
    * join needed for it), and the TARGET document's class is resolved with
    * the one genuinely required join (owl:Thing for untyped/dangling
    * targets, CheckOwlRestrictionMax.php:190-194 analogue). Shared by the
    * qualified-cardinality, existential and universal object-variant
    * frames, so the scan+explode and the ref→target-class join exchanges
    * materialize once (ReuseExchange) no matter how many restriction
    * families are configured.
    */
  lazy val restrictionRefTargets: DataFrame = {
    val kinds = schema.restrictions.filter(_.classExpr != null)
      .map(_.onProperty).distinct
    val refs = sharedOpt match {
      // shared mode: subject class AND refs both ride the shared frame —
      // row-local, join-free on the subject side
      case Some(s) => s.select(col("doc_id"),
          coalesce(col("__proj.cls"), lit(SchemaDef.OWL_THING)).as("cls"),
          explode(filter(col("__proj.refs"),
            p => p.getField("kind").isin(kinds: _*))).as("r"))
        .select(col("doc_id"), col("cls"), col("r.kind").as("kind"),
          col("r.media_ref").as("media_ref"))
      case None =>
        val refSpans = filter(zipped("kind", "media_ref"), p =>
          p.getField("media_ref").isNotNull && p.getField("kind").isin(kinds: _*))
        docs.select(col("doc_id"),
          coalesce(clsCol, lit(SchemaDef.OWL_THING)).as("cls"),
          explode(refSpans).as("r"))
          .select(col("doc_id"), col("cls"), col("r.kind").as("kind"),
            col("r.media_ref").as("media_ref"))
    }
    val targetCls = universeCls.select(col("doc_id").as("media_ref"),
      col("cls").as("targetCls"))
    // consumed by qualifiedCounts AND the only/zero extras
    sharedCached(refs.join(targetCls.hint("SHUFFLE_HASH"), Seq("media_ref"), "left")
      .withColumn("targetCls", coalesce(col("targetCls"), lit(SchemaDef.OWL_THING))))
  }

  /** The class-qualified restrictions, in a stable order — index i labels
    * the `q$i` (qualified) / `t$i` (raw) count columns of
    * [[qualifiedCounts]].
    */
  lazy val classQualifiedRestrictions: Seq[RestrictionDef] =
    schema.restrictions.filter(_.classExpr != null)

  /** Per-subject counts for EVERY class-qualified restriction in one
    * aggregation — (doc_id, cls, q0, t0, q1, t1, …). The subject class is
    * carried (functionally dependent on doc_id), so NO join against the
    * full corpus: subjects with zero values of a property simply have no
    * row, which is exactly what the qualified count/some queries need
    * (they all require ≥1 binding); the zero-occurrence `-103` cases are
    * recovered by a guarded anti-join in CheckCardinality instead of
    * paying a corpus-wide left join on every run. CheckCardinality and
    * CheckSome both emit from this exact frame (ReuseExchange).
    */
  lazy val qualifiedCounts: DataFrame = {
    val rs = classQualifiedRestrictions
    val aggs = rs.zipWithIndex.flatMap { case (r, i) => Seq(
      count(when(col("kind") === r.onProperty && qualifies(r.classExpr), 1))
        .as(s"q$i"),
      count(when(col("kind") === r.onProperty, 1)).as(s"t$i"))
    }
    // consumed by BOTH the cardinality and some extras
    sharedCached(
      restrictionRefTargets.groupBy("doc_id", "cls").agg(aggs.head, aggs.tail: _*))
  }

  /** Does `targetCls` satisfy class expression `classExpr`? owl:Thing as a
    * class expression admits any TYPED target (the reference skips the
    * type filter but still requires `?value a ?value_type`,
    * CheckOwlRestrictionSome.php:641-644,692-698); untyped targets
    * (coalesced to owl:Thing) never qualify.
    */
  def qualifies(classExpr: String): Column =
    if (classExpr == SchemaDef.OWL_THING) col("targetCls") =!= SchemaDef.OWL_THING
    else col("targetCls").isin(
      schema.subClosure.getOrElse(classExpr, Set(classExpr)).toSeq: _*)

  /** The native fused violation array of the row-local checks `rowLocal`:
    * ONE [[graft.functions.ValidateSpans]] expression over `spans`, its
    * constraint set compiled for exactly these checks — strictness from
    * the configured datatype check, span layout (arity, optional
    * `datatype` field) from the corpus schema (the datatype seam).
    */
  def fusedViolations(rowLocal: Seq[ConstraintCheck]): Column = {
    val strictDt = rowLocal.exists {
      case c: CheckDatatypeImpl => c.strict
      case _ => false
    }
    graft.functions.ValidateSpans.validateSpans(col("spans"),
      graft.functions.CompiledConstraints.from(schema, rowLocal.map(_.id).toSet,
        strictDt = strictDt, spanArity = spanArity, dtOrdinal = spanDatatypeOrd))
  }

  /** Violation rows of the fused row-local pass over `docs` (no extras):
    * a pure per-document function of (spans, schema).
    */
  def rowLocalCore(rowLocal: Seq[ConstraintCheck]): DataFrame =
    CheckContext.coreRows(docs, fusedViolations(rowLocal))

  def violation(checkId: String, severity: String, docId: Column, kind: Column,
                value: Column, expected: Column): Seq[Column] = Seq(
    lit(checkId).as("checkId"), lit(severity).as("severity"),
    docId.cast("string").as("docId"), kind.cast("string").as("kind"),
    value.cast("string").as("value"), expected.cast("string").as("expected"))

  /** A violation struct literal for the row-local array pattern. */
  def vStruct(checkId: String, kind: Column, value: Column, expected: Column): Column =
    struct(lit(checkId).as("checkId"), kind.cast("string").as("kind"),
      value.cast("string").as("value"), expected.cast("string").as("expected"))

  /** Empty violations frame (schema only). */
  def emptyViolations: DataFrame =
    docs.limit(0).select(violation("NONE", "error",
      lit(null), lit(null), lit(null), lit(null)): _*)
}

object CheckContext {
  /** Violation rows (with the owning `check`) from `frame`'s `doc_id` and
    * the fused violation array `viols` — one row per array element.
    */
  def coreRows(frame: DataFrame, viols: Column): DataFrame =
    frame.select(col("doc_id"), explode(viols).as("v"))
      .select(col("v.checkId").as("checkId"), lit("error").as("severity"),
        col("doc_id").cast("string").as("docId"), col("v.kind").as("kind"),
        col("v.value").as("value"), col("v.expected").as("expected"),
        col("v.check").as("check"))

  /** The current composed pass's registered caches (see
    * [[CheckContext.buildSharedScan]]); bounded to one pass per JVM —
    * starting a new pass unpersists the previous pass's frames (an
    * already-running consumer of a dropped frame recomputes: slower,
    * never wrong).
    */
  private val sharedCaches = new java.util.ArrayList[DataFrame]()

  private[checks] def registerSharedCache(df: DataFrame): Unit =
    sharedCaches.synchronized { sharedCaches.add(df); () }

  private[checks] def dropSharedCaches(): Unit = sharedCaches.synchronized {
    sharedCaches.forEach(df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () })
    sharedCaches.clear()
  }
}

sealed trait ConstraintCheck {
  def id: String
  def run(ctx: CheckContext): DataFrame
  /** Parameterized variant of this check — the `?k=v` per-check config
    * syntax of the reference CLI (dvt:142-146, e.g. `datatype?mode=strict`).
    * Default: parameters are ignored.
    */
  def configure(params: Map[String, String]): ConstraintCheck = this
}

/** A check whose error path is row-local: a pure function of one
  * document's spans, evaluated by the native
  * [[graft.functions.ValidateSpans]] pass. Such checks FUSE:
  * [[graft.engine.Pipeline.violations]] compiles all row-local checks into
  * one expression, exploded once — all subject-local validation in a
  * single scan of the table. Alone, a check runs the same pass compiled
  * for itself.
  */
trait RowLocalCheck extends ConstraintCheck {
  /** Non-row-local extras (warning passes etc.); default none. */
  def extraFrames(ctx: CheckContext): Seq[DataFrame] = Nil
  final def run(ctx: CheckContext): DataFrame =
    (ctx.rowLocalCore(Seq(this)).drop("check") +: extraFrames(ctx))
      .reduce(_ unionByName _)
}

/** Undefined-kind check (CheckPropertiesDefined.php:41-84):
  * distinct used kinds ▷ anti-join the kind dictionary. Reads spans.kind
  * only; shuffles distinct kind strings only.
  */
object CheckKindsDefined extends ConstraintCheck {
  val id = "PROPERTIES-DEFINED"
  def run(ctx: CheckContext): DataFrame = {
    ctx.distinctKinds
      .filter(col("kind") =!= SchemaDef.TypeKind)
      .join(broadcast(ctx.kindsDf.select("kind")), Seq("kind"), "left_anti")
      .select(ctx.violation(s"$id-100", "error", lit(null), col("kind"),
        lit(null), lit("kind defined in schema")): _*)
  }
}

/** Undefined-class check (CheckClassesDefined.php:41-84). Type spans are
  * filtered row-locally BEFORE the explode, so the Generate sees one row
  * per doc, not one per span.
  */
object CheckClassesDefined extends ConstraintCheck {
  val id = "CLASSES-DEFINED"
  def run(ctx: CheckContext): DataFrame = {
    ctx.distinctTypeClasses
      .join(broadcast(ctx.classesDf), Seq("cls"), "left_anti")
      .select(ctx.violation(s"$id-100", "error", lit(null), lit(SchemaDef.TypeKind),
        col("cls"), lit("class defined in schema")): _*)
  }
}

/** Referential-existence check (CheckURIExistence.php:43-96): distinct
  * referenced URIs (minus the excluded-predicate list, :50) that match no
  * doc_id. Probe side is filtered row-locally pre-explode and deduplicated
  * before the anti-join, so hot keys hit the join once per kind.
  */
object CheckUriExistence extends ConstraintCheck {
  val id = "URI-EXISTENCE"
  def run(ctx: CheckContext): DataFrame = {
    val refs = ctx.distinctRefs
      .filter(!col("kind").isin(SchemaDef.UriExistenceExcludedKinds: _*))
    val universe = ctx.universeIds.select(col("doc_id").as("media_ref"))
    // SHUFFLE_HASH: the build side is the per-partition slice of the doc-id
    // universe (bounded by AQE partition sizing); hashing it beats sorting
    // BOTH sides of the biggest join in the composed pass (guide SS3.1)
    refs.join(universe.hint("SHUFFLE_HASH"), Seq("media_ref"), "left_anti")
      .select(ctx.violation(s"$id-100", "error", lit(null), col("kind"),
        col("media_ref"), lit("referenced URI exists")): _*)
  }
}

/** Object-property range check (CheckObjectPropertiesRange.php): the class
  * of each referenced doc must fall in the subclass closure of the kind's
  * declared range; untyped targets count as owl:Thing (:190-194). Kinds
  * used without a declared range yield warning `-50` (:95-107).
  *
  * N/A by design: the reference's RANGE-51..55 warnings (:252,:265,:308,
  * :321,:609) all signal OSF web-service/HTTP failures mid-check
  * ("couldn't get super-classes / ontology / affected records") — an
  * engine evaluating against a driver-resident schema has no such failure
  * mode, so that sub-series cannot occur here.
  */
object CheckObjectRange extends ConstraintCheck {
  val id = "OBJECT-PROPERTIES-RANGE"
  def run(ctx: CheckContext): DataFrame = {
    val objKinds = ctx.schema.kinds.filter(_.kindType == "object")
    val withRange = objKinds.filter(_.range != null).map(_.kind)
    val noRange = objKinds.filter(_.range == null).map(_.kind)

    // distinct (kind, target) pairs — shares the materialized distinct-refs
    // exchange with the URI-existence check (see CheckContext.distinctRefs)
    val targets = ctx.distinctRefs.filter(col("kind").isin(withRange: _*))

    val targetCls = ctx.universeCls.select(
      col("doc_id").as("media_ref"), col("cls").as("valueCls"))

    val typed = targets.join(targetCls.hint("SHUFFLE_HASH"), Seq("media_ref"), "left")
      .withColumn("valueCls", coalesce(col("valueCls"), lit(SchemaDef.OWL_THING)))

    val bad = typed.join(broadcast(ctx.allowedRangePairs), Seq("kind", "valueCls"), "left_anti")
      .select(ctx.violation(s"$id-100", "error", lit(null), col("kind"),
        col("media_ref"), col("valueCls")): _*)

    val warn =
      if (noRange.isEmpty) ctx.emptyViolations
      else ctx.distinctKinds
        .filter(col("kind").isin(noRange: _*))
        .select(ctx.violation(s"$id-50", "warning", lit(null), col("kind"),
          lit(null), lit("kind has a declared range")): _*)

    bad.unionByName(warn)
  }
}

/** Domain check (CheckObjectDatatypePropertiesDomain.php): the subject's
  * class must fall in the closure of one of the kind's domains. JOIN-FREE:
  * subject class and used kinds live in the same row, and the allowed
  * (kind → classes) table is driver-known, so the whole check compiles into
  * a row-local predicate. The reference needed a subject-types subquery per
  * property (:137-143).
  *
  * Warning `-50` (:92-109): every kind used in the data with no declared
  * domain (the reference enumerates ALL distinct used predicates except
  * rdf:type / rdf:value / dcterms:isPartOf, :41-62 — undefined kinds
  * included). N/A by design: `-51..-55` (:223,:236,:276,:289,:566) are OSF
  * web-service failure artifacts.
  */
object CheckDomain extends RowLocalCheck {
  val id = "OBJECT-DATATYPE-PROPERTIES-DOMAIN"
  /** `-50`: distinct used kinds whose declared domain is empty (or that are
    * undefined in the schema), excluding the reference's predicate filter
    * (rdf:type analogue + the two excluded URIs).
    */
  override def extraFrames(ctx: CheckContext): Seq[DataFrame] = {
    val declared = ctx.schema.kinds.filter(_.domain.nonEmpty).map(_.kind)
    val excluded = SchemaDef.TypeKind +: SchemaDef.DomainExcludedKinds
    Seq(ctx.distinctKinds
      .filter(!col("kind").isin((declared ++ excluded): _*))
      .select(ctx.violation(s"$id-50", "warning", lit(null), col("kind"),
        lit(null), lit("kind has a declared domain")): _*))
  }
}

/** Datatype-conformance check (CheckDatatypePropertiesDatatype.php).
  * Reference id convention (:219, :488): `-100` = STRICT-mode mismatch of
  * the value's asserted datatype annotation against the declared range,
  * `-101` = lexically invalid value. Kinds used without a declared range →
  * warning `-50` (:104-115).
  *
  * Lexical validity (`-101`, facet-aware for custom datatypes) evaluates in
  * a single scan, shuffle-free: offending spans are selected row-locally,
  * pre-explode, by each kind's compiled validator.
  *
  * Strict mode (`datatype?mode=strict`, dvt-style per-check param) engages
  * when the corpus carries the span-level `datatype` annotation column:
  * unannotated values compare as rdfs:Literal (:188-192); asserted
  * xsd:string always passes (:196-201 — Virtuoso's default type); the
  * coercion whitelist (:204-213, [[SchemaDef.VirtuosoCoercions]]) mutes the
  * listed integer/decimal rewrites; a mismatch emits `-100` and skips
  * lexical validation (the reference's `continue`). Custom-range values
  * asserted xsd:string skip lexical validation (validateCustomDatatype
  * cannot resolve xsd:string as a custom type).
  *
  * N/A by design: `-51/-52` (:504-517) are OSF web-service failure artifacts.
  */
class CheckDatatypeImpl(val strict: Boolean) extends RowLocalCheck {
  val id = "DATATYPE-PROPERTIES-DATATYPE"

  override def configure(params: Map[String, String]): ConstraintCheck =
    if (params.get("mode").contains("strict")) new CheckDatatypeImpl(true)
    else if (params.get("mode").contains("loose")) new CheckDatatypeImpl(false)
    else this

  override def extraFrames(ctx: CheckContext): Seq[DataFrame] = {
    val noRange = ctx.schema.kinds.filter(k => k.kindType == "datatype" && k.range == null).map(_.kind)
    if (noRange.isEmpty) Nil
    else Seq(ctx.distinctKinds
      .filter(col("kind").isin(noRange: _*))
      .select(ctx.violation(s"$id-50", "warning", lit(null), col("kind"),
        lit(null), lit("kind has a declared range datatype")): _*))
  }
}

/** Default datatype check instance. The default mode is STRICT, matching
  * the reference (`private $mode = 'strict'`,
  * CheckDatatypePropertiesDatatype.php:10) — inert on corpora without the
  * span-level datatype column, reference-default behavior on annotated
  * ones; `configure(mode=loose)` opts out.
  */
object CheckDatatype extends CheckDatatypeImpl(true)

/** Cardinality restrictions (CheckOwlRestriction{Max,Min,Exact}.php): the
  * reference's `group by ?s ?onProperty having count(...)` is re-expressed
  * shuffle-free as a per-row count of the property's spans — the grouping
  * key is the row key — and ALL restrictions evaluate in ONE scan via the
  * violation-array pattern. Includes the zero-occurrence edge cases the
  * reference handles with separate `filter not exists` queries
  * (CheckOwlRestrictionMin.php:211-223, Exact:208-220).
  *
  * DELIBERATE DEVIATION (Exact zero case): the reference guards its EXACT
  * zero-occurrence query with `if($exactCardinality['onProperty'] > 0)`
  * (Exact:206) — comparing the property URI, a string, numerically. Under
  * the PHP 5/7 semantics of the reference's era a URI coerces to 0, the
  * guard is always false, and the EXACT-102 zero case is dead code (Min
  * runs its zero case unguarded at :210-223; the Exact guard's evident
  * intent is the cardinality N — an exactly-0 restriction is satisfied by
  * zero occurrences). This engine implements the intent: EXACT-102 fires
  * when count = 0 and the declared cardinality is non-zero.
  *
  * Alongside the counts, the reference runs a lexical-validity pass over
  * the restricted property's values on instances of the class
  * (CheckOwlRestrictionMax.php:244-550, Min:370-612, Exact:368-610):
  * every distinct value failing the dataRange validator is an error —
  * MAX-102 / MIN-104 / EXACT-104. Also row-local here (distinct within
  * the row, which IS the subject).
  */
object CheckCardinality extends RowLocalCheck {
  val id = "OWL-RESTRICTION-CARD"

  /** Class-qualified restrictions (owl:onClass): only values whose TARGET's
    * class falls in the qualifying closure count — this genuinely needs the
    * ref → target-class join ([[CheckContext.restrictionRefTargets]],
    * shared with the some/only object variants). ONE aggregation computes
    * the qualified AND raw counts of every restriction (R conditional
    * counters, not R passes), one left join attaches subject classes, and
    * all violations explode from a single array projection.
    *
    * Reference id fidelity (CheckOwlRestrictionMax.php:754, Min:809,:860,
    * Exact:804,:848): the object variant emits the `-101` series, and its
    * zero case (`-103`) fires only when the subject has NO value of the
    * property AT ALL (`filter not exists { ?s <p> ?value }`, Min:831-842) —
    * a subject whose values exist but none qualify escapes both queries
    * (the count query binds no group for it); that quirk is preserved.
    *
    * DELIBERATE DEVIATION (Min only): the reference's Min count query
    * filters `?value in (<subclasses>)` — the value URI itself against a
    * list of CLASS URIs, with no `?value a ?value_type` triple in the
    * pattern (CheckOwlRestrictionMin.php:761-762) — so a value qualifies
    * only if it literally IS a class URI, i.e. the qualified count is
    * almost always 0 and MIN-101 can essentially never fire. Max (:705)
    * and Exact (:707) filter `?value_type` as expected; the Min form is a
    * copy-paste bug, not a semantic. This engine normalizes MIN-101 to the
    * Max/Exact target-class semantics (count values whose TYPE is in the
    * closure) instead of replicating the broken filter.
    */
  override def extraFrames(ctx: CheckContext): Seq[DataFrame] = {
    val indexed = ctx.classQualifiedRestrictions.zipWithIndex.filter {
      case (r, _) => Set("min", "max", "exact").contains(r.rtype) }
    if (indexed.isEmpty) return Nil

    def appOf(r: RestrictionDef) = col("cls").isin(
      ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq: _*)
    def expOf(r: RestrictionDef) = {
      val word = r.rtype match {
        case "max" => "at most"; case "min" => "at least"; case _ => "exactly" }
      lit(s"$word ${r.n} ${r.onProperty} of class ${r.classExpr}")
    }

    // ≥1-binding violations from the shared counts frame (subjects with no
    // value of the property have no row — matching the reference's count
    // query, which binds no group for them)
    val structs = indexed.flatMap { case (r, i) =>
      val app = appOf(r)
      val q = col(s"q$i")
      def v(cid: String) = ctx.vStruct(cid, lit(r.onProperty), q, expOf(r))
      r.rtype match {
        case "max" => Seq(when(app && q > r.n, v("OWL-RESTRICTION-MAX-101")))
        case "min" => Seq(when(app && q > 0 && q < r.n, v("OWL-RESTRICTION-MIN-101")))
        case "exact" => Seq(when(app && q > 0 && q =!= r.n, v("OWL-RESTRICTION-EXACT-101")))
      }
    }
    val counted = ctx.qualifiedCounts
      .select(col("doc_id"),
        explode(filter(array(structs: _*), v => v.isNotNull)).as("v"))
      .select(col("v.checkId").as("checkId"), lit("error").as("severity"),
        col("doc_id").cast("string").as("docId"), col("v.kind").as("kind"),
        col("v.value").as("value"), col("v.expected").as("expected"))

    // zero-occurrence `-103` cases (`filter not exists { ?s <p> ?value }`,
    // Min:831-842): the only piece that genuinely needs the all-subjects
    // side — a guarded per-kind anti-join, skipped entirely when no
    // qualified min/exact restriction exists
    val zeroRs = indexed.map(_._1).filter(r =>
      r.rtype == "min" || (r.rtype == "exact" && r.n != 0))
    val zeroFrames = zeroRs.map { r =>
      val cid = if (r.rtype == "min") "OWL-RESTRICTION-MIN-103"
                else "OWL-RESTRICTION-EXACT-103"
      val hasValue = ctx.restrictionRefTargets
        .filter(col("kind") === r.onProperty).select("doc_id").distinct()
      ctx.subjectCls.filter(appOf(r))
        .join(hasValue, Seq("doc_id"), "left_anti")
        .select(ctx.violation(cid, "error", col("doc_id"), lit(r.onProperty),
          lit("0"), expOf(r)): _*)
    }
    Seq((counted +: zeroFrames).reduce(_ unionByName _))
  }
}

/** Existential restriction (CheckOwlRestrictionSome.php): each instance of
  * the restricted class needs at least one value of the property that is
  * lexically valid for the data range (:150-162, :252-522). Single scan;
  * the first valid value ends the search, like the reference's early-exit
  * loop (:504-509).
  */
object CheckSome extends RowLocalCheck {
  val id = "OWL-RESTRICTION-SOME"
  /** Object variant (owl:someValuesFrom a CLASS, :626-715): an instance of
    * the restricted class that USES the property but has no value whose
    * target's class falls in the class-expression closure → SOME-101. The
    * reference's query requires `?s <p> ?val` (:692-693), so instances with
    * zero values of the property are NOT flagged by this variant — quirk
    * preserved. Counts come from the shared
    * [[CheckContext.restrictionRefTargets]] join; one aggregation for all
    * such restrictions. N/A by design: SOME-50..55 are OSF web-service
    * failure artifacts (:194,:529,:552,:676,:729,:748).
    */
  override def extraFrames(ctx: CheckContext): Seq[DataFrame] = {
    val indexed = ctx.classQualifiedRestrictions.zipWithIndex
      .filter { case (r, _) => r.rtype == "some" }
    if (indexed.isEmpty) return Nil
    val structs = indexed.map { case (r, i) =>
      val app = col("cls").isin(
        ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq: _*)
      when(app && col(s"t$i") > 0 && col(s"q$i") === 0,
        ctx.vStruct(s"$id-101", lit(r.onProperty),
          lit(null), lit(s"some ${r.classExpr} value for ${r.onProperty}")))
    }
    Seq(ctx.qualifiedCounts
      .select(col("doc_id"),
        explode(filter(array(structs: _*), v => v.isNotNull)).as("v"))
      .select(col("v.checkId").as("checkId"), lit("error").as("severity"),
        col("doc_id").cast("string").as("docId"), col("v.kind").as("kind"),
        col("v.value").as("value"), col("v.expected").as("expected")))
  }
}

/** Universal restriction (CheckOwlRestrictionOnly.php:119-163): ANY value of
  * the property lexically invalid for the data range is a violation.
  * Single scan; offending values collected row-locally.
  */
object CheckOnly extends RowLocalCheck {
  val id = "OWL-RESTRICTION-ONLY"
  /** Object variant (owl:allValuesFrom a CLASS, :580-750): every value of
    * the property on an instance of the restricted class whose target's
    * class is outside the class-expression closure (untyped targets
    * included — `filter not exists { ?value a ?value_type ... }`,
    * :719-723) → ONLY-101, one error per offending (subject, value).
    * The subject class is already carried on the shared ref frame, so this
    * is a pure filter — no join beyond the shared target-class resolution.
    * N/A by design: ONLY-50..53 are OSF web-service failure artifacts.
    */
  override def extraFrames(ctx: CheckContext): Seq[DataFrame] = {
    val rs = ctx.schema.restrictions.filter(r => r.rtype == "only" && r.classExpr != null)
    if (rs.isEmpty) return Nil
    val candidate = ctx.restrictionRefTargets.filter(
      rs.map(r => col("kind") === r.onProperty && !ctx.qualifies(r.classExpr))
        .reduce(_ || _))
    val structs = rs.map { r =>
      val app = col("cls").isin(
        ctx.schema.subClosure.getOrElse(r.onClass, Set(r.onClass)).toSeq: _*)
      when(app && col("kind") === r.onProperty && !ctx.qualifies(r.classExpr),
        ctx.vStruct(s"$id-101", col("kind"), col("media_ref"), lit(r.classExpr)))
    }
    Seq(candidate
      .select(col("doc_id"),
        explode(filter(array(structs: _*), v => v.isNotNull)).as("v"))
      .select(col("v.checkId").as("checkId"), lit("error").as("severity"),
        col("doc_id").cast("string").as("docId"), col("v.kind").as("kind"),
        col("v.value").as("value"), col("v.expected").as("expected"))
      .dropDuplicates("checkId", "docId", "kind", "value"))
  }
}

/** Field-type presence check (CheckFieldTypeDefined.php:56-94, NOT in the
  * reference's default pipeline, SURVEY.md §2.8): datatype kinds used in the
  * data whose schema definition carries no fieldType.
  */
object CheckFieldTypeDefined extends ConstraintCheck {
  val id = "FIELDTYPE-DEFINED" // exact reference id, CheckFieldTypeDefined.php:76
  def run(ctx: CheckContext): DataFrame = {
    import ctx.spark.implicits._
    val missing = ctx.schema.kinds
      .filter(k => k.kindType == "datatype" && k.fieldType == null).map(_.kind)
    if (missing.isEmpty) return ctx.emptyViolations
    ctx.distinctKinds
      .filter(col("kind").isin(missing: _*))
      .select(ctx.violation(s"$id-100", "error", lit(null), col("kind"),
        lit(null), lit("kind has a declared fieldType")): _*)
  }
}

/** doc_id uniqueness (north star: "salted-key uniqueness"): duplicate
  * primary keys across the corpus, detected with two-phase salted
  * aggregation so one hot doc_id can't overload a reducer. The reference has
  * no analogue (Virtuoso enforces graph-level uniqueness); this is an
  * engine-native table-integrity check. In the composed pass it reads
  * `doc_id` from the shared scan's cache (one row per row of `docs`)
  * instead of scanning the corpus again.
  */
object CheckDocIdUnique extends ConstraintCheck {
  val id = "DOC-ID-UNIQUE"
  def run(ctx: CheckContext): DataFrame = {
    val ids = ctx.sharedOpt.getOrElse(ctx.docs).select("doc_id")
    graft.engine.Skew.duplicateKeys(ids, "doc_id")
      .select(ctx.violation(s"$id-100", "error", col("doc_id"), lit(null),
        col("key_count"), lit("doc_id occurs once")): _*)
  }
}

object Checks {
  /** Default pipeline, mirroring dvt.ini:21-33's check list
    * (CheckFieldTypeDefined exists but is not in the default list, matching
    * the reference).
    */
  val all: Seq[ConstraintCheck] = Seq(
    CheckKindsDefined, CheckClassesDefined, CheckUriExistence,
    CheckObjectRange, CheckDomain, CheckDatatype,
    CheckCardinality, CheckSome, CheckOnly)
}
