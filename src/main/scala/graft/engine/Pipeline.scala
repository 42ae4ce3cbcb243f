package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks.{CheckContext, Checks, ConstraintCheck, RowLocalCheck}
import graft.model.SchemaDef

/** Pipeline runner — the Spark-native equivalent of the reference's check
  * loop (dvt:139-192), except checks compose into plans instead of running
  * sequential HTTP queries, and verdicts are computed per logical partition.
  *
  * Logical partitioning: `bucket = pmod(xxhash64(doc_id), nBuckets)` — a
  * data-defined, layout-independent partition key. Verdicts and the resume
  * manifest are keyed by it, so a resumed run over the same snapshot skips
  * buckets regardless of how the files were split (Iceberg-snapshot-style
  * semantics without the Iceberg runtime; see SURVEY.md §4.5).
  */
object Pipeline {

  val DefaultBuckets = 64

  /** docs + a `bucket` column. Hashes the CANONICAL (string-cast) form of
    * doc_id: violation rows and verdicts carry `docId` as a string, so every
    * bucket derivation in the system must hash the same bytes — a non-string
    * doc_id hashed in its native type would land in a different bucket than
    * its own violations (xxhash64 of long ≠ xxhash64 of its decimal string).
    */
  def withBucket(docs: DataFrame, nBuckets: Int = DefaultBuckets): DataFrame =
    docs.withColumn("bucket",
      pmod(xxhash64(col("doc_id").cast("string")), lit(nBuckets)).cast("int"))

  /** Run the given checks; returns the union of violation rows.
    * Dataset-level violations (no docId) come out with docId null.
    *
    * When `fused` (default), all [[graft.checks.RowLocalCheck]]s evaluate in
    * ONE shared scan: their per-row violation arrays concatenate into a
    * single projection exploded once — subject-local validation of the whole
    * constraint set costs one pass over the table regardless of how many
    * checks are configured (the reference made 1-3 HTTP queries per
    * property/restriction). Non-row-local checks (vocabulary distincts,
    * referential joins) keep their own minimal-ReadSchema scans.
    */
  def violations(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
                 checks: Seq[ConstraintCheck] = Checks.all,
                 fused: Boolean = true,
                 native: Boolean = true,
                 universe: Option[DataFrame] = None): DataFrame = {
    val (rowLocal, others) = checks.partition(c => fused && c.isInstanceOf[RowLocalCheck])
    val useShared = rowLocal.nonEmpty && native &&
      spark.conf.getOption("spark.graft.validate.sharedScan").forall(_ != "false")

    if (useShared) violationsWithCore(spark, docs, schema, checks, universe)._1
    else {
      val ctx0 = CheckContext(spark, docs, schema, universe)
      val fusedFrames: Seq[DataFrame] =
        if (rowLocal.isEmpty) Nil
        else {
          val one = fusedCoreFrame(ctx0, rowLocal, native, docs, schema)
          val extras = rowLocal.flatMap(c =>
            c.asInstanceOf[RowLocalCheck].extraFrames(ctx0)
              .map(_.withColumn("check", lit(c.id))))
          one +: extras
        }
      val otherFrames = others.map(c => c.run(ctx0).withColumn("check", lit(c.id)))
      (fusedFrames ++ otherFrames).reduce(_ unionByName _)
    }
  }

  /** The ONE shared-scan composition, returning (violations, core). A
    * single wide corpus scan ([[CheckContext.buildSharedScan]]) computes
    * the fused native violation array (`__viols`) AND every per-doc
    * projection the corpus checks consume (kinds, type-classes, refs,
    * class) into one cached frame; every subplan then reads that frame
    * instead of re-scanning the corpus (measured: the composed pass ran
    * ~7 corpus scans summing to ~10 s at 800k docs — the scans, not the
    * operators, dominated). Identical rows by construction: every derived
    * projection uses the same expressions as the per-check forms
    * (PipelineGoldenSpec three-way equality).
    *
    * `core` is `__viols` exploded from the cached frame — the rows of
    * [[rowLocalCore]] over `docs` — so a caller that persists both (the
    * [[ValidatorApp]] full run, whose core feeds the next snapshot's
    * [[violationsDelta]]) pays one corpus scan for the pair.
    */
  def violationsWithCore(spark: SparkSession, docs: DataFrame,
                         schema: SchemaDef,
                         checks: Seq[ConstraintCheck] = Checks.all,
                         universe: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val ctx0 = CheckContext(spark, docs, schema, universe)
    val (rowLocal, others) = checks.partition(_.isInstanceOf[RowLocalCheck])
    require(rowLocal.nonEmpty, "no row-local checks configured")
    val shared = ctx0.buildSharedScan(Seq(graft.functions.ValidateSpans
      .validateSpans(col("spans"), compiledFor(ctx0, rowLocal, schema)).as("__viols")))
    val ctx = ctx0.copy(sharedOpt = Some(shared))
    val core = coreRows(shared.select(col("doc_id"), explode(col("__viols")).as("v")))
    val extras = rowLocal.flatMap(c =>
      c.asInstanceOf[RowLocalCheck].extraFrames(ctx)
        .map(_.withColumn("check", lit(c.id))))
    val otherFrames = others.map(c => c.run(ctx).withColumn("check", lit(c.id)))
    // the union's partition count is the SUM over ~20 branches (~350
    // partitions of a small frame): every downstream action — the count,
    // a cache build, the verdict rollup — pays one task per partition in
    // pure scheduling. A narrow coalesce bounds it at session
    // parallelism; branch work below the exchanges is unaffected.
    (((core +: extras) ++ otherFrames).reduce(_ unionByName _)
      .coalesce(spark.sparkContext.defaultParallelism), core)
  }

  /** Violation rows of the fused pass from `(doc_id, v)` — `v` one
    * exploded element of the native violation array.
    */
  private def coreRows(exploded: DataFrame): DataFrame =
    exploded.select(col("v.checkId").as("checkId"), lit("error").as("severity"),
      col("doc_id").cast("string").as("docId"), col("v.kind").as("kind"),
      col("v.value").as("value"), col("v.expected").as("expected"),
      col("v.check").as("check"))

  /** The compiled subject-local constraint set for a row-local check list —
    * strictness and span layout resolved exactly as [[fusedCoreFrame]]'s
    * native branch does.
    */
  private def compiledFor(ctx: CheckContext, rowLocal: Seq[ConstraintCheck],
                          schema: SchemaDef): graft.functions.CompiledConstraints = {
    val strictDt = rowLocal.exists {
      case c: graft.checks.CheckDatatypeImpl => c.strict
      case _ => false
    }
    graft.functions.CompiledConstraints.from(
      schema, rowLocal.map(_.id).toSet,
      strictDt = strictDt,
      spanArity = ctx.spanArity,
      dtOrdinal = ctx.spanDatatypeOrd)
  }

  /** The fused row-local pass itself (no extras, no corpus checks) —
    * extracted so [[violationsDelta]] can run it over the dirty slice
    * alone. Its rows are PURE per-document functions of (spans, schema):
    * exactly the property that makes digest-based carry-forward sound.
    */
  private def fusedCoreFrame(ctx: CheckContext, rowLocal: Seq[ConstraintCheck],
                             native: Boolean, docs: DataFrame,
                             schema: SchemaDef): DataFrame = {
    if (native) {
      // the native single-pass expression: compiled validators,
      // primitive counters, one output array — codegen'd end to end.
      // Strictness and the optional span-datatype layout flow in from
      // the configured check / the corpus schema (the datatype seam).
      val cc = compiledFor(ctx, rowLocal, schema)
      coreRows(docs.select(col("doc_id"),
        explode(graft.functions.ValidateSpans.validateSpans(col("spans"), cc)).as("v")))
    } else {
      // HOF formulation (kept as the reference semantics oracle)
      val tagged = rowLocal.map { c =>
        transform(c.asInstanceOf[RowLocalCheck].violArray(ctx), v => struct(
          v.getField("checkId").as("checkId"), v.getField("kind").as("kind"),
          v.getField("value").as("value"), v.getField("expected").as("expected"),
          lit(c.id).as("check")))
      }
      coreRows(docs.select(col("doc_id"), explode(concat(tagged: _*)).as("v")))
    }
  }

  /** Canonical span-sequence digest: md5 of the offset-ordered
    * (kind, text, media_ref, offset) serialization — the per-row invariant
    * itself (BASELINE input_hint: span-sequence equality on
    * (kind, text, media_ref, order)) as one comparable value. Control-char
    * separators (0x00 null marker, 0x01 field, 0x02 span) keep distinct
    * sequences from colliding through concatenation; row-local, codegen'd.
    *
    * A NULL spans array digests to a distinct non-null SENTINEL, never to
    * NULL: md5(NULL) would make [[snapshotDiff]] decide presence from the
    * digest instead of the join — a doc whose spans went non-null → NULL
    * between snapshots would read as "removed" (and silently drop from
    * both delta slices), and a null-spans doc would read as "added" even
    * when unchanged. The sentinel starts with 0x03, so it can never
    * collide with an md5 hex digest (including the empty-array digest).
    */
  def spanDigest(spans: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ordered = array_sort(spans, (l, r) =>
      when(l.getField("offset") < r.getField("offset"), -1)
        .when(l.getField("offset") > r.getField("offset"), 1)
        .otherwise(0))
    when(spans.isNull, lit("\u0003nullspans"))
      .otherwise(md5(concat_ws("\u0002", transform(ordered, s => concat_ws("\u0001",
        coalesce(s.getField("kind"), lit("\u0000")),
        coalesce(s.getField("text"), lit("\u0000")),
        coalesce(s.getField("media_ref"), lit("\u0000")),
        s.getField("offset").cast("string"))))))
  }

  /** Snapshot-to-snapshot document diff: `(doc_id, status)` with status ∈
    * added | removed | changed | unchanged, change detected through
    * [[spanDigest]] equality. ONE full-outer join on the unique doc_id
    * (digests are row-local) — this frame is also the natural audit
    * artifact to persist beside a snapshot's results.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame =
    snapshotDiffWithCounts(prev, cur).select("doc_id", "status")

  /** [[snapshotDiff]] plus per-side doc_id multiplicities (`__np`/`__nc`)
    * — the guard columns [[violationsDelta]] needs. Digests aggregate per
    * doc_id (min) BEFORE the join: a snapshot holding duplicate doc_ids —
    * precisely what the DocIdUnique check exists to flag — would otherwise
    * fan the full-outer join out, labelling one doc "changed" AND
    * "unchanged" simultaneously and double-counting its violations across
    * the delta slices. The groupBy adds no exchange beyond the join's own
    * hash partitioning on doc_id (same key, partial agg map-side).
    */
  private[engine] def snapshotDiffWithCounts(prev: DataFrame, cur: DataFrame): DataFrame = {
    def digests(df: DataFrame, d: String, n: String): DataFrame =
      df.groupBy(col("doc_id"))
        .agg(min(spanDigest(col("spans"))).as(d), count(lit(1)).as(n))
    digests(prev, "__dp", "__np")
      .join(digests(cur, "__dc", "__nc"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__dp").isNull, "added")
          .when(col("__dc").isNull, "removed")
          .when(col("__dp") =!= col("__dc"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("__np"), lit(0L)).as("__np"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
  }

  /** The PURELY-PER-DOC violation core: the fused row-local pass alone —
    * no extraFrames (those join other documents' classes via the
    * ref→target resolution, or aggregate corpus-wide distincts) and no
    * corpus checks. This is the carry-forward unit of [[violationsDelta]];
    * persist it beside each snapshot's results.
    */
  def rowLocalCore(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
                   checks: Seq[ConstraintCheck] = Checks.all,
                   native: Boolean = true): DataFrame = {
    val ctx = CheckContext(spark, docs, schema, None)
    val rowLocal = checks.filter(_.isInstanceOf[RowLocalCheck])
    require(rowLocal.nonEmpty, "no row-local checks configured")
    fusedCoreFrame(ctx, rowLocal, native, docs, schema)
  }

  /** INCREMENTAL validation between snapshots (north rule: resumable from
    * snapshot checkpoints): the expensive fused span-validation scan runs
    * over ONLY the added/changed documents; unchanged documents carry
    * their prior row-local violations forward (sound because the fused
    * pass is a pure function of (spans, schema) and [[snapshotDiff]]
    * certifies spans unchanged); removed documents' rows drop. Everything
    * that can SEE OTHER DOCUMENTS — vocabulary/class distincts, the
    * referential existence join, DocIdUnique, and the row-local checks'
    * class-qualified extraFrames — re-runs over the full current corpus:
    * a removed referenced doc must surface as a NEW dangling-ref violation
    * on an untouched referrer, and those passes are join/agg-shaped
    * (cheap) rather than span-scan-shaped (expensive).
    *
    * `prevCore` must be the [[rowLocalCore]] of `prevDocs` under the SAME
    * SchemaDef and check configuration (key your persisted cores by
    * `schema.constraintHash` exactly as the resume manifest does).
    *
    * Returns (violations, core): `violations` ≡ a from-scratch
    * `violations(cur)` row-for-row (PipelineDeltaSpec), `core` is what to
    * persist for the NEXT delta. The diff frame is localCheckpoint-
    * materialized — it is consumed twice (dirty and unchanged slices), and
    * it is doc_id+status-sized.
    */
  /** `precomputedDiff`: an already-materialized
    * [[snapshotDiffWithCounts]] frame for the SAME (prev, cur) pair —
    * callers that need the diff twice (the app's delta mode also derives
    * the profile's touched buckets from it) compute it once instead of
    * paying the dual-corpus digest scan per consumer.
    */
  def violationsDelta(spark: SparkSession, prevDocs: DataFrame,
                      prevCore: DataFrame, curDocs: DataFrame,
                      schema: SchemaDef,
                      checks: Seq[ConstraintCheck] = Checks.all,
                      native: Boolean = true,
                      precomputedDiff: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val diffAll = precomputedDiff.getOrElse(
      snapshotDiffWithCounts(prevDocs, curDocs).localCheckpoint())
    // delta mode REQUIRES doc_id-unique snapshots (what DocIdUnique flags):
    // duplicate ids would have fanned the diff join out, putting one doc in
    // both the fresh-scan and carried-core slices and double-counting its
    // violations vs a from-scratch run. Fail loudly — the caller should run
    // full validation (which reports the DocIdUnique violation) instead.
    // The probe scans the already-materialized doc_id-sized checkpoint.
    val dup = diffAll.filter(col("__np") > 1 || col("__nc") > 1)
      .select("doc_id", "__np", "__nc").limit(3).collect()
    require(dup.isEmpty,
      s"delta validation requires doc_id-unique snapshots, found duplicated " +
        s"doc_ids (docId, prevCount, curCount): ${dup.mkString(", ")} — run a " +
        "full validation instead (DocIdUnique will report them)")
    val diff = diffAll.select("doc_id", "status")
    val dirty = curDocs.join(
      diff.filter(col("status").isin("added", "changed")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val freshCore = rowLocalCore(spark, dirty, schema, checks, native)
    val unchanged = diff.filter(col("status") === "unchanged")
      .select(col("doc_id").cast("string").as("docId"))
    val carried = prevCore.join(unchanged, Seq("docId"), "left_semi")
    val core = freshCore.unionByName(carried)
    (violationsFromCore(spark, curDocs, schema, core, checks), core)
  }

  /** Full violations assembled around an ALREADY-COMPUTED (typically
    * cached or persisted) row-local core: core ∪ the row-local checks'
    * extraFrames ∪ the corpus checks, all over `docs` — the delta flow,
    * whose core is fresh rows over the dirty slice ∪ carried rows. A full
    * run derives its core from the shared scan instead
    * ([[violationsWithCore]]).
    */
  def violationsFromCore(spark: SparkSession, docs: DataFrame,
                         schema: SchemaDef, core: DataFrame,
                         checks: Seq[ConstraintCheck] = Checks.all): DataFrame = {
    val ctx0 = CheckContext(spark, docs, schema, None)
    // the composed corpus checks get the SAME shared single-scan
    // treatment as violations() (one wide cached scan instead of one
    // corpus scan per vocabulary/referential subplan); same opt-out conf.
    // No __viols column — the core is given.
    val useShared =
      spark.conf.getOption("spark.graft.validate.sharedScan").forall(_ != "false")
    val ctx = if (useShared) ctx0.copy(sharedOpt = Some(ctx0.buildSharedScan(Nil)))
              else ctx0
    val (rowLocal, others) = checks.partition(_.isInstanceOf[RowLocalCheck])
    val extraFrames = rowLocal.flatMap(c =>
      c.asInstanceOf[RowLocalCheck].extraFrames(ctx)
        .map(_.withColumn("check", lit(c.id))))
    val otherFrames = others.map(c => c.run(ctx).withColumn("check", lit(c.id)))
    (core +: (extraFrames ++ otherFrames)).reduce(_ unionByName _)
  }

  /** Per-bucket, per-check verdicts (north rule: per-partition pass/fail +
    * metrics + lineage). Doc-level violations roll up by bucket; dataset-
    * level violations (docId null) roll up into bucket -1.
    */
  def verdicts(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
               snapshotId: String,
               nBuckets: Int = DefaultBuckets,
               checks: Seq[ConstraintCheck] = Checks.all): DataFrame =
    verdictsFrom(spark, violations(spark, docs, schema, checks), docs, schema,
      snapshotId, nBuckets, checks)

  /** [[verdicts]] over an ALREADY-COMPUTED violations frame — callers that
    * have just materialized (or cached) `violations` roll it up without
    * paying the whole validation pipeline a second time.
    */
  def verdictsFrom(spark: SparkSession, violations: DataFrame, docs: DataFrame,
                   schema: SchemaDef, snapshotId: String,
                   nBuckets: Int = DefaultBuckets,
                   checks: Seq[ConstraintCheck] = Checks.all): DataFrame = {
    val viols = violations
      .withColumn("bucket",
        when(col("docId").isNotNull,
          pmod(xxhash64(col("docId")), lit(nBuckets)).cast("int")).otherwise(lit(-1)))

    val violCounts = viols.groupBy("bucket", "check")
      .agg(count(lit(1)).as("nViolations"))

    val docsPerBucket = withBucket(docs, nBuckets)
      .groupBy("bucket").agg(count(lit(1)).as("nDocs"))

    // bucket × check universe so clean buckets still get a PASS row
    import spark.implicits._
    val checkNames = checks.map(_.id).toDF("check")
    val universe = docsPerBucket
      .unionByName(Seq((-1, 0L)).toDF("bucket", "nDocs"))
      .crossJoin(broadcast(checkNames))

    universe.join(violCounts, Seq("bucket", "check"), "left")
      .select(
        col("bucket").as("partitionId"),
        col("check").as("checkId"),
        coalesce(col("nViolations"), lit(0L)).equalTo(0L).as("pass"),
        coalesce(col("nViolations"), lit(0L)).as("nViolations"),
        col("nDocs"),
        lit(snapshotId).as("snapshotId"),
        lit(schema.constraintHash).as("constraintHash"))
  }

  /** Resume filter: drop documents whose bucket is already recorded complete
    * in the manifest for this (snapshotId, constraintHash) — an anti-join on
    * the (tiny, broadcast) completed-bucket list, mirroring how an
    * Iceberg-snapshot checkpoint would prune work.
    */
  def resumable(spark: SparkSession, docs: DataFrame, manifest: Manifest,
                snapshotId: String, schema: SchemaDef,
                nBuckets: Int = DefaultBuckets,
                checksHash: String = ""): DataFrame = {
    val done = manifest.completedBuckets(snapshotId, schema.constraintHash, checksHash)
    if (done.isEmpty) docs
    else withBucket(docs, nBuckets)
      .filter(!col("bucket").isin(done.toSeq: _*))
      .drop("bucket")
  }
}
