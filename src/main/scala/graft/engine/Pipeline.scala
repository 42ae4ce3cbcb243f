package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** THE bucket key of a doc id: `pmod(xxhash64(id), nBuckets)` over the
    * CANONICAL (string-cast) form of the id. Violation rows and verdicts
    * carry `docId` as a string, so every bucket derivation in the system
    * must hash the same bytes — a non-string doc_id hashed in its native
    * type would land in a different bucket than its own violations
    * (xxhash64 of long ≠ xxhash64 of its decimal string). For a string id
    * the cast is a no-op the optimizer removes.
    */
  def bucketOf(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id.cast("string")), lit(nBuckets)).cast("int")

  /** A violation row's bucket: its doc's, or -1 for dataset-level rows
    * (docId null).
    */
  def violationBucket(nBuckets: Int): Column =
    when(col("docId").isNotNull, bucketOf(col("docId"), nBuckets)).otherwise(lit(-1))

  /** docs + their `bucket` column ([[bucketOf]] of doc_id). */
  def withBucket(docs: DataFrame, nBuckets: Int = DefaultBuckets): DataFrame =
    docs.withColumn("bucket", bucketOf(col("doc_id"), nBuckets))

  /** Run the given checks; returns the union of violation rows.
    * Dataset-level violations (no docId) come out with docId null.
    *
    * All [[graft.checks.RowLocalCheck]]s evaluate in ONE shared scan
    * ([[violationsWithCore]]): their constraint set compiles into a single
    * native expression exploded once — subject-local validation of the
    * whole constraint set costs one pass over the table regardless of how
    * many checks are configured (the reference made 1-3 HTTP queries per
    * property/restriction) — and the corpus checks (vocabulary distincts,
    * referential joins) read the same cached scan. A check list with no
    * row-local check has nothing to share the scan with: each check runs
    * its own minimal-ReadSchema plan.
    */
  def violations(spark: SparkSession, docs: DataFrame, schema: SchemaDef,
                 checks: Seq[ConstraintCheck] = Checks.all,
                 universe: Option[DataFrame] = None): DataFrame =
    if (checks.exists(_.isInstanceOf[RowLocalCheck]))
      violationsWithCore(spark, docs, schema, checks, universe)._1
    else {
      val ctx = CheckContext(spark, docs, schema, universe)
      checks.map(c => c.run(ctx).withColumn("check", lit(c.id))).reduce(_ unionByName _)
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
    val shared = ctx0.buildSharedScan(Seq(ctx0.fusedViolations(rowLocal).as("__viols")))
    val ctx = ctx0.copy(sharedOpt = Some(shared))
    val core = CheckContext.coreRows(shared, col("__viols"))
    val extras = rowLocal.flatMap(c =>
      c.asInstanceOf[RowLocalCheck].extraFrames(ctx)
        .map(_.withColumn("check", lit(c.id))))
    val otherFrames = others.map(c => c.run(ctx).withColumn("check", lit(c.id)))
    (coalescedUnion(spark, (core +: extras) ++ otherFrames), core)
  }

  /** Snapshot-to-snapshot document diff: `(doc_id, status)` with status ∈
    * added | removed | changed | unchanged, change detected through
    * [[graft.functions.SpanDigest]] equality (the offset-ordered span
    * sequence, serialized injectively, as a 128-bit digest). ONE
    * full-outer join on the unique doc_id (digests are row-local) — this
    * frame is also the natural audit artifact to persist beside a
    * snapshot's results.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame =
    snapshotDiffWithCounts(prev, cur).select("doc_id", "status")

  /** [[snapshotDiff]] plus per-side doc_id multiplicities (`__np`/`__nc`)
    * — the guard columns [[violationsDelta]] needs. Digests aggregate per
    * doc_id BEFORE the join: a snapshot holding duplicate doc_ids —
    * precisely what the DocIdUnique check exists to flag — would otherwise
    * fan the full-outer join out, labelling one doc "changed" AND
    * "unchanged" simultaneously and double-counting its violations across
    * the delta slices. The groupBy adds no exchange beyond the join's own
    * hash partitioning on doc_id (same key, partial agg map-side), and
    * its two fixed-width `min`s plan as a `HashAggregate`.
    *
    * Presence comes from the counts (a side's count is NULL after the
    * join iff the doc_id is absent there), and digests compare null-safe:
    * a NULL spans array digests to NULL, so spans non-null → NULL reads
    * "changed" and NULL → NULL reads "unchanged", never added/removed.
    *
    * `min` of `hi` and of `lo` are taken separately, so a group's two
    * halves can come from two different rows — but only when the group
    * has two rows, i.e. the doc_id is duplicated on that side (`__np` or
    * `__nc` > 1), and [[violationsDelta]] refuses exactly that case. For a
    * unique doc_id each half is its one row's.
    */
  private[engine] def snapshotDiffWithCounts(prev: DataFrame, cur: DataFrame): DataFrame = {
    def digests(df: DataFrame, side: String): DataFrame =
      df.select(col("doc_id"),
          graft.functions.SpanDigest.spanDigest(col("spans")).as("__d"))
        .groupBy(col("doc_id"))
        .agg(min(col("__d.hi")).as(s"__h$side"), min(col("__d.lo")).as(s"__l$side"),
          count(lit(1)).as(s"__n$side"))
    digests(prev, "p")
      .join(digests(cur, "c"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__np").isNull, "added")
          .when(col("__nc").isNull, "removed")
          .when(col("__hp") <=> col("__hc") && col("__lp") <=> col("__lc"), "unchanged")
          .otherwise("changed").as("status"),
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
                   checks: Seq[ConstraintCheck] = Checks.all): DataFrame = {
    val rowLocal = checks.filter(_.isInstanceOf[RowLocalCheck])
    require(rowLocal.nonEmpty, "no row-local checks configured")
    CheckContext(spark, docs, schema, None).rowLocalCore(rowLocal)
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
    * persist for the NEXT delta ([[deltaCore]]).
    *
    * `precomputedDiff`: an already-materialized
    * [[snapshotDiffWithCounts]] frame for the SAME (prev, cur) pair —
    * callers that need the diff twice (the app's delta mode also derives
    * the profile's touched buckets from it) compute it once instead of
    * paying the dual-corpus digest scan per consumer.
    */
  def violationsDelta(spark: SparkSession, prevDocs: DataFrame,
                      prevCore: DataFrame, curDocs: DataFrame,
                      schema: SchemaDef,
                      checks: Seq[ConstraintCheck] = Checks.all,
                      precomputedDiff: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val core = deltaCore(spark, prevDocs, prevCore, curDocs, schema, checks,
      precomputedDiff)
    (violationsFromCore(spark, curDocs, schema, core, checks), core)
  }

  /** The row-local core of `curDocs` assembled incrementally — fresh rows
    * over the added/changed slice ∪ `prevCore`'s rows of unchanged docs —
    * without the corpus checks [[violationsDelta]] adds around it: a caller
    * that caches the core before composing the violations (the app) builds
    * the composition once, over the cached core (a coalesce is its root,
    * so the composition's union reads the cache). The diff frame is
    * localCheckpoint-materialized when not given — it is consumed twice
    * (dirty and unchanged slices), and it is doc_id+status-sized.
    */
  def deltaCore(spark: SparkSession, prevDocs: DataFrame,
                prevCore: DataFrame, curDocs: DataFrame,
                schema: SchemaDef,
                checks: Seq[ConstraintCheck] = Checks.all,
                precomputedDiff: Option[DataFrame] = None): DataFrame = {
    val diffAll = precomputedDiff.getOrElse(
      snapshotDiffWithCounts(prevDocs, curDocs).localCheckpoint())
    // delta mode REQUIRES doc_id-unique snapshots (what DocIdUnique flags):
    // duplicate ids would have fanned the diff join out, putting one doc in
    // both the fresh-scan and carried-core slices and double-counting its
    // violations vs a from-scratch run (and would let the diff's per-half
    // digest mins mix two rows). Fail loudly — the caller should run full
    // validation (which reports the DocIdUnique violation) instead. The
    // probe scans the already-materialized doc_id-sized checkpoint.
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
    val freshCore = rowLocalCore(spark, dirty, schema, checks)
    val unchanged = diff.filter(col("status") === "unchanged")
      .select(col("doc_id").cast("string").as("docId"))
    val carried = prevCore.join(unchanged, Seq("docId"), "left_semi")
    // coalesced, so the root is not a Union: `unionByName` flattens nested
    // unions, and a cached Union root would then never match inside the
    // composed violations union — the composition would recompute the core
    coalescedUnion(spark, Seq(freshCore, carried))
  }

  /** Full violations assembled around an ALREADY-COMPUTED (typically
    * cached or persisted) row-local core: core ∪ the row-local checks'
    * extraFrames ∪ the corpus checks, all over `docs` — the delta flow,
    * whose core is fresh rows over the dirty slice ∪ carried rows. A full
    * run derives its core from the shared scan instead
    * ([[violationsWithCore]]); both unions get the same shape
    * ([[coalescedUnion]]).
    */
  def violationsFromCore(spark: SparkSession, docs: DataFrame,
                         schema: SchemaDef, core: DataFrame,
                         checks: Seq[ConstraintCheck] = Checks.all): DataFrame = {
    val ctx0 = CheckContext(spark, docs, schema, None)
    // the composed corpus checks get the SAME shared single-scan
    // treatment as violations() (one wide cached scan instead of one
    // corpus scan per vocabulary/referential subplan). No __viols column —
    // the core is given.
    val ctx = ctx0.copy(sharedOpt = Some(ctx0.buildSharedScan(Nil)))
    val (rowLocal, others) = checks.partition(_.isInstanceOf[RowLocalCheck])
    val extraFrames = rowLocal.flatMap(c =>
      c.asInstanceOf[RowLocalCheck].extraFrames(ctx)
        .map(_.withColumn("check", lit(c.id))))
    val otherFrames = others.map(c => c.run(ctx).withColumn("check", lit(c.id)))
    coalescedUnion(spark, core +: (extraFrames ++ otherFrames))
  }

  /** The composed pass's union of violation frames, coalesced to session
    * parallelism. Uncoalesced, its partition count is the SUM over ~20
    * branches (~350 partitions of a small frame): every downstream action
    * — the write (one part file per partition), a cache build, the
    * verdict rollup — pays one task per partition in pure scheduling. A
    * narrow coalesce bounds it; branch work below the exchanges is
    * unaffected.
    */
  private def coalescedUnion(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_ unionByName _).coalesce(spark.sparkContext.defaultParallelism)

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
      .withColumn("bucket", violationBucket(nBuckets))

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
