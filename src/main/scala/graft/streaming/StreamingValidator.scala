package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks._
import graft.model.SchemaDef

/** Structured-Streaming validation path. The reference is batch-only
  * (dvt:106-203); this is an engine-native extension: the same check
  * definitions run over a stream of documents.
  *
  * What streams and what can't:
  *  - subject-local checks (datatype, domain, cardinality, some/only) are
  *    stateless projections — they stream as-is, exactly-once under any
  *    output mode;
  *  - the referential check joins the stream against a STATIC doc_id
  *    universe (stream-static join — supported, no state explosion); a
  *    fully-streaming universe would need symmetric state and is out of
  *    scope by design;
  *  - vocabulary checks (defined kinds/classes) are global distincts —
  *    re-expressed as per-batch novelty against the broadcast schema
  *    (stateless: every undefined kind occurrence streams through;
  *    downstream dedup is the consumer's windowing choice).
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
        "(use danglingRefStream for the referential check; vocabulary checks need batch distincts)")
    CheckContext(spark, docs, schema).rowLocalCore(checks)
  }

  /** Streaming referential check: dangling media_refs relative to a static
    * universe (e.g. the current snapshot of the corpus). Stream-static
    * left-anti joins aren't supported, so this is a left join + null filter
    * (same semantics, streaming-legal).
    */
  def danglingRefStream(spark: SparkSession, docs: DataFrame,
                        universe: DataFrame): DataFrame = {
    val refs = docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.media_ref").as("media_ref"))
      .filter(col("media_ref").isNotNull &&
        !col("kind").isin(SchemaDef.UriExistenceExcludedKinds: _*))
    val uni = universe.select(col("doc_id").as("media_ref"), lit(true).as("__exists"))
    refs.join(uni, Seq("media_ref"), "left")
      .filter(col("__exists").isNull)
      .select(lit("URI-EXISTENCE-100").as("checkId"), lit("error").as("severity"),
        col("doc_id").as("docId"), col("kind"), col("media_ref").as("value"),
        lit("referenced URI exists").as("expected"))
  }

  /** Streaming benchmark decontamination (the ingestion twin of
    * [[graft.ops.Decontamination.contaminated]]): contaminated-gram EVENTS
    * `(id, g)` — one row per distinct word n-gram an arriving document
    * shares with the static benchmark set. The benchmark side broadcasts
    * and the join is stream-static inner, so the stream stays STATELESS and
    * append-mode-legal at any scale (no watermark, no state store). The
    * per-doc `n_shared` rollup is a `groupBy(id).count()` away — left to
    * the consumer because a streaming aggregation forces an output-mode /
    * watermark choice that belongs to them; batch parity of exactly that
    * rollup is asserted in StreamingValidatorSpec.
    */
  def contaminationEventStream(docs: DataFrame, benchmark: DataFrame,
                               n: Int = 13, id: String = "doc_id",
                               text: String = "text"): DataFrame =
    graft.ops.Decontamination.sharedGramEvents(docs, benchmark, n, id, text)

  /** Windowed violation counts with a watermark — the streaming verdict
    * analogue: (window, checkId) → count, tolerating `lateness` of event
    *-time disorder.
    */
  def windowedViolationCounts(violations: DataFrame, eventTime: String,
                              window: String = "1 minute",
                              lateness: String = "2 minutes"): DataFrame =
    violations
      .withWatermark(eventTime, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(eventTime), window),
        col("checkId"))
      .agg(count(lit(1)).as("nViolations"))

  /** Streaming gap-based sessionization: `session_window` merges events of
    * one key whose gaps stay under `gap`; the watermark bounds session
    * state (a session closes — and emits — once the watermark passes its
    * end + gap). The streaming twin of [[graft.ops.Sessions.sessionize]];
    * run both over the same events to reconcile a live sessionizer against
    * the batch backfill.
    */
  def sessionStream(events: DataFrame, key: String = "user_id",
                    eventTime: String = "ts", gap: String = "30 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(eventTime, lateness)
      .groupBy(session_window(col(eventTime), gap), col(key))
      .agg(count(lit(1)).as("n_events"))
      .select(col(key), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming exact-dedup for ingestion pipelines: keep the FIRST arrival
    * of each content digest; duplicates within the watermark horizon are
    * dropped with BOUNDED state (`dropDuplicatesWithinWatermark` evicts
    * digests older than the event-time watermark — an unbounded-state
    * dropDuplicates would OOM a long-running 100 TB ingest).
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
                  eventTime: String = "ts",
                  delay: String = "10 minutes"): DataFrame =
    dedupStreamBy(docs, md5(col(textCol)), eventTime, delay)

  /** [[dedupStream]] with a caller-chosen digest column — the seam the
    * canonical-fingerprint twin plugs into.
    */
  def dedupStreamBy(docs: DataFrame, digest: Column,
                    eventTime: String = "ts",
                    delay: String = "10 minutes"): DataFrame =
    docs.withColumn("__digest", digest)
      .withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Streaming twin of the batch canonical-fingerprint dedup
    * ([[graft.ops.TextAnalysis.fingerprint]]: lowercase, whitespace
    * collapsed, trimmed, then md5 — the SAME column definition, so the two
    * sides can never drift): an ingestion pipeline dedupes documents on
    * arrival, keeping the first arrival per canonical form with
    * watermark-bounded state. On a fixture whose arrival order is id
    * order, the kept row set is exactly the batch
    * [[graft.ops.Dedup.exactDedup]]-shaped winner set (parity asserted in
    * StreamingValidatorSpec).
    */
  def fingerprintDedupStream(docs: DataFrame, textCol: String = "text",
                             eventTime: String = "ts",
                             delay: String = "10 minutes"): DataFrame =
    dedupStreamBy(docs, graft.ops.TextAnalysis.fingerprint(col(textCol)),
      eventTime, delay)

  /** Streaming INCREMENTAL dedup against a PERSISTED signature directory
    * — the ingest face of [[graft.ops.Dedup.fingerprintDedupDelta]]: a
    * daily-crawl stream keeps only docs whose canonical fingerprint is
    * neither in the prior snapshot's stored directory (stream-static
    * LEFT-ANTI join, append-legal; the static side is the directory
    * parquet, never re-signed from raw docs) nor already seen within the
    * stream (watermark-bounded first-arrival state, which holds only
    * genuinely-NEW fingerprints because the directory filter runs
    * first). Same fingerprint column as the batch side, so the planes
    * cannot fork. Batch≡stream kept-set parity asserted in
    * StreamingValidatorSpec.
    */
  def fingerprintDedupDeltaStream(docs: DataFrame, directory: DataFrame,
                                  textCol: String = "text",
                                  eventTime: String = "ts",
                                  delay: String = "10 minutes"): DataFrame = {
    val withFp = docs.withColumn("__fp",
      graft.ops.TextAnalysis.fingerprint(col(textCol)))
    val fresh = withFp.join(directory.select(col("fp").as("__fp")),
      Seq("__fp"), "left_anti")
    // dedup on the ALREADY-COMPUTED fingerprint column (one md5 per row,
    // not one per stage)
    dedupStreamBy(fresh, col("__fp"), eventTime, delay).drop("__fp")
  }

  /** Streaming twin of the composed curation front door
    * ([[graft.ops.Curation.curate]]), built from the SAME stage columns so
    * the two sides cannot drift: NFC → markup strip → control-char scrub
    * (row-local), the token-count + lexical-diversity quality filter
    * (row-local), then [[fingerprintDedupStream]] — first arrival per
    * canonical fingerprint kept with watermark-bounded state. Output is
    * (id, eventTime, clean). On a fixture whose arrival order is id order
    * the kept (id, clean) set equals the batch `curate` result exactly
    * (parity asserted in StreamingValidatorSpec); under out-of-order
    * arrival the KEPT REPRESENTATIVE of a duplicate group may differ
    * (first-arrival vs min-id) — the surviving content set is identical.
    */
  def curateStream(docs: DataFrame, minTokens: Int = 5,
                   id: String = "doc_id", text: String = "text",
                   eventTime: String = "ts",
                   delay: String = "10 minutes"): DataFrame = {
    import graft.ops.{QualityClassifier, TextAnalysis}
    val clean = TextAnalysis.stripControlChars(
      TextAnalysis.stripMarkup(TextAnalysis.nfc(col(text))))
    // the event-time column passes through UNALIASED (see
    // minhashPairEventsStream: a cast/alias detaches the watermark tag)
    val filtered = docs.select(col(id), col(eventTime), clean.as("clean"))
      .filter(TextAnalysis.tokenCount(col("clean")) >= minTokens &&
        QualityClassifier.diversityLabel(col("clean")))
    fingerprintDedupStream(filtered, "clean", eventTime, delay)
  }

  /** Streaming twin of [[graft.ops.Sampling.leakSafeSplit]]: label each
    * ingested doc train/heldout by its LEAKAGE-UNIT group (domain, canonical
    * URL, dup-cluster id) through the shared md5-bucket contract — the
    * whole group lands on one side, and because the label is a pure
    * row-local function of the group key it is stateless, append-legal,
    * and IDENTICAL to the batch split on the same rows: a doc routed at
    * ingestion lands exactly where a later batch backfill would put it,
    * so the heldout set never leaks through the batch/stream seam.
    * NULL group keys route to "train" (unknown leakage unit must never
    * contaminate heldout). Batch≡stream parity asserted in
    * StreamingValidatorSpec.
    */
  def leakSafeSplitStream(docs: DataFrame, group: String, heldout256: Int,
                          splitCol: String = "split"): DataFrame =
    graft.ops.Sampling.leakSafeSplit(docs, group, heldout256, splitCol)

  /** Streaming twin of [[graft.ops.Sampling.mixtureSample]]: apply a
    * mixture plan's per-source keep rates to an ingestion stream through
    * the shared md5-bucket contract ([[graft.ops.Sampling.md5SampleStratified]]).
    * The PLAN is an input, not computed here — the totals aggregate that
    * derives it is an all-time corpus statistic (not append-legal), so the
    * batch side plans over history ([[graft.ops.Sampling.mixturePlan]],
    * optionally through [[graft.ops.Sampling.temperatureParts]]) and the
    * stream enforces it row-locally: stateless, deterministic, and a doc
    * admitted at ingestion is exactly the doc a batch re-run of the same
    * plan would keep. Sources absent from the plan drop (rate 0).
    * Batch≡stream kept-set parity asserted in StreamingValidatorSpec.
    */
  def mixtureSampleStream(docs: DataFrame, plan: Map[String, Int],
                          key: String = "doc_id",
                          source: String = "source"): DataFrame =
    graft.ops.Sampling.md5SampleStratified(docs, key, source, plan,
      defaultBuckets256 = 0)

  /** Streaming twin of the batch quality-classifier scorer
    * ([[graft.ops.QualityClassifier]]): score documents on ingestion with
    * a model trained offline on the batch side. The D-bucket model rides
    * along as a literal map inside a row-local fold — stateless and
    * append-legal (no streaming aggregation, no watermark demanded of the
    * consumer), the streaming analogue of the batch broadcast join.
    * Batch≡stream parity asserted in StreamingValidatorSpec.
    *
    * Parity caveat: the batch scorer emits NO row for zero-token or
    * null-text docs (nothing survives its explode); this row-local twin
    * emits (id, 0, false) / (id, null, null) for them — filter upstream
    * if exact row-set parity with a batch re-score matters.
    *
    * `pred` derives from the PROJECTED score column in a second select —
    * inlining `score > 0` beside `score` would instantiate the
    * interpreted scoreLocal fold twice per row (CollapseProject keeps
    * the two projections apart only because the fold is non-cheap; the
    * explicit split makes that independence structural).
    */
  def qualityScoreStream(docs: DataFrame, model: Map[Long, Long],
                         d: Int = 64, id: String = "doc_id",
                         text: String = "text"): DataFrame =
    docs.select(col(id),
        graft.ops.QualityClassifier.scoreLocal(col(text), model, d).as("score"))
      .select(col(id), col("score"), (col("score") > 0).as("pred"))

  /** Streaming MinHash near-dup twin — the batch
    * [[graft.ops.Dedup.minhashCandidates]] + signature-agreement prefilter
    * re-expressed for ingestion: each arriving doc's native MinHash
    * signature ([[graft.functions.MinHashSig]]) explodes to its LSH band
    * buckets; per bucket, `flatMapGroupsWithState` holds the (id,
    * signature) entries seen within the watermark (capped at
    * `maxBucketState`, the same cap discipline as the batch bucket-pair
    * miner) and emits an `(id_a, id_b, sig_agreement)` event whenever a
    * new arrival agrees with a stored signature at ≥ `minAgreement` —
    * i.e. near-dup PAIRS ON ARRIVAL. Events are per colliding band;
    * consumers dedup pairs (exactly as the batch candidate stage
    * `distinct`s across bands). A re-delivered doc_id (at-least-once
    * source) is recognized and ignored for every STORED id and within a
    * micro-batch; once a bucket is at `maxBucketState`, new ids match but
    * are not stored, so a re-delivery of an over-cap id in a LATER batch
    * re-emits its pair events — harmless precisely because consumers
    * already dedup pairs (tracking over-cap ids would grow state past the
    * cap, defeating it). Membership is checked against a per-invocation
    * hash set (built once per group, O(state)), so raising
    * `maxBucketState` costs O(arrivals · state) for the pair mining
    * itself — inherent to emitting pairs — not an extra quadratic
    * membership scan. Event-time timeout
    * drops a bucket's state once the watermark passes its latest-ever
    * arrival + `delay` (monotone — a late in-watermark arrival cannot
    * LOWER a previously set timeout), so state is bounded by hot-window
    * volume, not corpus size. Requires a long `doc_id` and an event-time
    * column. Batch≡stream pair-set parity asserted in
    * StreamingValidatorSpec — BELOW the cap: past `maxBucketState` the
    * stream keeps matching arrivals against the first N stored entries
    * (graceful degradation), whereas the batch miner drops over-cap
    * buckets entirely and logs them to the audit frame; a hot-bucket
    * window therefore yields a SUPERSET of the batch pairs.
    */
  def minhashPairEventsStream(docs: DataFrame, textCol: String = "text",
                              eventTime: String = "ts",
                              delay: String = "10 minutes",
                              k: Int = 5, numHashes: Int = 32, bands: Int = 8,
                              minAgreement: Double = 0.8,
                              maxBucketState: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sig = graft.functions.MinHashSig.minhashSig(col(textCol), k, numHashes)
    val banded = docs
      .withWatermark(eventTime, delay)
      .filter(length(col(textCol)) >= k)
      // the event-time column must pass through UNTOUCHED (a cast/alias
      // detaches the watermark tag and EventTimeTimeout then refuses)
      .select(col("doc_id").cast("long").as("docId"),
        col(eventTime), sig.as("sig"),
        explode(graft.ops.Dedup.bandKeys(sig, numHashes, bands)).as("bucket"))
      .as[(Long, java.sql.Timestamp, Seq[Long], Long)]
    banded.groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (_: Long, rows: Iterator[(Long, java.sql.Timestamp, Seq[Long], Long)],
         state: GroupState[(Seq[(Long, Seq[Long])], Long)]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (seen, maxTs) = state.getOption.getOrElse((Seq.empty[(Long, Seq[Long])], 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            // O(1) membership beside the ordered Seq: built once per group
            // invocation, and it also absorbs ids processed THIS batch that
            // the cap keeps out of stored state (in-batch re-delivery guard)
            val seenIds = scala.collection.mutable.HashSet.empty[Long]
            seen.foreach(s => seenIds += s._1)
            // in-batch arrivals process in id order so same-batch pairs
            // are deterministic regardless of partition interleaving
            rows.toSeq.sortBy(_._1).foreach { case (id, ts, sg, _) =>
              // maxTs is the latest event time EVER seen (kept in state):
              // a late in-watermark batch must not lower the timeout
              maxTs = math.max(maxTs, ts.getTime)
              if (!seenIds.contains(id)) { // at-least-once re-delivery
                seenIds += id
                seen.foreach { case (sid, ssig) =>
                  val agg = sg.iterator.zip(ssig.iterator)
                    .count { case (a, b) => a == b }.toDouble / numHashes
                  if (agg >= minAgreement)
                    out += ((math.min(sid, id), math.max(sid, id), agg))
                }
                if (seen.size < maxBucketState) seen = seen :+ ((id, sg))
              }
            }
            state.update((seen, maxTs))
            if (maxTs > 0) state.setTimeoutTimestamp(maxTs, delay)
            out.iterator
          }
        }).toDF("id_a", "id_b", "sig_agreement")
  }

  /** Streaming distribution-drift monitor — the streaming face of the
    * batch KS/PSI checks ([[graft.stats.ColumnStats.psiExact]]): per
    * event-time window, bin the streamed metric against FIXED reference
    * bin edges (lo/width/buckets taken from the OFFLINE reference
    * profile — fixed edges are what make this append-legal; deriving
    * edges from the stream would need an all-time aggregation) and emit
    * exact integer (window, bin, n) counts after the watermark closes.
    * The consumer folds PSI terms from these counts against the
    * reference histogram — integers stream, FP stays at the edge.
    * Batch≡stream count parity asserted in StreamingValidatorSpec.
    */
  def driftBinCounts(events: DataFrame, valueCol: String,
                     lo: Double, width: Double, buckets: Int,
                     eventTime: String = "ts", window: String = "1 minute",
                     lateness: String = "2 minutes"): DataFrame = {
    require(width > 0 && buckets > 0)
    events
      .withWatermark(eventTime, lateness)
      .groupBy(
        org.apache.spark.sql.functions.window(col(eventTime), window),
        driftBin(col(valueCol), lo, width, buckets).as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** The shared binning expression (stream + batch twin): clamp to
    * [0, buckets) so out-of-reference-range values land in the edge bins
    * instead of vanishing (a drift monitor must SEE the outliers). NULL
    * metric values route to the dedicated sentinel bin −2 — floor(NULL)
    * would otherwise propagate a NULL bin that PSI consumers folding
    * (bin, n) counts silently skip, hiding a null-flood regression.
    */
  def driftBin(v: Column, lo: Double, width: Double, buckets: Int): Column =
    when(v.isNull, lit(-2L))
      .otherwise(least(greatest(floor((v.cast("double") - lo) / width), lit(0L)),
        lit(buckets - 1L)))
      .cast("bigint")

  /** PER-SOURCE streaming drift monitor — the streaming face of
    * [[graft.stats.DriftStats.psiExactByGroup]] and the grouped twin of
    * [[driftBinCounts]]: a 10^12-doc corpus never drifts uniformly, it
    * drifts one crawl/source at a time, and a poisoned source hides
    * inside the global histogram. Bins each source's metric against that
    * source's OWN offline reference edges (`refEdges`: a static
    * `(source, lo, width)` frame from the reference profile — the
    * stream-static join is append-legal and broadcasts the tiny edge
    * table) and emits exact integer (window, source, bin, n) counts when
    * the watermark closes. Sources WITHOUT reference edges surface as
    * `bin = -1` rather than vanishing — a brand-new source is itself the
    * alarm condition. The consumer folds per-source PSI terms from these
    * counts; integers stream, FP stays at the edge.
    * Batch≡stream count parity asserted in StreamingValidatorSpec.
    */
  def driftBinCountsBySource(events: DataFrame, refEdges: DataFrame,
                             valueCol: String, buckets: Int,
                             eventTime: String = "ts",
                             window: String = "1 minute",
                             lateness: String = "2 minutes",
                             source: String = "source"): DataFrame = {
    require(buckets > 0)
    events
      .withWatermark(eventTime, lateness)
      .join(broadcast(refEdges.select(col(source), col("lo"), col("width"))),
        Seq(source), "left")
      .groupBy(
        org.apache.spark.sql.functions.window(col(eventTime), window),
        col(source),
        sourceDriftBin(col(valueCol), col("lo"), col("width"), buckets).as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-source binning against joined edge columns; NULL metric values
    * land in the sentinel bin −2 (checked FIRST — a null is un-binnable
    * even when edges exist, and floor(NULL) would otherwise yield a NULL
    * bin group that PSI consumers silently skip), then no-reference
    * sources (null lo/width) land in the sentinel bin −1. Shared by the
    * batch twin so the two sides cannot fork.
    */
  def sourceDriftBin(v: Column, lo: Column, width: Column, buckets: Int): Column =
    when(v.isNull, lit(-2L))
      .when(lo.isNull || width.isNull, lit(-1L))
      .otherwise(least(greatest(floor((v.cast("double") - lo) / width), lit(0L)),
        lit(buckets - 1L)))
      .cast("bigint")

  /** Streaming per-source corpus accounting — the windowed twin of
    * [[graft.ops.CorpusReport.bySource]]'s VOLUME counters: per event-time
    * window and source, exact doc / token / char counts, emitted once the
    * watermark closes the window. The batch report's distinct aggregates
    * (n_langs, duplicate fingerprints) intentionally stay batch-side:
    * streaming them append-legally needs per-key distinct state, and the
    * ingest monitor this feeds only needs the volume counters live.
    * Batch≡stream count parity asserted in StreamingValidatorSpec.
    */
  def sourceReportStream(docs: DataFrame, eventTime: String = "ts",
                         window: String = "1 minute",
                         lateness: String = "2 minutes",
                         source: String = "source",
                         text: String = "text"): DataFrame =
    docs
      .withWatermark(eventTime, lateness)
      .groupBy(
        org.apache.spark.sql.functions.window(col(eventTime), window),
        col(source))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.ops.TextAnalysis.tokenCount(col(text)).cast("long")).as("n_tokens"),
        sum(length(col(text)).cast("long")).as("n_chars"))

  /** Streaming MERGEABLE-PROFILE twin
    * ([[graft.stats.ColumnStats.mergeableProfile]]): per event-time
    * window, ONE wide row carrying every profile channel — exact counts /
    * nulls / typed min / max / integral sums plus an HLL sketch blob per
    * column — emitted when the watermark closes the window. The channel
    * list is literally [[graft.stats.ColumnStats.profileChannels]], so
    * the stream and batch planes cannot fork; every channel is a
    * streaming-legal aggregate, and window state is one fixed-width row
    * per open window.
    *
    * The sink stores the wide rows as the profile directory's streaming
    * increments; at read time
    * `ColumnStats.meltProfile(windowStart-as-part)` then
    * `ColumnStats.mergeProfiles` folds any set of stored windows — plus
    * prior batch snapshots' rows — into the corpus profile WITHOUT
    * rescanning either plane's raw data. Batch≡stream parity (melted,
    * merged, exact channels equal; HLL estimate within error) asserted in
    * StreamingValidatorSpec.
    */
  def mergeableProfileStream(docs: DataFrame, statCols: Seq[String],
                             eventTime: String = "ts",
                             window: String = "1 minute",
                             lateness: String = "2 minutes",
                             lgK: Int = 12): DataFrame = {
    val aggs = graft.stats.ColumnStats.profileChannels(docs, statCols, lgK)
    docs
      .withWatermark(eventTime, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(eventTime), window))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming FREQUENT-ITEMS twin ([[graft.stats.FreqSketchAgg]]): per
    * event-time window, ONE bounded-state heavy-hitter sketch blob of the
    * item column, emitted on watermark close. Unlike
    * [[trendingTermsStream]] (exact per-window counts, state proportional
    * to the window's distinct items), the sketch holds at most
    * `maxMapSize` counters per window no matter the item cardinality —
    * the ingest-side face of the stored heavy-hitter directory: sink the
    * blobs, then `FreqMergeAgg.freq_merge` folds any window range — plus
    * batch snapshots' blobs — into corpus heavy hitters without
    * re-reading events. Batch≡stream parity (merged blobs vs one batch
    * sketch, exact regime) asserted in StreamingValidatorSpec. The same
    * shape works verbatim for [[graft.stats.ThetaSketchAgg.theta_sketch]]
    * value-set blobs.
    */
  def freqSketchStream(docs: DataFrame, itemCol: String,
                       maxMapSize: Int = 1024,
                       eventTime: String = "ts",
                       window: String = "1 minute",
                       lateness: String = "2 minutes"): DataFrame =
    docs
      .withWatermark(eventTime, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(eventTime), window))
      .agg(graft.stats.FreqSketchAgg.freq_sketch(col(itemCol), maxMapSize)
        .as("freq"))

  /** Streaming THETA value-set twin ([[graft.stats.ThetaSketchAgg.theta_sketch]]):
    * one set sketch blob of the column's distinct values per event-time
    * window, emitted on watermark close — the ingest face of the
    * vocabulary directory. Stored window blobs union via
    * `ThetaMergeAgg.theta_merge` into any range's value-set sketch, and
    * two ranges' merged blobs answer appeared/disappeared/common
    * ([[graft.stats.ThetaStats.setChurn]]) without re-reading events.
    * Batch≡stream parity asserted in StreamingValidatorSpec.
    */
  def thetaSketchStream(docs: DataFrame, valueCol: String,
                        nominalEntries: Int = 4096,
                        eventTime: String = "ts",
                        window: String = "1 minute",
                        lateness: String = "2 minutes"): DataFrame =
    docs
      .withWatermark(eventTime, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(eventTime), window))
      .agg(graft.stats.ThetaSketchAgg.theta_sketch(col(valueCol), nominalEntries)
        .as("theta"))

  /** Windowed trending-terms monitor: per event-time window, canonical
    * term counts at or above `minCount` — the live "what vocabulary is
    * flooding in" feed (a burst of one template's tokens is the earliest
    * symptom of a boilerplate/spam ingestion leak). Same canonical token
    * stream as [[graft.ops.Ranking.termCounts]] so the live view and the
    * batch term tables can never disagree on tokenization; emission on
    * watermark close keeps it append-legal. The threshold bounds the sink,
    * not the state (state is the windowed aggregation); for corpus-scale
    * streams pick windows short enough that a window's distinct-term set
    * fits the store, exactly as the batch side shards its posting lists.
    * Batch≡stream count parity asserted in StreamingValidatorSpec.
    */
  def trendingTermsStream(docs: DataFrame, minCount: Long = 2L,
                          eventTime: String = "ts",
                          window: String = "1 minute",
                          lateness: String = "2 minutes",
                          text: String = "text"): DataFrame =
    docs
      .withWatermark(eventTime, lateness)
      .select(col(eventTime),
        explode(split(graft.ops.TextAnalysis.canonicalText(col(text)), " "))
          .as("term"))
      .filter(col("term") =!= "")
      .groupBy(
        org.apache.spark.sql.functions.window(col(eventTime), window),
        col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Windowed domain-mention monitor — the streaming face of
    * [[graft.ops.UrlOps.domainProfile]] for ingestion: per event-time
    * window and registrable domain (the SAME PSL-backed
    * [[graft.ops.UrlOps.registrableDomain]] rule as every batch consumer),
    * exact mention counts, emitted when the watermark closes the window —
    * the live feed a crawl-frontier throttle or domain-flood alarm reads.
    * The batch profile's distinct-doc count stays batch-side (streaming
    * COUNT DISTINCT needs per-key state); mention extraction is row-local,
    * so the only state is the windowed aggregation itself. Batch≡stream
    * count parity asserted in StreamingValidatorSpec.
    */
  def domainMentionsStream(docs: DataFrame, eventTime: String = "ts",
                           window: String = "1 minute",
                           lateness: String = "2 minutes",
                           text: String = "text"): DataFrame = {
    import graft.ops.UrlOps
    docs
      .withWatermark(eventTime, lateness)
      .select(col(eventTime), explode(UrlOps.extractUrls(col(text))).as("url"))
      .withColumn("domain", UrlOps.registrableDomain(UrlOps.hostOf(col("url"))))
      .groupBy(
        org.apache.spark.sql.functions.window(col(eventTime), window),
        col("domain"))
      .agg(count(lit(1)).as("n_mentions"))
  }

  /** Stateful per-kind violation monitor: running violation totals per
    * check kind across micro-batches via flatMapGroupsWithState — emits a
    * row whenever a kind's cumulative count changes (the streaming
    * analogue of the per-partition verdict rollup, with explicit state).
    */
  def runningViolationTotals(spark: SparkSession, violations: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    violations.select(col("checkId").as[String], lit(1L).as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) => {
          val add = rows.map(_._2).sum
          if (add == 0) Iterator.empty
          else {
            val total = state.getOption.getOrElse(0L) + add
            state.update(total)
            Iterator((key, total))
          }
        }).toDF("checkId", "totalViolations")
  }
}
