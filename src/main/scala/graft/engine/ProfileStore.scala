package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.stats.{ColumnStats, DriftStats}

/** Per-run PROFILE artifact alongside the validation results (north rule:
  * per-partition metrics rows persisted alongside results) — the
  * operational composition of the mergeable-profile operators:
  *
  *  - every enabled run writes `outDir/profile/run=N`: one
  *    [[ColumnStats.mergeableProfile]] row per (bucket, metric column)
  *    over the SPAN METRICS of the snapshot — doc_id plus derived
  *    `n_spans` / `n_chars` / `n_media` — partitioned by the SAME
  *    xxhash64 doc_id bucket as the verdicts table, so profile rows,
  *    verdict rows and violation rows all speak the same partition key;
  *  - every channel merges (counts/min/max/sums exactly; HLL + KLL +
  *    theta by sketch union), so ANY slice of stored rows — one bucket,
  *    one run, or a year of snapshots — folds into a corpus profile
  *    WITHOUT rescanning data ([[corpusProfile]]);
  *  - snapshot-over-snapshot DRIFT ([[driftReport]]) is computed purely
  *    from two stored profiles: exact count/null/range shifts from the
  *    exact channels, KS + PSI on the merged KLL blobs — the check the
  *    north star runs between snapshots, at metadata cost.
  *
  * Scale shape: the write is ONE extra single-pass groupBy(bucket) scan
  * of the snapshot (the north star's "single-pass per-column stats
  * stage"); reads and drift never touch raw data again.
  */
object ProfileStore {

  /** The profiled columns: doc_id plus the derived span metrics. */
  val MetricCols: Seq[String] = Seq("doc_id", "n_spans", "n_chars", "n_media")

  /** Doc-level span metrics + the shared verdict bucket. NULL spans yield
    * NULL metrics (they are the NullSpans check's business; a profile
    * that coerced them to 0 would hide the null-flood in the mean).
    *
    * If `docs` already carries a `bucket` column — the
    * [[writeBucketPartitioned]] layout — it is TRUSTED rather than
    * recomputed, so a filter on it reaches the scan as partition pruning
    * instead of a post-scan predicate on a derived expression. The trust
    * is VALIDATED by the writers ([[validateTrustedBucket]]): a corpus
    * carrying an unrelated `bucket` column, or one built with a different
    * bucket count, would otherwise silently split fresh-vs-carried rows
    * along the wrong partitioning (round-8 advice, medium).
    */
  def spanMetrics(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("spans").isNull, lit(null).cast("int"))
        .otherwise(size(col("spans"))).as("n_spans"),
      when(col("spans").isNull, lit(null).cast("long"))
        .otherwise(aggregate(col("spans"), lit(0L),
          (acc, s) => acc + coalesce(length(s.getField("text")).cast("long"), lit(0L))))
        .as("n_chars"),
      when(col("spans").isNull, lit(null).cast("long"))
        .otherwise(aggregate(col("spans"), lit(0L),
          (acc, s) => acc + when(s.getField("media_ref").isNotNull, 1L).otherwise(0L)))
        .as("n_media"),
      (if (docs.columns.contains("bucket")) col("bucket").cast("int")
       else Pipeline.bucketOf(col("doc_id"), nBuckets)).as("bucket"))

  /** Rows [[validateTrustedBucket]] compares. */
  private[engine] val TrustedBucketSample = 1000

  /** Fail fast when a TRUSTED `bucket` column is not the
    * [[writeBucketPartitioned]] layout: spot-check a driver-sized sample
    * for equality with `pmod(xxhash64(doc_id), nBuckets)` (which also
    * catches out-of-range values — the pmod image IS [0, nBuckets)). A
    * sample keeps the check at driver cost while catching both failure
    * modes the advice names (wrong bucket count; unrelated column named
    * `bucket`); a full-scan assert would cost what the pruning saves.
    *
    * The sample is bounded BEFORE the comparison: a limit above a
    * mismatch filter stops early only once it has found mismatches, so
    * on a valid column it would read the whole corpus.
    */
  private[engine] def validateTrustedBucket(docs: DataFrame, nBuckets: Int): Unit =
    if (docs.columns.contains("bucket")) {
      val bad = docs.select(col("doc_id"), col("bucket").cast("long").as("b"),
          Pipeline.bucketOf(col("doc_id"), nBuckets).as("want"))
        .limit(TrustedBucketSample).collect()
        .filter(r => r.isNullAt(1) || r.getLong(1) != r.getInt(2))
        .take(3)
      require(bad.isEmpty,
        s"trusted 'bucket' column disagrees with pmod(xxhash64(doc_id), " +
          s"$nBuckets) — wrong bucket count or an unrelated column? " +
          s"first mismatches (doc_id, bucket, expected): ${bad.mkString(", ")}")
    }

  /** Materialize the corpus WITH its verdict bucket as a PARTITION column
    * — the layout that turns [[writeRunDelta]]'s touched-bucket filter
    * into scan-level partition pruning (a derived pmod(xxhash64) bucket
    * can never prune; a physical `bucket=` directory can). One write,
    * every subsequent daily-increment profile reads only the touched
    * directories (ProfileStoreSpec plan-asserts the pruning).
    */
  def writeBucketPartitioned(docs: DataFrame, nBuckets: Int, path: String): Unit =
    Pipeline.withBucket(docs, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Write this run's profile rows (with snapshot lineage) under
    * `outDir/profile/run=<runNum>`.
    */
  def writeRun(spark: SparkSession, docs: DataFrame, nBuckets: Int,
               outDir: String, runNum: Long, snapshotId: String): Unit = {
    validateTrustedBucket(docs, nBuckets)
    ColumnStats.mergeableProfile(spanMetrics(docs, nBuckets), "bucket", MetricCols)
      .withColumn("snapshotId", lit(snapshotId))
      .write.mode("overwrite").parquet(s"$outDir/profile/run=$runNum")
  }

  /** INCREMENTAL profile between snapshots (the profile analogue of
    * [[Pipeline.violationsDelta]] and the dedup delta): profile channels
    * are NOT subtractable — min/max/HLL/KLL cannot un-see a removed doc —
    * so the finest sound carry unit is the BUCKET. Buckets touched by any
    * added/changed/removed doc ([[Pipeline.snapshotDiff]]) are recomputed
    * from the current snapshot; every untouched bucket's stored rows are
    * carried forward BYTE-FOR-BYTE (sketch blobs included) from the prior
    * run's profile. With a daily increment touching a few buckets the
    * profile stage AGGREGATES only those buckets' docs (sketch state per
    * untouched bucket: none). Whether the SCAN shrinks too depends on the
    * layout: a derived pmod(xxhash64) bucket cannot be pruned (neither
    * Spark's Murmur3 bucketing nor row-group stats know it), but a corpus
    * materialized via [[writeBucketPartitioned]] carries the bucket as a
    * physical partition column, and [[spanMetrics]] trusts it — the
    * touched-bucket filter then reads only the touched `bucket=`
    * directories (plan-asserted in ProfileStoreSpec). The diff join is
    * digest-sized; the touched-bucket set is ≤ nBuckets ints on the
    * driver.
    *
    * When the diff touches EVERY bucket nothing is carried, and the run
    * writes exactly what [[writeRun]] writes, without reading the prior
    * profile. The prior-profile guards (one snapshotId, the expected one)
    * cover CARRIED rows only — a full [[writeRun]] with a drift prior
    * never ran them either — so they run only when some bucket is carried.
    * With 64 buckets any increment of more than a few hundred random docs
    * touches all of them.
    */
  def writeRunDelta(spark: SparkSession, prevDocs: DataFrame,
                    prevOutDir: String, curDocs: DataFrame, nBuckets: Int,
                    outDir: String, runNum: Long, snapshotId: String,
                    precomputedDiff: Option[DataFrame] = None,
                    expectPrevSnapshotId: Option[String] = None): Unit = {
    val touched = precomputedDiff
      .getOrElse(Pipeline.snapshotDiff(prevDocs, curDocs))
      .filter(col("status") =!= "unchanged")
      .select(Pipeline.bucketOf(col("doc_id"), nBuckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (touched.size == nBuckets)
      return writeRun(spark, curDocs, nBuckets, outDir, runNum, snapshotId)
    validateTrustedBucket(curDocs, nBuckets)
    val fresh = if (touched.isEmpty) {
      // nothing changed: carry everything (an empty-frame mergeableProfile
      // would still demand a groupBy over zero rows)
      None
    } else Some(ColumnStats.mergeableProfile(
      spanMetrics(curDocs, nBuckets).filter(col("bucket").isin(touched: _*)),
      "bucket", MetricCols))
    // carried rows must describe at most ONE snapshot — and, when the
    // caller can name it, THE expected prior snapshot: a mispointed
    // drift.prevProfile otherwise produced a committed profile silently
    // mixing two corpora (round-8 advice, medium; the delta path's
    // prevCore lineage gate is the model). An EMPTY prior profile (an
    // empty prior corpus) is legal: it carries nothing, and every doc of
    // the current snapshot is added, so every non-empty bucket is touched.
    val prevRows = read(spark, prevOutDir)
    val prevIds = prevRows.select("snapshotId").distinct()
      .limit(3).collect().map(_.getString(0)).toSeq
    require(prevIds.size <= 1,
      s"prior profile at $prevOutDir carries ${prevIds.size} distinct " +
        s"snapshotIds (${prevIds.mkString(", ")}) — torn or mixed directory")
    expectPrevSnapshotId.foreach(want => prevIds.foreach(got => require(got == want,
      s"prior profile at $prevOutDir describes snapshot '$got', " +
        s"expected '$want' — mispointed drift.prevProfile")))
    val carried = prevRows.drop("snapshotId")
      .filter(!col("part").isin(touched: _*))
    fresh.map(_.unionByName(carried)).getOrElse(carried)
      .withColumn("snapshotId", lit(snapshotId))
      .write.mode("overwrite").parquet(s"$outDir/profile/run=$runNum")
  }

  /** MANIFEST-COMMITTED profile read (the isolation [[read]]'s
    * directory-listing fallback cannot give): resolve the latest
    * committed "profile" artifact's exact file set — a torn or
    * still-writing profile run without its [[Manifest.recordArtifact]]
    * record is invisible, and `asOfRun` travels like the violations
    * reader. Returns None when nothing is committed.
    */
  def readCommitted(spark: SparkSession, m: Manifest, snapshotId: String,
                    constraintHash: String, checksHash: String = "",
                    asOfRun: Long = Long.MaxValue): Option[DataFrame] = {
    val runs = m.committedArtifacts("profile", snapshotId, constraintHash,
      checksHash, asOfRun)
    if (runs.isEmpty) None
    else {
      val files = runs(runs.keys.max)
      if (files.isEmpty) None
      else Some(spark.read.parquet(files: _*))
    }
  }

  /** EXPIRE old committed profile runs (the expire-snapshots analogue for
    * the artifact plane): keep the newest `keep` committed runs, retire
    * the rest's manifest records ([[Manifest.retireArtifacts]] — records
    * first, so a crash orphans invisible files rather than committing
    * dangling ones), then delete their `run=` directories. Time travel to
    * an expired run returns None afterwards — the documented Iceberg
    * contract. Returns the expired run ids.
    */
  def expireRuns(spark: SparkSession, outDir: String, m: Manifest,
                 snapshotId: String, constraintHash: String,
                 checksHash: String = "", keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "keep at least the latest run")
    val runs = m.committedArtifacts("profile", snapshotId, constraintHash,
      checksHash).keys.toSeq.sorted
    val drop = runs.dropRight(keep)
    if (drop.nonEmpty) {
      m.retireArtifacts("profile", snapshotId, constraintHash, drop.toSet,
        checksHash)
      drop.foreach { r =>
        val dir = java.nio.file.Paths.get(s"$outDir/profile/run=$r")
        if (java.nio.file.Files.exists(dir))
          scala.util.Using.resource(java.nio.file.Files.walk(dir))(
            _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => java.nio.file.Files.deleteIfExists(p)))
      }
    }
    drop
  }

  /** The LATEST run's profile rows (each enabled run profiles the full
    * snapshot, so the newest run alone is the current profile).
    */
  def read(spark: SparkSession, outDir: String): DataFrame = {
    val all = spark.read.parquet(s"$outDir/profile")
    // `run` is partition-discovered — its physical type is whatever the
    // directory values fit (int for small ids, long for timestamps); an
    // empty corpus's profile has no rows, hence no max
    val latest = all.agg(max(col("run")).cast("long")).collect()(0)
    (if (latest.isNullAt(0)) all else all.filter(col("run") === latest.getLong(0)))
      .drop("run")
  }

  /** The corpus profile folded from the stored per-bucket rows — never
    * rescans the snapshot.
    */
  def corpusProfile(spark: SparkSession, outDir: String): DataFrame =
    ColumnStats.mergeProfiles(read(spark, outDir).drop("snapshotId"))

  /** Snapshot-over-snapshot drift from two STORED profiles (no corpus
    * access): per metric column — exact row/null counts both sides, exact
    * null-rate shift (quantized at 1e6, [[ColumnStats.profileDiff]]'s
    * convention), HLL distinct estimates, and for numeric metrics KS +
    * PSI between the merged KLL blobs (quantized at 1e6). A D-row driver
    * frame.
    */
  def driftReport(spark: SparkSession, prevOutDir: String,
                  curOutDir: String): DataFrame = {
    def side(outDir: String): Map[String, (Long, Long, Long, Array[Byte])] =
      corpusProfile(spark, outDir)
        .select("column", "n", "nulls", "distinct_est", "kll").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getAs[Array[Byte]](4))))
        .toMap
    val (a, b) = (side(prevOutDir), side(curOutDir))
    def nullRate(n: Long, nulls: Long): Double =
      if (n + nulls > 0) nulls.toDouble / (n + nulls) else 0.0
    val out = MetricCols.flatMap { c =>
      for (pa <- a.get(c); pb <- b.get(c)) yield {
        // KS/PSI need a distribution on BOTH sides (empty blob = string
        // column, or an all-null metric — either way no quantiles exist)
        val numeric = DriftStats.sketchOf(pa._4).getN > 0 &&
          DriftStats.sketchOf(pb._4).getN > 0
        val (ks, psi) =
          if (numeric)
            (DriftStats.ksStatistic(pa._4, pb._4), DriftStats.psi(pa._4, pb._4))
          else (0.0, 0.0)
        (c, pa._1, pb._1, pa._2, pb._2,
          math.round((nullRate(pb._1, pb._2) - nullRate(pa._1, pa._2)) * 1e6),
          pa._3, pb._3,
          math.round(ks * 1e6), math.round(psi * 1e6))
      }
    }
    import spark.implicits._
    out.toDF("column", "n_prev", "n_cur", "nulls_prev", "nulls_cur",
      "null_rate_shift_e6", "distinct_prev", "distinct_cur", "ks_e6", "psi_e6")
  }
}
