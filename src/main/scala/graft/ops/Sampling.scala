package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * Pipelines at 100 TB scale need samples that are (a) reproducible across
  * runs and engines — a seed-free pure function of the row key, so a rerun,
  * a backfill, and an audit query in another engine select the SAME rows —
  * and (b) cheap: a row-local filter with no shuffle, which also pushes
  * into the scan when the key is a partition/bucket column.
  *
  * [[md5Sample]]: bucket = first two hex chars of md5(key) — md5 hex is
  * byte-identical across Spark/DuckDB/Trino/Python, so the sample is
  * cross-engine reproducible (the oracle checks THIS exact operator).
  */
object Sampling {

  /** Keep ≈ `buckets256`/256 of rows, keyed on md5(key): bucket =
    * hex prefix in [00, ff], kept iff < `buckets256`. Deterministic,
    * engine-portable, shuffle-free.
    */
  def md5Bucket(key: Column): Column = substring(md5(key.cast("string")), 1, 2)

  def md5Sample(df: DataFrame, key: String, buckets256: Int): DataFrame = {
    require(buckets256 >= 0 && buckets256 <= 256, s"buckets256=$buckets256 out of [0,256]")
    // 256 must short-circuit: its threshold would format as the 3-char
    // "100", and 2-char hex prefixes compare lexicographically against it
    // ("19" > "100"), silently keeping only the "0x" prefixes
    if (buckets256 == 256) df
    else df.filter(md5Bucket(col(key)) < lit(f"$buckets256%02x"))
  }

  /** Stratified deterministic sampling — the training-mix curation shape:
    * keep `buckets256ByStratum(stratum)`/256 of each stratum's rows
    * (md5-bucketed on the key: the same engine-portable, rerun-stable
    * contract as [[md5Sample]]; strata absent from the map keep
    * `defaultBuckets256`/256). Row-local and shuffle-free — no groupBy,
    * no sampleBy RNG state — so upsampling English vs. downsampling
    * boilerplate-heavy strata costs one scan at any corpus size and an
    * audit query in another engine selects the SAME rows.
    */
  def md5SampleStratified(df: DataFrame, key: String, stratum: String,
                          buckets256ByStratum: Map[String, Int],
                          defaultBuckets256: Int = 0): DataFrame = {
    val all = buckets256ByStratum.values.toSeq :+ defaultBuckets256
    require(all.forall(b => b >= 0 && b <= 256),
      s"buckets256 values out of [0,256]: $all")
    val b = buckets256ByStratum.toSeq.sortBy(_._1).foldLeft(lit(defaultBuckets256)) {
      case (acc, (s, n)) => when(col(stratum) === s, lit(n)).otherwise(acc)
    }
    // b = 256 must bypass the compare: its threshold would format as the
    // 3-char "100" (see md5Sample's note on the hex-prefix boundary)
    df.filter(b === 256 || md5Bucket(col(key)) < format_string("%02x", b))
  }

  /** Leakage-safe train/heldout split: the WHOLE group lands on one side.
    *
    * Splitting by document id leaks — near-duplicate pages, same-domain
    * boilerplate, and shared passages straddle the split, so the heldout
    * set "evaluates" text the model trained on. The standard defence is to
    * split on the leakage UNIT — registrable domain, canonical URL, or a
    * near-dup cluster id from [[graft.ops.Dedup.dupGroups]] — and send
    * every member of a group to the same side. Hashing the group key with
    * the [[md5Bucket]] contract does exactly that: rows whose group bucket
    * is < `heldout256` become "heldout" (≈ heldout256/256 of GROUPS, not
    * rows), everything else "train". Deterministic across reruns and
    * engines, row-local, shuffle-free — at 100 TB the split is one
    * projected column, no groupBy, no join against a membership table.
    * Degenerate bounds (0, 256) produce an all-train / all-heldout column
    * without tripping the 3-char "100" hex-format boundary. Rows with a
    * NULL group key land in "train": an unknown leakage unit must never
    * contaminate the heldout side (md5(NULL) is NULL, the comparison is
    * NULL, `when` falls through — the safe direction by construction).
    */
  def leakSafeSplit(df: DataFrame, group: String, heldout256: Int,
                    splitCol: String = "split"): DataFrame = {
    require(heldout256 >= 0 && heldout256 <= 256,
      s"heldout256=$heldout256 out of [0,256]")
    val heldout =
      if (heldout256 == 256) lit(true)
      else if (heldout256 == 0) lit(false)
      else md5Bucket(col(group)) < lit(f"$heldout256%02x")
    df.withColumn(splitCol, when(heldout, "heldout").otherwise("train"))
  }

  /** Efraimidis–Spirakis A-ES priority key for weighted sampling without
    * replacement: u^(1/w), u = the md5-derived uniform of the key (first 12
    * hex chars / 2^48 — engine-portable and rerun-stable like
    * [[md5Bucket]]). Top-k rows by this key = one weighted sample without
    * replacement with inclusion proportional to weight (Efraimidis &
    * Spirakis 2006) — deterministic, so resumable runs and cross-engine
    * checks see the same sample.
    *
    * A-ES is defined only for weight > 0: weight = 0 gives u^Inf = 0 and a
    * NEGATIVE weight gives u^(negative) > 1 — a key that outranks every
    * valid row. Non-positive (or null) weights therefore get a NULL key, so
    * they can never win [[weightedTopK]]'s descending top-k (nulls sort
    * last) instead of silently corrupting the sample.
    */
  def aresKey(key: Column, weight: Column): Column = {
    val u = conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0) // 2^48
    when(weight > 0, pow(u, lit(1.0) / weight.cast("double")))
  }

  /** Weighted top-k sample: global TakeOrdered on [[aresKey]] — no full
    * sort, each partition keeps k candidates and the driver merges (the
    * scalable distributed k-selection). Ties break on the key column.
    * Rows with non-positive weight (null A-ES key) are dropped outright —
    * without the filter they could still PAD the result when fewer than k
    * valid rows exist.
    */
  def weightedTopK(df: DataFrame, key: String, weight: String, k: Int): DataFrame =
    df.withColumn("ares_key", aresKey(col(key), col(weight)))
      .filter(col("ares_key").isNotNull)
      .orderBy(col("ares_key").desc, col(key)).limit(k)

  /** Per-stratum weighted top-k sample: the A-ES sample of [[weightedTopK]]
    * computed INDEPENDENTLY per stratum (per-language / per-source
    * training-mix curation) with bounded state — a
    * `row_number() OVER (PARTITION BY stratum ORDER BY key DESC)` window
    * would sort a hot stratum's whole projection in one task (the
    * capPerDomain hazard), so the winners come from the bounded
    * [[graft.functions.TopKByScoreAgg]] heap (≤k (id, key) pairs per
    * state, map-side combined). Deterministic: A-ES keys are pure
    * functions of (key, weight), ties break on the smaller id. Rows with
    * non-positive weight are dropped (null A-ES key), as in
    * [[weightedTopK]]. Requires a long-castable key.
    */
  def weightedTopKPerStratum(df: DataFrame, key: String, weight: String,
                             stratum: String, k: Int): DataFrame =
    df.withColumn("ares_key", aresKey(col(key), col(weight)))
      .filter(col("ares_key").isNotNull)
      .groupBy(col(stratum))
      .agg(graft.functions.TopKByScoreAgg
        .topKByScore(col("ares_key"), col(key), k).as("__top"))
      .select(col(stratum), explode(col("__top")).as("__r"))
      .select(col(stratum), col("__r.id").as(key), col("__r.score").as("ares_key"))

  /** Per-source inclusion plan to hit a TARGET token mixture under a total
    * token budget — the op between "per-source stats" and "packed shards"
    * in a pretraining run ("30% web, 30% code, 20% books…" of N tokens).
    * `targetParts` are integer mixture weights (parts, e.g. percents);
    * sources absent from the map get rate 0 (dropped). ALL arithmetic is
    * Long (floor division), so the plan is bit-identical cross-engine:
    *
    *   target_tokens(s) = tokenBudget * parts(s) / Σparts
    *   buckets256(s)    = min(256, target_tokens(s) * 256 / total_tokens(s))
    *
    * Deficit sources (total ≤ target) keep everything (256); surplus
    * sources downsample to the nearest 1/256 BELOW the target rate (floor —
    * the plan never overshoots the budget in expectation). Returns one row
    * per source present in the corpus:
    * `(source, total_tokens, target_tokens, buckets256)`.
    *
    * Scale shape: ONE map-side-combinable aggregation over the corpus; the
    * plan itself is #sources rows (collected — bounded like the repo's
    * other scalar/model collects).
    */
  def mixturePlan(df: DataFrame, source: String = "source", text: String = "text",
                  targetParts: Map[String, Long] = Map.empty,
                  tokenBudget: Long = 0L): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    planRows(df, source, text, targetParts, tokenBudget)
      .toDF("source", "total_tokens", "target_tokens", "buckets256")
  }

  private def planRows(df: DataFrame, source: String, text: String,
                       targetParts: Map[String, Long],
                       tokenBudget: Long): Seq[(String, Long, Long, Long)] = {
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    require(targetParts.nonEmpty && targetParts.values.forall(_ >= 0) &&
      targetParts.values.sum > 0,
      s"targetParts must be non-empty, non-negative, positive-sum: $targetParts")
    val sumParts = targetParts.values.sum
    df.groupBy(col(source))
      .agg(sum(TextAnalysis.tokenCount(col(text)).cast("long")).as("__t"))
      .collect() // #sources rows — the driver does exact Long arithmetic
      .toSeq.map { r =>
        val (src, total) = (r.getString(0), r.getLong(1))
        val target = tokenBudget * targetParts.getOrElse(src, 0L) / sumParts
        val b = if (total <= 0) 0L else math.min(256L, target * 256 / total)
        (src, total, target, b)
      }.sortBy(_._1)
  }

  /** Temperature-scaled mixture parts from observed per-source token
    * totals: parts_i ∝ total_i^alpha, scaled so the largest source gets
    * `scale`. alpha=1 reproduces natural proportions, alpha<1 flattens the
    * mixture (upweights small sources — the standard multilingual-sampling
    * trick), alpha=0 is uniform. Driver-side arithmetic on a
    * source-count-sized map (totals come from ONE tiny agg — e.g.
    * [[mixturePlan]]'s `total_tokens` column); the Long parts feed
    * [[mixturePlan]]/[[mixtureSample]] unchanged, so the md5-bucket
    * keep-set stays engine-portable and the only FP step is this
    * deterministic driver-side pow. Sources with total ≤ 0 get 0 parts.
    */
  def temperatureParts(totals: Map[String, Long], alpha: Double,
                       scale: Long = 1000000L): Map[String, Long] = {
    require(alpha >= 0.0, s"alpha=$alpha must be >= 0")
    require(scale > 0, s"scale=$scale must be > 0")
    val pos = totals.filter(_._2 > 0)
    if (pos.isEmpty) totals.map { case (k, _) => k -> 0L }
    else {
      val maxPow = math.pow(pos.values.max.toDouble, alpha)
      totals.map { case (k, t) =>
        k -> (if (t <= 0) 0L
              else math.round(math.pow(t.toDouble, alpha) / maxPow * scale))
      }
    }
  }

  /** The corpus downsampled to the [[mixturePlan]] rates via the
    * [[md5SampleStratified]] contract (engine-portable, rerun-stable,
    * row-local) — deficit sources pass through whole, surplus sources keep
    * their first `buckets256/256` md5 buckets, unlisted sources drop.
    * Two corpus passes (the totals agg + the filter scan), zero joins.
    */
  def mixtureSample(df: DataFrame, key: String = "doc_id",
                    source: String = "source", text: String = "text",
                    targetParts: Map[String, Long] = Map.empty,
                    tokenBudget: Long = 0L): DataFrame = {
    val plan = planRows(df, source, text, targetParts, tokenBudget)
      .map { case (src, _, _, b) => src -> b.toInt }.toMap
    md5SampleStratified(df, key, source, plan, defaultBuckets256 = 0)
  }

  /** Sequence packing: assign docs to fixed-token-budget training shards —
    * the concatenate-then-cut convention (a doc's shard is where its FIRST
    * token lands in the bucket's running token stream; a doc may straddle
    * a cut, exactly as pre-training sequence packers concatenate docs and
    * slice at the budget). Deterministic: docs pack in doc-id order.
    *
    * Scale shape: one cumulative-sum window PER md5 BUCKET, never a global
    * ordering — `nBuckets` bounds every window partition to corpus/nBuckets
    * docs and the running state to one counter (at 10^12 docs, pick
    * nBuckets so a bucket's (id, n_tokens) pairs stream through one task).
    * Shard ids are (bucket, shard_in_bucket) — globally unique without any
    * cross-bucket coordination. All-integer, hash-oracled cross-engine.
    */
  /** Packing-efficiency report over a [[packIntoShards]] result: per
    * (bucket, shard) — docs packed, exact token load, and the token
    * OVERFLOW past the budget (docs straddle cuts by design, so a shard's
    * load exceeds the budget by up to one doc's tail; systematic overflow
    * means the budget is small relative to doc length and padding waste
    * follows). One exchange (the groupBy), all-integer, so the whole
    * report hash-oracles cross-engine. `n_tokens - budget` is signed:
    * the LAST shard of a bucket typically under-fills.
    */
  def shardFillReport(packed: DataFrame, tokensPerShard: Long): DataFrame =
    packed.groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (sum(col("n_tokens")) - tokensPerShard).as("overflow_tokens"))

  def packIntoShards(docs: DataFrame, tokensPerShard: Long, nBuckets: Int,
                     id: String = "doc_id",
                     text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokensPerShard > 0 && nBuckets > 0)
    // the ONE md5-prefix bucket hash (shared with QualityClassifier and
    // Ranking.invertedIndex's shard key) so the cross-engine form never
    // forks
    val bucket = QualityClassifier.hashBucket(col(id).cast("string"), nBuckets)
    val w = Window.partitionBy(col("bucket")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(id), bucket.as("bucket"),
        TextAnalysis.tokenCount(col(text)).cast("long").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("shard", floor(col("start_tok") / tokensPerShard))
      .select(col(id), col("bucket"), col("n_tokens"), col("shard"))
  }
}
