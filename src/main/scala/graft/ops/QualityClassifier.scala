package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashing-trick linear quality classifier — the fastText-shaped
  * "train a tiny model on a labeled slice, score the whole corpus" stage
  * every large-scale curation pipeline runs (CCNet, RefinedWeb, FineWeb).
  * Engine-native LLM-pipeline addition; the reference's scope is
  * validation-only.
  *
  * The model is a D-bucket integer weight vector: each token hashes into
  * one of D buckets (feature hashing), a bucket's weight is the signed
  * count of training-token occurrences (`+1` from positively-labeled
  * docs, `-1` from negative) — a single-pass additive perceptron/
  * naive-Bayes-lite. A document's score is the sum of its tokens' bucket
  * weights. ALL-INTEGER arithmetic end-to-end, so training and scoring
  * are exactly reproducible cross-engine (DuckDB oracle) — no FP
  * summation-order residue.
  *
  * The bucket hash is the same md5-prefix form as
  * [[Ranking.invertedIndex]]'s shard key (`conv(substr(md5(term),1,6),
  * 16,10) % D`) — cross-engine by construction, uniform enough for
  * feature hashing.
  *
  * Scale shape (the 100 TB plan):
  *  - [[train]] runs on the SMALL labeled slice: explode + ONE groupBy
  *    (bucket) with map-side combine; output is exactly D rows.
  *  - [[score]] runs on the full corpus: tokenization and bucketing are
  *    row-local, the D-row model broadcast-joins (map-only), and the only
  *    exchange is the per-doc sum — keyed on doc_id with partial
  *    aggregation, so shuffle volume is bounded by distinct (doc, bucket)
  *    ≤ doc × min(len, D).
  *  - Nothing iterates: one pass to train, one to score. (A multi-epoch
  *    logistic model would put a driver loop around [[train]] with the
  *    same per-pass shape — the plumbing, not the statistics, is what a
  *    10^12-doc pipeline exercises.)
  *
  * Tokenization = [[TextAnalysis.canonicalText]] split on single spaces —
  * the ONE canonical token stream shared with [[Ranking]] / dedup / LM
  * quality, so classifier features can never drift from the other views
  * of the same corpus.
  */
object QualityClassifier {

  /** Feature-hash bucket in [0, d): md5-prefix integer mod d. */
  def hashBucket(term: Column, d: Int): Column =
    pmod(conv(substring(md5(term), 1, 6), 16, 10).cast("long"), lit(d.toLong))

  /** Canonical tokens with multiplicity (document order irrelevant for a
    * bag-of-words model).
    */
  private def tokenRows(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
        explode(split(TextAnalysis.canonicalText(col(text)), " ")).as("term"))
      .filter(col("term") =!= "")

  /** Train on a labeled slice: (bucket, weight, n_terms) with
    * `weight = Σ_tokens (label ? +1 : -1)` per bucket. `label` is any
    * boolean Column over the input frame's columns. Exactly D or fewer
    * rows out; ONE exchange.
    */
  def train(labeled: DataFrame, label: Column, d: Int,
            id: String = "doc_id", text: String = "text"): DataFrame =
    labeled.select(col(id), label.as("_lbl"),
        explode(split(TextAnalysis.canonicalText(col(text)), " ")).as("term"))
      .filter(col("term") =!= "")
      .select(hashBucket(col("term"), d).as("bucket"),
        when(col("_lbl"), lit(1L)).otherwise(lit(-1L)).as("w"))
      .groupBy(col("bucket"))
      .agg(sum(col("w")).as("weight"), count(lit(1)).as("n_terms"))

  /** Score a corpus with a trained (bucket, weight) model:
    * (id, n_tokens, score, pred) with `score = Σ_tokens weight(bucket)`
    * and `pred = score > 0`. Model broadcast; one doc-keyed exchange.
    * Tokens hashing to a bucket absent from the model weigh 0 (coalesce
    * after a left join) — the model stays exactly-D-row dense only if
    * training saw every bucket.
    */
  def score(docs: DataFrame, model: DataFrame, d: Int,
            id: String = "doc_id", text: String = "text"): DataFrame =
    tokenRows(docs, id, text)
      .select(col(id), hashBucket(col("term"), d).as("bucket"))
      .join(broadcast(model.select(col("bucket"), col("weight"))),
        Seq("bucket"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight"), lit(0L))).as("score"))
      .withColumn("pred", col("score") > 0)

  /** Confusion matrix of predictions against a boolean label column on a
    * held-out slice — the evaluate-before-deploy stage. ONE groupBy over
    * the scored frame; exact integer counts, so the whole evaluation is
    * hash-oracled cross-engine (q_qc_confusion).
    */
  def confusion(scored: DataFrame, label: Column): DataFrame =
    scored.groupBy(col("pred"), label.as("label"))
      .agg(count(lit(1)).as("n"))

  /** Calibration report: integer score bins × label → exact counts — the
    * reliability-diagram input that decides where to put the keep/drop
    * threshold (a classifier can have a fine confusion matrix at `> 0` and
    * still be uncalibrated in the tails). `bin = floor(score/binWidth)`
    * (scores are exact integer weight sums, and floor-division agrees
    * across engines for negative scores too). ONE groupBy; hash-oracled
    * as q_qc_calibration.
    */
  def calibration(scored: DataFrame, label: Column, binWidth: Long = 10L): DataFrame = {
    require(binWidth > 0)
    scored.groupBy(
        floor(col("score").cast("double") / binWidth).cast("bigint").as("bin"),
        label.as("label"))
      .agg(count(lit(1)).as("n"))
  }

  /** The deterministic zero-external-data training label: lexical
    * diversity — a doc is "good" when at least half its tokens are
    * distinct (`2·n_distinct ≥ n_tokens`). Integer compare, exactly
    * mirrored by the oracle; stands in for human quality labels.
    */
  def diversityLabel(text: Column): Column = {
    // == non-empty tokens of canonicalText, but via codegen'd
    // regexp_extract_all: the `filter` HOF is interpreted per element and
    // this label runs corpus-wide in Curation.curate's hottest stage
    val toks = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
    size(array_distinct(toks)) * 2 >= size(toks)
  }
}
