package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Term-weighting / lexical ranking for training-data pipelines: TF-IDF
  * and BM25 over the document corpus — the workhorse for quality scoring,
  * near-dup candidate ranking, and corpus search (reference scope is
  * validation-only; these are engine-native LLM-pipeline additions, like
  * [[LmQuality]]).
  *
  * Scale shape (the 100 TB plan):
  *  - [[termCounts]] is explode + ONE groupBy((doc, term)) — partial
  *    aggregation (map-side combine) collapses each doc's repeats before
  *    the shuffle, so shuffle volume is bounded by distinct (doc, term);
  *  - [[docFrequencies]] re-aggregates term counts by term only (second
  *    exchange is on term — far smaller: distinct terms, not doc×term);
  *  - [[tfidf]]/[[bm25]] join the per-term table WITHOUT a forced hint by
  *    default: a 100 TB crawl's distinct-token table (URLs, typos, code
  *    identifiers) is easily 10^9+ rows, and an unconditional
  *    `broadcast()` would collect it to the driver and die — the hint is
  *    honored regardless of size estimate. Default shape: a sort-merge
  *    join on term (the vocab side is already term-partitioned from its
  *    aggregation; the (doc, term) side re-partitions once on term — the
  *    unavoidable price of not broadcasting), and AQE converts it to a
  *    runtime broadcast whenever the vocab MEASURES small. Plan-asserted
  *    in RankingPlanSpec: no broadcast without the hint, broadcast with
  *    it. Callers that KNOW the vocabulary is bounded (a fixed lexicon)
  *    opt in with `broadcastVocab = true`.
  *  - Scores are per-(doc, term)-row-local FP ARITHMETIC (no FP summation
  *    across rows), so results are deterministic under any partitioning;
  *    cross-engine hash oracles still pin only the integer inputs (tf, df,
  *    doc length) because two engines' `ln` may differ in the last ULP.
  *
  * Tokenization = [[TextAnalysis.canonicalText]] split on single spaces —
  * THE shared canonical form, so rankings can never drift from the dedup /
  * LM-quality views of the same corpus.
  */
object Ranking {

  /** (doc_id, term, tf) — term frequencies per document over the canonical
    * token stream. One explode + one partial-agg groupBy.
    */
  def termCounts(docs: DataFrame, id: String = "doc_id",
                 text: String = "text"): DataFrame =
    docs.select(col(id),
        explode(split(TextAnalysis.canonicalText(col(text)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (term, df) — document frequencies: in how many documents each term
    * appears. Aggregates the (doc, term) table by term.
    */
  def docFrequencies(tc: DataFrame, id: String = "doc_id"): DataFrame =
    tc.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** (doc_id, term, tf, df, tfidf) with the standard smoothed formulation
    * `tf · (ln((N+1)/(df+1)) + 1)` — N passed by the caller (a count()
    * scalar; keeping it an argument makes the op deterministic and lets a
    * pipeline reuse an already-known corpus size instead of recounting).
    */
  def tfidf(docs: DataFrame, nDocs: Long, id: String = "doc_id",
            text: String = "text", broadcastVocab: Boolean = false): DataFrame = {
    val tc = termCounts(docs, id, text)
    val df = docFrequencies(tc, id)
    val vocab = if (broadcastVocab) broadcast(df) else df
    tc.join(vocab, Seq("term"))
      .select(col(id), col("term"), col("tf"), col("df"),
        (col("tf") * (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("tfidf"))
  }

  /** BM25 term weights: `idf · tf·(k1+1) / (tf + k1·(1−b + b·len/avgLen))`
    * with the Robertson-Sparck-Jones idf `ln(1 + (N−df+0.5)/(df+0.5))`.
    * Row-local FP once the three exact integers (tf, df, doc token length)
    * and the two corpus scalars (N, avgLen) are in place.
    */
  def bm25(docs: DataFrame, nDocs: Long, avgLen: Double,
           k1: Double = 1.2, b: Double = 0.75,
           id: String = "doc_id", text: String = "text",
           broadcastVocab: Boolean = false): DataFrame = {
    val tc = termCounts(docs, id, text)
    val lens = tc.groupBy(col(id)).agg(sum(col("tf")).as("doc_len"))
    val df = docFrequencies(tc, id)
    val vocab = if (broadcastVocab) broadcast(df) else df
    // arithmetic shape mirrors the q_bm25_rank oracle SQL term-for-term
    // (same association order, same folded double constants) so the only
    // cross-engine FP difference is the last ULP of ln()
    val lenNorm = lit(1.0 - b) + lit(b) * col("doc_len") / avgLen
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    tc.join(vocab, Seq("term"))
      .join(lens, Seq(id))
      .select(col(id), col("term"), col("tf"), col("df"), col("doc_len"),
        (idf * (col("tf") * (k1 + 1.0)) / (col("tf") + lit(k1) * lenNorm))
          .as("bm25"))
  }

  /** Sharded inverted index over the (doc, term) table: posting lists per
    * (term, shard), shipped as a deterministic digest — `md5` of the
    * lexicographically-sorted comma-joined doc ids — plus the shard's df.
    *
    * Sharding is the 100 TB guard: a stopword's posting list is
    * corpus-sized, and an unsharded `collect_list` would buffer it in ONE
    * aggregation state. The shard key is md5-derived from the doc id
    * (cross-engine reproducible, unlike xxhash64 which DuckDB lacks), so
    * every (term, shard) group is ~1/nShards of the worst posting list and
    * the aggregation stays bounded regardless of term skew. Consumers
    * reassemble a term's postings by reading its shards; `nShards = 1`
    * gives the classic one-list-per-term index.
    */
  def invertedIndex(tc: DataFrame, nShards: Int = 64,
                    id: String = "doc_id"): DataFrame = {
    val shard = pmod(
      conv(substring(md5(col(id).cast("string")), 1, 6), 16, 10).cast("long"),
      lit(nShards)).as("shard")
    tc.groupBy(col("term"), shard)
      .agg(count(lit(1)).as("df"),
        md5(concat_ws(",",
          sort_array(collect_list(col(id).cast("string"))))).as("posting_md5"))
  }

  /** Exact heavy-hitter terms WITHOUT a corpus-wide term groupBy — the
    * one-pass top-terms design for 10^12-doc corpora where even the
    * term-keyed exchange of [[docFrequencies]] is unwelcome:
    *
    *  1. frequent-items sketch pass ([[graft.stats.FreqSketchAgg]], the
    *     DataSketches Misra–Gries `ItemsSketch`): ≤ `maxMapSize` counters
    *     per task, map-side combined, ONE exchange of fixed-size blobs;
    *  2. candidates — every term whose upper bound reaches `minCount`
    *     (NO_FALSE_NEGATIVES), ≤ 0.75·maxMapSize strings on the driver;
    *  3. exact-count verify restricted to the candidates: a map-side
    *     `isin` filter, then a ≤ candidates-group aggregation.
    *
    * PROVABLY exact when `minCount` exceeds the merged sketch's
    * `getMaximumError` (the Misra–Gries completeness bound survives
    * merging — Agarwal et al., "Mergeable Summaries"): every term at that
    * frequency is among the candidates, and the verify pass reports true
    * counts (hash-oracled as q_heavy_hitters). A `minCount` at or under
    * the error is refused, since the candidates could miss a term; a
    * larger `maxMapSize` (a power of 2) lowers the error.
    */
  def heavyHitterTerms(docs: DataFrame, minCount: Long, maxMapSize: Int = 1024,
                       text: String = "text"): DataFrame = {
    import org.apache.datasketches.frequencies.ErrorType
    val terms = docs.select(
        explode(split(TextAnalysis.canonicalText(col(text)), " ")).as("term"))
      .filter(col("term") =!= "")
    val sketch = graft.stats.FreqStats.sketchOf(terms.agg(
        graft.stats.FreqSketchAgg.freq_sketch(col("term"), maxMapSize))
      .collect()(0).getAs[Array[Byte]](0))
    require(minCount > sketch.getMaximumError,
      s"heavyHitterTerms: minCount=$minCount is not above the sketch's maximum " +
        s"error ${sketch.getMaximumError} (maxMapSize=$maxMapSize), so the " +
        "candidates could miss a term; raise minCount or use a larger maxMapSize")
    val cands = sketch.getFrequentItems(minCount - 1, ErrorType.NO_FALSE_NEGATIVES)
      .map(_.getItem)
    terms.filter(col("term").isin(cands.toIndexedSeq: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Top-k terms per document by TF-IDF, deterministically tie-broken by
    * term — the "characteristic keywords" projection (one window on the
    * already-term-partitioned frame; re-keyed on doc).
    */
  def topTerms(scored: DataFrame, k: Int, id: String = "doc_id",
               score: String = "tfidf"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(id))
      .orderBy(col(score).desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
