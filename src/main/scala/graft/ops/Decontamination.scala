package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag (or drop) training
  * documents that share word n-grams with an evaluation set — the
  * GPT-3-style 13-gram overlap filter.
  *
  * Scale shape: the BENCHMARK side is eval-set sized (thousands of docs),
  * so its distinct-gram set broadcasts; the corpus side then never
  * shuffles — contamination detection over 10^12 documents is a map-only
  * broadcast semi/inner join on the gram key. Grams are matched as strings
  * (exact, cross-engine checkable); swap in `xxhash64(g)` on both sides if
  * the broadcast needs to shrink.
  */
object Decontamination {

  /** Distinct word n-grams of a text (documents shorter than n words
    * contribute their whole token sequence as one gram) — the native
    * codegen'd [[graft.functions.WordNgrams]] expression: this runs over
    * the FULL corpus, where the interpreted HOF formulation is the
    * documented anti-pattern (CodegenFallback, per-element interpretation).
    */
  def ngrams(text: Column, n: Int): Column =
    graft.functions.WordNgrams.wordNgrams(text, n)

  /** Corpus docs sharing at least one n-gram with the benchmark:
    * (id, n_shared) where n_shared counts the doc's DISTINCT overlapping
    * grams.
    *
    * `broadcastBenchmark` (default true) is the escape hatch for an
    * oversized benchmark side (round-3 advice): eval sets are normally
    * thousands of docs and their gram set broadcasts — the map-only,
    * no-corpus-shuffle shape — but a caller feeding a corpus-sized
    * "benchmark" can pass false to get a shuffle join instead of a
    * driver/executor OOM from a forced broadcast.
    */
  def contaminated(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
                   id: String = "doc_id", text: String = "text",
                   broadcastBenchmark: Boolean = true): DataFrame =
    sharedGramEvents(corpus, benchmark, n, id, text, broadcastBenchmark)
      .groupBy(col(id)).agg(count(lit(1)).as("n_shared"))

  /** The event-level core of [[contaminated]]: `(id, g)` for every
    * distinct n-gram a corpus doc shares with the benchmark set.
    */
  private def sharedGramEvents(corpus: DataFrame, benchmark: DataFrame, n: Int,
                               id: String, text: String,
                               broadcastBenchmark: Boolean): DataFrame = {
    val cg = corpus.select(col(id), explode(ngrams(col(text), n)).as("g"))
    val bg = benchmark.select(explode(ngrams(col(text), n)).as("g")).distinct()
    cg.join(if (broadcastBenchmark) broadcast(bg) else bg, Seq("g"))
      .select(col(id), col("g"))
  }

  /** Corpus with contaminated documents removed. */
  def clean(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
            id: String = "doc_id", text: String = "text",
            broadcastBenchmark: Boolean = true): DataFrame =
    corpus.join(
      contaminated(corpus, benchmark, n, id, text, broadcastBenchmark).select(id),
      Seq(id), "left_anti")

  // ------------------------------------------------------------------
  // Bloom-prefiltered path (oversized benchmark side)
  // ------------------------------------------------------------------

  /** Serialized bloom filter over the benchmark's distinct n-grams
    * (Spark's own `BloomFilterAggregate` — the sketch behind its runtime
    * join filters — over `xxhash64(g)`). A 13-gram STRING set can run to
    * gigabytes where the bloom sketch is megabytes: this is what makes the
    * prefilter broadcastable when the exact set isn't. Driver-collects ONE
    * binary value (the aggregated sketch), like the C×D centroid collects.
    */
  def gramBloom(benchmark: DataFrame, n: Int = 13, text: String = "text",
                expectedItems: Long = 4000000L): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.shims
    val bg = benchmark.select(explode(ngrams(col(text), n)).as("g")).distinct()
    val agg = shims.column(new BloomFilterAggregate(
      shims.expression(xxhash64(col("g"))), expectedItems).toAggregateExpression())
    bg.agg(agg.as("bf")).collect()(0).getAs[Array[Byte]](0)
  }

  /** `might_contain` predicate against a serialized [[gramBloom]] sketch —
    * Spark's codegen'd `BloomFilterMightContain` with the sketch inlined as
    * a literal (exactly how Spark's InjectRuntimeFilter ships blooms to the
    * probe side).
    */
  def mightContainGram(bloom: Array[Byte], gram: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.shims
    shims.column(BloomFilterMightContain(Literal(bloom),
      shims.expression(xxhash64(gram))))
  }

  // ------------------------------------------------------------------
  // Near-duplicate (fuzzy) decontamination
  // ------------------------------------------------------------------

  /** Fuzzy decontamination — the near-dup complement of the exact n-gram
    * filter: training docs whose char-`k`-shingle Jaccard with ANY
    * benchmark doc reaches `threshold`, even when no 13-gram survives
    * verbatim (light paraphrase, added boilerplate, whitespace drift — the
    * GPT-3 appendix's fuzzy-overlap concern). Returns
    * (id, benchId, jaccard) pairs.
    *
    * Scale shape — the cross-corpus twin of [[Dedup.nearDupPairs]]:
    * signatures come from the native [[graft.functions.MinHashSig]] (one
    * corpus pass, codegen'd), candidates from an LSH band-bucket join
    * AGAINST THE BENCHMARK side only (eval-sized, broadcast by default —
    * `broadcastBenchmark = false` is the oversized-benchmark escape hatch,
    * as in [[contaminated]]) — never an all-pairs or within-corpus
    * comparison. A signature-agreement prefilter drops template
    * collisions, then exact Jaccard verifies ONLY candidate rows (the
    * interpreted shingle HOF touches candidates, not the corpus).
    */
  def nearDupContaminated(corpus: DataFrame, benchmark: DataFrame,
                          id: String = "doc_id", benchId: String = "bench_id",
                          text: String = "text",
                          k: Int = 5, numHashes: Int = 32, bands: Int = 8,
                          threshold: Double = 0.9,
                          broadcastBenchmark: Boolean = true): DataFrame = {
    def banded(df: DataFrame, keyCol: String, sigName: String) = {
      val sig = graft.functions.MinHashSig.minhashSig(col(text), k, numHashes)
      df.filter(length(col(text)) >= k)
        .select(col(keyCol), sig.as(sigName))
        .select(col(keyCol), col(sigName),
          explode(Dedup.bandKeys(col(sigName), numHashes, bands)).as("__bucket"))
    }
    val cBand = banded(corpus, id, "__csig")
    val bBandRaw = banded(benchmark, benchId, "__bsig")
    val bBand = if (broadcastBenchmark) broadcast(bBandRaw) else bBandRaw
    // localCheckpoint: the candidate frame is referenced three times below
    // (pair join + two semi-join prunes) and without materialization each
    // reference re-evaluates the WHOLE candidate subtree — three corpus
    // scans and three signature passes (seen in the executed plan; the
    // identical-subtree broadcasts were NOT reuse-deduped). Candidates are
    // pair-count-sized, so materializing them is the cheap side of that
    // trade by orders of magnitude.
    val cands = cBand.join(bBand, Seq("__bucket"))
      .filter(Dedup.sigAgreement(col("__csig"), col("__bsig"), numHashes)
        >= threshold - 0.15)
      .select(col(id), col(benchId)).distinct()
      .localCheckpoint()
    val cs = corpus.join(cands.select(col(id)).distinct(), Seq(id), "left_semi")
      .select(col(id), Dedup.shingles(col(text), k).as("__sha"))
    val bsRaw = benchmark
      .join(cands.select(col(benchId)).distinct(), Seq(benchId), "left_semi")
      .select(col(benchId), Dedup.shingles(col(text), k).as("__shb"))
    val bs = if (broadcastBenchmark) broadcast(bsRaw) else bsRaw
    cands.join(cs, Seq(id)).join(bs, Seq(benchId))
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col(id), col(benchId), col("jaccard"))
  }

  /** [[contaminated]] for a benchmark whose exact gram set is too large to
    * broadcast: bloom-PREFILTER the corpus gram stream map-side (no corpus
    * shuffle — the sketch is a literal), then exact-verify only the
    * survivors against the true gram set. Bloom filters have NO false
    * negatives, so the result is IDENTICAL to [[contaminated]] (the oracle
    * asserts it); false positives (rate set by `expectedItems` vs the real
    * cardinality) only cost extra rows entering the verify join. At fpp
    * 3%, the verify join's corpus side shrinks from every gram of 10^12
    * documents to ~3% of them plus the true hits.
    */
  def contaminatedBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
                        id: String = "doc_id", text: String = "text",
                        expectedItems: Long = 4000000L): DataFrame = {
    val bloom = gramBloom(benchmark, n, text, expectedItems)
    val bg = benchmark.select(explode(ngrams(col(text), n)).as("g")).distinct()
    val survivors = corpus
      .select(col(id), explode(ngrams(col(text), n)).as("g"))
      .filter(mightContainGram(bloom, col("g")))
    // exact verification: survivors are a small fraction of the corpus
    // grams, so this shuffle is benchmark-scale, not corpus-scale
    survivors.join(bg, Seq("g"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_shared"))
  }
}
