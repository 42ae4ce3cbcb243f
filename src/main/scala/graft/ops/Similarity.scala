package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`), for
  * training-data pipelines (near-dup mining, retrieval eval).
  *
  * Two paths:
  *  - brute-force cosine top-k — the correctness baseline: one scan, the
  *    dot product computed with `zip_with`/`aggregate` (codegen'd, no UDF),
  *    top-k via orderBy + limit (Spark plans it as TakeOrderedAndProject —
  *    per-partition heaps, no full sort);
  *  - random-hyperplane LSH — the scale path: r signature bits per vector
  *    from deterministic pseudo-random hyperplanes (seeded by xxhash64, so
  *    executors regenerate them identically with no broadcast of random
  *    state), banded into buckets; candidates are rescored exactly.
  */
object Similarity {

  /** Σ aᵢbᵢ via higher-order functions. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** r-bit random-hyperplane signature of a vector (bit h = sign of the
    * projection onto deterministic pseudo-random plane h), packed into a
    * long — the native codegen'd [[graft.functions.RhpSig]] expression
    * (one pass over the vector, no interpreted HOF trees).
    */
  def rhpSignature(v: Column, bits: Int): Column =
    graft.functions.RhpSig.rhpSig(v.cast("array<double>"), bits)

  /** Brute-force cosine top-k against one query vector. */
  def bruteTopK(emb: DataFrame, query: Seq[Float], k: Int,
                id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val q = typedLit(query.map(_.toDouble))
    emb.select(col(id),
      cosine(transform(col(vec), _.cast("double")), q).as("cosine"))
      .orderBy(col("cosine").desc, col(id))
      .limit(k)
  }

  /** Corpus with its RHP signature column (`__sig`) — compute (or better:
    * persist/cache) ONCE and probe it with [[annTopKSigned]]; recomputing
    * signatures per query is a full scan per query.
    */
  def signed(emb: DataFrame, vec: String = "embedding", bits: Int = 16): DataFrame =
    emb.withColumn("__sig", rhpSignature(transform(col(vec), _.cast("double")), bits))

  /** The band-key derivation shared by every signature consumer — the
    * index writer, the probes and the pair miners MUST agree on band
    * layout or candidates silently miss their buckets: band b's key is bits
    * [b·rows, (b+1)·rows) of the signature. Column form for corpus-side
    * plans; [[rhpBandKeysLocal]] is the bit-identical driver-side twin for
    * query signatures — change BOTH or neither.
    */
  private def rhpBandKeys(sig: Column, bits: Int, bands: Int): Column = {
    val rows = bits / bands
    array((0 until bands).map(b =>
      shiftright(sig, b * rows).bitwiseAND(lit((1L << rows) - 1))): _*)
  }

  /** See [[rhpBandKeys]]. */
  private def rhpBandKeysLocal(sig: Long, bits: Int, bands: Int): Seq[Long] = {
    val rows = bits / bands
    (0 until bands).map(b => (sig >>> (b * rows)) & ((1L << rows) - 1))
  }

  /** LSH-bucketed approximate top-k over a PRE-SIGNED corpus
    * ([[signed]], ideally persisted bucketed by a band of `__sig`):
    * candidates share at least one of `bands` signature bands with the
    * query and are rescored with exact cosine.
    */
  def annTopKSigned(signedEmb: DataFrame, query: Seq[Float], k: Int,
                    id: String = "vec_id", vec: String = "embedding",
                    bits: Int = 16, bands: Int = 4): DataFrame = {
    val spark = signedEmb.sparkSession

    // query signature computed through the same expression, on one row
    import spark.implicits._
    val qDf = Seq(query.map(_.toDouble)).toDF("qv")
    val qSig = qDf.select(rhpSignature(col("qv"), bits)).collect()(0).getLong(0)
    val qBands = rhpBandKeysLocal(qSig, bits, bands)

    val corpusBands = rhpBandKeys(col("__sig"), bits, bands)
    val candidates = signedEmb.filter(
      (0 until bands).map(b =>
        element_at(corpusBands, b + 1) === qBands(b)).reduce(_ || _))

    val q = typedLit(query.map(_.toDouble))
    candidates.select(col(id),
      cosine(transform(col(vec), _.cast("double")), q).as("cosine"))
      .orderBy(col("cosine").desc, col(id))
      .limit(k)
  }

  /** One-shot convenience: signs then probes (one signature pass per call —
    * reuse [[signed]] for repeated queries).
    */
  def annTopK(emb: DataFrame, query: Seq[Float], k: Int,
              id: String = "vec_id", vec: String = "embedding",
              bits: Int = 16, bands: Int = 4): DataFrame =
    annTopKSigned(signed(emb, vec, bits), query, k, id, vec, bits, bands)

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max|x|/127, values round to [-127, 127] — 4× smaller storage/IO for
    * ANN candidate generation at 100 TB scale (rescore the survivors from
    * the fp32 column). Pure built-in Columns (codegen'd).
    */
  def quantizeInt8(vec: Column): Column = {
    val scale = aggregate(vec, lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0d
    val safeScale = when(scale === 0.0d, lit(1.0d)).otherwise(scale) // zero vector → all-zero q
    struct(
      scale.cast("float").as("scale"),
      transform(vec, x =>
        round(x.cast("double") / safeScale).cast("tinyint")).as("q"))
  }

  /** Quantize a float vector to exact longs (`round(x·scale)`), the
    * cross-engine-reproducible on-ramp to [[intCentroid]]: IEEE
    * round-half-away is bit-identical in Spark and DuckDB, so the longs —
    * and every sum of them — hash-oracle.
    */
  def quantizeLongs(vec: Column, scale: Int = 1024): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("bigint"))

  /** EXACT integer centroid (unnormalized): per-dimension Long sums of the
    * [[quantizeLongs]] vectors via [[graft.functions.LongVecSumAgg]] (one
    * map-side-combined pass; Long addition is order-independent, unlike
    * the FP mean every built-in offers). Cosine is scale-invariant, so
    * callers use the SUM vector directly as the centroid — no division,
    * no FP until the row-local cosine.
    */
  def intCentroid(emb: DataFrame, vec: String = "embedding",
                  dim: Int, scale: Int = 1024): Array[Long] =
    emb.agg(graft.functions.LongVecSumAgg
        .longVecSum(quantizeLongs(col(vec), scale), dim))
      .collect()(0).getSeq[Long](0).toArray // ONE dim-sized row

  /** Embedding-space drift between two snapshots: the PSI of each side's
    * cosine-to-BASELINE-centroid distribution — embeddings drift when a
    * new crawl/model-version shifts where mass sits relative to the
    * reference center, which per-dimension stats can't see. The centroid
    * is side `a`'s exact integer sum vector ([[intCentroid]] — baseline-
    * relative, deterministic, cross-engine); per-row cosines are row-local
    * fixed-order folds; the comparison is [[graft.stats.DriftStats.psiExact]]
    * verbatim (per-bin integer counts + terms). Three corpus-scale passes
    * (centroid, range, bin counts), all map-side combined.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vec: String = "embedding",
                     dim: Int, scale: Int = 1024,
                     buckets: Int = 10): DataFrame = {
    val c = intCentroid(a, vec, dim, scale)
    val cLit = typedLit(c.toSeq)
    def cos(df: DataFrame): DataFrame =
      df.select(cosine(transform(col(vec), _.cast("double")),
        transform(cLit, _.cast("double"))).as("cos_c"))
    graft.stats.DriftStats.psiExact(cos(a), cos(b), "cos_c", buckets)
  }

  /** Embedding-cosine near-duplicate pairs: RHP-LSH bucket join +
    * exact-cosine verification — the embedding analogue of
    * [[Dedup.nearDupPairs]].
    */
  def cosineDupPairs(emb: DataFrame, threshold: Double = 0.95,
                     id: String = "vec_id", vec: String = "embedding",
                     bits: Int = 16, bands: Int = 4,
                     maxBucketSize: Int = 1000): DataFrame = {
    val v = transform(col(vec), _.cast("double"))
    val signed = emb.select(col(id).as("__id"), col(vec).as("__v"),
      rhpSignature(v, bits).as("__sig"))
    val banded = signed.select(col("__id"), col("__v"),
      posexplode(rhpBandKeys(col("__sig"), bits, bands)).as(Seq("band", "bucket")))
    bandedCosinePairs(banded, Seq("band", "bucket"), threshold, maxBucketSize)
  }

  /** SemDeDup-shaped semantic deduplication (cluster-then-dedup, after
    * Abbas et al. 2023): assign each embedding to its IVF cluster, then
    * mine near-duplicate pairs ONLY within a cluster — the LSH buckets are
    * scoped by cluster id, so two vectors must agree on (cluster, band,
    * bucket) to be candidates. Cross-cluster pairs are sacrificed BY
    * DESIGN: that is what bounds the candidate space at 10^12 vectors (and
    * near-duplicates land in the same coarse cell with overwhelming
    * probability). Returns (cluster, id_a, id_b, cosine) at ≥ threshold;
    * compose with a keep-min-id window for the pruned corpus.
    */
  def semanticDupPairs(emb: DataFrame, model: Ivf.IvfModel,
                       threshold: Double = 0.95,
                       id: String = "vec_id", vec: String = "embedding",
                       bits: Int = 16, bands: Int = 4,
                       maxBucketSize: Int = 1000): DataFrame = {
    val v = transform(col(vec), _.cast("double"))
    val assigned = Ivf.assign(emb, model, vec)
    val signed = assigned.select(col(id).as("__id"), col(vec).as("__v"),
      col("cluster"), rhpSignature(v, bits).as("__sig"))
    val banded = signed.select(col("__id"), col("__v"), col("cluster"),
      posexplode(rhpBandKeys(col("__sig"), bits, bands)).as(Seq("band", "bucket")))
    bandedCosinePairs(banded, Seq("cluster", "band", "bucket"),
      threshold, maxBucketSize, carry = Seq("cluster"))
  }

  /** Shared in-bucket pair mining + exact-cosine verify over a pre-banded
    * frame `(__id, __v, <groupCols>)`; `carry` columns survive into the
    * output (deduped pairs keep the first group's values).
    */
  private def bandedCosinePairs(banded: DataFrame, groupCols: Seq[String],
                                threshold: Double, maxBucketSize: Int,
                                carry: Seq[String] = Nil): DataFrame = {
    val grouped = banded.groupBy(groupCols.map(col): _*)
      .agg(collect_list(struct(col("__id").as("id"), col("__v").as("v"))).as("m"))
      // over-size buckets are capped, never silently: see Dedup's
      // bucketPairsWith note (metric prefix `lsh_cosine`; names are
      // uniquified per call so two instances can share one plan)
      .observe(Dedup.uniqueMetricName("lsh_cosine"),
        sum(when(size(col("m")) > maxBucketSize, 1).otherwise(0)).as("dropped_buckets"),
        max(size(col("m"))).as("max_bucket_size"))
      .filter(size(col("m")).between(2, maxBucketSize))
      .withColumn("m", array_sort(col("m")))
    val pairs = grouped.select(carry.map(col) :+ explode(flatten(
      transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + 2, size(col("m"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"): _*)
      .select(carry.map(col) ++ Seq(
        col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        col("p.a.v").as("v_a"), col("p.b.v").as("v_b")): _*)
      .dropDuplicates("id_a", "id_b")
    pairs.withColumn("cosine",
      cosine(transform(col("v_a"), _.cast("double")),
        transform(col("v_b"), _.cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(carry.map(col) ++ Seq(col("id_a"), col("id_b"), col("cosine")): _*)
  }

  /** Cluster-balanced (diversity) sampling: assign every embedding to its
    * nearest centroid and keep the `perCluster` smallest ids per cluster —
    * the pass that caps over-represented regions of embedding space
    * (boilerplate/template clusters) while guaranteeing every populated
    * cluster keeps up to `perCluster` exemplars. Returns the kept rows
    * with their `cluster` column.
    *
    * Scale shape: assignment is the native codegen'd
    * [[graft.functions.NearestCentroid]] (the centroid matrix rides in the
    * plan — KBs for any sane C×D); winner selection is the bounded
    * k-smallest aggregate (≤ perCluster longs of map-side state per
    * cluster, no per-cluster window sort); ONE shuffle of (cluster, id)
    * pairs end-to-end. For an id-order-free choice pass an md5-derived
    * long as `id`.
    *
    * Determinism: cosine's per-row norm is constant across centroids, so
    * the argmax never sees the sqrt — it reduces to an integer-dot argmax
    * whenever `vec` holds integer-valued doubles ([[quantizeLongs]] cast
    * back to double: exact in IEEE up to 2^53). Ties break to the LOWEST
    * centroid index in both [[graft.functions.NearestCentroid.compute]]
    * and the oracle's `ORDER BY dot DESC, cid ASC`, so the kept set is
    * cross-engine reproducible (oracle `q_diversity_sample`).
    *
    * Rows with a NULL embedding or a NULL/non-castable id get a NULL join
    * key and are DROPPED (a diversity sample has no place for rows it
    * cannot place); `id` must be integral-valued (the same contract as
    * [[graft.ops.UrlOps.capPerDomain]]'s bounded winner selection).
    */
  def diversitySample(df: DataFrame, centroids: Array[Array[Double]],
                      perCluster: Int, vec: String = "embedding",
                      id: String = "vec_id"): DataFrame = {
    require(perCluster > 0, s"perCluster=$perCluster must be > 0")
    val assigned = df.withColumn("cluster",
      graft.functions.NearestCentroid.nearestCentroid(col(vec), centroids))
    val winners = assigned
      .select(col("cluster").as("__div_c"), col(id).cast("long").as("__div_i"))
      .groupBy("__div_c")
      .agg(graft.functions.TopK.kSmallest(col("__div_i"), perCluster).as("keep"))
      .select(col("__div_c"), explode(col("keep")).as("__div_i"))
    assigned.join(winners,
      assigned("cluster") === winners("__div_c") &&
        assigned(id).cast("long") === winners("__div_i"), "left_semi")
  }
}
