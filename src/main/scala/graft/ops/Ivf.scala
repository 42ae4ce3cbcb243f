package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NearestCentroid

/** IVF (inverted-file) approximate nearest-neighbor index over an embedding
  * column — the coarse-quantizer scale path for similarity search (the
  * LSH path is [[Similarity.annTopK]]).
  *
  * Spark-native shape:
  *  - training: deterministic hash-ordered seeding + Lloyd iterations, each
  *    ONE distributed pass (assignment via the native
  *    [[graft.functions.NearestCentroid]] expression, centroid update via
  *    posexplode + groupBy(cluster, dim) avg — the C×D result collects to
  *    the driver, KBs);
  *  - indexing: [[buildIndex]] assigns the corpus ONCE and writes it
  *    partitioned by `cluster`;
  *  - query: rank centroids driver-side, read ONLY the nProbe nearest
  *    cluster partitions ([[topKIndexed]] — partition-pruned parquet scan,
  *    asserted by IvfSpec), exact-cosine rescore. At 10^12 vectors a probe
  *    touches nProbe/C of the corpus instead of re-assigning all of it
  *    (the round-1 `topK` flaw).
  */
object Ivf {

  final case class IvfModel(centroids: Array[Array[Double]]) {
    def normalized: Array[Array[Double]] = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n > 0) c.map(_ / n) else c
    }
  }

  private def vecD(col0: String) = transform(col(col0), _.cast("double"))

  /** Train C centroids with `iters` Lloyd iterations. Deterministic: seeds
    * are the C rows with the smallest xxhash64(id). Degenerate inputs are
    * guarded: fewer rows than c trains on what exists; an empty table is an
    * explicit error (nothing to seed from).
    */
  def train(emb: DataFrame, c: Int, iters: Int = 3,
            id: String = "vec_id", vec: String = "embedding"): IvfModel = {
    val seeds = emb.orderBy(xxhash64(col(id))).limit(c)
      .select(vecD(vec).as("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "Ivf.train: empty embedding table")
    var model = IvfModel(seeds)
    for (_ <- 1 to iters) {
      val assigned = emb.select(
        NearestCentroid.nearestCentroid(vecD(vec), model.normalized).as("cluster"),
        posexplode(vecD(vec)).as(Seq("dim", "x")))
      val means = assigned.groupBy("cluster", "dim").agg(avg("x").as("m"))
        .collect()
      if (means.nonEmpty) {
        val dims = means.map(_.getInt(1)).max + 1
        val next = Array.tabulate(math.max(c, seeds.length), dims)((ci, di) =>
          model.centroids(ci % model.centroids.length).lift(di).getOrElse(0.0))
        means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        model = IvfModel(next)
      }
    }
    model
  }

  /** Corpus with its IVF cluster assignment — ONE pass; write partitioned
    * by `cluster` ([[buildIndex]]) for partition-pruned probes at scale.
    */
  def assign(emb: DataFrame, model: IvfModel, vec: String = "embedding"): DataFrame =
    emb.withColumn("cluster",
      NearestCentroid.nearestCentroid(vecD(vec), model.normalized))

  /** Materialize the index: the corpus assigned once and laid out so a
    * probe is a partition-pruned read of nProbe directories.
    */
  def buildIndex(emb: DataFrame, model: IvfModel, path: String,
                 vec: String = "embedding"): Unit =
    assign(emb, model, vec).write.mode("overwrite")
      .partitionBy("cluster").parquet(path)

  /** The nProbe cluster ids nearest the query, ranked driver-side against
    * the KB-sized centroid table.
    */
  def probeClusters(model: IvfModel, query: Seq[Float], nProbe: Int): Seq[Int] = {
    val q = query.map(_.toDouble).toArray
    val norm = model.normalized
    norm.indices.sortBy { ci =>
      -q.zip(norm(ci)).map { case (a, b) => a * b }.sum
    }.take(nProbe)
  }

  /** Top-k by exact cosine over an ALREADY-ASSIGNED corpus (the in-memory
    * analogue of [[topKIndexed]] — pass a cached [[assign]] result so the
    * assignment isn't recomputed per query).
    */
  def topKAssigned(assigned: DataFrame, model: IvfModel, query: Seq[Float], k: Int,
                   nProbe: Int = 2, id: String = "vec_id",
                   vec: String = "embedding"): DataFrame = {
    val probes = probeClusters(model, query, nProbe)
    Similarity.bruteTopK(assigned.filter(col("cluster").isin(probes: _*)),
      query, k, id, vec)
  }

  /** Top-k against a [[buildIndex]] layout: reads ONLY the nProbe cluster
    * partitions (partition-pruned scan), then exact-cosine rescores.
    */
  def topKIndexed(spark: SparkSession, indexPath: String, model: IvfModel,
                  query: Seq[Float], k: Int, nProbe: Int = 2,
                  id: String = "vec_id", vec: String = "embedding"): DataFrame =
    topKAssigned(spark.read.parquet(indexPath), model, query, k, nProbe, id, vec)

  /** One-shot convenience: assigns then probes. For repeated queries use
    * [[buildIndex]] + [[topKIndexed]] (partition-pruned) or cache
    * [[assign]] + [[topKAssigned]] — this variant pays a full assignment
    * pass per call.
    */
  def topK(emb: DataFrame, model: IvfModel, query: Seq[Float], k: Int,
           nProbe: Int = 2, id: String = "vec_id", vec: String = "embedding"): DataFrame =
    topKAssigned(assign(emb, model, vec), model, query, k, nProbe, id, vec)
}
