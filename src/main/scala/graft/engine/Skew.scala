package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew-handling utilities (north star: "salted-key uniqueness and
  * broadcast/sort-merge referential joins over span media_refs ...
  * explicit repartitioning, AQE skew-join handling, and salting keep hot
  * doc_id/media_ref keys balanced").
  *
  * AQE's skew-join split handles skewed joins; these utilities cover what
  * AQE does not rebalance: an under-split INPUT and skewed AGGREGATION.
  */
object Skew {

  /** Spread an under-split input across the session's cores (guide §2.5's
    * "input skew" case: a single unsplittable file / single parquet row
    * group yields ONE scan task no matter how many cores the session has —
    * measured: the whole curation chain ran as one 2.5 s single-task stage
    * over a 1-row-group table while 31 cores idled). A keyless round-robin
    * repartition immediately after the read spreads the rows; row set
    * unchanged, so every downstream aggregation/join/window is unaffected.
    *
    * SCALE-ADAPTIVE no-op: when the source already provides at least the
    * session default parallelism (any real multi-file/multi-row-group
    * table), no exchange is added — this never costs a production-scale
    * corpus an extra text shuffle.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Duplicate-key detection with two-phase salted aggregation: phase 1
    * counts per (key, salt) — hot keys spread over `saltBuckets` reducers —
    * phase 2 sums the partials per key. For uniqueness over 10^12 doc_ids a
    * single hot key can't overload one reducer.
    */
  def duplicateKeys(df: DataFrame, key: String, saltBuckets: Int = 64): DataFrame = {
    val salted = df.select(col(key), pmod(xxhash64(monotonically_increasing_id()),
      lit(saltBuckets)).as("__salt"))
    salted.groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as("key_count"))
      .filter(col("key_count") > 1)
  }
}
