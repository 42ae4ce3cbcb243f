package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{kll_merge_agg_double, kll_sketch_agg_double, length, when}

/** KLL quantile sketch of a column (north star: histogram sketches for
  * KS/PSI distribution-drift checks): Spark's built-in
  * `kll_sketch_agg_double`, DataSketches underneath. Partial aggregation
  * (map-side combine) and cross-partition merge come from the aggregate
  * framework, so sketching a column over 10^12 rows is a single shuffle of
  * ~KB-sized sketch states. NULL values are skipped.
  *
  * Result: the sketch's serialized bytes (heapify with
  * [[DriftStats.sketchOf]] to query quantiles/ranks).
  */
object KllSketchAgg {
  /** Column-level entry point: `df.agg(kll_sketch($"x"))`. */
  def kll_sketch(c: Column, k: Int = 200): Column =
    kll_sketch_agg_double(c.cast("double"), k)
}

/** Merges a column of SERIALIZED KLL sketch blobs into one sketch — the
  * 100 TB drift-baseline path: per-day / per-partition profile tables store
  * sketch bytes ([[ColumnStats.profile]]'s `kll` column), and a new-day
  * check merges the history's blobs into a corpus baseline WITHOUT ever
  * rescanning the raw rows (mergeability is the whole point of the sketch;
  * KLL merge preserves the rank-error bound of the largest k involved).
  * Spark's built-in `kll_merge_agg_double`; NULL and zero-length blobs
  * are skipped (the built-in rejects a zero-length blob).
  *
  * Counts (`getN`), min and max of the merged sketch are EXACT — equal to
  * the whole-corpus values — so the merge path carries a DuckDB oracle;
  * quantiles are within KLL error of a whole-corpus sketch
  * (KllMergeSpec).
  */
object KllMergeAgg {
  /** `profiles.agg(kll_merge($"kll"))` — merge stored sketch blobs. */
  def kll_merge(c: Column, k: Int = 200): Column =
    kll_merge_agg_double(when(length(c) > 0, c), k)
}
