package graft.stats

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{concat, length, lit, theta_sketch_agg, theta_union_agg, when}

/** Theta sketch aggregate — the SET-OPERATION member of the engine's
  * mergeable-sketch family (KLL = quantiles, HLL = cardinality,
  * frequent-items = heavy hitters; theta adds intersection and
  * difference): a DataSketches theta sketch of the column's distinct
  * string values, serialized compact. Unlike HLL, two theta sketches
  * support `A ∩ B` and `A \\ B` estimates ([[ThetaStats]]), which is what
  * snapshot-over-snapshot VOCABULARY CHURN needs — how many distinct
  * values appeared/disappeared between two corpora — without holding
  * either value set.
  *
  * Exactness contract: while a sketch retains fewer than `nominalEntries`
  * hashes it is in EXACT mode (theta = 1, no sampling) — estimates,
  * intersections and differences are exact integers, the regime the
  * DuckDB oracle pins (`q_vocab_churn`); beyond it estimates carry the
  * documented relative standard error ≈ 1/sqrt(nominalEntries)
  * (ThetaSketchSpec bounds it). Spark's built-in `theta_sketch_agg`:
  * map-side combine, KB-sized shuffled state.
  *
  * NULL values are skipped.
  */
object ThetaSketchAgg {
  /** DataSketches silently REJECTS the empty string (like null), which
    * would erase "" from every set estimate — a real value in a vocabulary
    * (an empty lang tag IS the anomaly to catch). Injective escape: "" →
    * NUL, and a NUL-prefixed value gains one more NUL, so distinctness is
    * preserved for every input (found by SketchPropertySpec's
    * grouping-invariance fuzz). Stored blobs hash the escaped values, so
    * the escape must not change: a new one would no longer union with
    * them (SketchCompatSpec).
    */
  private[stats] def escape(s: Column): Column =
    when(s === "", lit("\u0000"))
      .when(s.startsWith("\u0000"), concat(lit("\u0000"), s))
      .otherwise(s)

  /** The built-ins' size parameter: log2 of a power-of-2 `nominalEntries`. */
  private[stats] def lgNomEntries(nominalEntries: Int): Int = {
    require(nominalEntries >= 16 && (nominalEntries & (nominalEntries - 1)) == 0,
      s"nominalEntries=$nominalEntries must be a power of 2 >= 16")
    Integer.numberOfTrailingZeros(nominalEntries)
  }

  /** `df.agg(theta_sketch($"v"))` — serialized theta sketch of distincts. */
  def theta_sketch(c: Column, nominalEntries: Int = 4096): Column =
    theta_sketch_agg(escape(c.cast("string")), lgNomEntries(nominalEntries))
}

/** Merges a column of SERIALIZED theta sketch blobs — the stored-directory
  * path ([[KllMergeAgg.kll_merge]]'s pattern on the set plane):
  * per-day/per-source value-set sketches union without rescanning raw
  * rows. Spark's built-in `theta_union_agg`; NULL and zero-length blobs
  * are skipped (the built-in rejects a zero-length blob).
  */
object ThetaMergeAgg {
  /** `blobs.agg(theta_merge($"theta"))` — union stored sketch blobs. */
  def theta_merge(c: Column, nominalEntries: Int = 4096): Column =
    theta_union_agg(when(length(c) > 0, c), ThetaSketchAgg.lgNomEntries(nominalEntries))
}

/** Driver-side set operations over serialized theta sketches. */
object ThetaStats {

  def sketchOf(bytes: Array[Byte]): CompactSketch =
    Sketches.heapifyCompactSketch(Memory.wrap(bytes))

  def estimate(bytes: Array[Byte]): Double = sketchOf(bytes).getEstimate

  /** True iff BOTH sketches are in exact mode — every churn number below
    * is then an exact integer.
    */
  def isExact(a: Array[Byte], b: Array[Byte]): Boolean =
    !sketchOf(a).isEstimationMode && !sketchOf(b).isEstimationMode

  def intersectionEstimate(a: Array[Byte], b: Array[Byte]): Double = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(sketchOf(a)); i.intersect(sketchOf(b))
    i.getResult.getEstimate
  }

  def aNotBEstimate(a: Array[Byte], b: Array[Byte]): Double =
    SetOperation.builder().buildANotB()
      .aNotB(sketchOf(a), sketchOf(b)).getEstimate

  /** Vocabulary churn between two value-set sketches: (distinct only in
    * a, only in b, common, a total, b total, exact-mode flag) — the
    * snapshot question "how many values appeared / disappeared" at sketch
    * cost.
    */
  def setChurn(a: Array[Byte], b: Array[Byte]): (Double, Double, Double, Double, Double, Boolean) =
    (aNotBEstimate(a, b), aNotBEstimate(b, a), intersectionEstimate(a, b),
      estimate(a), estimate(b), isExact(a, b))

  /** Per-GROUP vocabulary churn between two `(group, theta)` sketch
    * frames (each typically `df.groupBy(g).agg(theta_sketch(v))` or
    * merged stored blobs) — the operational form: vocabularies churn one
    * source at a time, and a source present on only one side surfaces as
    * added/removed rather than vanishing. Driver-side over the
    * group-count-sized frames (`maxGroups`-guarded); numbers are exact
    * integers whenever both sides' sketches are exact-mode (`exact`
    * column says so per group).
    */
  def setChurnByGroup(prev: DataFrame, cur: DataFrame,
                      maxGroups: Int = 100000): DataFrame = {
    val spark = prev.sparkSession
    def side(df: DataFrame): Map[String, Array[Byte]] = {
      val rows = df.limit(maxGroups + 1).collect()
      require(rows.length <= maxGroups,
        s"churn by group: more than $maxGroups groups — bound the group key")
      rows.map(r => r.get(0).toString -> r.getAs[Array[Byte]](1)).toMap
    }
    val (a, b) = (side(prev), side(cur))
    val out = (a.keySet ++ b.keySet).toSeq.sorted.map { g =>
      (a.get(g), b.get(g)) match {
        case (Some(pa), Some(pb)) =>
          val (oa, ob, c, ta, tb, ex) = setChurn(pa, pb)
          (g, "present", oa.toLong, ob.toLong, c.toLong, ta.toLong, tb.toLong, ex)
        case (Some(pa), None) =>
          val e = estimate(pa)
          (g, "removed", e.toLong, 0L, 0L, e.toLong, 0L, !sketchOf(pa).isEstimationMode)
        case (None, Some(pb)) =>
          val e = estimate(pb)
          (g, "added", 0L, e.toLong, 0L, 0L, e.toLong, !sketchOf(pb).isEstimationMode)
        case _ => sys.error("unreachable")
      }
    }
    import spark.implicits._
    out.toDF("group", "status", "only_prev", "only_cur", "common",
      "n_prev", "n_cur", "exact")
  }
}
