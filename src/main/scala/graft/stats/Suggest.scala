package graft.stats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profile-driven constraint SUGGESTION — the inverse of the validation
  * engine's checks: instead of validating against a given schema
  * (reference `dvt` flow: structure.ini supplies the constraints), mine a
  * conforming-corpus sample for the constraints worth enforcing, emitting
  * one suggestion row per (column, kind):
  *
  *  - `not_null`  — zero observed nulls (and at least one row);
  *  - `unique`    — every observed non-null value distinct (the natural
  *                  key candidates: the reference's record URI / this
  *                  engine's `doc_id`);
  *  - `is_in`     — ≤ `categoricalMax` distinct values: the enumerated
  *                  value-set constraint (sorted, '|'-joined detail) —
  *                  what the reference encodes as per-property allowed
  *                  classes/datatypes;
  *  - `range`     — numeric columns: observed `[min,max]` envelope.
  *
  * Scale shape: ONE wide aggregate over the corpus — count/nulls/
  * distinct/min/max per column (with `approx = true`, the default,
  * distinct counts come from HLL exactly like [[ColumnStats.profile]];
  * `approx = false` plans Spark's expand-based exact count-distinct, the
  * cross-engine-reproducible form the DuckDB oracle pins) PLUS a
  * hard-bounded distinct-value set per column
  * ([[graft.functions.BoundedSetAgg]], state ≤ categoricalMax+1 strings
  * per buffer by construction). The whole suggestion therefore costs one
  * map-side-combined scan at 100 TB, with NO per-column follow-up
  * fetches, and the `is_in` verdict is EXACT regardless of the approx
  * flag: a column is categorical iff its bounded set did not overflow —
  * an HLL undercount can no longer admit an unbounded driver collect
  * (each set is ≤ categoricalMax values or NULL). The suggestions frame
  * is (columns × kinds)-sized — a report, not data.
  *
  * HLL caveat under `approx = true` (now confined to `unique`): a
  * near-unique column whose estimate collides with the exact row count
  * can mis-classify at the boundary; suggestions are a starting point for
  * a human, and the exact mode exists for when the verdict must be
  * reproducible.
  */
object Suggest {

  def suggestConstraints(df: DataFrame, categoricalMax: Int = 20,
                         approx: Boolean = true): DataFrame = {
    require(categoricalMax >= 1, s"categoricalMax=$categoricalMax must be >= 1")
    val spark = df.sparkSession
    val fields = df.schema.fields.toSeq
    // the row total rides in the SAME wide aggregate — ONE scan total
    val aggs = count(lit(1L)).as("__total") +: fields.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"cnt_${f.name}"),
        (if (approx) approx_count_distinct(c) else countDistinct(c))
          .as(s"dist_${f.name}"),
        min(c).cast("string").as(s"min_${f.name}"),
        max(c).cast("string").as(s"max_${f.name}"),
        graft.functions.BoundedSetAgg.boundedSet(c, categoricalMax)
          .as(s"set_${f.name}"))
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getAs[Long]("__total")

    val out = fields.flatMap { f =>
      val cnt = row.getAs[Long](s"cnt_${f.name}")
      val dist = row.getAs[Long](s"dist_${f.name}")
      val numeric = f.dataType match {
        case _: NumericType => true
        case _ => false
      }
      val notNull =
        if (cnt == total && cnt > 0) Seq((f.name, "not_null", "")) else Nil
      val unique =
        if (cnt > 0 && dist == cnt) Seq((f.name, "unique", "")) else Nil
      val isIn = {
        // NULL set = overflowed the bound = not categorical, exactly
        val set = row.getAs[scala.collection.Seq[String]](s"set_${f.name}")
        if (set != null && set.nonEmpty)
          // driver-side .sorted (UTF-16 code-unit order) keeps the detail
          // byte-identical to the pre-bounded form the oracle pins
          Seq((f.name, "is_in", set.toSeq.sorted.mkString("|")))
        else Nil
      }
      val range =
        if (numeric && cnt > 0) {
          val lo = row.getAs[String](s"min_${f.name}")
          val hi = row.getAs[String](s"max_${f.name}")
          Seq((f.name, "range", s"[$lo,$hi]"))
        } else Nil
      notNull ++ unique ++ isIn ++ range
    }
    import spark.implicits._
    out.toDF("column", "kind", "detail")
  }

  /** The ONE wide verification aggregate plus, for each approx-unique
    * constraint index, the name of its row-count slack leg.
    */
  private def verifyAgg(df: DataFrame,
                        constraints: Seq[(String, String, String)],
                        approxUnique: Boolean,
                        uniqueRsd: Double): (DataFrame, Map[Int, String]) = {
    require(constraints.nonEmpty, "no constraints to verify")
    require(uniqueRsd > 0 && uniqueRsd < 0.5, s"uniqueRsd=$uniqueRsd out of (0,0.5)")
    // approx unique needs the slack denominator alongside the excess
    val uniqueCounts = scala.collection.mutable.Map.empty[Int, String]
    val aggs = constraints.zipWithIndex.flatMap { case ((name, kind, detail), i) =>
      val c = col(name)
      val v = kind match {
        case "not_null" => sum(when(c.isNull, 1L).otherwise(0L))
        case "unique" if approxUnique =>
          uniqueCounts(i) = s"n_$i"
          greatest(count(c) - approx_count_distinct(c, uniqueRsd), lit(0L))
        case "unique"   => count(c) - countDistinct(c)
        case "is_in"    =>
          val allowed = detail.split('|').toSeq
          sum(when(c.isNotNull && !c.cast("string").isin(allowed: _*), 1L)
            .otherwise(0L))
        case "range"    =>
          require(detail.startsWith("[") && detail.endsWith("]") &&
            detail.contains(","), s"range detail '$detail' is not [lo,hi]")
          val Array(lo, hi) = detail.stripPrefix("[").stripSuffix("]")
            .split(',').map(_.trim.toDouble)
          sum(when(c.isNotNull &&
            (c.cast("double") < lo || c.cast("double") > hi), 1L)
            .otherwise(0L))
        case other => throw new IllegalArgumentException(
          s"unknown constraint kind '$other' for column '$name'")
      }
      coalesce(v, lit(0L)).as(s"v_$i") ::
        uniqueCounts.get(i).map(n => count(c).as(n)).toList
    }
    (df.agg(aggs.head, aggs.tail: _*), uniqueCounts.toMap)
  }

  /** Verify declared (or [[suggestConstraints]]-suggested) constraints
    * against a frame — the closing half of the suggest→verify loop, and
    * the tabular twin of the span-based check engine: one suggestion-
    * vocabulary row per constraint in, one row per constraint out with
    * its exact violation count and pass/fail status.
    *
    * ONE wide aggregate over the corpus computes every count — violations
    * are `sum(when(...))` columns side by side in the same scan, `unique`
    * adds a count-distinct leg. The exact form (default) plans Spark's
    * expand-based `countDistinct` — at 10^12 rows declare uniqueness on
    * the key you can afford to count — while `approxUnique = true` swaps
    * in `approx_count_distinct(rsd = uniqueRsd)`: sketch-sized state, no
    * expand, and the honest estimator contract that goes with it —
    * `violations` is the estimated excess `max(0, count − estimate)` and
    * `status` fails only when that excess clears a 3·rsd·count slack, so
    * duplication RATES below ~3·rsd pass silently (phase-1 suggest's HLL
    * caveat, now stated at the verify seam too). No second pass, no
    * join: the constraint list is metadata-sized and stays on the driver.
    *
    * Semantics per kind ([[suggestConstraints]]'s vocabulary):
    *  - `not_null` — violations = NULL rows;
    *  - `unique`   — violations = non-null rows in excess of distinct
    *                 values (count − countDistinct: 0 iff no duplicates);
    *  - `is_in`    — violations = non-null rows whose string form is not
    *                 in the '|'-split detail set (NULLs are `not_null`'s
    *                 business, not membership's);
    *  - `range`    — violations = non-null rows outside the inclusive
    *                 `[lo,hi]` detail bounds, compared as doubles.
    * Unknown kinds fail fast rather than silently pass.
    */
  def verifyConstraints(df: DataFrame,
                        constraints: Seq[(String, String, String)],
                        approxUnique: Boolean = false,
                        uniqueRsd: Double = 0.01): DataFrame = {
    val spark = df.sparkSession
    val (aggFrame, uniqueCounts) =
      verifyAgg(df, constraints, approxUnique, uniqueRsd)
    val row = aggFrame.collect()(0)
    val out = constraints.zipWithIndex.map { case ((name, kind, detail), i) =>
      val viol = row.getAs[Long](s"v_$i")
      val pass = uniqueCounts.get(i) match {
        // estimator slack: excess within 3·rsd of the row count is noise,
        // not evidence of duplication
        case Some(n) => viol <= math.ceil(3.0 * uniqueRsd * row.getAs[Long](n)).toLong
        case None    => viol == 0L
      }
      (name, kind, detail, viol, if (pass) "pass" else "fail")
    }
    import spark.implicits._
    out.toDF("column", "kind", "detail", "violations", "status")
  }
}
