package graft.stats

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Single-pass per-column profiling stage (north star: "a single-pass
  * per-column stats stage (count/null/distinct via HyperLogLog sketches,
  * min/max, histogram sketches for KS/PSI distribution-drift checks)").
  *
  * ONE `agg(...)` over the table computes every statistic for every column —
  * Spark's partial aggregation gives the map-side combine, so the whole
  * profile costs a single scan + one ~KB-per-column shuffle regardless of
  * table size. The reference has nothing like this (it validates row by row
  * over HTTP); this is the stage that makes 10^12-row validation plannable.
  */
object ColumnStats {

  /** Per-GROUP long-format profile: (group, column, count, nulls,
    * approxDistinct, min, max) — the per-source baseline the grouped
    * drift checks ([[DriftStats.psiExactByGroup]]) compare against, and
    * the per-source slice of the north-star stats stage. ONE
    * groupBy(group) computes every statistic for every column (map-side
    * combined, one exchange); the wide result is group-count-sized and is
    * localCheckpoint-materialized BEFORE the per-column melt — the melt
    * union references it once per column, which would otherwise
    * re-evaluate the whole corpus aggregation per column (the
    * re-evaluated-subtree trap, see jaccardVerify).
    */
  def profileByGroup(df: DataFrame, groupCol: String,
                     statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty)
    val aggs: Seq[Column] = statCols.flatMap { n =>
      val c = col(n)
      Seq(
        count(c).as(s"${n}__count"),
        count(when(c.isNull, 1)).as(s"${n}__nulls"),
        approx_count_distinct(c).as(s"${n}__distinct"),
        min(c).cast("string").as(s"${n}__min"),
        max(c).cast("string").as(s"${n}__max"))
    }
    val wide = df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
    statCols.map { n =>
      wide.select(col(groupCol), lit(n).as("column"),
        col(s"${n}__count").as("count"), col(s"${n}__nulls").as("nulls"),
        col(s"${n}__distinct").as("approxDistinct"),
        col(s"${n}__min").as("min"), col(s"${n}__max").as("max"))
    }.reduce(_ unionByName _)
  }

  /** Snapshot-to-snapshot profile DIFF — the audit a validation engine
    * runs between corpus snapshot N and N+1 before anything expensive:
    * per column, both sides' exact row/null counts and min/max, the
    * approximate distinct counts, and two integer drift flags. One
    * single-pass aggregation per side (map-side combined, like
    * [[profile]]); the comparison itself is #columns rows on the driver.
    *
    * `null_rate_shift_e6` = round(1e6·(nulls_b/rows_b − nulls_a/rows_a)) —
    * a sudden null-rate jump is the classic upstream-schema-break signal;
    * `range_changed` flags min/max movement (new out-of-range values or a
    * vanished tail). Everything except the two `approx_distinct` columns
    * is exact integers/strings, so the diff hash-oracles cross-engine
    * (`q_profile_diff` drops the approx columns, as q_stats_profile drops
    * the sketches).
    */
  def profileDiff(a: DataFrame, b: DataFrame, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty)
    val sp = a.sparkSession
    import sp.implicits._
    def side(df: DataFrame): Map[String, (Long, Long, Long, String, String)] = {
      val aggs: Seq[Column] = statCols.flatMap { n =>
        val c = col(n)
        Seq(count(c).as(s"${n}__count"),
          count(when(c.isNull, 1)).as(s"${n}__nulls"),
          approx_count_distinct(c).as(s"${n}__distinct"),
          min(c).cast("string").as(s"${n}__min"),
          max(c).cast("string").as(s"${n}__max"))
      }
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0) // ONE row
      statCols.map { n =>
        n -> ((r.getAs[Long](s"${n}__count"), r.getAs[Long](s"${n}__nulls"),
          r.getAs[Long](s"${n}__distinct"),
          r.getAs[String](s"${n}__min"), r.getAs[String](s"${n}__max")))
      }.toMap
    }
    val (ma, mb) = (side(a), side(b))
    statCols.map { n =>
      val (ca, na, da, mina, maxa) = ma(n)
      val (cb, nb, db, minb, maxb) = mb(n)
      val (rowsA, rowsB) = (ca + na, cb + nb)
      val shift =
        (if (rowsB > 0) nb.toDouble / rowsB else 0.0) -
          (if (rowsA > 0) na.toDouble / rowsA else 0.0)
      (n, ca, cb, na, nb, da, db, mina, minb, maxa, maxb,
        math.round(shift * 1e6), mina != minb || maxa != maxb)
    }.toDF("column", "count_a", "count_b", "nulls_a", "nulls_b",
      "approx_distinct_a", "approx_distinct_b",
      "min_a", "min_b", "max_a", "max_b", "null_rate_shift_e6", "range_changed")
  }

  /** Long-format profile: one row per column with
    * (column, count, nulls, approxDistinct, min, max, sketch?).
    * Numeric columns also get a serialized KLL sketch for drift checks.
    */
  def profile(df0: DataFrame, kllK: Int = 200): DataFrame = {
    // a single-row-group source otherwise runs all ~5 aggregates x columns
    // in ONE task (guide §2.5; no-op on any real multi-split table). The
    // exact channels are partitioning-invariant; kll/approxDistinct are
    // estimate-plane (and the oracle pins only the exact channels).
    val df = graft.engine.Skew.ensureParallelism(df0)
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.schema.fields.filter(f => f.dataType match {
      case _: NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.BooleanType => true
      case _ => false
    })
    // ONE aggregation pass: the built-in `kll_sketch_agg_double` is a
    // typed imperative aggregate, so it forces the whole pass into
    // (interpreted) ObjectHashAggregate, but with the spread exchange
    // above, the partial aggregation runs AFTER it —
    // 32-way — and the serial cost is just the unsplittable single-task
    // read feeding the exchange. Splitting into per-family passes was
    // measured to double that serial read and lose (2.4 s vs 1.4 s).
    val aggs: Seq[Column] = cols.toSeq.flatMap { f =>
      val c = col(f.name)
      val isNum = f.dataType.isInstanceOf[NumericType]
      Seq(
        count(c).as(s"${f.name}__count"),
        count(when(c.isNull, 1)).as(s"${f.name}__nulls"),
        approx_count_distinct(c).as(s"${f.name}__distinct"),
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max")
      ) ++ (if (isNum) Seq(KllSketchAgg.kll_sketch(c, kllK).as(s"${f.name}__kll"))
            else Nil)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val out = cols.toSeq.map { f =>
      def g[T](suffix: String): T = row.getAs[T](s"${f.name}__$suffix")
      val sketch: Array[Byte] =
        if (f.dataType.isInstanceOf[NumericType]) row.getAs[Array[Byte]](s"${f.name}__kll")
        else null
      (f.name, g[Long]("count"), g[Long]("nulls"), g[Long]("distinct"),
        g[String]("min"), g[String]("max"), sketch)
    }
    out.toDF("column", "count", "nulls", "approxDistinct", "min", "max", "kll")
  }

  /** MERGEABLE per-part column profile — the stats twin of the KLL-merge
    * drift path ([[KllMergeAgg.kll_merge]]): one row per (part, column)
    * whose every field either merges EXACTLY or sketch-merges, so snapshot N+1's
    * corpus profile is yesterday's stored profile rows + today's
    * increment's rows, never a rescan of history. Per (part, column):
    *
    *  - `n` / `nulls` — exact counts (add under merge);
    *  - `min_d`/`max_d` (numeric columns, as double) and `min_s`/`max_s`
    *    (everything else, as string) — TWO typed channels because typed
    *    min/max folds exactly in its own domain while a single string
    *    channel would merge `"10" < "9"`. Integral values beyond 2^53
    *    lose double exactness — the same contract as the KLL value plane;
    *  - `sum_l` (integral columns, exact long addition) / `sum_d`
    *    (fractional, double) — the mean at any merge granularity is
    *    `sum/n` without revisiting rows;
    *  - `hll` — a DataSketches HLL blob (`hll_sketch_agg` over the
    *    string-cast value) replacing [[profileByGroup]]'s NON-mergeable
    *    `approx_count_distinct` scalar: two scalar estimates cannot be
    *    combined, two sketches union losslessly (register-wise max);
    *  - `kll` — numeric columns only: a KLL quantile-sketch blob
    *    ([[KllSketchAgg.kll_sketch]]), so merged snapshot profiles answer
    *    KS/PSI distribution drift ([[DriftStats.ksStatistic]]/[[DriftStats.psi]])
    *    without rescanning either snapshot;
    *  - `theta` — a theta value-set blob ([[ThetaSketchAgg.theta_sketch]]):
    *    per-column vocabulary CHURN between snapshots (appeared/disappeared/common,
    *    [[ProfileDrift.byPart]]'s `values_*` columns), which HLL cannot;
    *  - `freq` — a frequent-items blob ([[FreqSketchAgg]], 256 counters):
    *    per-column dominant-VALUE counts, so value-share drift reads from
    *    stored rows ([[ProfileDrift.valueCountsByPart]]).
    *
    * Known estimate-plane caveat: Spark's `hll_sketch_agg` (DataSketches
    * underneath) silently skips the EMPTY STRING like a null, so
    * `distinct_est` undercounts by exactly one when "" occurs — the exact
    * channels (`n`, `nulls`, min/max, sums) are unaffected. The theta
    * facade escapes the input in front of the built-in to count ""
    * correctly ([[ThetaSketchAgg.escape]]); the HLL column has no escape
    * and inherits the built-in's contract.
    *
    * ONE groupBy(part) over the corpus (map-side combined); the wide
    * group-count-sized result is localCheckpoint-materialized before the
    * per-column melt (the re-evaluated-subtree trap, see
    * [[profileByGroup]]).
    */
  def mergeableProfile(df: DataFrame, partCol: String, statCols: Seq[String],
                       lgK: Int = 12): DataFrame = {
    require(statCols.nonEmpty)
    val aggs = profileChannels(df, statCols, lgK)
    val wide = df.groupBy(col(partCol).as("part"))
      .agg(aggs.head, aggs.tail: _*).localCheckpoint()
    meltProfile(wide, statCols)
  }

  /** The per-column channel list behind [[mergeableProfile]]: count /
    * typed min / max / sum / HLL / KLL / theta / frequent-items sketch,
    * every one a mergeable aggregate.
    */
  private def profileChannels(df: DataFrame, statCols: Seq[String],
                              lgK: Int): Seq[Column] = {
    import org.apache.spark.sql.types._
    statCols.map(n => df.schema(n)).flatMap { f =>
      val c = col(f.name)
      val isNum = f.dataType.isInstanceOf[NumericType]
      val isIntegral = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      Seq(
        count(c).as(s"${f.name}__n"),
        count(when(c.isNull, 1)).as(s"${f.name}__nulls"),
        (if (isNum) min(c).cast("double") else lit(null).cast("double"))
          .as(s"${f.name}__min_d"),
        (if (isNum) max(c).cast("double") else lit(null).cast("double"))
          .as(s"${f.name}__max_d"),
        (if (isNum) lit(null).cast("string") else min(c).cast("string"))
          .as(s"${f.name}__min_s"),
        (if (isNum) lit(null).cast("string") else max(c).cast("string"))
          .as(s"${f.name}__max_s"),
        (if (isIntegral) sum(c.cast("long")) else lit(null).cast("long"))
          .as(s"${f.name}__sum_l"),
        (if (isNum && !isIntegral) sum(c.cast("double"))
         else lit(null).cast("double")).as(s"${f.name}__sum_d"),
        hll_sketch_agg(c.cast("string"), lgK).as(s"${f.name}__hll"),
        // numeric columns also carry a KLL quantile sketch so merged
        // profiles answer DISTRIBUTION drift (KS/PSI between snapshots'
        // merged blobs — DriftStats.ksStatistic/psi) with no rescan
        (if (isNum) KllSketchAgg.kll_sketch(c) else lit(null).cast("binary"))
          .as(s"${f.name}__kll"),
        // and a THETA value-set sketch so two snapshots' stored rows
        // answer per-column vocabulary CHURN (appeared/disappeared/
        // common — ThetaStats.setChurn), which HLL cannot
        ThetaSketchAgg.theta_sketch(c.cast("string")).as(s"${f.name}__theta"),
        // and a FREQUENT-ITEMS sketch: per-column dominant-VALUE counts
        // (exact while under the 256-counter cap), so value-share drift
        // ("lang=en share dropped") also reads from stored rows
        FreqSketchAgg.freq_sketch(c.cast("string"), 256).as(s"${f.name}__freq"))
    }
  }

  /** Melt one WIDE [[profileChannels]] row per part into the long
    * (part, column, channels…) form [[mergeProfiles]] consumes.
    */
  private def meltProfile(wide: DataFrame, statCols: Seq[String]): DataFrame =
    statCols.map { n =>
      wide.select(col("part"), lit(n).as("column"),
        col(s"${n}__n").as("n"), col(s"${n}__nulls").as("nulls"),
        col(s"${n}__min_d").as("min_d"), col(s"${n}__max_d").as("max_d"),
        col(s"${n}__min_s").as("min_s"), col(s"${n}__max_s").as("max_s"),
        col(s"${n}__sum_l").as("sum_l"), col(s"${n}__sum_d").as("sum_d"),
        col(s"${n}__hll").as("hll"), col(s"${n}__kll").as("kll"),
        col(s"${n}__theta").as("theta"), col(s"${n}__freq").as("freq"))
    }.reduce(_ unionByName _)

  /** Merge [[mergeableProfile]] rows (any subset of parts — days, buckets,
    * sources, prior snapshots) into one profile row per column WITHOUT
    * touching raw data: counts and sums add, min/max fold in their typed
    * channels, HLL blobs union (`hll_union_agg`), and `distinct_est` is
    * the DataSketches estimate of the merged sketch, rounded to long. The
    * merged `hll` blob is kept so merged profiles RE-merge; the exact
    * channels are merge-shape-invariant, while `distinct_est` may shift a
    * hair with merge shape (the union gadget's HLL_4/HLL_8 mode
    * transitions) but stays within HLL error — MergeableProfileSpec pins
    * both properties. The input is
    * parts×columns rows — metadata-sized; this never scans the corpus.
    *
    * Exactness contract (oracle `q_profile_merge` pins it): `n`, `nulls`,
    * `min_*`, `max_*`, `sum_l` are EXACT under merge — equal to a direct
    * whole-corpus aggregate; only `distinct_est` (and float `sum_d`,
    * addition-order-dependent) is approximate (HllProfileSpec bounds it
    * against the exact distinct count).
    */
  def mergeProfiles(parts: DataFrame): DataFrame =
    parts.groupBy(col("column"))
      .agg(sum("n").as("n"), sum("nulls").as("nulls"),
        min("min_d").as("min_d"), max("max_d").as("max_d"),
        min("min_s").as("min_s"), max("max_s").as("max_s"),
        sum("sum_l").as("sum_l"), sum("sum_d").as("sum_d"),
        hll_union_agg(col("hll"), true).as("hll"),
        // non-numeric columns carry NULL kll parts (skipped by the merge)
        // and surface as an EMPTY sketch blob
        KllMergeAgg.kll_merge(col("kll")).as("kll"),
        ThetaMergeAgg.theta_merge(col("theta")).as("theta"),
        FreqMergeAgg.freq_merge(col("freq"), 256).as("freq"))
      .withColumn("distinct_est",
        round(hll_sketch_estimate(col("hll"))).cast("long"))
}

/** Per-PART drift between two stored [[ColumnStats.mergeableProfile]]
  * frames — the grouped face of the stored-profile drift path: a corpus
  * never drifts uniformly, it drifts one source / bucket / day at a time,
  * and the global report dilutes a poisoned part. Consumes ONLY the
  * stored rows (parts×columns-sized — a report, not data): per (part,
  * column) — exact row/null counts both sides, exact null-rate shift
  * (e6-quantized), HLL distinct estimates, and KS + PSI between the two
  * KLL blobs where both sides carry a distribution (numeric, non-empty).
  * Parts present on one side only surface with `status` added/removed
  * rather than vanishing — a new source IS the alarm condition.
  */
object ProfileDrift {
  /** `maxRows` bounds the driver collect (default 100k (part, column)
    * rows ≈ tens of MB of sketch blobs): a parts frame keyed on an
    * unbounded-cardinality column is a misuse — repartition the corpus
    * into bounded parts (buckets, days, known sources) first.
    */
  def byPart(prevParts: org.apache.spark.sql.DataFrame,
             curParts: org.apache.spark.sql.DataFrame,
             maxRows: Int = 100000): org.apache.spark.sql.DataFrame = {
    val spark = prevParts.sparkSession
    def side(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.select("part", "column", "n", "nulls", "hll", "kll", "theta")
        .limit(maxRows + 1).collect()
      require(rows.length <= maxRows,
        s"profile drift: more than $maxRows (part, column) rows — bound the " +
          "part key (buckets/days/known sources) or raise maxRows")
      rows
        .map(r => (r.get(0).toString, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3),
            r.getAs[Array[Byte]](4), r.getAs[Array[Byte]](5),
            r.getAs[Array[Byte]](6))))
        .toMap
    }
    val (a, b) = (side(prevParts), side(curParts))
    def est(hll: Array[Byte]): Long =
      if (hll == null) 0L
      else math.round(org.apache.datasketches.hll.HllSketch
        .heapify(org.apache.datasketches.memory.Memory.wrap(hll)).getEstimate)
    def nullRate(n: Long, nulls: Long): Double =
      if (n + nulls > 0) nulls.toDouble / (n + nulls) else 0.0
    def hasDist(kll: Array[Byte]): Boolean =
      kll != null && kll.nonEmpty && DriftStats.sketchOf(kll).getN > 0
    val out = (a.keySet ++ b.keySet).toSeq.sorted.map { key =>
      val (pa, pb) = (a.get(key), b.get(key))
      val status =
        if (pa.isEmpty) "added" else if (pb.isEmpty) "removed" else "present"
      val (na, nua, ka) = pa.map(p => (p._1, p._2, p._4)).getOrElse((0L, 0L, null))
      val (nb, nub, kb) = pb.map(p => (p._1, p._2, p._4)).getOrElse((0L, 0L, null))
      val (ks, psi) =
        if (hasDist(ka) && hasDist(kb))
          (DriftStats.ksStatistic(ka, kb), DriftStats.psi(ka, kb))
        else (0.0, 0.0)
      // value-set churn from the theta blobs (exact in exact mode):
      // which distinct values appeared / disappeared in this part+column
      val (vOnlyPrev, vOnlyCur, vCommon) = (pa.map(_._5), pb.map(_._5)) match {
        case (Some(ta), Some(tb)) =>
          val (oa, ob, c, _, _, _) = ThetaStats.setChurn(ta, tb)
          (oa.toLong, ob.toLong, c.toLong)
        case (Some(ta), None) => (math.round(ThetaStats.estimate(ta)), 0L, 0L)
        case (None, Some(tb)) => (0L, math.round(ThetaStats.estimate(tb)), 0L)
        case _ => (0L, 0L, 0L)
      }
      (key._1, key._2, status, na, nb, nua, nub,
        math.round((nullRate(nb, nub) - nullRate(na, nua)) * 1e6),
        pa.map(p => est(p._3)).getOrElse(0L), pb.map(p => est(p._3)).getOrElse(0L),
        vOnlyPrev, vOnlyCur, vCommon,
        math.round(ks * 1e6), math.round(psi * 1e6))
    }
    import spark.implicits._
    out.toDF("part", "column", "status", "n_prev", "n_cur", "nulls_prev",
      "nulls_cur", "null_rate_shift_e6", "distinct_prev", "distinct_cur",
      "values_only_prev", "values_only_cur", "values_common",
      "ks_e6", "psi_e6")
  }

  /** Per-(part, column, VALUE) count deltas from the stored profiles'
    * frequent-items blobs — the count plane under [[byPart]]'s set plane:
    * which VALUE surged or faded in which part ("lang=en share dropped
    * in source 7"). Exact integers wherever neither side's sketch purged
    * (`exact` per row); NO_FALSE_NEGATIVES estimates otherwise. Same
    * bounded driver shape as [[byPart]].
    */
  def valueCountsByPart(prevParts: org.apache.spark.sql.DataFrame,
                        curParts: org.apache.spark.sql.DataFrame,
                        maxRows: Int = 100000): org.apache.spark.sql.DataFrame = {
    import org.apache.datasketches.frequencies.ErrorType
    val spark = prevParts.sparkSession
    def side(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.select("part", "column", "freq").limit(maxRows + 1).collect()
      require(rows.length <= maxRows,
        s"value-count drift: more than $maxRows (part, column) rows — bound the part key")
      rows.map(r => (r.get(0).toString, r.getString(1)) ->
        FreqStats.sketchOf(r.getAs[Array[Byte]](2))).toMap
    }
    val (a, b) = (side(prevParts), side(curParts))
    def items(sk: Option[org.apache.datasketches.frequencies.ItemsSketch[String]]) =
      sk.map(_.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .map(r => r.getItem -> r.getEstimate).toMap).getOrElse(Map.empty[String, Long])
    val out = (a.keySet ++ b.keySet).toSeq.sorted.flatMap { key =>
      val (ia, ib) = (items(a.get(key)), items(b.get(key)))
      val exact = a.get(key).forall(_.getMaximumError == 0L) &&
        b.get(key).forall(_.getMaximumError == 0L)
      (ia.keySet ++ ib.keySet).toSeq.sorted.map { item =>
        val (np, nc) = (ia.getOrElse(item, 0L), ib.getOrElse(item, 0L))
        (key._1, key._2, item, np, nc, nc - np, exact)
      }
    }
    import spark.implicits._
    out.toDF("part", "column", "item", "n_prev", "n_cur", "delta", "exact")
  }
}

/** KS / PSI distribution-drift comparison between two KLL sketches
  * (reference-free north-star capability; sketches come from
  * [[ColumnStats.profile]] or [[KllSketchAgg.kll_sketch]], Spark's
  * built-in `kll_sketch_agg_double`).
  */
object DriftStats {

  def sketchOf(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  /** PER-SOURCE merged drift baselines: merge each source's stored sketch
    * blobs (daily/per-partition profile rows) into one baseline sketch per
    * source — the grouped composition of [[KllMergeAgg.kll_merge]], and
    * the sketch-side counterpart of [[psiExactByGroup]]'s convention
    * that a 10^12-doc corpus drifts one source at a time. ONE
    * map-side-combined groupBy over the (tiny, sketch-blob-sized) profile
    * table; raw rows are never rescanned. Per-source `n`/min/max of the
    * merged sketch are EXACT (oracle `q_kll_merge_by_source`); quantiles
    * are within KLL error of a from-scratch per-source sketch
    * (KllMergeSpec).
    */
  def mergedBaselinesBySource(daily: DataFrame, source: String = "source",
                              kll: String = "kll", k: Int = 200): DataFrame =
    daily.groupBy(col(source))
      .agg(KllMergeAgg.kll_merge(col(kll), k).as("kll"))

  /** Two-sample Kolmogorov-Smirnov statistic: sup |F1(x) - F2(x)| evaluated
    * on the union of both sketches' quantile grids.
    */
  def ksStatistic(a: Array[Byte], b: Array[Byte], gridSize: Int = 201): Double = {
    val s1 = sketchOf(a); val s2 = sketchOf(b)
    if (s1.isEmpty || s2.isEmpty) return if (s1.isEmpty && s2.isEmpty) 0.0 else 1.0
    val qs = (0 to gridSize).map(_.toDouble / gridSize)
    val grid = (qs.map(s1.getQuantile) ++ qs.map(s2.getQuantile)).distinct.sorted
    grid.map(x => math.abs(s1.getRank(x) - s2.getRank(x))).max
  }

  /** EXACT two-sample KS computed distributively — the oracle twin of the
    * sketch-based [[ksStatistic]]. The only corpus-scale work is ONE
    * side-tagged group-count on the value (map-side combined); the counts
    * frame (V = distinct-value rows) is localCheckpoint-materialized, so
    * the cumulative pass, the totals windows, AND the guard below all read
    * the materialized V rows — the corpus is scanned exactly once
    * (formerly twice; this also makes the operator eager at construction,
    * like [[psiExact]]).
    *
    * The one documented scale caveat — the cumulative window sorts all V
    * distinct values in ONE unpartitioned task — is now guarded instead of
    * advisory: when V > `maxDistinct`, the distinct values auto-bin into
    * `maxDistinct` equal-width buckets FIRST (a group-count over the
    * materialized V rows — still no corpus re-scan) and the KS runs over
    * bin right-edges. Binned KS is exact for the binned distributions and
    * within the largest bin's combined mass of the unbinned statistic; a
    * warning records the degradation. Set `maxDistinct = Int.MaxValue` to
    * force the exact path regardless.
    *
    * Returns ONE row (ks: double, n_a: long, n_b: long); ks = sup over the
    * merged value grid of |F_a(x) − F_b(x)| with F right-continuous
    * (cumulative counts / total — the textbook discrete two-sample KS).
    */
  def ksExact(a: DataFrame, b: DataFrame, valueCol: String,
              maxDistinct: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinct > 0, s"maxDistinct must be positive, got $maxDistinct")
    val u = a.select(col(valueCol).cast("double").as("v"), lit("a").as("side"))
      .unionByName(b.select(col(valueCol).cast("double").as("v"), lit("b").as("side")))
      .filter(col("v").isNotNull)
    val counts0 = u.groupBy("v").agg(
      count(when(col("side") === "a", 1)).as("ca"),
      count(when(col("side") === "b", 1)).as("cb"))
      .localCheckpoint()
    val v = counts0.count() // V rows, already materialized — no corpus pass
    val counts = if (v <= maxDistinct) counts0 else {
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"ksExact: $v distinct values exceed maxDistinct=$maxDistinct — " +
          s"auto-binning to $maxDistinct equal-width buckets (KS becomes " +
          "exact-for-binned; error bounded by the largest bin's mass)")
      val r = counts0.agg(min("v").as("lo"), max("v").as("hi")).collect()(0)
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val width = (hi - lo) / maxDistinct.toDouble
      val bin =
        if (hi == lo) lit(0L)
        else least(floor((col("v") - lit(lo)) / lit(width)), lit(maxDistinct - 1L))
          .cast("bigint")
      // KS compares CDFs at bin RIGHT edges: all of a bin's mass sits at
      // or before its right edge in both the binned and true CDFs
      counts0.groupBy(bin.as("b"))
        .agg(sum("ca").as("ca"), sum("cb").as("cb"))
        .select((lit(lo) + (col("b") + 1) * lit(width)).as("v"),
          col("ca"), col("cb"))
    }
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals as FRAME-WIDE windows over the same sorted counts — a separate
    // totals aggregate would re-evaluate the whole counts subtree (plan
    // audit: TWO extra corpus scans; the per-call observe-free subtree was
    // still not reuse-deduped), and these windows share the one sort
    val wAll = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("na", sum("ca").over(wAll))
      .withColumn("nb", sum("cb").over(wAll))
      .agg(
        max(abs(col("cum_a").cast("double") / col("na").cast("double") -
          col("cum_b").cast("double") / col("nb").cast("double"))).as("ks"),
        first(col("na")).as("n_a"), first(col("nb")).as("n_b"))
  }

  /** EXACT PSI twin of the sketch-based [[psi]]: equal-width bins over the
    * combined [min, max] range, per-bin mass from a distributed group-count
    * (the one corpus-scale shuffle; `buckets` rows out), zero-mass bins
    * floored at eps. Returns PER-BIN rows (bin, cnt_a, cnt_b, term) so a
    * cross-engine check can pin each bin's contribution independently of
    * floating-point summation order; total PSI = Σ term.
    */
  def psiExact(a: DataFrame, b: DataFrame, valueCol: String,
               buckets: Int = 10, eps: Double = 1e-4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = a.select(col(valueCol).cast("double").as("v"), lit("a").as("side"))
      .unionByName(b.select(col(valueCol).cast("double").as("v"), lit("b").as("side")))
      .filter(col("v").isNotNull)
    // lo/hi as DRIVER scalars (the pageRank dangling-mass budget: two
    // doubles) instead of a crossJoin'd range subquery: the range subtree
    // was re-evaluated inside every reference to the binned counts — the
    // plan audit counted EIGHT corpus scans for one psiExact call. Two
    // passes remain (range, counts): the inherent minimum for exact
    // equal-width bins over an unknown range. NOTE: this makes the
    // operator eager at construction.
    val rangeRow = u.agg(min("v").as("lo"), max("v").as("hi")).collect()(0)
    val (lo, hi) =
      if (rangeRow.isNullAt(0)) (0.0, 0.0)
      else (rangeRow.getDouble(0), rangeRow.getDouble(1))
    val width = (hi - lo) / buckets.toDouble
    val bin =
      if (hi == lo) lit(0L)
      else least(floor((col("v") - lit(lo)) / lit(width)),
        lit(buckets - 1L)).cast("bigint")
    val counts = u.groupBy(bin.as("bin")).agg(
      count(when(col("side") === "a", 1)).as("cnt_a"),
      count(when(col("side") === "b", 1)).as("cnt_b"))
    // totals as frame-wide windows over the ≤buckets-row counts frame
    // (see ksExact) — a totals aggregate re-evaluated the counts subtree
    val wAll = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("na", sum("cnt_a").over(wAll))
      .withColumn("nb", sum("cnt_b").over(wAll))
      .withColumn("p", greatest(col("cnt_a").cast("double") / col("na").cast("double"), lit(eps)))
      .withColumn("q", greatest(col("cnt_b").cast("double") / col("nb").cast("double"), lit(eps)))
      .select(col("bin"), col("cnt_a"), col("cnt_b"),
        ((col("p") - col("q")) * log(col("p") / col("q"))).as("term"))
  }

  /** [[ksExact]] computed independently PER GROUP — and, unlike the global
    * form, the cumulative window here partitions BY GROUP, so no
    * single-task global sort exists at all: each group's distinct values
    * sort within their own partition. One-sided groups (na or nb = 0)
    * report ks = 1.0 (the absent side's CDF is identically 0 — maximal
    * drift) instead of crashing on ANSI 0/0. Returns (group, ks, n_a,
    * n_b).
    */
  def ksExactByGroup(a: DataFrame, b: DataFrame, valueCol: String,
                     groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = a.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"),
        lit("a").as("side"))
      .unionByName(b.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"), lit("b").as("side")))
      .filter(col("v").isNotNull)
    val counts = u.groupBy("g", "v").agg(
      count(when(col("side") === "a", 1)).as("ca"),
      count(when(col("side") === "b", 1)).as("cb"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def cdf(cum: Column, n: Column): Column =
      when(n > 0, cum.cast("double") / n.cast("double")).otherwise(lit(0.0))
    counts
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("na", sum("ca").over(wAll))
      .withColumn("nb", sum("cb").over(wAll))
      .groupBy("g")
      .agg(max(abs(cdf(col("cum_a"), col("na")) - cdf(col("cum_b"), col("nb")))).as("ks"),
        first(col("na")).as("n_a"), first(col("nb")).as("n_b"))
      .select(col("g").as(groupCol), col("ks"), col("n_a"), col("n_b"))
  }

  /** [[psiExact]] computed independently PER GROUP (per-source / per-lang
    * drift — the operational form: a 10^12-doc corpus never drifts
    * uniformly, it drifts one crawl/source at a time). Per-group equal-width
    * bins over each group's own combined [min, max]: the range pass is one
    * group-count-sized aggregate broadcast back onto the stream (never a
    * driver collect — groups may be many), the bin counts one exchange with
    * map-side combine, and per-group totals come from a `partitionBy(group)`
    * frame-wide window over the ≤buckets-row count frames (no re-evaluated
    * totals subtree — see [[psiExact]]'s plan-audit note). Two corpus
    * passes total, the exact minimum for unknown ranges. Returns
    * (group, bin, cnt_a, cnt_b, term); per-group PSI = Σ term over the
    * group's rows.
    */
  def psiExactByGroup(a: DataFrame, b: DataFrame, valueCol: String,
                      groupCol: String, buckets: Int = 10,
                      eps: Double = 1e-4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = a.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"),
        lit("a").as("side"))
      .unionByName(b.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"), lit("b").as("side")))
      .filter(col("v").isNotNull)
    val range = u.groupBy("g").agg(min("v").as("lo"), max("v").as("hi"))
    val width = (col("hi") - col("lo")) / lit(buckets.toDouble)
    val binned = u.join(broadcast(range), Seq("g"))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor((col("v") - col("lo")) / width),
            lit(buckets - 1L))).cast("bigint"))
    val counts = binned.groupBy("g", "bin").agg(
      count(when(col("side") === "a", 1)).as("cnt_a"),
      count(when(col("side") === "b", 1)).as("cnt_b"))
    val wg = Window.partitionBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // one-sided groups (a source present in only ONE snapshot) must not
    // crash on 0/0 under ANSI: the absent side's mass floors at eps in
    // every bin — the standard "new/vanished category" PSI convention,
    // which correctly reports such a group as maximally drifted
    counts
      .withColumn("na", sum("cnt_a").over(wg))
      .withColumn("nb", sum("cnt_b").over(wg))
      .withColumn("p", greatest(when(col("na") > 0,
        col("cnt_a").cast("double") / col("na").cast("double"))
        .otherwise(lit(0.0)), lit(eps)))
      .withColumn("q", greatest(when(col("nb") > 0,
        col("cnt_b").cast("double") / col("nb").cast("double"))
        .otherwise(lit(0.0)), lit(eps)))
      .select(col("g").as(groupCol), col("bin"), col("cnt_a"), col("cnt_b"),
        ((col("p") - col("q")) * log(col("p") / col("q"))).as("term"))
  }

  /** Population-stability index over `buckets` equal-width bins spanning the
    * combined range. Zero-mass bins are floored at eps (standard practice).
    */
  def psi(a: Array[Byte], b: Array[Byte], buckets: Int = 10, eps: Double = 1e-4): Double = {
    val s1 = sketchOf(a); val s2 = sketchOf(b)
    if (s1.isEmpty || s2.isEmpty) return 0.0
    val lo = math.min(s1.getMinItem, s2.getMinItem)
    val hi = math.max(s1.getMaxItem, s2.getMaxItem)
    if (lo == hi) return 0.0
    val edges = (0 to buckets).map(i => lo + (hi - lo) * i / buckets)
    def mass(s: KllDoublesSketch, l: Double, r: Double, last: Boolean): Double = {
      val rr = if (last) 1.0 else s.getRank(r)
      math.max(rr - s.getRank(l), 0.0)
    }
    (0 until buckets).map { i =>
      val p = math.max(mass(s1, edges(i), edges(i + 1), i == buckets - 1), eps)
      val q = math.max(mass(s2, edges(i), edges(i + 1), i == buckets - 1), eps)
      (p - q) * math.log(p / q)
    }.sum
  }
}
