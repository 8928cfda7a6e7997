package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** Match-rate summary statistics and distance diagnostics
  * (reference: cocoa/nearest_consented_customers.py:90-143).
  */
object Summary {

  /** Per-noconsent-row distance to the nearest matched neighbor
    * (`distance_to_nearest_neighbor`, reference :365-367): min over the
    * selected pairs. Output: cohort…, nc_idx, nc_value,
    * distance_to_nearest_neighbor. */
  def nearestDistances(selectedPairs: DataFrame, spec: CohortSpec): DataFrame =
    selectedPairs
      .groupBy((spec.cohortCols ++ Seq("nc_idx", "nc_value")).map(col(_)): _*)
      .agg(min("dist").as("distance_to_nearest_neighbor"))

  /** The 4-column summary frame
    * (`summary_statistics_matched_conversions`, reference :126-138), one row
    * per cohort. `noconsent` is the full cleaned noconsent cohort;
    * `matchedNc` is [[nearestDistances]] output (one row per MATCHED row).
    *
    * percentage_matched_conversion_value = matched value / total value × 100
    * percentage_matched_conversions      = matched rows / total rows × 100
    */
  def matchedSummary(noconsent: DataFrame, matchedNc: DataFrame, spec: CohortSpec): DataFrame = {
    val cohort = spec.cohortCols
    val totals = noconsent.groupBy(cohort.map(col(_)): _*)
      .agg(sum(col(spec.valueCol).cast("double")).as("__tot_value"),
           count(lit(1)).as("__tot_n"))
    val matched = matchedNc.groupBy(cohort.map(col(_)): _*)
      .agg(sum("nc_value").as("total_matched_conversion_value"),
           count(lit(1)).as("number_matched_conversions"))
    val joined =
      if (cohort.nonEmpty) totals.join(matched, cohort, "left")
      else totals.crossJoin(matched)
    joined.select((cohort.map(col(_)) ++ Seq(
      (coalesce(col("total_matched_conversion_value"), lit(0.0)) / col("__tot_value") * 100)
        .as("percentage_matched_conversion_value"),
      (coalesce(col("number_matched_conversions"), lit(0L)) / col("__tot_n") * 100)
        .as("percentage_matched_conversions"),
      coalesce(col("number_matched_conversions"), lit(0L))
        .as("number_matched_conversions"),
      coalesce(col("total_matched_conversion_value"), lit(0.0))
        .as("total_matched_conversion_value"))): _*)
  }

  /** Exact linear-interpolation quantile of nearest-neighbor distances —
    * the percentile-strategy radius (reference :140-143 `Series.quantile`,
    * which is numpy linear interpolation; Spark's exact `percentile`
    * matches — SURVEY §7.4.6. percentile_approx would NOT). Driver-side
    * scalar: this feeds the second pass as a literal. */
  def minRadiusByPercentile(matchedNc: DataFrame, p: Double): Double =
    matchedNc
      .agg(expr(s"percentile(distance_to_nearest_neighbor, $p)"))
      .first().getDouble(0)

  /** Cohort-scoped percentile radius. The reference derives the radius per
    * pipeline run — i.e. per date (:518-523 runs inside the per-date DoFn) —
    * so a multi-cohort run must compute the quantile within each cohort, not
    * pooled over all of them (ADVICE r01). Output: (cohort…, __radius), one
    * row per cohort — dimension-sized, broadcast into the radius filter by
    * [[NeighborJoin.withinRadiusPerCohort]]. No cohort columns ⇒ one global
    * row (the single-date case, where this equals
    * [[minRadiusByPercentile]]). */
  def minRadiusByPercentilePerCohort(matchedNc: DataFrame, p: Double,
                                     spec: CohortSpec): DataFrame =
    matchedNc
      .groupBy(spec.cohortCols.map(col(_)): _*)
      .agg(expr(s"percentile(distance_to_nearest_neighbor, $p)").as("__radius"))

  /** Scale path for [[minRadiusByPercentilePerCohort]]: the SAME exact
    * linear-interpolation quantile, computed without the exact `percentile`
    * aggregate. Spark's exact `percentile` buffers every distinct value per
    * group (an OpenHashMap in the aggregation buffer) — at 100 TB the
    * distances are near-all-distinct and that buffer IS the dataset, so the
    * aggregate spills or dies. This twin stays exact with bounded memory:
    *
    *  1. Pass 1 (one shuffle, partial-agg): per cohort, `count` + an
    *     `approx_percentile` sketch (rank error ≤ n/accuracy) bracketing
    *     the two order statistics the interpolation needs — probe
    *     percentiles p ± 3/accuracy, so the bracket's rank slack (≥ 2n/
    *     accuracy) covers the sketch's error with 2× margin.
    *  2. Pass 2 (one shuffle of the BRACKET only): count values strictly
    *     below the bracket, rank the ≤ ~6n/accuracy bracket rows per cohort,
    *     pick order statistics j = ⌊(n−1)p⌋ and j+1 by rank arithmetic, and
    *     interpolate v_j + g·(v_{j+1} − v_j) — bit-identical to numpy /
    *     Spark exact `percentile` (test-pinned, ties and tiny cohorts
    *     included).
    *
    * The per-cohort window touches only bracket rows — memory is
    * O(n/accuracy) per cohort by construction, tunable independently of
    * data size. If a sketch ever violated its published bound the rank
    * arithmetic would miss the bracket and the cohort's radius comes back
    * NULL rather than wrong (callers treat null as "raise accuracy");
    * with the 3× margin this is unreachable in any tested regime.
    * Output: (cohort…, __radius) — drop-in for the exact twin. */
  def minRadiusByPercentilePerCohortScalable(
      matchedNc0: DataFrame, p: Double, spec: CohortSpec,
      accuracy: Int = 10000): DataFrame = {
    require(p > 0 && p <= 1, s"percentile must be in (0, 1], got $p")
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    val d = col("distance_to_nearest_neighbor")
    val coh = spec.cohortCols
    // three consumers scan the input (sketch pass, below-count, bracket
    // rank) and its lineage is typically an expensive kNN join — pin it
    // across the passes. Re-measured r7 after the banded-input pins (BenchOne n=3,
    // sf0.1, 16 cores): q69 ≈ 2.5 s vs q16's single-pass exact percentile
    // 1.75 s — the twin pays ~0.75 s of fixed multi-pass stage overhead
    // (cache build + two broadcast agg passes + bracket window); its value
    // is the bounded O(n/accuracy) per-cohort memory where the exact
    // aggregate's all-distinct-values buffer dies. At the 10× replica the
    // twin runs ~7 s. Without this pin the kNN input lineage would run
    // two more times on top of that.
    val matchedNc = Boundary.pin(matchedNc0)
    val eps = 3.0 / accuracy
    val qlo = math.max(0.0, p - eps)
    val qhi = math.min(1.0, p + eps)
    val brackets = matchedNc.groupBy(coh.map(col(_)): _*)
      .agg(count(lit(1)).as("__n"),
        expr(s"approx_percentile(distance_to_nearest_neighbor, " +
          s"array($qlo, $qhi), $accuracy)").as("__b"))
      .select(coh.map(col(_)) ++ Seq(col("__n"),
        col("__b").getItem(0).as("__lo"), col("__b").getItem(1).as("__hi"),
        floor((col("__n") - 1).cast("double") * lit(p)).cast("long").as("__j"),
        ((col("__n") - 1).cast("double") * lit(p) -
          floor((col("__n") - 1).cast("double") * lit(p))).as("__g")): _*)
    // cohort-keyed scalars: dimension-sized by contract — broadcast both
    // joins so the data side never reshuffles
    def withMeta(df: DataFrame, meta: DataFrame, how: String = "inner") =
      if (coh.nonEmpty) df.join(broadcast(meta), coh, how)
      else df.crossJoin(broadcast(meta))
    val joined = withMeta(matchedNc, brackets)
    // Small-cohort guard: the interpolation index (n−1)p sits up to one
    // full rank below the sketch's target p·n, and one rank is MORE than
    // the 3/accuracy probe margin once n < accuracy·p/2 (n = 2, p = 0.95:
    // the sketch correctly returns v₁ while the interpolation needs v₀).
    // A cohort with n ≤ 4·accuracy is already bracket-sized, so it skips
    // the bracket filter and ranks wholesale — same O(accuracy) window
    // bound; for n > 4·accuracy the rank slack 2n/accuracy ≥ 8 covers the
    // sketch error n/accuracy plus the ±1 index gap with 2× margin.
    val small = col("__n") <= lit(4L * accuracy)
    val below = joined.filter(!small && d < col("__lo"))
      .groupBy(coh.map(col(_)): _*).agg(count(lit(1)).as("__below"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coh.map(col(_)): _*).orderBy(d.asc)
    val ranked = withMeta(
      joined.filter(small || (d >= col("__lo") && d <= col("__hi")))
        .withColumn("__rn", row_number().over(w)),
      below, "left")
      .withColumn("__r0", col("__j") + 1 - coalesce(col("__below"), lit(0L)))
    ranked.groupBy(coh.map(col(_)): _*)
      .agg(max(when(col("__rn") === col("__r0"), d)).as("__vj"),
        max(when(col("__rn") === col("__r0") + 1, d)).as("__vj1"),
        first(col("__j")).as("__j"), first(col("__g")).as("__g"),
        first(col("__n")).as("__n"))
      .select(coh.map(col(_)) :+
        when(col("__j") === col("__n") - 1 || col("__g") === 0.0, col("__vj"))
          .otherwise(col("__vj") + col("__g") * (col("__vj1") - col("__vj")))
          .as("__radius"): _*)
  }

  /** `.describe(percentiles=[.25,.5,.75,.9,.95,.99])`-shaped diagnostics
    * over nearest distances (reference :117-123), one row per cohort. */
  def nearestDistanceStats(matchedNc: DataFrame, spec: CohortSpec): DataFrame = {
    val d = col("distance_to_nearest_neighbor")
    matchedNc.groupBy(spec.cohortCols.map(col(_)): _*).agg(
      count(lit(1)).as("count"),
      avg(d).as("mean"),
      stddev_samp(d).as("std"),
      min(d).as("min"),
      expr("percentile(distance_to_nearest_neighbor, 0.25)").as("p25"),
      expr("percentile(distance_to_nearest_neighbor, 0.5)").as("p50"),
      expr("percentile(distance_to_nearest_neighbor, 0.75)").as("p75"),
      expr("percentile(distance_to_nearest_neighbor, 0.9)").as("p90"),
      expr("percentile(distance_to_nearest_neighbor, 0.95)").as("p95"),
      expr("percentile(distance_to_nearest_neighbor, 0.99)").as("p99"),
      max(d).as("max"))
  }

  /** Per-group winsorization: clip `valueCol` to its group's
    * [pLo, pHi] exact interpolated percentiles — the outlier-capping
    * pass feature pipelines run before normalization (heavy-tailed spend /
    * length columns). Plan: ONE partial-aggregated percentile pass over
    * the groups (the bounds relation is |groups| rows), broadcast back,
    * clip as a narrow projection. The bounds stay attached to each row so
    * downstream audits see WHAT was clipped, and `clipped` flags it. */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                pLo: Double, pHi: Double): DataFrame =
    winsorizeWithBounds(df, valueCol, groupCols,
      winsorizeBounds(df, valueCol, groupCols, pLo, pHi))

  /** The per-group clip bounds relation (|groups| rows). Bounds are
    * ROUNDED (4 dp, the shared +1e-9 convention) before any comparison:
    * an interpolated percentile is a float whose last ulp can differ
    * across engines, and a clip threshold must not. */
  def winsorizeBounds(df: DataFrame, valueCol: String, groupCols: Seq[String],
                      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    df.groupBy(groupCols.map(col(_)): _*)
      .agg(Num.rnd(expr(s"percentile($valueCol, $pLo)"), 4).as("lo"),
           Num.rnd(expr(s"percentile($valueCol, $pHi)"), 4).as("hi"))
  }

  /** Per-group z-score normalization — the feature-scaling pass every
    * training pipeline runs before numeric features meet a model. ONE
    * partial-aggregated pass computes each group's (mean, stddev) — a
    * |groups|-row relation — broadcast back, then the scaled value is a
    * narrow projection. Groups with zero variance (or a single row, where
    * sample stddev is null) emit z = 0 rather than NaN/null — the
    * convention that keeps constant features harmless downstream. Stats
    * stay attached for audit, like [[winsorize]]'s bounds. */
  def zscore(df: DataFrame, valueCol: String, groupCols: Seq[String]): DataFrame = {
    val stats = df.groupBy(groupCols.map(col(_)): _*)
      .agg(avg(valueCol).as("mu"), stddev_samp(col(valueCol)).as("sigma"))
    df.join(broadcast(stats), groupCols)
      .withColumn("z",
        when(col("sigma").isNull || col("sigma") === 0.0, lit(0.0))
          .otherwise((col(valueCol) - col("mu")) / col("sigma")))
  }

  /** Clip against a precomputed bounds relation — a stateless broadcast
    * join + projection, so it runs unchanged over a STREAM (stream-static
    * join): compute [[winsorizeBounds]] over history in batch, apply to
    * live events as they arrive. This split is exactly how a production
    * pipeline streams a two-pass operator whose first pass (global
    * percentiles) has no streaming form. */
  def winsorizeWithBounds(df: DataFrame, valueCol: String,
                          groupCols: Seq[String], bounds: DataFrame): DataFrame =
    df.join(broadcast(bounds), groupCols)
      .withColumn("v_clip", least(greatest(col(valueCol), col("lo")), col("hi")))
      .withColumn("clipped", (col(valueCol) < col("lo") || col(valueCol) > col("hi")))

  /** Robust per-group outlier detection via MAD (median absolute
    * deviation): robust_z = (v − median) / (1.4826·MAD), flagged when
    * |robust_z| > k. The mean/stddev z-score ([[zscore]]) lets the
    * outliers it hunts inflate its own scale; median/MAD have a 50%
    * breakdown point. Two percentile passes (median, then the deviation
    * median — the second is inherently sequential to the first) with the
    * tiny per-group stats broadcast back each time; the data is scanned
    * twice, shuffled never. Both stats are rounded to 4 dp BEFORE the
    * score: the score and the k-threshold flag then compute from identical
    * decimals in any engine — an unrounded interpolated percentile could
    * differ by an ulp across engines and flip a boundary row's flag.
    * Degenerate groups (MAD = 0, ≥ half the values at the median) score 0,
    * like [[zscore]]'s sigma = 0 convention. */
  def madOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val med = df.groupBy(groupCols.map(col(_)): _*)
      .agg(graft.Num.rnd(expr(s"percentile($valueCol, 0.5)"), 4).as("med"))
    val withMed = df.join(broadcast(med), groupCols)
    val mad = withMed.groupBy(groupCols.map(col(_)): _*)
      .agg(graft.Num.rnd(expr(s"percentile(abs($valueCol - med), 0.5)"), 4)
        .as("mad"))
    val z = when(col("mad") === 0.0, lit(0.0))
      .otherwise((col(valueCol) - col("med")) / (lit(1.4826) * col("mad")))
    withMed.join(broadcast(mad), groupCols)
      .withColumn("robust_z", z)
      .withColumn("outlier", (abs(z) > k).cast("long"))
  }

  /** Per-group equal-width histogram: `bins` buckets spanning the group's
    * [min, max]. Two aggregation passes — a tiny per-group (min, max)
    * relation broadcast back, then the bin counts — so the data is scanned
    * twice but shuffled only as pre-aggregated (group, bin) rows. The bin
    * index is pure IEEE-754 binary64 arithmetic `(v − mn) / width`,
    * identical in any engine (no transcendental calls, so no cross-engine
    * ulp risk); the group max lands exactly on `bins` and is clamped into
    * the last bucket, and a degenerate group (mn = mx) collapses to bin 0.
    * Output: (group…, bin, bin_lo, bin_hi, n) — empty bins are absent
    * (sparse), the contract a downstream plotter densifies itself. */
  def histogram(df: DataFrame, valueCol: String, groupCols: Seq[String],
                bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val stats = df.groupBy(groupCols.map(col(_)): _*)
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
    val w = (col("__mx") - col("__mn")) / lit(bins.toDouble)
    df.join(broadcast(stats), groupCols)
      .withColumn("bin",
        when(col("__mx") === col("__mn"), lit(0L)).otherwise(
          least(floor((col(valueCol) - col("__mn")) / w), lit(bins - 1L))
            .cast("long")))
      .groupBy(groupCols.map(col(_)) :+ col("bin") :+ col("__mn") :+ col("__mx"): _*)
      .agg(count(lit(1)).as("n"))
      .select(groupCols.map(col(_)) ++ Seq(col("bin"),
        graft.Num.rnd(col("__mn") + col("bin") * w, 4).as("bin_lo"),
        graft.Num.rnd(col("__mn") + (col("bin") + 1) * w, 4).as("bin_hi"),
        col("n")): _*)
  }

  /** Per-group EQUI-DEPTH bins — the equal-frequency counterpart of
    * [[histogram]]'s equal-width buckets: the feature-quantization pass
    * (decile binning) a training pipeline runs to turn a skewed numeric
    * column into a uniform categorical one. `nBins − 1` interior
    * percentile boundaries per group (ONE sort-based exact-percentile
    * pass, |groups| rows), broadcast back, then each row's bin is the
    * count of boundaries strictly below its value — a narrow projection —
    * and the rollup is one partial-aggregated shuffle on
    * (group, bin). Boundaries are rounded (4 dp, [[winsorizeBounds]]'
    * convention) BEFORE any comparison so the bin assignment compares
    * identical decimals in any engine; v_min/v_max per bin are selections
    * of input doubles, rounded 6 dp only in the final projection. Groups
    * with heavy ties produce collapsed (empty) bins — equal-frequency is
    * best-effort under ties, matching every SQL NTILE-family caveat, but
    * unlike NTILE the assignment is a pure function of the VALUE (ties
    * always share a bin — no arbitrary row split). */
  def equiDepthBins(df: DataFrame, valueCol: String, groupCols: Seq[String],
                    nBins: Int = 10): DataFrame =
    binWithBounds(df, valueCol, groupCols,
      equiDepthBounds(df, valueCol, groupCols, nBins))
      .groupBy(groupCols.map(col(_)) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"),
        graft.Num.rnd(min(col(valueCol)), 6).as("v_min"),
        graft.Num.rnd(max(col(valueCol)), 6).as("v_max"))

  /** The per-group quantile-boundary relation (|groups| rows, `nBins − 1`
    * rounded interior percentiles each) — compute once on a batch
    * snapshot, feed [[binWithBounds]] over batch or stream. */
  def equiDepthBounds(df: DataFrame, valueCol: String, groupCols: Seq[String],
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val fr = (1 until nBins).map(i => i.toDouble / nBins)
    df.groupBy(groupCols.map(col(_)): _*)
      .agg(expr(s"percentile($valueCol, array(${fr.mkString(", ")}))").as("__raw"))
      .select(groupCols.map(col(_)) :+
        transform(col("__raw"), b => graft.Num.rnd(b, 4)).as("__bounds"): _*)
  }

  /** Per-row bin assignment against a PRECOMPUTED per-group `__bounds`
    * array — a stateless broadcast join + projection, so it runs unchanged
    * over a STREAM (stream-static join, the [[winsorizeWithBounds]]
    * pattern): freeze the quantile grid on a batch snapshot, quantize the
    * live feed against it — the online feature-quantization deployment
    * shape, where retraining (not the stream) moves the boundaries. */
  def binWithBounds(df: DataFrame, valueCol: String, groupCols: Seq[String],
                    bounds: DataFrame): DataFrame =
    // LEFT join: in the stream-static deployment a live row may carry a
    // group the frozen snapshot never saw — it must land in bin 0 (no
    // boundaries below it), not silently vanish. The same coalesce covers
    // a group whose values were ALL null at fit time (null bounds array —
    // DuckDB's list_filter over null-result predicates also yields len 0).
    df.join(broadcast(bounds), groupCols, "left")
      .withColumn("bin",
        coalesce(size(filter(col("__bounds"), b => col(valueCol) > b)), lit(0))
          .cast("long"))
      .drop("__bounds")
}
