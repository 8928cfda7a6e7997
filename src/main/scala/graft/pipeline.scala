package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** Results of one adjustment run: the adjusted consent cohort (one row per
  * consent row — cardinality preserved, reference test
  * cocoa/nearest_consented_customers_test.py:186-193) and the per-cohort
  * summary frame. */
final case class AdjustmentResult(adjusted: DataFrame, summary: DataFrame)

/** End-to-end orchestration — the Spark translation of
  * `pipeline.py:200-239` (per-date DoFn) + the strategy wrapper
  * `get_adjustments_and_summary_calculations`
  * (cocoa/nearest_consented_customers.py:470-524).
  *
  * The whole per-date computation is ONE lazy DataFrame plan (scan → clean →
  * union → encode → similarity join → softmax window → hash aggregate →
  * broadcast left join); dates are processed together, scoped by
  * `spec.cohortCols`, instead of the reference's one-date-per-worker loop —
  * this is what lets 1000 executors chew 100 TB: parallelism comes from
  * shuffle partitioning within AND across dates, not a driver-side date loop.
  */
object CocoaPipeline {

  /** Clean both cohorts, union with the consent flag (shared feature space),
    * and split back — faithful to preprocess.concatenate_and_process_data
    * (cocoa/preprocess.py:108-148). Returns (noconsent, consent). */
  def prepare(noconsentRaw: DataFrame, consentRaw: DataFrame, cfg: JobConfig,
              catCols: Seq[String], tokenCol: String = "features"): (DataFrame, DataFrame) = {
    val ncClean = cfg.cleanFn(Preprocess.clean(noconsentRaw, cfg.conversionCol))
    val cClean = cfg.cleanFn(Preprocess.clean(consentRaw, cfg.conversionCol))
    val unioned = cfg.featureFn(
        Preprocess.unionWithConsentFlag(ncClean, cClean).drop(cfg.dropCols: _*))
      .withColumn(tokenCol, Preprocess.tokenFeatures(catCols))
      .drop(catCols: _*)
    Preprocess.splitByConsent(unioned)
  }

  /** One adjustment run under any [[MatchStrategy]]. `consent`/`noconsent`
    * must already carry `spec.tokenCol` (+ numeric features). */
  def run(consent: DataFrame, noconsent: DataFrame, spec: CohortSpec,
          strategy: MatchStrategy,
          broadcastConsent: Boolean = false): AdjustmentResult = {
    lazy val allPairs = NeighborJoin.pairs(consent, noconsent, spec, broadcastConsent)
    strategy match {
      // Fixed k with a single numeric feature: the banded exact top-k —
      // never materializes the |NC|×|C| pairs relation (near-linear at a
      // 10× replica where the dense expansion is ~quadratic; equivalence
      // pinned by PropertySpec and q58's shared oracle).
      case MatchStrategy.K(k) if k >= 1 && spec.numCols.size == 1 =>
        finish(consent, noconsent,
          NeighborJoin.topKBanded(consent, noconsent, spec, k.toInt,
            broadcastConsent), spec)
      case MatchStrategy.K(k) =>
        finish(consent, noconsent,
          NeighborJoin.topK(allPairs, spec, k, Some(consent)), spec)
      case MatchStrategy.Radius(r) =>
        // Static radius: the band-pruned join (necessary |Δx| ≤ r condition
        // on the first numeric feature) replaces the dense pairs relation.
        finish(consent, noconsent,
          NeighborJoin.withinRadiusBucketed(consent, noconsent, spec, r), spec)
      case MatchStrategy.Percentile(p) =>
        // Two-pass plan (reference :518-523): pass 1 = k=1 nearest distances;
        // radius = exact quantile PER COHORT (the reference computes it per
        // date because one pipeline run covers one date — pooling across
        // cohorts would deviate; ADVICE r01); pass 2 = radius join with the
        // dimension-sized radii frame broadcast. Only the pass-1
        // nearest-distance relation (O(|NC|) rows) is worth holding —
        // caching the full pairs relation costs more in columnar-cache build
        // than recomputing the (codegen'd) distance join for pass 2.
        // Both passes take the band-pruned paths when a numeric feature
        // exists (banded top-1, per-cohort-width bucket radius join) — the
        // dense pairs relation is never built; equivalence pinned by
        // PropertySpec.
        // No pipeline-level cohort persist: pass 1's banded prep already
        // pins the prefixed cohort projections (bandPrep c0/nc0,
        // Boundary.pin), and pass 2's radius join builds the IDENTICAL
        // projection — it hits that cache by plan equality. The r8
        // pipeline-level persists only built a second copy of the same
        // relation (measured r9: removing them cut q18 ~5.6 → 4.7 s steady
        // at sf0.1 with canaries flat); the r7 "cohort prep ran twice"
        // cost they targeted was really the pre-spread 1-task scan.
        val pass1 =
          if (spec.numCols.size == 1)
            NeighborJoin.topKBanded(consent, noconsent, spec, 1, broadcastConsent)
          else NeighborJoin.topK(allPairs, spec, 1.0)
        val nearest = Summary.nearestDistances(pass1, spec)
          .transform(Boundary.pin)
        val radii = Summary.minRadiusByPercentilePerCohort(nearest, p, spec)
        finish(consent, noconsent,
          NeighborJoin.withinRadiusBucketedPerCohort(consent, noconsent, radii, spec,
            broadcastConsent), spec)
    }
  }

  private def finish(consent: DataFrame, noconsent: DataFrame,
                     selected: DataFrame, spec: CohortSpec): AdjustmentResult = {
    // The selected-pairs relation (O(k·|NC|) rows) fans out to four
    // consumers (scatter-add, weights, naive numerator, summary); pin it
    // so the expensive upstream similarity join runs once, like the
    // reference's once-fitted matcher.
    val sel = Boundary.pin(selected)
    val shares = Adjust.softmaxShares(sel, spec)
    val adjusted = Adjust.distribute(consent, shares, spec)
    val matchedNc = Summary.nearestDistances(sel, spec)
    val summary = Summary.matchedSummary(noconsent, matchedNc, spec)
    AdjustmentResult(adjusted, summary)
  }

}
