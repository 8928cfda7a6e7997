package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** Shape of a prepared cohort fed to the neighbor join: both sides must
  * share it (the reference hard-checks identical feature columns,
  * cocoa/nearest_consented_customers.py:266-284).
  *
  * @param idCol      unique row id within (cohortCols) scope
  * @param valueCol   conversion value
  * @param tokenCol   ArrayType(StringType) one-hot token set
  * @param numCols    numeric passthrough feature columns
  * @param cohortCols match scope (per-date in the reference pipeline)
  */
final case class CohortSpec(
    idCol: String,
    valueCol: String,
    tokenCol: String = "features",
    numCols: Seq[String] = Nil,
    cohortCols: Seq[String] = Nil,
    metric: DistanceMetric = Manhattan)

/** The kNN / radius similarity join (reference:
  * cocoa/nearest_consented_customers.py:145-264 — sklearn brute-force over
  * a CSR matrix, single machine). Spark-native design:
  *
  *  1. [[pairs]] — the candidate-pairs relation `(cohort…, nc_idx, nc_value,
  *     c_idx, c_value, dist)`. Within-cohort matching is an equi-join on the
  *     cohort keys (shuffle-partitioned both sides → co-located cross
  *     product per cohort, never a global cross join). With no cohort keys
  *     the consent side is broadcast (small-dim case). Distance is a
  *     codegen'd column expression — no UDF.
  *  2. [[topK]] — exact k smallest per noconsent row via window row_number,
  *     ties broken by c_idx (sklearn ties are index-ordered; SURVEY §7.4.1).
  *  3. [[graft.TopKAgg.topK]] — same result through a typed bounded-heap
  *     Aggregator: one partial-aggregate pass, no per-group full sort /
  *     no shuffle of all pairs; equivalence is pinned by CocoaInvariantsSpec.
  *  4. [[withinRadius]] — the theta variant (dist <= r).
  *
  * Scale paths beyond the brute pairs relation: [[topKBanded]] /
  * [[topKBandedProportional]] (exact, per-probe adaptive radius from the
  * 1-D k-NN distance), [[withinRadiusBucketed]] /
  * [[withinRadiusBucketedPerCohort]] (numeric band prune) and
  * [[withinRadiusLsh]] (MinHash-banded token prune) — each equivalence- or
  * oracle-pinned against its dense twin.
  */
object NeighborJoin {

  /** Build the candidate pairs relation.
    *
    * Physical strategy:
    *  - `broadcastConsent` — broadcast-hash join; the probe (noconsent)
    *    side is explicitly repartitioned on its unique row id first, because
    *    a small parquet input arrives as ONE partition and would serialize
    *    the whole |NC|×|C| expansion onto one core.
    *  - otherwise a shuffle equi-join on the cohort keys. Cohort keys are
    *    low-cardinality (dates), so `salt > 1` appends `nc_idx mod salt` to
    *    the join key (consent side exploded ×salt) — parallelism becomes
    *    cohorts × salt instead of cohorts. This is the plan shape that
    *    scales to a 1000-executor cluster on skewed per-date cohorts.
    */
  def pairs(consent: DataFrame, noconsent: DataFrame, spec: CohortSpec,
            broadcastConsent: Boolean = false, salt: Int = 1): DataFrame = {
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    val joined =
      if (broadcastConsent) {
        // Explicit partition count: with a bare repartition(col), AQE sees
        // only the (tiny) pre-join size and coalesces back to one partition,
        // serializing the whole pair expansion onto one core.
        val n = nc0.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val nc = nc0.repartition(n, col("nc_idx"))
        if (spec.cohortCols.nonEmpty) nc.join(broadcast(c0), spec.cohortCols)
        else nc.crossJoin(broadcast(c0))
      } else if (salt > 1) {
        val ncS = nc0.withColumn("__salt", pmod(col("nc_idx"), lit(salt)).cast("int"))
        val cS = c0.withColumn("__salt", explode(array((0 until salt).map(lit(_)): _*)))
        ncS.join(cS, spec.cohortCols :+ "__salt").drop("__salt")
      } else {
        if (spec.cohortCols.nonEmpty) nc0.join(c0, spec.cohortCols)
        else nc0.crossJoin(c0)
      }
    val numPairs = spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n")))
    joined
      .withColumn("dist", spec.metric.dist(col("nc_features"), col("c_features"), numPairs))
      .drop((Seq("nc_features", "c_features") ++
        spec.numCols.flatMap(n => Seq(s"nc_$n", s"c_$n"))): _*)
  }

  private def prefixed(df: DataFrame, spec: CohortSpec, p: String): DataFrame = {
    val cols =
      spec.cohortCols.map(col(_)) ++ Seq(
        col(spec.idCol).as(p + "idx"),
        col(spec.valueCol).cast("double").as(p + "value"),
        col(spec.tokenCol).as(p + "features")) ++
        spec.numCols.map(n => col(n).cast("double").as(p + n))
    df.select(cols: _*)
  }

  /** Resolve the reference's proportional-k: `k < 1` means
    * `int(k * |consent|)` (cocoa/nearest_consented_customers.py:145-147).
    * Cohort-scoped when cohort keys are present. Returns a per-cohort k
    * DataFrame (`cohort…, __k`) or a constant. */
  def resolveK(consent: DataFrame, spec: CohortSpec, k: Double): Either[Int, DataFrame] =
    if (k >= 1) Left(k.toInt)
    else Right(
      consent.groupBy(spec.cohortCols.map(col(_)): _*)
        .agg(floor(lit(k) * count(lit(1))).cast("int").as("__k")))

  /** Exact top-k per noconsent row: window row_number over (dist, c_idx). */
  def topK(pairs: DataFrame, spec: CohortSpec, k: Double,
           consentForProportional: Option[DataFrame] = None): DataFrame = {
    val w = Window
      .partitionBy((spec.cohortCols :+ "nc_idx").map(col(_)): _*)
      .orderBy(col("dist").asc, col("c_idx").asc)
    val ranked = pairs.withColumn("rank", row_number().over(w))
    if (k >= 1) ranked.filter(col("rank") <= k.toInt)
    else {
      val perCohort = resolveK(
        consentForProportional.getOrElse(
          throw new IllegalArgumentException(
            "proportional k requires the consent cohort")), spec, k)
        .toOption.get
      val joined =
        if (spec.cohortCols.nonEmpty) ranked.join(broadcast(perCohort), spec.cohortCols)
        else ranked.crossJoin(broadcast(perCohort))
      joined.filter(col("rank") <= col("__k")).drop("__k")
    }
  }

  /** Radius (theta) refinement; unmatched rows recovered by the caller with
    * an anti-join (reference keeps them for the summary,
    * cocoa/nearest_consented_customers.py:176-182,362-364). */
  def withinRadius(pairs: DataFrame, radius: Double): DataFrame =
    pairs.filter(col("dist") <= radius)

  /** Exact radius join via numeric band pruning. Both supported metrics
    * bound the distance below by the first numeric feature's gap
    * (manhattan: dist = tokenΔ + Σ|Δxᵢ| ≥ |Δx₁|; euclidean:
    * dist = √(tokenΔ + ΣΔxᵢ²) ≥ |Δx₁|), so |Δx₁| ≤ r is a NECESSARY
    * condition for dist ≤ r: bucket both sides by floor(x₁/r) and join each
    * noconsent bucket against consent buckets {b−1, b, b+1} (a band join),
    * then apply the exact dist ≤ r filter. Output is identical to
    * `withinRadius(pairs(c, nc, spec), r)` — pinned by the equivalence test
    * in CocoaInvariantsSpec — but the candidate relation shrinks from the
    * per-cohort cross product to the rows within ±1 bucket of each probe:
    * near-linear when r is small against the feature's spread, and a plain
    * shuffle equi-join on (cohort…, bucket) — no broadcast requirement, the
    * shape that survives a 100× cohort. Falls back to the dense pairs
    * relation when the spec has no numeric feature. */
  def withinRadiusBucketed(consent: DataFrame, noconsent: DataFrame,
                           spec: CohortSpec, radius: Double): DataFrame = {
    require(radius > 0, s"radius must be > 0, got $radius")
    // cosine: no |Δx| bound exists, but for r < 1 (sim threshold s = 1 − r
    // > 0) the quadratic cosine bound yields a per-probe admissible
    // x-interval — the same machinery as the cosine top-k, with the
    // constant radius as the threshold. r ≥ 1 admits sim ≤ 0 pairs, which
    // the bound cannot prune — dense fallback.
    if (spec.numCols.size == 1 && spec.metric == Cosine && radius < 1.0) {
      val prep = bandPrep(consent, noconsent, spec)
      val probes = (if (spec.cohortCols.nonEmpty)
          prep.nc0.join(broadcast(prep.cStats), spec.cohortCols)
        else prep.nc0.crossJoin(broadcast(prep.cStats)))
        .withColumn("__dk", lit(radius))
      return cosineBandCandidates(probes, prep.c0, spec)
        .select(spec.cohortCols.map(col(_)) ++ Seq(col("nc_idx"),
          col("nc_value"), col("c_idx"), col("c_value"), col("dist")): _*)
    }
    if (spec.numCols.isEmpty || !spec.metric.boundsNumericGap)
      return withinRadius(pairs(consent, noconsent, spec), radius)
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    val x = spec.numCols.head
    val cB = c0.withColumn("__bucket", floor(col(s"c_$x") / radius).cast("long"))
    val ncB = nc0.withColumn("__bucket", explode(array(Seq(-1L, 0L, 1L).map(d =>
      floor(col(s"nc_$x") / radius).cast("long") + lit(d)): _*)))
    val numPairs = spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n")))
    ncB.join(cB, spec.cohortCols :+ "__bucket")
      .withColumn("dist", spec.metric.dist(col("nc_features"), col("c_features"), numPairs))
      .filter(col("dist") <= radius)
      .drop((Seq("__bucket", "nc_features", "c_features") ++
        spec.numCols.flatMap(n => Seq(s"nc_$n", s"c_$n"))): _*)
  }

  /** Radius join with MinHash-LSH candidate pruning — the near-linear scale
    * path the dense pairs relation can't offer. A pair at dist ≤ r has
    * token-part distance ≤ B (manhattan: B = r, since dist = tokenΔ + Σ|Δx|
    * ≥ tokenΔ; euclidean: B = r², since dist² = tokenΔ + ΣΔx²), i.e.
    * |a∩b| ≥ (|a|+|b|−B)/2, i.e. Jaccard ≥ (|a|+|b|−B)/(|a|+|b|+B) —
    * increasing in |a|+|b|, so every qualifying pair has
    * J ≥ t = (2·sₘᵢₙ−B)/(2·sₘᵢₙ+B) with sₘᵢₙ the smallest token set in
    * either cohort (two scalar aggs). Banding from [[graft.ops.Dedup
    * .bandingFor]](t) then admits every such pair w.p. ≥ 1−1e-9; the exact
    * `dist ≤ r` verification admits no false positives, so the output
    * equals [[withinRadius]] on the dense relation (equivalence pinned by
    * CocoaInvariantsSpec). Candidates come from an equi-join on
    * (cohort…, band, bandKey) — shuffle O((|C|+|NC|)·bands), never the
    * per-cohort cross product. The token bound B comes from
    * [[DistanceMetric.tokenBound]] (manhattan r, euclidean r², chebyshev 0
    * for r < 1); falls back to the dense pairs relation when the metric has
    * no bound (cosine, chebyshev r ≥ 1) or the bound is vacuous
    * (r ≥ 2·sₘᵢₙ ⇒ t ≤ 0: the radius spans whole token sets and nothing
    * can be pruned). */
  def withinRadiusLsh(consent: DataFrame, noconsent: DataFrame,
                      spec: CohortSpec, radius: Double): DataFrame = {
    require(radius > 0, s"radius must be > 0, got $radius")
    val tokenBound = spec.metric.tokenBound(radius) match {
      case Some(b) => b
      case None => // metric admits no token bound at this radius — dense
        return withinRadius(pairs(consent, noconsent, spec), radius)
    }
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    val minSize = (df: DataFrame, c: String) =>
      Option(df.agg(min(size(col(c)))).head().get(0)).map(_.asInstanceOf[Int])
    val smin = for {
      a <- minSize(c0, "c_features"); b <- minSize(nc0, "nc_features")
    } yield math.min(a, b)
    val t = smin.map(s => (2.0 * s - tokenBound) / (2.0 * s + tokenBound))
    // dense fallback when nothing can be pruned soundly: empty side, bound
    // vacuous (r spans whole token sets), or no banding within the hash
    // budget reaches the 1e-9 miss bound at this threshold (shallow S-curve
    // — silently using a weaker banding would break the equals-dense
    // contract).
    val banding = t.filter(_ > 0).flatMap(graft.ops.Dedup.bandingWithin(_))
    if (banding.isEmpty)
      return withinRadius(pairs(consent, noconsent, spec), radius)
    val (bands, rows) = banding.get
    val seeds = graft.ops.Dedup.Seeds.take(bands * rows)
    val P = graft.ops.TextAnalysis.P
    // Band DISTINCT TOKEN SIGNATURES, not rows: category token universes
    // are low-cardinality, so whole clusters of rows share one token set —
    // banding rows would re-collide every identical-set pair in all b bands
    // (measured 35 s at sf0.1 from the band×cluster² duplication alone).
    // |sigs| ≤ min(|rows|, Π|category domains|); with per-row-unique sets
    // this degrades gracefully to row-level banding.
    val sigs = c0.select(col("c_features").as("features"))
      .union(nc0.select(col("nc_features").as("features")))
      .distinct()
      .withColumn("__tsig", xxhash64(col("features")))
    // token set → [0,P) hash set (the MinHash family's domain; a mod-P
    // collision merges two category tokens — vanishing for category-sized
    // universes, and it can only shift J, never break the exact verify)
    val hashed = transform(col("features"), tk => pmod(xxhash64(tk), lit(P)))
    val sig = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.MinHashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(hashed),
        seeds.map(_._1), seeds.map(_._2)))
    val bandKey = (b: Int) =>
      xxhash64((0 until rows).map(r => col("__sig")(b * rows + r)): _*)
    val buckets = sigs
      .withColumn("__sig", sig)
      .select(col("features"), col("__tsig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
      .select(col("features"), col("__tsig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Directed signature pairs (nc side × c side, self-pairs included:
    // identical sigs agree in every band), exact-verified on the token
    // bound. No broadcast hint: with category-sized token universes this
    // relation is tiny and auto-broadcasts; with per-row-unique sets it is
    // output-sized and must stay a shuffle join — a forced broadcast would
    // OOM exactly at the scale this path exists for.
    val iSize = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.TokenIntersectionSize(
          org.apache.spark.sql.graftbridge.Bridge.expression(a),
          org.apache.spark.sql.graftbridge.Bridge.expression(b)))
    val sigPairs = buckets.as("x").join(buckets.as("y"), Seq("band", "key"))
      .select(col("x.__tsig").as("__tsig_nc"), col("y.__tsig").as("__tsig_c"),
        col("x.features").as("fa"), col("y.features").as("fb"))
      .filter(size(col("fa")) + size(col("fb"))
        - lit(2) * iSize(col("fa"), col("fb")) <= tokenBound)
      .select("__tsig_nc", "__tsig_c")
      .distinct()
    val numPairs = spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n")))
    nc0.withColumn("__tsig_nc", xxhash64(col("nc_features")))
      .join(sigPairs, "__tsig_nc")
      .join(c0.withColumn("__tsig_c", xxhash64(col("c_features"))),
        spec.cohortCols :+ "__tsig_c")
      .withColumn("dist", spec.metric.dist(col("nc_features"), col("c_features"), numPairs))
      .filter(col("dist") <= radius)
      .drop((Seq("__tsig_nc", "__tsig_c", "nc_features", "c_features") ++
        spec.numCols.flatMap(n => Seq(s"nc_$n", s"c_$n"))): _*)
  }

  /** Cohort-scoped radius refinement: `radii` is (cohort…, __radius) — one
    * row per cohort, so it broadcasts; the filter happens map-side on the
    * pairs relation with no extra shuffle. */
  def withinRadiusPerCohort(pairs: DataFrame, radii: DataFrame,
                            cohortCols: Seq[String]): DataFrame = {
    val joined =
      if (cohortCols.nonEmpty) pairs.join(broadcast(radii), cohortCols)
      else pairs.crossJoin(broadcast(radii))
    joined.filter(col("dist") <= col("__radius")).drop("__radius")
  }

  /** Per-cohort-radius join WITHOUT the dense pairs relation — the
    * band-pruned twin of [[withinRadiusPerCohort]] (same output, pinned by
    * PropertySpec), with the bucket width set per cohort from its own
    * radius. Same necessary-condition argument as [[withinRadiusBucketed]]:
    * dist ≥ |Δx₁| under both metrics, so |Δx₁| ≤ r prunes soundly. Falls
    * back to the dense relation when the spec has no numeric feature. */
  def withinRadiusBucketedPerCohort(consent: DataFrame, noconsent: DataFrame,
                                    radii: DataFrame, spec: CohortSpec,
                                    broadcastConsent: Boolean = false): DataFrame = {
    // cosine: per-cohort radii ride the shared interval prune — the radius
    // is just a per-row distance threshold (__dk). Cohorts whose radius
    // admits sim ≤ 0 (r ≥ 1) make their probes wild and take the wildcard
    // (dense per-cohort) tier automatically — no special-casing.
    if (spec.numCols.size == 1 && spec.metric == Cosine) {
      val coh = spec.cohortCols
      val prep = bandPrep(consent, noconsent, spec)
      def joinCoh(df: DataFrame, small: DataFrame): DataFrame =
        if (coh.nonEmpty) df.join(broadcast(small), coh)
        else df.crossJoin(broadcast(small))
      val probes = joinCoh(joinCoh(prep.nc0, prep.cStats),
        radii.select(coh.map(col(_)) :+ col("__radius").as("__dk"): _*))
      return cosineBandCandidates(probes, prep.c0, spec)
        .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"),
          col("c_idx"), col("c_value"), col("dist")): _*)
    }
    if (spec.numCols.isEmpty || !spec.metric.boundsNumericGap)
      return withinRadiusPerCohort(
        pairs(consent, noconsent, spec, broadcastConsent), radii, spec.cohortCols)
    val coh = spec.cohortCols
    val x = spec.numCols.head
    // zero/negative radii (quantile of exact-duplicate distances) still
    // need a positive bucket width for the floor(x/w) keys
    val widths = radii.withColumn("__w", greatest(col("__radius"), lit(1e-6)))
    def joinCoh(df: DataFrame): DataFrame =
      if (coh.nonEmpty) df.join(broadcast(widths), coh)
      else df.crossJoin(broadcast(widths))
    val cB = joinCoh(prefixed(consent, spec, "c_"))
      .withColumn("__bucket", floor(col(s"c_$x") / col("__w")).cast("long"))
      .drop("__w", "__radius")
    val ncB = joinCoh(prefixed(noconsent, spec, "nc_"))
      .withColumn("__bucket", explode(array(Seq(-1L, 0L, 1L).map(d =>
        floor(col(s"nc_$x") / col("__w")).cast("long") + lit(d)): _*)))
    val numPairs = spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n")))
    ncB.join(cB, coh :+ "__bucket")
      .withColumn("dist", spec.metric.dist(col("nc_features"), col("c_features"), numPairs))
      .filter(col("dist") <= col("__radius"))
      .drop((Seq("__bucket", "__w", "__radius", "nc_features", "c_features") ++
        spec.numCols.flatMap(n => Seq(s"nc_$n", s"c_$n"))): _*)
  }

  /** Map-side top-k prune: within each input partition keep only the k
    * best candidates per (cohort…, nc_idx) group, preserving the schema.
    * This is the "partial aggregation" half of a scale-proof top-k — the
    * shuffle that follows carries O(k · |NC| · #partitions-touched) rows
    * instead of the full |NC|×|C| pairs relation. */
  def topKLocalPrune(pairs: DataFrame, spec: CohortSpec, k: Int): DataFrame = {
    import scala.collection.mutable
    val schema = pairs.schema
    val keyIdxs = (spec.cohortCols :+ "nc_idx").map(schema.fieldIndex)
    val distIdx = schema.fieldIndex("dist")
    val cIdxIdx = schema.fieldIndex("c_idx")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    pairs.mapPartitions { it =>
      // per-group bounded max-heap ordered by (dist, c_idx): the head is the
      // current worst retained candidate.
      type Entry = (Double, Long, org.apache.spark.sql.Row)
      val ord: Ordering[Entry] = Ordering.by(e => (e._1, e._2))
      val heaps = mutable.HashMap.empty[Seq[Any], mutable.PriorityQueue[Entry]]
      it.foreach { row =>
        val key = keyIdxs.map(row.get)
        val e: Entry = (row.getDouble(distIdx),
          row.getAs[Number](cIdxIdx).longValue(), row)
        val h = heaps.getOrElseUpdate(key, mutable.PriorityQueue.empty(ord))
        if (h.size < k) h.enqueue(e)
        else if (ord.lt(e, h.head)) { h.dequeue(); h.enqueue(e) }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._3))
    }
  }

  /** Exact fixed-k top-k with map-side combine: local prune, then the exact
    * window rank on the (now tiny) survivor set. Result is identical to
    * [[topK]] — pinned by CocoaInvariantsSpec — with a shuffle that stays O(k·|NC|). */
  def topKCombined(pairs: DataFrame, spec: CohortSpec, k: Int): DataFrame =
    topK(topKLocalPrune(pairs, spec, k), spec, k.toDouble)

  /** Proportional k (k = frac·|cohort consent|) through the banded path,
    * with EACH cohort's adaptive radius derived from its OWN resolved k —
    * not the max across cohorts (running the band at kMax widened every
    * small cohort's ±k window and radius to the biggest cohort's, measured
    * 53 s at the 10× replica vs q58's ~13 s; the per-cohort k restores the
    * banded family's near-linear shape). A cohort resolving to k = 0 emits
    * nothing, matching the dense path's `rank <= 0` filter (the validated
    * matcher route rejects that configuration earlier). Result equals
    * [[topK]] with proportional resolution — same oracle as q39. */
  def topKBandedProportional(consent: DataFrame, noconsent: DataFrame,
                             spec: CohortSpec, frac: Double,
                             broadcastConsent: Boolean = false): DataFrame = {
    require(frac > 0 && frac < 1, s"proportional k must be in (0,1), got $frac")
    if (spec.numCols.size == 1 && spec.metric == Cosine) {
      val perCohort = resolveK(consent, spec, frac)
        .getOrElse(throw new IllegalStateException("unreachable: frac < 1"))
      return topKCosineBandedImpl(consent, noconsent, spec, Right(perCohort))
    }
    spec.metric match {
      case Hamming(_) if spec.numCols.size <= 1 =>
        val perCohort = resolveK(consent, spec, frac)
          .getOrElse(throw new IllegalStateException("unreachable: frac < 1"))
        return topKHammingImpl(consent, noconsent, spec, Right(perCohort))
      case _ => ()
    }
    if (spec.numCols.size != 1 || spec.metric.bandBound.isEmpty)
      return topK(pairs(consent, noconsent, spec, broadcastConsent), spec, frac,
        Some(consent))
    val perCohort = resolveK(consent, spec, frac)
      .getOrElse(throw new IllegalStateException("unreachable: frac < 1"))
    topKBandedImpl(consent, noconsent, spec, Right(perCohort))
  }

  /** Exact top-k WITHOUT the dense pairs relation — the plan that survives a
    * 100× cohort (measured: the dense |NC|×|C| expansion is ~quadratic, 105 s
    * at a 10× sf0.1 replica where this path holds near-linear).
    *
    * Exactness argument, per noconsent row i (x = the single numeric
    * feature; both metrics bound dist ≥ |Δx|):
    *
    *  1. The k consent rows nearest to i by |Δx| ALONE sit within ranks
    *     [pos−k+1, pos+k] of the cohort's x-sorted consent order, where pos =
    *     #{consent with x < nc.x} (|Δx| grows monotonically walking away from
    *     the insertion point, ties included). c_x is monotone in rank, so
    *     every row in that window has |Δx| ≤ D := max(gap at the window's
    *     clamped endpoint ranks) — an upper bound on the exact 1-D k-NN
    *     distance, derived from just the two endpoint rows.
    *  2. Each of those k rows has full dist ≤ bound(D): manhattan
    *     D + B, euclidean √(D² + B), with B = |nc tokens| + max |c tokens|
    *     ≥ any token-part distance. So the TRUE k-th best dist ≤ bound(D).
    *  3. Any consent row in the true top-k therefore has
    *     |Δx| ≤ dist ≤ bound(D) — the adaptive per-row radius r_i. The
    *     bucket band join below admits every row with |Δx| ≤ r_i, i.e. a
    *     SUPERSET of the true top-k; the exact (dist, c_idx) window rank on
    *     that superset selects identical rows to [[topK]] on the dense
    *     relation (equivalence pinned by PropertySpec; q58 shares q09's
    *     oracle).
    *
    * Plan shape: two rank windows over (|C|+|NC|) rows, an explode-equi-join
    * of 2k ranks per probe (shuffle O(k·|NC|)), and a TWO-TIER bucket band
    * join — every shuffle is keyed and near-linear; nothing materializes
    * |NC|×|C|.
    *
    * Two-tier band width (skew hardening): a single probe in a sparse x
    * region has a huge adaptive radius r_i; with one cohort-wide bucket
    * width W = max r_i that ONE probe used to widen every bucket, inflating
    * every other probe's candidate set (the self-identified skew risk of
    * rounds 2–3). Instead the cohort's band width is the ~p99 of its radii:
    * probes with r_i ≤ W go through the bucket band join (≤ 3 buckets each,
    * candidates from a ±W window — tight for the bulk); the few wide-radius
    * probes (≤ ~1% by construction) fall back to a per-cohort dense
    * equi-join filtered by |Δx| ≤ r_i. Both tiers produce a superset of
    * their probes' true top-k and each probe rides exactly one tier, so the
    * final (dist, c_idx) window rank over the union is exact. Measured on a
    * skewed cohort (one planted far-x probe per cohort, sf0.1): see
    * DESIGN.md §10.
    *
    * Falls back to the dense path when the spec has no single numeric
    * feature (the 1-D bound needs exactly one: with extra numeric columns
    * dist ≥ |Δx₁| still holds but step 2's bound does not;
    * `broadcastConsent` is forwarded there).
    *
    * Global cohort scope (`cohortCols == Nil`) is also scale-safe: a bare
    * window there would funnel all |C|+|NC| rows through ONE sort task, so
    * the rank / position passes switch to the range-partitioned
    * zipWithIndex shape ([[Preprocess.withRowIdsDistributed]] /
    * [[Preprocess.withRunningFlagCount]] — per-partition offsets from a
    * tiny count job, no single-task stage). Same rows, pinned by the
    * PropertySpec equivalences, which all run with `cohortCols = Nil`.
    *
    * A NULL/NaN numeric feature is invalid input (sklearn raises; the
    * matcher rejects it on the validated route) — unvalidated callers get a
    * clear per-row error here instead of dense's silent nulls-first ranking
    * or a cryptic element_at failure. */
  def topKBanded(consent: DataFrame, noconsent: DataFrame,
                 spec: CohortSpec, k: Int,
                 broadcastConsent: Boolean = false): DataFrame = {
    require(k >= 1, s"topKBanded needs a fixed k >= 1, got $k")
    if (spec.numCols.size == 1 && spec.metric == Cosine)
      return topKCosineBandedImpl(consent, noconsent, spec, Left(k))
    spec.metric match {
      case Hamming(_) if spec.numCols.size <= 1 =>
        return topKHammingImpl(consent, noconsent, spec, Left(k))
      case _ => ()
    }
    if (spec.numCols.size != 1 || spec.metric.bandBound.isEmpty)
      return topK(pairs(consent, noconsent, spec, broadcastConsent), spec, k.toDouble)
    topKBandedImpl(consent, noconsent, spec, Left(k))
  }

  /** Shared probe-prep of the banded top-k family (manhattan/euclidean/
    * chebyshev AND the cosine variant): guarded prefixed projections, the
    * cohort-scoped consent x-rank relation, per-cohort consent stats
    * (count, min/max token-set size — dimension-sized, broadcast), and each
    * probe's insertion position in the consent x-order.
    *
    * The prefixed projections feed 3-4 consumers (rank window, pos union,
    * probe/candidate sides) and ARE persisted (MEMORY_AND_DISK). Earlier
    * rounds left them unpersisted (recompute-per-consumer measured cheaper
    * for the PAIRS relation), but the banded prep re-ran the source
    * scan+broadcast-join as 6 sequential single-task stages (~0.4 s each at
    * sf0.1, the single-parquet-file partition) — re-measured r7: persisting
    * cut q16 5.7 → 2.6 s and q58 3.8 → 2.8 s steady-state. The cached
    * relation is the NARROW projection (id, value, features, x, cohort) —
    * column-pruned well below the source table — and spills to disk at
    * scale.
    *
    * With NO cohort scope a bare window would funnel all rows through one
    * task, so the global forms switch to the range-partitioned zipWithIndex
    * / running-count shapes ([[Preprocess.withRowIdsDistributed]] /
    * [[Preprocess.withRunningFlagCount]] — per-partition offsets from a
    * tiny count job, no single-task stage). */
  private final case class BandPrep(c0: DataFrame, nc0: DataFrame,
                                    cRanked: DataFrame, cStats: DataFrame,
                                    pos: DataFrame)

  private def bandPrep(consent: DataFrame, noconsent: DataFrame,
                       spec: CohortSpec): BandPrep = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    // A codegen'd per-row branch rejects null/NaN x up front: the window /
    // bucket arithmetic below would otherwise drop such rows silently.
    val guardX = (p: String, df: DataFrame) => df.withColumn(s"$p$x",
      when(col(s"$p$x").isNull || isnan(col(s"$p$x")),
        raise_error(lit(s"topKBanded: null/NaN numeric feature '$x' — " +
          "clean the cohort or use the validated matcher route")))
        .otherwise(col(s"$p$x")))
    // The pin sits UNDER the guard: the cached relation is the plain
    // prefixed projection, so the percentile pipeline's pass-2 radius join
    // (which builds the identical unguarded projection) hits this cache by
    // plan equality instead of re-deriving cohort prep from source. The
    // guard itself is a per-row branch over the cached scan — free.
    val c0 = guardX("c_", prefixed(consent, spec, "c_")
      .transform(Boundary.pin))
    val nc0 = guardX("nc_", prefixed(noconsent, spec, "nc_")
      .transform(Boundary.pin))

    // consent rows ranked by x within each cohort (0-based zipWithIndex in
    // the global form, hence the +1)
    val cRanked =
      if (coh.nonEmpty) {
        val wRank = Window.partitionBy(coh.map(col(_)): _*)
          .orderBy(col(s"c_$x").asc, col("c_idx").asc)
        c0.withColumn("__rn", row_number().over(wRank).cast("long"))
      } else
        Preprocess.withRowIdsDistributed(c0, Seq(s"c_$x", "c_idx"), "__rn")
          .withColumn("__rn", col("__rn") + lit(1L))
    val cStats = c0.groupBy(coh.map(col(_)): _*)
      .agg(count(lit(1)).as("__cnt"), max(size(col("c_features"))).as("__cmaxtok"),
        min(size(col("c_features"))).as("__cmintok"))

    // pos = #{consent with x < probe.x}: running consent-count over the
    // unioned x-order; at equal x probes sort FIRST (__isc asc) so same-x
    // consent is excluded — either tie side works, the ±k rank window walks
    // monotonically in |Δx| from the insertion point regardless.
    val cu = c0.select(coh.map(col(_)) ++ Seq(
      col(s"c_$x").as("__x"), col("c_idx").as("__uid"), lit(1).as("__isc")): _*)
    val nu = nc0.select(coh.map(col(_)) ++ Seq(
      col(s"nc_$x").as("__x"), col("nc_idx").as("__uid"), lit(0).as("__isc")): _*)
    val counted =
      if (coh.nonEmpty) {
        val wPos = Window.partitionBy(coh.map(col(_)): _*)
          .orderBy(col("__x").asc, col("__isc").asc, col("__uid").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cu.union(nu).withColumn("__pos", sum("__isc").over(wPos))
      } else
        Preprocess.withRunningFlagCount(cu.union(nu),
          Seq("__x", "__isc", "__uid"), "__isc", "__pos")
    val pos = counted
      .filter(col("__isc") === 0)
      .select(coh.map(col(_)) :+ col("__uid").as("nc_idx") :+ col("__pos"): _*)
    BandPrep(c0, nc0, cRanked, cStats, pos)
  }

  /** Shared body of [[topKBanded]] / [[topKBandedProportional]]: k arrives
    * either as a constant (Left) or as a per-cohort `(cohort…, __k)` frame
    * (Right, dimension-sized → broadcast). Requires exactly one numeric
    * feature (callers fall back to the dense path otherwise). */
  private def topKBandedImpl(consent: DataFrame, noconsent: DataFrame,
                             spec: CohortSpec,
                             kSpec: Either[Int, DataFrame]): DataFrame = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    val prep = bandPrep(consent, noconsent, spec)
    val nc0 = prep.nc0
    val cRanked = prep.cRanked
    val cStats = prep.cStats
    val pos = prep.pos

    // broadcast-join a dimension-sized per-cohort frame (cross when the
    // spec has no cohort scope — both frames are then single-row/global).
    def joinCoh(df: DataFrame, small: DataFrame): DataFrame =
      if (coh.nonEmpty) df.join(broadcast(small), coh)
      else df.crossJoin(broadcast(small))

    // per-probe k as a column: a constant stays a folded literal; the
    // per-cohort frame (Right) is dimension-sized → broadcast.
    def withK(df: DataFrame): DataFrame = kSpec match {
      case Left(k) => df.withColumn("__kk", lit(k.toLong))
      case Right(perCohort) =>
        joinCoh(df, perCohort.select(
          coh.map(col(_)) :+ col("__k").cast("long").as("__kk"): _*))
    }

    // the ±k rank window per probe, reduced to its TWO ENDPOINTS: the k
    // consent rows nearest to the probe by |Δx| sit within ranks
    // [pos−k+1, pos+k] (step 1), every row in that rank window has
    // |Δx| ≤ max(gap at the clamped window ends) because c_x is monotone in
    // rank, so that endpoint max is an upper bound on the exact 1-D k-NN
    // distance D — and step 2 only needs an UPPER bound. Deriving it costs
    // two |NC|-row equi-joins against the rank relation instead of the
    // 2k-rank explode + per-probe sort of rounds 1–3 (which shuffled
    // O(k·|NC|) rows — measured 60 s for q39 at the 10× replica where k
    // resolves to ~190; the endpoint form drops the whole stage). The bound
    // is ≤ ~2× the exact D in the uniform-density worst case, so the band
    // admits a ~2× candidate superset — the exact rank window still makes
    // the result identical.
    // Cohorts resolving to k = 0 (proportional k on a tiny cohort) emit no
    // candidates at all — matching the dense path's `rank <= 0` filter.
    val joinKeys = coh :+ "nc_idx"
    val probes = withK(nc0.select(coh.map(col(_)) ++
      Seq(col("nc_idx"), col(s"nc_$x")): _*).join(pos, joinKeys))
      .filter(col("__kk") >= 1)
    val cxByRank = (rn: String, cx: String) => cRanked.select(
      coh.map(col(_)) ++ Seq(col("__rn").as(rn), col(s"c_$x").as(cx)): _*)
    val dxK = joinCoh(probes, cStats)
      .withColumn("__lo", greatest(col("__pos") - (col("__kk") - lit(1L)), lit(1L)))
      .withColumn("__hi", least(col("__pos") + col("__kk"), col("__cnt")))
      .join(cxByRank("__lo", "__cxlo"), coh :+ "__lo")
      .join(cxByRank("__hi", "__cxhi"), coh :+ "__hi")
      .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("__kk"),
        greatest(abs(col(s"nc_$x") - col("__cxlo")),
          abs(col(s"nc_$x") - col("__cxhi"))).as("__d")): _*)

    // adaptive radius r_i = bound(D); TWO-TIER cohort band width W ≈ the
    // p99 of the cohort's radii (approx_percentile: mergeable partial agg,
    // any cohort size). Probes with r_i ≤ W ride the bucket band join
    // (≤ 3 buckets each); the few wider probes fall back to a per-cohort
    // dense join so one sparse-region probe can't widen everyone's buckets.
    val bound = spec.metric.bandBound.getOrElse(
      throw new IllegalStateException(
        s"metric ${spec.metric.name} has no band bound — callers fall back dense"))
    // PINNED for the same reason as the cosine probesD: ncD feeds the
    // widths aggregate AND the banded probe side, and its lineage holds
    // the dxK endpoint derivation (two joins against the rank relation).
    // O(|NC|) narrow rows; an r5 note measured this pin as neutral at
    // sf0.1 — at the 10× replica the duplicated subtree is no longer free.
    val ncD = joinCoh(nc0.join(dxK, joinKeys), cStats)
      .withColumn("__b0", size(col("nc_features")) + col("__cmaxtok"))
      .withColumn("__r", bound(col("__d"), col("__b0")))
      .transform(Boundary.pin)
    val widths = ncD.groupBy(coh.map(col(_)): _*)
      .agg(greatest(percentile_approx(col("__r"), lit(0.99), lit(1000)),
        lit(1e-6)).as("__w"),
        max(col("__r")).as("__rmax"))
    // Single-join two-tier: bulk probes (r ≤ W) emit their ±r bucket range
    // (≤ 3 buckets); the ≤ ~1% wide probes emit ONE wildcard key, and each
    // consent row rides under its real bucket plus — ONLY in cohorts that
    // actually have a wide probe (rmax > W) — a wildcard replica. So one
    // equi-join serves both tiers, and the common no-skew cohort pays zero
    // for the wildcard machinery (the r4 fold replicated consent
    // unconditionally; r5 makes the replica conditional). No second join
    // branch, no union: the probe-prep lineage is planned once (a
    // two-branch union measured ~+0.6 s/query at sf0.1 from the duplicated
    // subtree). The wildcard lives in its OWN key space — the join key is
    // (tier, bucket), tier 1 = wildcard — so no bucket value can ever
    // collide with it (the r4 Long.MinValue sentinel could, if
    // floor(x/w) saturated on the double→long cast).
    val tb = (t: Int, b: org.apache.spark.sql.Column) =>
      struct(lit(t).as("tier"), b.as("bucket"))
    val ncB = joinCoh(ncD, widths)
      .withColumn("__tb", explode(
        when(col("__r") <= col("__w"), transform(sequence(
          floor((col(s"nc_$x") - col("__r")) / col("__w")).cast("long"),
          floor((col(s"nc_$x") + col("__r")) / col("__w")).cast("long")),
          b => tb(0, b)))
        .otherwise(array(tb(1, lit(0L))))))
      .withColumn("__tier", col("__tb.tier"))
      .withColumn("__bucket", col("__tb.bucket"))
      .drop("__tb", "__rmax")
    val cB = joinCoh(cRanked.drop("__rn"), widths)
      .withColumn("__tb", explode(
        when(col("__rmax") > col("__w"),
          array(tb(0, floor(col(s"c_$x") / col("__w")).cast("long")),
            tb(1, lit(0L))))
        .otherwise(array(tb(0, floor(col(s"c_$x") / col("__w")).cast("long"))))))
      .withColumn("__tier", col("__tb.tier"))
      .withColumn("__bucket", col("__tb.bucket"))
      .drop("__tb", "__w", "__rmax")

    val numPairs = spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n")))
    val cand = ncB.join(cB, coh ++ Seq("__tier", "__bucket"))
      .filter(abs(col(s"nc_$x") - col(s"c_$x")) <= col("__r"))
      .withColumn("dist", spec.metric.dist(col("nc_features"), col("c_features"), numPairs))

    // each probe rides exactly one tier (real buckets xor wildcard), so the
    // per-probe rank is computed on that probe's own candidate superset —
    // exact.
    val w = Window
      .partitionBy((coh :+ "nc_idx").map(col(_)): _*)
      .orderBy(col("dist").asc, col("c_idx").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= col("__kk"))
      .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"),
        col("c_idx"), col("c_value"), col("dist"), col("rank")): _*)
  }

  /** Exact COSINE top-k without the dense pairs relation. Cosine is
    * scale-invariant in the numeric feature, so the |Δx| ≤ r bound behind
    * [[topKBandedImpl]] does not exist — but a different 1-D prune does.
    * Per probe a (token count A, numeric x_a, norm n_a = √(A + x_a²)),
    * against consent b (token count |b|, numeric x_b):
    *
    *  1. dot(a,b) = |a∩b| + x_a·x_b ≤ A + x_a·x_b, and
    *     n_b = √(|b| + x_b²) ≥ √(m + x_b²) with m = the cohort's min
    *     consent token-set size. If A + x_a·x_b < 0 then dot < 0 and
    *     sim < 0. So sim ≥ s > 0 requires
    *     (A + x_a·x_b)² ≥ s²·n_a²·(m + x_b²) — call it g(x_b) ≥ 0.
    *  2. g is a quadratic with leading coefficient a₂ = x_a² − c²
    *     (c² = s²·n_a²). When a₂ < 0 it opens downward, so {g ≥ 0} is the
    *     INTERVAL between its roots — computable in closed form
    *     (discriminant D = c²(A² + m·a₂)). When a₂ ≥ 0 or D < 0 the set is
    *     not a usable interval → that probe rides the wildcard tier.
    *  3. The threshold s per probe: phase 1 scores the probe's ±k x-rank
    *     neighbors EXACTLY (the same rank/pos machinery; ≤ 2k candidates,
    *     shuffle O(k·|NC|)) and takes d_k = the k-th smallest cosine
    *     distance — an upper bound on the true k-th best. s = 1 − d_k.
    *     Every true top-k row has dist ≤ d_k, i.e. sim ≥ s, i.e. its x_b
    *     lies in the interval — so the banded candidates are a SUPERSET of
    *     the true top-k, and the exact (dist, c_idx) window rank over them
    *     returns rows identical to [[topK]] on the dense relation
    *     (PropertySpec pins the equivalence, arbitrary + skewed cohorts;
    *     q61 shares the dense oracle).
    *
    * The interval is padded by a relative ε against root-finding roundoff
    * (padding only widens the superset). Probes with fewer than k phase-1
    * candidates, s ≤ 0 (weak bound), or an unusable interval fall back to
    * the wildcard tier — the same conditional two-tier single equi-join as
    * [[topKBandedImpl]], so one skewed probe never widens its cohort's
    * buckets. Everything shuffles O(k·|NC| + (|C|+|NC|)·buckets) — nothing
    * materializes |NC|×|C|. */
  private def topKCosineBandedImpl(consent: DataFrame, noconsent: DataFrame,
                                   spec: CohortSpec,
                                   kSpec: Either[Int, DataFrame]): DataFrame = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    val prep = bandPrep(consent, noconsent, spec)
    val nc0 = prep.nc0
    val cRanked = prep.cRanked
    val cStats = prep.cStats
    val pos = prep.pos
    def joinCoh(df: DataFrame, small: DataFrame): DataFrame =
      if (coh.nonEmpty) df.join(broadcast(small), coh)
      else df.crossJoin(broadcast(small))
    // per-probe k as a column — constant (folded literal) or per-cohort
    // broadcast frame, exactly as in topKBandedImpl; k = 0 cohorts
    // (proportional on a tiny cohort) emit nothing like dense's rank <= 0.
    def withK(df: DataFrame): DataFrame = kSpec match {
      case Left(k) => df.withColumn("__kk", lit(k.toLong))
      case Right(perCohort) =>
        joinCoh(df, perCohort.select(
          coh.map(col(_)) :+ col("__k").cast("long").as("__kk"): _*))
    }
    val joinKeys = coh :+ "nc_idx"

    // phase 1: a ±max(k, 16) rank window per probe, scored EXACTLY (unlike
    // the metric-bound impl, the token part matters here, so the window
    // cannot be reduced to its endpoints). Widening past ±k is pure
    // threshold-tightening: d_k = k-th best of MORE exactly-scored
    // candidates can only drop, and the phase-2 interval derived from it
    // only narrows — the superset argument is unchanged. The floor of 16
    // buys a much tighter s when x correlates weakly with the metric (the
    // token part dominates cosine; the ±k x-neighbors alone often share no
    // tokens, putting d_k near the metric's ceiling and degrading phase 2
    // toward the dense candidate volume) at O(16·|NC|) extra phase-1 rows.
    val probes = withK(joinCoh(nc0.join(pos, joinKeys), cStats))
      .filter(col("__kk") >= 1)
    val cand1 = probes
      .withColumn("__kw", greatest(col("__kk"), lit(16L)))
      .withColumn("__lo", greatest(col("__pos") - (col("__kw") - lit(1L)), lit(1L)))
      .withColumn("__hi", least(col("__pos") + col("__kw"), col("__cnt")))
      .filter(col("__hi") >= col("__lo"))
      .withColumn("__rn", explode(sequence(col("__lo"), col("__hi"))))
      .join(cRanked.select(coh.map(col(_)) ++ Seq(
        col("__rn"), col("c_idx").as("__c1idx"),
        col("c_features").as("__c1f"), col(s"c_$x").as("__c1x")): _*),
        coh :+ "__rn")
      .withColumn("__pd", spec.metric.dist(col("nc_features"), col("__c1f"),
        Seq((col(s"nc_$x"), col("__c1x")))))
    // d_k = k-th smallest phase-1 distance (null when the probe has fewer
    // than k candidates → wildcard). ≤ 2k values per probe: collect+sort is
    // a bounded per-group buffer, not a data-sized one.
    val dk = cand1.groupBy(joinKeys.map(col(_)): _*)
      .agg(sort_array(collect_list(col("__pd"))).as("__pds"),
        first(col("__kk")).as("__k1"))
      .select(joinKeys.map(col(_)) :+
        when(size(col("__pds")) >= col("__k1"),
          element_at(col("__pds"), col("__k1").cast("int"))).as("__dk"): _*)

    // phase 2: the shared cosine band join. The d_k cut inside it is rank-
    // safe: every true top-k row has dist ≤ d_k and ≥ k candidate rows
    // survive it, so removing dist > d_k rows changes neither the top-k
    // rows nor their rank numbers.
    val cand = cosineBandCandidates(probes.join(dk, joinKeys),
      cRanked.drop("__rn"), spec)
    val w = Window
      .partitionBy(joinKeys.map(col(_)): _*)
      .orderBy(col("dist").asc, col("c_idx").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= col("__kk"))
      .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"),
        col("c_idx"), col("c_value"), col("dist"), col("rank")): _*)
  }

  /** Shared phase-2 of the cosine prunes ([[topKCosineBandedImpl]] and the
    * cosine branch of [[withinRadiusBucketed]]): probe rows arrive carrying
    * the nc_* projection, `__cmintok` (cohort min consent token size) and
    * `__dk` — the per-probe distance threshold (the phase-1 k-th best for
    * top-k, the constant radius for the radius join; null = no bound).
    * Attaches the admissible x-interval from the quadratic cosine bound
    * (ε-padded: padding only widens the superset), runs the conditional
    * two-tier wildcard band join against `cSide` (a c0-shaped relation),
    * and returns candidates with the exact `dist` column, filtered to the
    * interval and to dist ≤ __dk (when non-null). */
  private def cosineBandCandidates(probesD0: DataFrame, cSide: DataFrame,
                                   spec: CohortSpec): DataFrame = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    def joinCoh(df: DataFrame, small: DataFrame): DataFrame =
      if (coh.nonEmpty) df.join(broadcast(small), coh)
      else df.crossJoin(broadcast(small))
    val numPairs = Seq((col(s"nc_$x"), col(s"c_$x")))
    val A = size(col("nc_features")).cast("double")
    val xa = col(s"nc_$x")
    val s = lit(1.0) - col("__dk") - lit(1e-9) // ε-loosened: superset-safe
    val c2 = s * s * (A + xa * xa)
    val a2 = xa * xa - c2
    val m = col("__cmintok").cast("double")
    val disc = c2 * (A * A + m * a2)
    // PINNED: probesD feeds both the widths aggregate and the banded
    // probe side, and its lineage carries the whole phase-1 d_k subtree
    // (the ±max(k,16) explode + per-probe sort-agg). Without the pin each
    // consumer re-evaluates that subtree — measured at the 10× replica as
    // THREE ObjectHashAggregate passes over the 1.6M-row phase-1 relation
    // (~140 s of task time) that this one narrow O(|NC|)-row cache removes.
    val probesD = probesD0
      .withColumn("__wild",
        col("__dk").isNull || s <= 0 || a2 >= 0 || disc < 0)
      .withColumn("__r1", when(!col("__wild"), (-(A * xa) + sqrt(disc)) / a2))
      .withColumn("__r2", when(!col("__wild"), (-(A * xa) - sqrt(disc)) / a2))
      .withColumn("__pad",
        lit(1e-9) * (lit(1.0) + abs(col("__r1")) + abs(col("__r2"))))
      .withColumn("__ilo", least(col("__r1"), col("__r2")) - col("__pad"))
      .withColumn("__ihi", greatest(col("__r1"), col("__r2")) + col("__pad"))
      .withColumn("__r", (col("__ihi") - col("__ilo")) / lit(2.0))
      .drop("__r1", "__r2", "__pad", "__lo", "__hi")
      .transform(Boundary.pin)

    // the same conditional two-tier single equi-join as topKBandedImpl:
    // W = p99 of the non-wild interval half-widths; wild or wider-than-W
    // probes ride the wildcard tier, consent replicates into it only in
    // cohorts that have such probes.
    val widths = probesD.groupBy(coh.map(col(_)): _*)
      .agg(greatest(percentile_approx(col("__r"), lit(0.99), lit(1000)),
        lit(1e-6)).as("__w"),
        max(col("__r")).as("__rmax"),
        max(col("__wild").cast("int")).as("__anywild"))
    val tb = (t: Int, b: org.apache.spark.sql.Column) =>
      struct(lit(t).as("tier"), b.as("bucket"))
    val ncB = joinCoh(probesD, widths)
      .withColumn("__tb", explode(
        when(!col("__wild") && col("__r") <= col("__w"), transform(sequence(
          floor(col("__ilo") / col("__w")).cast("long"),
          floor(col("__ihi") / col("__w")).cast("long")),
          b => tb(0, b)))
        .otherwise(array(tb(1, lit(0L))))))
      .withColumn("__tier", col("__tb.tier"))
      .withColumn("__bucket", col("__tb.bucket"))
      .drop("__tb", "__rmax", "__anywild")
    val cB = joinCoh(cSide, widths)
      .withColumn("__tb", explode(
        when(col("__anywild") === 1 || col("__rmax") > col("__w"),
          array(tb(0, floor(col(s"c_$x") / col("__w")).cast("long")),
            tb(1, lit(0L))))
        .otherwise(array(tb(0, floor(col(s"c_$x") / col("__w")).cast("long"))))))
      .withColumn("__tier", col("__tb.tier"))
      .withColumn("__bucket", col("__tb.bucket"))
      .drop("__tb", "__w", "__rmax", "__anywild")

    ncB.join(cB, coh ++ Seq("__tier", "__bucket"))
      .filter(col("__wild") ||
        (col(s"c_$x") >= col("__ilo") && col(s"c_$x") <= col("__ihi")))
      .withColumn("dist", spec.metric.dist(col("nc_features"), col("c_features"), numPairs))
      .filter(col("__dk").isNull || col("dist") <= col("__dk"))
  }

  /** Exact HAMMING top-k without the dense pairs relation. Hamming has no
    * |Δx| inequality (an unequal numeric contributes 1/W whatever the gap),
    * but the engine's token encoding has a structural prune: token sets
    * carry EXACTLY one token per categorical column (fixed arity m,
    * data-verified below), so distances are quantized — a pair sharing
    * ≥ m−1 tokens has dist·W ≤ 2 + |numCols| ≤ 3, and a pair sharing
    * ≤ m−2 has dist·W ≥ 4. Every subset-candidate therefore STRICTLY beats
    * every non-candidate (no tie can straddle the boundary, which is also
    * why |numCols| ≤ 1 is required — a second numeric closes the gap to a
    * tie and the caller falls back dense).
    *
    * Plan: each side emits its m "drop-token-i" subset signatures
    * (explode ×m); one equi-join on (cohort, i, hash(subset)) yields every
    * pair with ≥ m−1 shared tokens (a pair sharing all m matches every
    * subset key — deduped map-side by keeping its __i = 0 copy only).
    * Probes with ≥ k candidates rank within their candidate set; the rest
    * ride a per-cohort dense wildcard tier, so one
    * sparse-signature probe never degrades its cohort. Shuffle
    * O(m·(|C|+|NC|) + candidates), never |NC|×|C|; candidate volume is
    * Σ_subsetKey |nc_key|·|c_key| — quadratically smaller as category
    * cardinality grows.
    *
    * Equals [[topK]] on the dense relation (PropertySpec pins arbitrary +
    * skewed cohorts; q70 keeps the dense-derived hash oracle). */
  private def topKHammingImpl(consent: DataFrame, noconsent: DataFrame,
                              spec: CohortSpec,
                              kSpec: Either[Int, DataFrame]): DataFrame = {
    val coh = spec.cohortCols
    def dense(): DataFrame = kSpec match {
      case Left(k) => topK(pairs(consent, noconsent, spec), spec, k.toDouble)
      case Right(perCohort) =>
        val ranked = topK(pairs(consent, noconsent, spec), spec, Double.MaxValue)
        val withk =
          if (coh.nonEmpty) ranked.join(broadcast(perCohort), coh)
          else ranked.crossJoin(broadcast(perCohort))
        withk.filter(col("rank") <= col("__k")).drop("__k")
    }
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    // fixed token arity is the load-bearing fact — data-verify it (one tiny
    // agg job); variable arity or m < 2 → the subset argument is vacuous
    // → dense
    val ar = c0.select(size(col("c_features")).as("__s"))
      .union(nc0.select(size(col("nc_features")).as("__s")))
      .agg(min(col("__s")), max(col("__s"))).head()
    if (ar.isNullAt(0) || ar.getInt(0) != ar.getInt(1) || ar.getInt(0) < 2)
      return dense()
    val m = ar.getInt(0)
    spec.metric match {
      case Hamming(_) => ()
      case other => throw new IllegalStateException(
        s"topKHammingImpl dispatched for metric ${other.name}")
    }
    // subset signature i = the token array with position i removed, used
    // DIRECTLY as the join key (array equality is exact — a hash key could
    // collide and duplicate a true pair at a second index, corrupting
    // ranks); __i in the key keeps subset positions from cross-matching
    def withKeys(df: DataFrame, p: String): DataFrame =
      df.withColumn("__i", explode(array((0 until m).map(lit(_)): _*)))
        .withColumn("__key",
          concat(slice(col(s"${p}features"), lit(1), col("__i")),
            slice(col(s"${p}features"), col("__i") + 2, lit(m) - col("__i") - 1)))
    val numPairs = spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n")))
    val iSize = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.TokenIntersectionSize(
          org.apache.spark.sql.graftbridge.Bridge.expression(a),
          org.apache.spark.sql.graftbridge.Bridge.expression(b)))
    val cand = withKeys(nc0, "nc_").join(withKeys(c0, "c_"), coh ++ Seq("__i", "__key"))
      // dedup map-side, no shuffle: the only multi-key matches are pairs
      // sharing ALL m tokens (they match every subset key) — keep their
      // __i = 0 copy only; a pair sharing exactly m−1 matches one key
      .filter(col("__i") === 0 || iSize(col("nc_features"), col("c_features")) < m)
      .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"),
        col("c_idx"), col("c_value"),
        spec.metric.dist(col("nc_features"), col("c_features"), numPairs)
          .as("dist")): _*)
    // per-probe k: constant or per-cohort broadcast frame
    def withK(df: DataFrame): DataFrame = kSpec match {
      case Left(k) => df.withColumn("__kk", lit(k.toLong))
      case Right(perCohort) =>
        val pk = perCohort.select(
          coh.map(col(_)) :+ col("__k").cast("long").as("__kk"): _*)
        if (coh.nonEmpty) df.join(broadcast(pk), coh)
        else df.crossJoin(broadcast(pk))
    }
    val joinKeys = coh :+ "nc_idx"
    val cnt = cand.groupBy(joinKeys.map(col(_)): _*)
      .agg(count(lit(1)).as("__cnt"))
    val probes = withK(nc0.join(cnt, joinKeys, "left"))
      .withColumn("__wild", coalesce(col("__cnt"), lit(0L)) < col("__kk"))
    // wildcard tier: the (typically few) probes whose subset candidates
    // cannot fill k take the per-cohort dense relation — probe-exclusive
    // tiers, so each probe is ranked over exactly one sound superset
    val wildNc = probes.filter(col("__wild"))
      .select((coh :+ "nc_idx").map(col(_)) ++
        Seq(col("nc_value"), col("nc_features"), col("__kk")) ++
        spec.numCols.map(n => col(s"nc_$n")): _*)
    val wildPairs =
      (if (coh.nonEmpty) wildNc.join(c0, coh) else wildNc.crossJoin(c0))
        .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"),
          col("c_idx"), col("c_value"),
          spec.metric.dist(col("nc_features"), col("c_features"), numPairs)
            .as("dist"), col("__kk")): _*)
    val bulk = cand
      .join(probes.filter(!col("__wild"))
        .select((joinKeys :+ "__kk").map(col(_)): _*), joinKeys)
    val w = Window
      .partitionBy(joinKeys.map(col(_)): _*)
      .orderBy(col("dist").asc, col("c_idx").asc)
    bulk.unionByName(wildPairs)
      .filter(col("__kk") >= 1)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= col("__kk"))
      .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"),
        col("c_idx"), col("c_value"), col("dist"), col("rank")): _*)
  }

}
