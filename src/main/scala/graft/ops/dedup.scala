package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** Deduplication operators over a `documents(doc_id, text, …)` table:
  *
  *  - [[exact]] — hash-groupBy exact dedup (one shuffle on the text hash).
  *  - [[minHashPairs]] — MinHash + LSH banding: shingle-set signatures,
  *    band-bucket equi-join for candidates (near-linear shuffle, never the
  *    |D|² cross join), then exact-Jaccard verification. With b bands of r
  *    rows a true pair at Jaccard j is caught w.p. 1−(1−jʳ)ᵇ; the banding
  *    is DERIVED FROM THE THRESHOLD by [[bandingFor]] so that bound is
  *    ≥ 1−1e-9 at the admission threshold itself — corpus-independent
  *    recall (a fixed 16×2 only bounded misses for j ≥ 0.9 and could flake
  *    on a corpus with true pairs near the threshold; ADVICE r01). Verified
  *    output therefore equals the exact all-pairs answer (what the DuckDB
  *    oracle computes at the correctness SFs) up to the stated 1e-9.
  *  - [[simHashPairs]] — 30-bit shingle-set SimHash; candidates via chunk
  *    equi-join (pigeonhole: hamming ≤ maxHamming is guaranteed caught when
  *    chunks > maxHamming), exact hamming verification.
  *  - [[blockedJaccardPairs]] — exact n-gram Jaccard within a blocking key
  *    (the classic "block then verify" shape for bounded-domain keys).
  *
  * All hash arithmetic is the cross-engine polynomial hash of
  * [[TextAnalysis]]; seeds are embedded literals so the DuckDB oracle can
  * reproduce signatures bit-for-bit.
  */
object Dedup {
  import TextAnalysis.P

  val NumHashes = 32   // default signature length for [[minHashSignature]]
  val MaxHashes = 256  // signature budget for threshold-derived banding

  /** Deterministic (a, b) seed pairs for the MinHash family
    * hᵢ(x) = (aᵢ·x + bᵢ) mod P — LCG-generated, embedded as literals in
    * both engines (the oracle reproduces slots 0..1 bit-for-bit in q25). */
  val Seeds: Seq[(Long, Long)] = (0 until MaxHashes).map { i =>
    val a = math.floorMod(1103515245L * (i + 1) + 12345L, P)
    val b = math.floorMod(1103515245L * (i + 101) + 54321L, P)
    (if (a == 0) 1L else a, b)
  }

  /** (bands, rowsPerBand) with recall guaranteed at the admission threshold:
    * the largest rows-per-band r (fewest background candidates — the S-curve
    * steepens with r) whose required band count b = ⌈ln(miss)/ln(1−tʳ)⌉
    * still fits the signature budget. Any pair at jaccard ≥ t is then
    * admitted w.p. ≥ 1−missBound REGARDLESS of the corpus's jaccard
    * distribution. E.g. t=0.5 → (73, 2) = 146 hashes; t=0.9 → (32, 7). */
  def bandingFor(threshold: Double, missBound: Double = 1e-9,
                 maxHashes: Int = MaxHashes): (Int, Int) =
    bandingWithin(threshold, missBound, maxHashes).getOrElse(
      throw new IllegalArgumentException(
        s"no ($maxHashes-hash) banding reaches miss <= $missBound at " +
          s"threshold $threshold — the S-curve is too shallow; raise the " +
          "threshold, the budget, or use an exact path"))

  /** [[bandingFor]] that reports infeasibility instead of throwing. Band
    * counts are computed in Double and compared against the budget before
    * any narrowing — for small thresholds the required count exceeds Int
    * range (t=0.1, r=8 → b ≈ 2.07e9), where 32-bit b·r arithmetic would
    * wrap negative and "fit". */
  def bandingWithin(threshold: Double, missBound: Double = 1e-9,
                    maxHashes: Int = MaxHashes): Option[(Int, Int)] = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    (8 to 1 by -1).iterator
      .map { r =>
        val b = math.max(1.0,
          math.ceil(math.log(missBound) / math.log1p(-math.pow(threshold, r))))
        (b, r)
      }
      .find { case (b, r) => b * r <= maxHashes }
      .map { case (b, r) => (b.toInt, r) }
  }

  /** Exact dedup: group identical texts, keep the smallest doc_id.
    * Output: (text_hash, keeper_id, n_copies). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Streaming exact dedup over a document stream carrying an event-time
    * `tsCol`: emit only the first-seen row per content hash. State is the
    * hash set bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — exact dedup of an unbounded
    * stream needs unbounded state, so the horizon IS the contract a
    * production ingest pipeline wants: duplicates arriving within the
    * horizon are dropped, older re-arrivals are a batch backfill problem
    * ([[exact]]/[[deduplicated]]). */
  def exactStream(docs: DataFrame, tsCol: String = "ingest_ts",
                  watermark: String = "1 hour"): DataFrame =
    docs.withColumn("text_hash", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** doc_id + distinct shingle-hash set (the MinHash/Jaccard universe). */
  def shingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      TextAnalysis.shingleHashes(col("text"), k).as("shingles"))

  /** Shingle-containment pairs — the ASYMMETRIC near-duplicate relation
    * Jaccard can't express: containment(a→b) = |S_a ∩ S_b| / |S_a|, high
    * when document a is (mostly) CONTAINED in document b even if b is much
    * larger — the quote/excerpt/page-wrapper case corpus dedup misses at a
    * symmetric threshold. Output: ordered (doc_a, doc_b, containment) for
    * a ≠ b with containment ≥ threshold (both directions scored
    * independently; a superset document does not reach its excerpt's
    * containment).
    *
    * Plan shape: the inverted-index (posting-list) join — explode each
    * doc's DISTINCT shingle hashes, equi-join on the hash, count matches
    * per ordered pair, divide by |S_a| (broadcast-joined size relation).
    * Shuffle is Σ df(shingle)² over SHARED shingles, the q81/q28 shape: at
    * corpus scale a document-frequency cut or MinHash-LSH prefilter bounds
    * the hot postings (boilerplate shingles shared by everything carry no
    * containment signal), with this exact join as the verify stage. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       k: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val sh = shingleSets(docs, k).filter(size(col("shingles")) > 0)
    val sizes = sh.select(col("doc_id").as("doc_a"),
      size(col("shingles")).cast("double").as("__na"))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("h"))
    ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // no broadcast hint: the sizes relation is one narrow row PER DOC —
      // corpus-sized, so a forced broadcast OOMs at scale (ADVICE r8).
      // Catalyst/AQE still picks broadcast when it actually fits.
      .agg(count(lit(1)).cast("double").as("__inter"))
      .join(sizes, "doc_a")
      .filter(col("__inter") / col("__na") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.Num.rnd(col("__inter") / col("__na"), 6).as("containment"))
  }

  /** The corpus-scale twin of [[containmentPairs]] — PPJoin-style PREFIX
    * FILTERING (Xiao et al. 2008), EXACT by pigeonhole rather than
    * probabilistic like MinHash banding: order each document's shingles by
    * global rarity (document frequency asc, hash tie-break) and probe the
    * inverted index with only the first ⌊(1−t)·|S_a|⌋+1 of them. Any pair
    * with containment(a→b) ≥ t has at most (1−t)·|S_a| a-shingles missing
    * from b, and the prefix is strictly longer than that — so at least one
    * prefix shingle IS shared and the equi-join surfaces the pair:
    * candidates are a SUPERSET of the true answer, then exact
    * `array_intersect` verification reproduces [[containmentPairs]]
    * row-for-row (OpsSpec pins equality; q117 shares q113's oracle).
    *
    * Why it scales where the full posting join doesn't: probe volume is
    * Σ_docs prefixLen postings drawn from the RAREST shingles — boilerplate
    * shingles shared by everything (the df² hot keys that made the full
    * join grow ~19× at the 10× clone replica) are exactly the ones the
    * rarity order pushes OUT of the prefix. The index side stays the full
    * posting list, but each hot posting is hit only by probes that
    * genuinely need it. The df relation, rank window, and candidate join
    * all key on shingle hash / doc_id — plain shuffle equi-joins, no
    * driver state, no broadcast requirement beyond the verify arrays. */
  def containmentPairsPrefix(docs: DataFrame, threshold: Double,
                             k: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val sh = shingleSets(docs, k).filter(size(col("shingles")) > 0)
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("h"))
    val dfRel = ex.groupBy("h").agg(count(lit(1)).as("__df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val prefix = ex.join(dfRel, "h")
      .withColumn("__rn", row_number().over(
        wDoc.orderBy(col("__df").asc, col("h").asc)))
      .withColumn("__na", count(lit(1)).over(wDoc))
      // Pigeonhole bound in INTEGERS: containment ≥ t ⟹ |Sa ∩ Sb| ≥
      // ⌈t·na⌉ ⟹ missing ≤ na − ⌈t·na⌉, so a prefix of that + 1 must
      // intersect. The naive ⌊(1−t)·na⌋+1 under IEEE loses the exact-
      // threshold row: (1 − 0.9)·30 = 2.999…8 floors to 2, one short of
      // the 3 missing shingles a containment-exactly-0.9 pair may have
      // (caught by the q118 gate). The 1e-9 nudge keeps ⌈·⌉ exact when
      // t·na is a true integer arriving as x.000…004.
      .filter(col("__rn") <= col("__na") -
        ceil(lit(threshold) * col("__na") - lit(1e-9)).cast("long") + 1)
      .select(col("doc_id").as("doc_a"), col("h"))
    val cand = prefix
      .join(ex.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("__sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("__sb")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(col("__sa")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.Num.rnd(col("containment"), 6).as("containment"))
  }

  /** Shingle-novelty score — the uniqueness signal of corpus curation
    * (high novelty ⇒ content the corpus hasn't seen; low ⇒ boilerplate /
    * template mass): per document, the share of its DISTINCT k-shingles
    * whose corpus-wide document frequency is exactly 1. Output:
    * (doc_id, n_shingles, n_unique, novelty); shingle-less docs excluded.
    * Plan: one shingle-keyed df aggregate, one join back, one doc-keyed
    * fold — the same Zipf-bounded posting relations as the containment
    * family, no quadratic stage anywhere. */
  def noveltyScores(docs: DataFrame, k: Int = 3): DataFrame = {
    val ex = shingleSets(docs, k).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), explode(col("shingles")).as("h"))
    val dfRel = ex.groupBy("h").agg(count(lit(1)).as("__df"))
    ex.join(dfRel, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        graft.Num.rnd(col("n_unique") / col("n_shingles").cast("double"), 4))
  }

  /** Dedup audit report: the cluster-SIZE histogram of a corpus's near-dup
    * components — the one-page answer to "how duplicated is this drop?"
    * (mass in big clusters ⇒ template/boilerplate infestation; a long
    * singleton tail ⇒ healthy). Composes over any (doc_id, cluster_id)
    * relation ([[dedupClusters]], [[clustersLsh]], the embedding twins);
    * documents outside every pair count as singletons via the same
    * left-join + own-id coalesce as SemDeDup. Output:
    * (cluster_size, n_clusters, n_docs) — dimension-sized.
    * Plan: broadcast cluster attach (pair-member-sized), two
    * partial-aggregated shuffles on shrinking keys. */
  def clusterSizeReport(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cluster_id").agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("__sz").as("n_docs"))

  /** Reference-shaped per-seed MinHash signature column (each slot an
    * interpreted `transform`+`array_min` — kept for the q25 signature-parity
    * gate; the hot path below uses the fused [[graft.expr.MinHashSig]]
    * kernel instead). */
  def minHashSignature(shingles: Column, nHashes: Int = NumHashes): Column =
    array(Seeds.take(nHashes).map { case (a, b) =>
      array_min(transform(shingles, h => (lit(a) * h + lit(b)) % P))
    }: _*)

  /** Near-duplicate pairs by MinHash LSH + exact-Jaccard verification.
    * Banding comes from [[bandingFor]](threshold) so recall is guaranteed at
    * the admission threshold. Output: (doc_a, doc_b, jaccard) with
    * doc_a < doc_b, jaccard ≥ threshold. */
  def minHashPairs(docs: DataFrame, threshold: Double, k: Int = 3): DataFrame = {
    // Shingle hashing (codegen'd, but over every character) is the dominant
    // per-doc cost and the sets feed three consumers (signatures + both
    // sides of the verify join) — materialize once.
    val sets = shingleSets(docs, k)
      .filter(size(col("shingles")) > 0)
      .transform(Boundary.pin)
    val buckets = minHashBuckets(sets, threshold)
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, sets, threshold)
  }

  /** Incremental-ingest dedup: the NEW batch against the existing INDEX
    * only — the daily-drop shape of corpus maintenance, where the index is
    * already internally deduped and re-pairing it against itself (the full
    * [[minHashPairs]] over new ∪ index) would redo work proportional to
    * the whole corpus every day. Returns the SURVIVING new rows: those
    * with no index near-duplicate at `threshold` (Jaccard over k-shingle
    * sets; shingle-less new docs trivially survive). Ids must be unique
    * across both inputs (the corpus-wide doc_id contract).
    *
    * Plan shape: MinHash band buckets on BOTH sides (threshold-derived
    * banding, recall ≥ 1−1e-9 at the admission threshold — q26's
    * guarantee), candidates = cross-side (band, key) equi-join ONLY (never
    * new×new or index×index), exact-Jaccard verification, one anti-join.
    * Shuffle is O((|new| + |index|)·bands) + verified candidates — the
    * index side is touched once per ingest, not re-paired. */
  def newAgainstIndex(newDocs: DataFrame, indexDocs: DataFrame,
                      threshold: Double, k: Int = 3): DataFrame = {
    val setsN = shingleSets(newDocs, k).filter(size(col("shingles")) > 0)
      .transform(Boundary.pin)
    val setsI = shingleSets(indexDocs, k).filter(size(col("shingles")) > 0)
      .transform(Boundary.pin)
    val candidates = minHashBuckets(setsN, threshold).as("x")
      .join(minHashBuckets(setsI, threshold).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val matched = candidates
      .join(setsN.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(setsI.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.LongIntersectSize(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sa")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sb")))).cast("double"))
      .filter(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()
    newDocs.join(matched, Seq("doc_id"), "left_anti")
  }

  /** [[newAgainstIndex]] composed with the within-slice dedup
    * ([[deduplicated]] over [[minHashPairs]]) in ONE operator — the
    * incremental-release admission shape
    * ([[graft.ops.Curation.deltaReleaseAssignments]]): drop new docs with
    * an index near-duplicate, then keep one representative (min doc_id)
    * per near-dup cluster WITHIN the survivors. Semantically identical to
    * `deduplicated(newAgainstIndex(new, index, t), minHashPairs(
    * newAgainstIndex(new, index, t), t))` — within-survivor pairs are
    * exactly the all-new pairs whose BOTH ends survived the cross leg —
    * but the new side is shingle-hashed and MinHash-bucketed ONCE for both
    * legs instead of three times (hashing every character is the dominant
    * per-doc cost; the naive composition re-paid it per leg). */
  def newAgainstIndexAndSelf(newDocs: DataFrame, indexDocs: DataFrame,
                             threshold: Double, k: Int = 3): DataFrame =
    newAgainstLexIndexAndSelf(newDocs, buildLexIndex(indexDocs, threshold, k),
      threshold, k)

  /** The persisted lexical cross-dedup INDEX of a shipped corpus:
    * (doc_id, shingles, sig) — every per-document kernel the cross leg of
    * [[newAgainstIndexAndSelf]] needs (char-level shingle hashing + the
    * banding-sized MinHash signature), paid ONCE when the corpus ships.
    * Plain columnar data: write it to parquet next to the release shards,
    * read it back, filter to the ids still retained, and hand it to
    * [[newAgainstLexIndexAndSelf]] — the re-cut then does NO per-character
    * work on the index side (the AnnIndex restore discipline applied to
    * the dedup index; [[graft.Io.writeReleaseIndex]] ships it). */
  def buildLexIndex(docs: DataFrame, threshold: Double, k: Int = 3): DataFrame =
    shingleSets(docs, k).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"), sigFor(threshold).as("sig"))

  /** [[newAgainstIndexAndSelf]] against a PRECOMPUTED index relation
    * ([[buildLexIndex]]'s (doc_id, shingles, sig) — possibly filtered to
    * the currently-retained ids): bit-identical results, but the index
    * side costs only the bucket-derivation arithmetic and the verify
    * join, never re-hashing the shipped corpus per re-cut. */
  def newAgainstLexIndexAndSelf(newDocs: DataFrame, lexIndex: DataFrame,
                                threshold: Double, k: Int = 3): DataFrame = {
    val setsN = shingleSets(newDocs, k).filter(size(col("shingles")) > 0)
      .transform(Boundary.pin)
    val setsI = lexIndex
      .transform(Boundary.pin)
    val bkN = minHashBuckets(setsN, threshold)
      .transform(Boundary.pin)
    val crossCand = bkN.as("x")
      .join(bucketsFromSig(setsI.select("doc_id", "sig"), threshold).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val crossDrop = crossCand
      .join(setsN.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(setsI.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.LongIntersectSize(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sa")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sb")))).cast("double"))
      .filter(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()
      .transform(Boundary.pin)
    val withinCand = bkN.as("x").join(bkN.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // pairs among cross-SURVIVORS only: both ends outside the drop list
      .join(crossDrop.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(crossDrop.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
    val withinDrop = dedupClusters(
        verifyJaccard(withinCand, setsN, threshold).select("doc_a", "doc_b"))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    newDocs
      .join(crossDrop, Seq("doc_id"), "left_anti")
      .join(withinDrop, Seq("doc_id"), "left_anti")
  }

  /** Streaming twin of [[newAgainstIndex]] — the daily-drop shape as it
    * actually deploys: new documents arrive as a STREAM
    * `(ingest_ts, doc_id, text)` while the already-deduped index is the
    * STATIC side. Emits the SURVIVING new rows (`doc_id, text`) exactly
    * once, when the watermark passes each row's ingest time.
    *
    * Plan: watermark → `dropDuplicatesWithinWatermark(doc_id)` (re-delivered
    * drop rows collapse — the "dedup of the drop itself") → shingle/MinHash
    * band buckets per row (stateless; `explode_outer` keeps shingle-less
    * docs as one NULL-bucket row so they ride the same plan and trivially
    * survive, like batch) → stream-static LEFT OUTER equi-join against the
    * index's (band, key, shingles) bucket relation — the index is hashed
    * once per run, never re-paired against itself — → exact-Jaccard hit
    * flag → per-(ingest_ts, doc_id) append-mode aggregation: a doc survives
    * iff NO bucket row verified. State is the in-horizon drop only (the
    * dedup keys + one max() per live doc), never the index.
    *
    * Stream-vs-batch agreement with [[newAgainstIndex]] is pinned by
    * OpsSpec; candidate recall follows the same threshold-derived banding
    * (miss ≤ 1e-9 at the admission threshold). */
  def newAgainstIndexStream(newDocs: DataFrame, indexDocs: DataFrame,
                            threshold: Double, k: Int = 3,
                            watermark: String = "2 hours"): DataFrame = {
    val (bands, rows) = bandingFor(threshold)
    val sigSeeds = Seeds.take(bands * rows)
    // static side: the index bucket relation, each bucket row carrying its
    // doc's shingle set for the exact verify
    val setsI = shingleSets(indexDocs, k).filter(size(col("shingles")) > 0)
    val bkI = minHashBuckets(setsI, threshold, carry = Seq("shingles"))
      .select(col("band").as("i_band"), col("key").as("i_key"),
        col("shingles").as("sb"))
    val sig = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.MinHashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("shingles")),
        sigSeeds.map(_._1), sigSeeds.map(_._2)))
    val bandKey = (b: Int) =>
      xxhash64((0 until rows).map(r => col("sig")(b * rows + r)): _*)
    val bk = newDocs
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .withColumn("shingles", graft.ops.TextAnalysis.shingleHashes(col("text"), k))
      .withColumn("sig", when(size(col("shingles")) > 0, sig))
      .withColumn("bk", explode_outer(when(col("sig").isNotNull,
        array((0 until bands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("key"))): _*))))
    val inter = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.LongIntersectSize(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("shingles")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("sb"))))
      .cast("double")
    bk.join(bkI,
        col("bk.band") === col("i_band") && col("bk.key") === col("i_key"),
        "left_outer")
      .withColumn("__hit",
        col("sb").isNotNull &&
          inter / (size(col("shingles")) + size(col("sb")) - inter) >= threshold)
      .groupBy(col("ingest_ts"), col("doc_id"), col("text"))
      .agg(max(col("__hit").cast("int")).as("__any"))
      .filter(col("__any") === 0)
      .select(col("doc_id"), col("text"))
  }

  /** (doc_id, band, key) LSH band buckets over a shingle-set frame, banding
    * derived from the threshold — shared by [[minHashPairs]] and
    * [[clustersLsh]]. The band key folds the band's signature slots through
    * xxhash64 — a 64-bit collision can only ADD a candidate (callers verify
    * exactly), never lose one. */
  /** MinHash signature column at the banding [[bandingFor]] derives for
    * `threshold` — the per-doc kernel cost ([[graft.expr.MinHashSig]] over
    * every shingle) that [[buildLexIndex]] pays once at release time. */
  private def sigFor(threshold: Double): Column = {
    val (bands, rows) = bandingFor(threshold)
    val sigSeeds = Seeds.take(bands * rows)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.MinHashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("shingles")),
        sigSeeds.map(_._1), sigSeeds.map(_._2)))
  }

  /** (doc_id, band, key) LSH buckets from a frame already carrying the
    * `sig` column — pure bit/hash arithmetic, no per-shingle work. The
    * band-0 key carries a per-row signature-LENGTH guard (ADVICE r13
    * medium): a restored [[buildLexIndex]] artifact used at a different
    * threshold arrives with a signature sized for the WRONG banding, and
    * without the check would either error opaquely (ANSI out-of-range) or
    * silently under-dedup — this raises with the actionable message. O(1)
    * per row (one array-size compare). */
  private def bucketsFromSig(sigs: DataFrame, threshold: Double,
                             carry: Seq[String] = Nil): DataFrame = {
    val (bands, rows) = bandingFor(threshold)
    val bandKey = (b: Int) => {
      val key = xxhash64((0 until rows).map(r => col("sig")(b * rows + r)): _*)
      if (b > 0) key
      else when(size(col("sig")) === lit(bands * rows), key)
        .otherwise(raise_error(concat(
          lit("MinHash signature length "), size(col("sig")).cast("string"),
          lit(s" != ${bands * rows} (banding ${bands}x$rows for threshold " +
            s"$threshold) — was this index built at a different " +
            "threshold/budget? (doc_id "), col("doc_id").cast("string"),
          lit(")"))))
    }
    sigs.select(col("doc_id") +: carry.map(col) :+
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
  }

  private def minHashBuckets(sets: DataFrame, threshold: Double,
                             carry: Seq[String] = Nil): DataFrame =
    bucketsFromSig(
      sets.select(col("doc_id") +: carry.map(col) :+
        sigFor(threshold).as("sig"): _*),
      threshold, carry)

  /** Exact Jaccard over candidate (doc_a, doc_b) pairs. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame = {
    val a = sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val b = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    candidates.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.LongIntersectSize(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sa")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sb")))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), graft.Num.rnd(col("jaccard"), 4).as("jaccard"))
  }

  /** 30-bit SimHash over the distinct shingle-hash set: bit j set iff the
    * sum of ±1 votes from each shingle's j-th hash bit is positive. One
    * codegen'd kernel ([[graft.expr.SimHash30]]) instead of 30 interpreted
    * per-bit aggregate folds. */
  def simHash(shingles: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.SimHash30(
        org.apache.spark.sql.graftbridge.Bridge.expression(shingles)))

  /** Near-duplicate pairs with SimHash hamming distance ≤ maxHamming.
    * Candidates from 4-chunk pigeonhole banding (8+8+7+7 bits): any pair
    * within hamming ≤ 3 shares at least one identical chunk. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3, k: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-chunk banding only guarantees hamming <= 3")
    val sh = shingleSets(docs, k).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), simHash(col("shingles")).as("sim"))
    // chunk c of the 30-bit value: widths 8,8,7,7 at offsets 0,8,16,23.
    val chunks = Seq((0, 8), (8, 8), (16, 7), (23, 7))
    val withChunks = sh.select(col("doc_id"), col("sim"),
      explode(array(chunks.zipWithIndex.map { case ((off, w), i) =>
        struct(lit(i).as("chunk"),
          shiftright(col("sim"), off).bitwiseAND(lit((1L << w) - 1)).as("ckey"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("sim"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    withChunks.as("x").join(withChunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ckey") === col("y.ckey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sim").as("sim_a"), col("y.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Consolidate near-duplicate PAIRS into CLUSTERS: connected components
    * over the pair graph, labeling every matched doc with the smallest
    * doc_id reachable from it (the canonical keeper).
    * Output: (doc_id, cluster_id) for every doc appearing in `pairs`.
    *
    * Size-adaptive strategy. The edge list is bounded by the number of
    * near-duplicate PAIRS — orders of magnitude smaller than the corpus —
    * so it is usually driver-sized even when the corpus is 100 TB:
    * below `driverThreshold` edges, collect and run union-find with path
    * compression (near-linear, zero iterative jobs — iterative Spark
    * rounds cost ~1 s of scheduling each, which dominates everything for
    * graphs of millions of edges). Past the threshold, Pregel-style
    * min-label propagation with pointer jumping (label(label(v)) per
    * round → O(log diameter) rounds) as plain joins/aggs. Both paths
    * compute the identical min-id labeling; equivalence is test-pinned
    * and the oracle gate (recursive closure in DuckDB) covers whichever
    * path the threshold selects. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 25,
                    driverThreshold: Long = 4000000L): DataFrame = {
    // Both orientations from ONE scan: `pairs` is typically a whole LSH
    // candidate+verify pipeline, and a self-union would plan (and run) that
    // pipeline twice — ReuseExchange only dedupes the shuffle stages, not
    // the map-side work above the last exchange.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().transform(Boundary.pin)
    val longIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longIds && edges.count() <= driverThreshold)
      return unionFindLocal(edges, driverThreshold)
    // Each round is staged: the flat plan doesn't deepen by two joins per
    // iteration, and the previous round is released as soon as the next
    // one is staged.
    var labels = Boundary.stage(
      edges.select(col("u").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("v"), col("cluster_id").as("nl")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min("nl").as("nbr"))
      // carry the previous label through the round so convergence reads off
      // the same staged relation — no extra join per round
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr"), col("cluster_id")))
            .as("mid"),
          col("cluster_id").as("__old"))
      // pointer jumping: follow the label's OWN label (label(label(v))),
      // so propagation distance doubles per round and convergence is
      // O(log diameter) rounds, not O(diameter) — embedding near-dup
      // graphs form long chains (cosine similarity is barely transitive),
      // and at ~1s of job overhead per round on a cluster the round count
      // is the entire cost for small graphs. Labels stay monotone
      // decreasing, so the fixpoint (= neighbor-min stability) is
      // unchanged; the lookup side recomputes `stepped` inside the same
      // job, a few joins over data this round already touched.
      val jumpTo = stepped
        .select(col("doc_id").as("__jkey"), col("mid").as("__jump"))
      val updated = Boundary.stage(
        stepped.join(jumpTo, col("mid") === col("__jkey"), "left")
          .select(col("doc_id"),
            least(col("mid"), coalesce(col("__jump"), col("mid")))
              .as("cluster_id"),
            col("__old")))
      // round 0 always changes (every multi-node cluster moves) — skip the
      // count job and only pay for convergence checks from round 1 on
      changed =
        if (it == 0) 1L
        else updated.filter(col("cluster_id") =!= col("__old")).count()
      Boundary.release(labels)
      labels = updated
      it += 1
    }
    require(changed == 0, s"label propagation did not converge in $maxIter rounds")
    Boundary.release(edges)
    labels.drop("__old")
  }

  /** Driver-side union-find over a collected (long-id) edge list: ids are
    * remapped to dense ints (sorted primitive array + binary search) so
    * parent pointers live in an Array[Int] — no boxed maps. Peak driver
    * memory at the 4M-edge default is a few hundred MB (the Tuple2[Long,
    * Long] edge array dominates; Tuple2 is @specialized on Long). Path
    * compression + min-root union: the sorted remap makes the min INDEX
    * the min ID, so every root is its component's min id. */
  private def unionFindLocal(edges: DataFrame, bound: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val arr = edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect()
    // The driver-memory guard, enforced (not just narrated in the dispatch
    // comment): a future caller that skips the count-gated dispatch must
    // not be able to collect an unbounded edge list onto the driver.
    require(arr.length <= bound,
      s"unionFindLocal collected ${arr.length} edges > driver bound $bound — " +
        "route this graph through label propagation")
    Boundary.release(edges)
    // every vertex appears on the u side (edges carry both orientations)
    val ids = arr.map(_._1)
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices)
      if (i == 0 || ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 }
    val uniq = java.util.Arrays.copyOf(ids, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    arr.foreach { case (u, v) =>
      val ru = find(java.util.Arrays.binarySearch(uniq, u))
      val rv = find(java.util.Arrays.binarySearch(uniq, v))
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    val labeled = (0 until n).map(i => (uniq(i), uniq(find(i))))
    // RDD-backed, not a LocalRelation literal: millions of rows embedded in
    // the logical plan would weigh on every optimizer pass downstream
    spark.sparkContext
      .parallelize(labeled, math.max(1, n / 500000))
      .toDF("doc_id", "cluster_id")
  }

  /** Near-duplicate CLUSTERS at corpus scale WITHOUT pair enumeration — the
    * anchor-edge (star) construction production dedup pipelines use when
    * duplicate clusters are huge. [[minHashPairs]] must materialize every
    * intra-cluster pair: a corpus with c-way duplication emits O(c²) true
    * pairs per cluster AND pays a band×c² candidate blowup before its
    * distinct (measured: 351 s at a 100×-replica corpus of 100-way clones,
    * where the pair OUTPUT alone is ~25M rows). Here each band bucket
    * instead contributes one VERIFIED edge per member to the bucket's
    * min-id doc (hub): edges are O(docs × bands) regardless of clustering,
    * the window-min needs no per-bucket materialization, and the exact
    * Jaccard verify keeps sub-threshold bucket collisions (frequent at low
    * thresholds, where the S-curve is shallow) out of the graph.
    *
    * Semantics: components of the verified hub-edge graph. Identical to
    * `dedupClusters(minHashPairs(...))` whenever cluster members verify
    * against their bucket hubs (clone-style clusters — the common case this
    * operator exists for; pinned by OpsSpec). The approximation is one-sided
    * per EDGE, not per pair of endpoints: a true pair (B, C) survives only
    * if B and C stay connected through verified hub edges, so ONE failing
    * endpoint suffices to split it — hub A with members B, C where
    * J(A,B) ≥ t but J(A,C) < t loses B–C even though J(B,C) ≥ t. This is
    * the standard anchor-doc trade; exact pair semantics stay available via
    * [[minHashPairs]] + [[dedupClusters]]. */
  def clustersLsh(docs: DataFrame, threshold: Double, k: Int = 3): DataFrame = {
    val sets = shingleSets(docs, k)
      .filter(size(col("shingles")) > 0)
      .transform(Boundary.pin)
    // hub = bucket min: a window aggregate, not a groupBy+collect — no
    // bucket is ever gathered into one row however large the cluster.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    val star = minHashBuckets(sets, threshold)
      .withColumn("hub", min("doc_id").over(w))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val labels =
      dedupClusters(verifyJaccard(star, sets, threshold).select("doc_a", "doc_b"))
    // dedupClusters is eager, so nothing references the shingle sets anymore
    Boundary.release(sets)
    labels
  }

  /** The deduplicated corpus: every cluster member except the keeper (the
    * cluster's min doc_id) is dropped; documents that appear in no near-dup
    * pair pass through untouched. Left-anti join on the drop list; the
    * join strategy is left to Catalyst/AQE — the drop list is a single id
    * column, so it broadcasts up to hundreds of millions of dupes, and a
    * heavily-duplicated corpus (where it doesn't) degrades to a shuffled
    * anti-join rather than failing. */
  def deduplicated(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = dedupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Benchmark decontamination: train documents sharing at least one
    * k-token shingle with any benchmark document, with the count of shared
    * distinct shingles (the usual evidence column for a removal decision).
    *
    * Plan shape at scale: the benchmark's distinct shingle-hash relation is
    * orders of magnitude smaller than the train corpus. By default a BLOOM
    * FILTER of those hashes (built driver-side — benchmarks are MB-sized by
    * nature) is pushed into the train side as a codegen'd map-side filter
    * ([[graft.expr.BloomMightContainLong]]): almost every train shingle is
    * dropped AT THE SCAN, so the shuffle join carries ~only the
    * contaminated shingles instead of the whole exploded corpus (measured
    * at the 10× documents replica: see DESIGN.md §10). The exact equi-join
    * still follows, so Bloom false positives can only cost a few extra
    * joined rows — results are identical with or without the filter
    * (`bloomFpp = None` disables it; OpsSpec pins equality). Only
    * contaminated docs reach the final aggregation. */
  def contaminated(train: DataFrame, benchmark: DataFrame,
                   k: Int = 8, bloomFpp: Option[Double] = Some(0.01)): DataFrame = {
    val bm = shingleSets(benchmark, k)
      .select(explode(col("shingles")).as("h")).distinct()
    val tr = shingleSets(train, k)
      .select(col("doc_id"), explode(col("shingles")).as("h"))
    val trPruned = bloomFpp match {
      case Some(fpp) =>
        // Bloom sizing + build WITHOUT the distinct exchange or a pinned
        // relation (the former shape persisted the distinct hashes across
        // a count job and the build): insertion is idempotent, so building
        // over the NON-distinct exploded hashes yields the identical
        // member set, and expectedNumItems only needs an UPPER BOUND on
        // the distinct count — the map-only per-doc set-size sum is one
        // (per-doc sets are distinct; cross-doc repeats only overcount).
        // One narrow 1-row aggregate + one build scan, no shuffle, no
        // persist bookkeeping; the bound can only LOWER the realized fpp,
        // and false positives only pass extra rows to the exact join —
        // results identical (OpsSpec pins bloom-on ≡ bloom-off).
        val bmSets = shingleSets(benchmark, k)
        val nUB = math.max(1L, Option(bmSets
            .agg(sum(size(col("shingles")))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L))
        val bloom = bmSets.select(explode(col("shingles")).as("h"))
          .stat.bloomFilter("h", nUB, fpp)
        tr.filter(org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expr.BloomMightContainLong(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("h")), bloom)))
      case None => tr
    }
    // per-doc shingles are already distinct, so a plain count is the count
    // of distinct shared shingles
    trPruned.join(bm, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Span-level exact dedup (the "remove duplicated substrings" pass of
    * LLM corpus curation, approximated at fixed-span granularity): chunk
    * each document into consecutive `spanTokens`-token spans, keep only the
    * FIRST occurrence of each distinct span text in corpus order
    * (doc_id, span_idx), and reassemble what survives per document.
    * Boilerplate repeated across millions of pages (navigation chrome,
    * license headers) is removed from every page but the first while the
    * surrounding unique text is retained — document-level dedup
    * ([[exact]]/[[minHashPairs]]) would keep or drop whole documents.
    *
    * Output: (doc_id, text, n_spans, n_kept) for every document with ≥ 1
    * token; `text` is the kept spans joined by single spaces ("" when every
    * span was seen earlier).
    *
    * Plan shape at scale — two shuffles, both skew-safe:
    *  1. keeper per span: groupBy md5(span) → min (doc_id, span_idx).
    *     Partial (map-side) aggregation collapses a mega-duplicated span
    *     (the boilerplate hot key — exactly the span this operator exists
    *     to remove) to one row per map task BEFORE the shuffle, where a
    *     row_number window would sort the entire hot partition. The join
    *     back is one row per distinct span on the build side; AQE's skew
    *     join splits the probe side's hot hash.
    *  2. reassembly: groupBy doc_id, spans sorted by span_idx inside the
    *     aggregation buffer (array_sort on structs — per-doc-sized, no
    *     window). md5 (128-bit), not the 30-bit polynomial hash: span
    *     identity must not collide at corpus scale.
    */
  def spanDedup(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val w = spanTokens
    val toks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val spans = toks.select(col("doc_id"),
        posexplode(transform(
          // last span index = (n-1) / w (integer division); n >= 1 here
          // (SQL `/` is double division — floor via the int cast)
          sequence(lit(0), ((size(col("t")) - lit(1)) / lit(w)).cast("int")),
          i => array_join(slice(col("t"), i * w + 1, lit(w)), " "))))
      .withColumnRenamed("pos", "span_idx")
      .withColumnRenamed("col", "span")
      .withColumn("h", md5(col("span")))
    val keepers = spans.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("__first"))
    spans.join(keepers, Seq("h"))
      .withColumn("__keep",
        col("__first.doc_id") === col("doc_id") &&
          col("__first.span_idx") === col("span_idx"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("span_idx"), col("span"))))),
            s => s.getField("span")),
          " ").as("text"),
        count(lit(1)).as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Exact n-gram Jaccard pairs within a blocking column (e.g. lang):
    * per-block nested-loop — correct and cheap when blocks are bounded;
    * the unblocked scale path is [[minHashPairs]]. */
  def blockedJaccardPairs(docs: DataFrame, blockCol: String,
                          threshold: Double, k: Int = 2): DataFrame = {
    val sets = docs.select(col("doc_id"), col(blockCol).as("block"),
        TextAnalysis.shingleHashes(col("text"), k).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val a = sets.select(col("block"), col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val b = sets.select(col("block"), col("doc_id").as("doc_b"), col("shingles").as("sb"))
    a.join(b, Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.LongIntersectSize(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sa")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sb")))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("block"), col("doc_a"), col("doc_b"),
        graft.Num.rnd(col("jaccard"), 4).as("jaccard"))
  }
}
