package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, EventOps, Multimodal, Packing, Profile, QualityModel, Sampling, Similarity, TextAnalysis, TextSql}
import org.apache.spark.sql.graftbridge.Boundary

/** Driver contract — one entry per operator from SURVEY.md §2, each with a
  * DuckDB-equivalent oracle SQL over the same parquet tables. Column names
  * and rounding are kept identical on both sides (the driver's compare
  * sorts columns by name and hashes values).
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers
  private def rnd(c: Column, n: Int): Column = Num.rnd(c, n)

  /** Once-per-JVM fixture-silence preconditions for the planted-clone LSH
    * gates (q60/q111/q127 share the embeddings self-check; q129 has the
    * train×benchmark cross-check): the gates' full-hash determinism rests
    * on the REAL corpus having no non-identical pair at the gate threshold
    * ([[graft.ops.Similarity.requireSilentAbove]]) — assert it AT GATE TIME
    * so a regenerated/rescaled fixture fails with a fixture message instead
    * of a hash mismatch that reads as an engine bug (VERDICT r10 #1).
    * Memoized per (check, dir): verify runs and both bench reps pay each
    * exact-kernel pass once per JVM. */
  private val silenceChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def silenceOnce(key: String)(check: => Unit): Unit =
    if (!silenceChecked.contains(key)) { check; silenceChecked.add(key) }

  /** The exact silence kernel is O(n²) by design (gate tooling, not a
    * production operator); it exists to validate the DRIVER's testdata
    * fixtures, which top out at ~2k vectors (sf0.1). Corpora above this
    * cap — dev stress replicas, where no oracle comparison happens — skip
    * the assertion rather than pay a quadratic kernel to validate a
    * fixture nothing is hash-compared against. */
  private val SilenceCheckCap = 10000L

  /** The shared q60/q111/q127/q129 precondition: no real embeddings pair
    * in [0.9, 1) that is not bit-identical (q129's planted clones inherit
    * bench×bench similarities, so the SELF check over the whole table is
    * the complete precondition for it too). */
  private def requireEmbedSelfSilence(s: SparkSession, dir: String,
                                      gate: String): Unit =
    silenceOnce(s"self0.9@$dir") {
      val e = Cohorts.embeddings(s, dir)
      if (e.count() <= SilenceCheckCap)
        Similarity.requireSilentAbove(e, 0.9,
          s"$gate fixture-silence precondition")
    }

  private def cohortPair(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Cohorts.cohorts(s, dir)

  private def allPairs(s: SparkSession, dir: String): DataFrame = {
    val (c, nc) = cohortPair(s, dir)
    // The consent cohort (a year of orders ⋈ customer) is dimension-sized:
    // broadcast it so the pairs expansion never shuffles the big side.
    NeighborJoin.pairs(c, nc, Cohorts.spec, broadcastConsent = true)
  }

  /** Banded exact top-k over the standard cohorts (≡ dense top-k — q58,
    * PropertySpec): the input for gates that test DOWNSTREAM operators, so
    * only q08/q09 intentionally exercise the quadratic reference kernel. */
  private def bandedTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val (c, nc) = cohortPair(s, dir)
    NeighborJoin.topKBanded(c, nc, Cohorts.spec, k)
  }

  /** Shared projection of a full adjusted frame (q13/q18). */
  private def selectAdjusted(adjusted: DataFrame): DataFrame =
    adjusted.select(
      col("month"), col("idx"), col("value"),
      rnd(col("adjusted_conversion"), 4).as("adjusted_conversion"),
      rnd(col("average_distance"), 4).as("average_distance"),
      col("n_added_conversions"),
      rnd(col("sum_distribution_weights"), 6).as("sum_distribution_weights"),
      rnd(col("naive_adjusted_conversion"), 4).as("naive_adjusted_conversion"))

  /** q46/q47 shared oracle CTEs: exact near-dup pairs (jaccard ≥ 0.5) →
    * recursive reachability closure → `cl(doc_id, cluster_id)` with the
    * min-reachable-id keeper. */
  private def dedupClustersCtes: String =
    s"""WITH RECURSIVE ${TextSql.toksCte},
       |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
       |       FROM toks),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
       |         len(a.s) + len(b.s) AS tot
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(a.s) > 0 AND len(b.s) > 0),
       |prs AS (SELECT doc_a, doc_b FROM p WHERE inter / (tot - inter) >= 0.5),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |          UNION ALL SELECT doc_b, doc_a FROM prs),
       |reach AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |cl AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY u)""".stripMargin

  /** The planted-clone corpus shared by the q127 and q141 gates (the q111
    * discipline): every doc_id % 10 == 0 doc gets a clone at id + 1e6 with
    * fresh unique text (100 distinct tokens ⇒ passes the quality floor,
    * shares no shingles with anything ⇒ survives lexical dedup +
    * decontamination) but the ORIGINAL's embedding — so at semantic
    * threshold 0.9, where the real corpus is silent (asserted by
    * [[requireEmbedSelfSilence]]), the SRP full-signature star finds
    * exactly the deterministic identical-embedding pairs and the LSH
    * semantic stage hash-matches the recursive-closure oracle in FULL. */
  private def plantedCloneCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d0 = Cohorts.documents(s, dir)
    val e0 = Cohorts.embeddings(s, dir)
    val clones = d0.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("source", lit("clone"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), lit(100)),
          i => concat(lit("c"), col("doc_id").cast("string"),
            lit("t"), i.cast("string")))))
    // Pinned fixture frames (the deltaReleaseFixture discipline): the
    // curation chain scans its corpus ~4× (minhash sets, decontam train +
    // benchmark shingles, the dedup re-attach) and each scan would re-run
    // the interpreted 100-token clone transform. Freed by the harness
    // scope like every gate pin.
    (d0.unionByName(clones)
       .transform(Boundary.pin),
      e0.unionByName(e0.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000L)))
       .transform(Boundary.pin))
  }

  /** q127/q141 shared oracle prefix over the planted-clone corpus: the
    * clone construction (dc/dext), tokenization, the lexical near-dup
    * recursive closure (cl), quality signals (m), decontamination
    * (contam), the lexical survivor set `s1` — optionally gated by the
    * frozen-weight model classifier ([[TextSql.modelQualityCtes]]) when
    * `modelFloor` is set — then the SemDeDup recursive closure over the
    * SURVIVORS' embeddings and the per-cluster best-quality `keepers`,
    * plus the token-count relation `nt`. Consumers append their own CTEs
    * and final SELECT. */
  private def cloneCurationCtes(modelFloor: Option[Double]): String = {
    val mqCtes = modelFloor
      .map(_ => s"${TextSql.modelQualityCtes},\n").getOrElse("")
    val mqPred = modelFloor.map(f =>
      s"""
         |         AND d.doc_id IN (SELECT doc_id FROM mq
         |                          WHERE model_quality >= $f)""".stripMargin)
      .getOrElse("")
    s"""WITH RECURSIVE
       |dc AS (SELECT doc_id, lang, 'clone' AS source, n_chars,
       |              array_to_string(list_transform(range(1, 101),
       |                i -> 'c' || doc_id || 't' || i), ' ') AS text
       |       FROM (SELECT doc_id + 1000000 AS doc_id, lang, n_chars
       |             FROM documents WHERE doc_id % 10 = 0)),
       |dext AS (SELECT doc_id, lang, source, n_chars, text FROM documents
       |         UNION ALL
       |         SELECT doc_id, lang, source, n_chars, text FROM dc),
       |toks AS (
       |  SELECT doc_id, lang, source, n_chars, text,
       |         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
       |  FROM dext),
       |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
       |       FROM toks),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
       |         len(a.s) + len(b.s) AS tot
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(a.s) > 0 AND len(b.s) > 0),
       |prs AS (SELECT doc_a, doc_b FROM p WHERE inter / (tot - inter) >= 0.5),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |          UNION ALL SELECT doc_b, doc_a FROM prs),
       |reach AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |cl AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY u),
       |${TextSql.qualitySignalsCte()},
       |sh8 AS (SELECT doc_id, source, ${TextSql.shingleHashes("t", 8)} AS s8
       |        FROM toks),
       |bm AS (SELECT DISTINCT unnest(s8) AS h FROM sh8 WHERE source = 'src0'),
       |contam AS (SELECT DISTINCT doc_id FROM
       |             (SELECT doc_id, unnest(s8) AS h FROM sh8 WHERE source <> 'src0')
       |           JOIN bm USING (h)),
       |-- MATERIALIZED: same two-consumer re-inlining economics as
       |-- q126's s1 (memory: 80+ min -> 10 min at sf0.1)
       |${mqCtes}s1 AS MATERIALIZED (
       |       SELECT d.doc_id FROM dext d JOIN m USING (doc_id)
       |       WHERE d.source <> 'src0'
       |         AND d.doc_id NOT IN (SELECT doc_id FROM cl
       |                              WHERE doc_id <> cluster_id)
       |         AND d.doc_id NOT IN (SELECT doc_id FROM contam)
       |         AND least(1.0, n / 100) * 0.4 + (stop / n) * 0.3
       |             + ttr * 0.3 >= 0.4$mqPred),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |eext AS (SELECT * FROM e0
       |         UNION ALL
       |         SELECT vec_id + 1000000, v FROM e0 WHERE vec_id % 10 = 0),
       |ev AS (SELECT eext.vec_id, eext.v
       |       FROM eext JOIN s1 ON eext.vec_id = s1.doc_id),
       |eprs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |         FROM ev a JOIN ev b ON a.vec_id < b.vec_id
       |         WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
       |eedges AS (SELECT doc_a AS u, doc_b AS v FROM eprs
       |           UNION ALL SELECT doc_b, doc_a FROM eprs),
       |ereach AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM eedges)
       |  UNION
       |  SELECT e2.u, ereach.r FROM eedges e2 JOIN ereach ON e2.v = ereach.u),
       |ecl AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |        FROM ereach GROUP BY u),
       |qv AS (SELECT doc_id, ${TextSql.qualityScoreFromM} AS quality FROM m),
       |mem AS (SELECT s1.doc_id,
       |               COALESCE(ecl.cluster_id, s1.doc_id) AS cluster_id,
       |               qv.quality
       |        FROM s1 JOIN qv USING (doc_id) LEFT JOIN ecl USING (doc_id)),
       |keepers AS (SELECT doc_id, quality FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, doc_id ASC) AS rn FROM mem)
       |  WHERE rn = 1),
       |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
       |       FROM toks WHERE len(t) > 0)""".stripMargin
  }

  /** The q145 "refreshed" model: a SECOND deterministic weight vector —
    * different mix constants than [[graft.ops.QualityModel.Weights]] — so
    * the weights-as-data path demonstrably scores differently from the
    * frozen build. Computed by the same pure arithmetic the q145 gate
    * evaluates IN-ENGINE over a relation (long ops exact, then one IEEE
    * divide/sub/mul in fixed order), so the Spark-collected vector, this
    * oracle-side vector, and DuckDB's parse of its Double.toString
    * literals are bit-identical. */
  private lazy val weightsV2: Seq[Double] =
    (0 until graft.ops.QualityModel.Dim).map { i =>
      val h = (i.toLong * 2246822519L + 3266489917L) % 1000033L
      (h.toDouble / 1000033.0 - 0.5) * 1.8
    }
  private val BiasV2 = 0.05
  private val ThresholdV2 = 0.5

  /** q147's oracle: the incremental release replayed in SQL — prior
    * release fixture, closed-form delta statuses (the fixture's
    * added/changed/removed sets are modular predicates, so the oracle
    * needs no md5 replay), then the admission chain in the operator's
    * exact stage order (floor → decontam → cross-lexical → within-lexical
    * closure → cross-semantic → within-semantic closure + best-quality
    * keeper → budget → recursive packing → appended pack shuffle), ending
    * in retained ∪ fresh. Every lexical/semantic kernel is the EXACT form
    * (the LSH engine paths are recall-guaranteed / fixture-silent, the
    * q25/q111/q123/q127/q129 disciplines). Heavily MATERIALIZED — the
    * layered-CTE re-inlining lesson (q126/q142). */
  private val deltaHu = (e: String, sd: String) => Sampling.hashUnitSql(e, sd)
  private val deltaJac = (a: String, b: String) =>
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"(len($a) + len($b) - len(list_intersect($a, $b)))"

  /** One planted-clone corpus CTE: 100 id-unique tokens per clone of the
    * base docs with doc_id % 20 = m, shifted by `off`. */
  private def cloneCte(name: String, m: Int, off: Long): String =
    s"""$name AS (SELECT doc_id, lang, 'clone' AS source, n_chars,
       |       array_to_string(list_transform(range(1, 101),
       |         i -> 'dx' || doc_id || 't' || i), ' ') AS text
       |     FROM (SELECT doc_id + $off AS doc_id, lang, n_chars
       |           FROM documents WHERE doc_id % 20 = $m))""".stripMargin

  /** The q147/q148/q153 fixture CTEs: gen-1 churn snapshots (prev via
    * modular edits of `documents`, cur = documents%13≠0 ∪ planted clones),
    * the modular prior-release assignment, and both embedding relations. */
  private def deltaFixtureCtes: String =
    s"""${cloneCte("dcx", 1, 1000000L)},
       |${cloneCte("dwa", 3, 2000000L)},
       |${cloneCte("dwb", 3, 3000000L)},
       |dcur AS MATERIALIZED (
       |  SELECT doc_id, lang, source, n_chars, text FROM documents
       |  WHERE doc_id % 13 <> 0
       |  UNION ALL SELECT doc_id, lang, source, n_chars, text FROM dcx
       |  UNION ALL SELECT doc_id, lang, source, n_chars, text FROM dwa
       |  UNION ALL SELECT doc_id, lang, source, n_chars, text FROM dwb),
       |toksp AS (SELECT doc_id, lang, source,
       |       list_filter(string_split_regex(
       |         CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END,
       |         '\\s+'), t -> t <> '') AS t
       |     FROM documents WHERE doc_id % 10 <> 0),
       |prk AS MATERIALIZED (
       |  SELECT doc_id, lang, CAST(doc_id % 4 AS BIGINT) AS shard,
       |         CAST(len(t) AS BIGINT) AS tokens,
       |         CAST(doc_id % 3 AS BIGINT) AS pack_id, source,
       |         'p/' || lang || '/' || (doc_id % 4) || '/' || (doc_id % 3)
       |           AS pack_key
       |  FROM toksp WHERE source <> 'src0' AND len(t) > 0),
       |ppos AS (SELECT pack_key, CAST(row_number() OVER (
       |    ORDER BY ${deltaHu("pack_key", "prevrel")}, pack_key) AS BIGINT) - 1
       |    AS shuffle_pos
       |  FROM (SELECT DISTINCT pack_key FROM prk)),
       |prior AS MATERIALIZED (
       |  SELECT prk.doc_id, prk.lang, prk.shard, prk.tokens, prk.pack_id,
       |         prk.pack_key, prk.source, ppos.shuffle_pos,
       |         ppos.shuffle_pos % 4 AS out_shard
       |  FROM prk JOIN ppos USING (pack_key)),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ecur AS MATERIALIZED (SELECT vec_id, v FROM e0
       |  UNION ALL SELECT vec_id + 1000000, v FROM e0 WHERE vec_id % 20 = 1
       |  UNION ALL SELECT vec_id + 2000000, v FROM e0 WHERE vec_id % 20 = 3
       |  UNION ALL SELECT vec_id + 3000000, v FROM e0 WHERE vec_id % 20 = 3)""".stripMargin

  /** The delta-release ADMISSION CHAIN replayed in SQL, parameterized so a
    * second generation can stack on the first (q153): given a prior
    * assignment relation, a closed-form retained predicate, the current
    * snapshot/embedding relations and a candidate predicate, emits the
    * `S`-suffixed CTEs from `retainedS` through `freshS` in the
    * operator's exact stage order (floor → decontam → cross-lexical →
    * within-lexical closure → cross-semantic → within-semantic closure +
    * best-quality keeper → budget → recursive packing → appended pack
    * shuffle). Exact kernels throughout; multiply-referenced CTEs
    * MATERIALIZED (the q126/q142 re-inlining lesson). */
  private def deltaChainCtes(S: String, priorRel: String,
      retainedPred: String, curRel: String, candPred: String,
      embRel: String, generation: String, budget: Long,
      packShards: Int, outShards: Int): String = {
    val hu = deltaHu; val jac = deltaJac
    s"""retained$S AS MATERIALIZED (
       |  SELECT * FROM $priorRel WHERE $retainedPred),
       |cand0$S AS (SELECT * FROM $curRel
       |  WHERE source <> 'src0' AND $candPred),
       |toks$S AS MATERIALIZED (
       |  SELECT doc_id, lang, source, n_chars, text,
       |         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
       |  FROM cand0$S),
       |${TextSql.qualitySignalsCte()
          .replace("m AS (", s"m$S AS MATERIALIZED (")
          .replace("FROM toks)", s"FROM toks$S)")},
       |cand1$S AS MATERIALIZED (
       |  SELECT t2.doc_id, t2.lang, t2.source, t2.t
       |  FROM toks$S t2 JOIN m$S USING (doc_id)
       |  WHERE least(1.0, n / 100) * 0.4 + (stop / n) * 0.3 + ttr * 0.3 >= 0.4),
       |toksb$S AS (SELECT doc_id,
       |       list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
       |     FROM $curRel WHERE source = 'src0'),
       |bm$S AS (SELECT DISTINCT unnest(${TextSql.shingleHashes("t", 8)}) AS h
       |       FROM toksb$S),
       |contam$S AS (SELECT DISTINCT doc_id FROM
       |    (SELECT doc_id, unnest(${TextSql.shingleHashes("t", 8)}) AS h
       |     FROM cand1$S) tc
       |  JOIN bm$S USING (h)),
       |cand2$S AS MATERIALIZED (SELECT * FROM cand1$S
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam$S)),
       |shc$S AS MATERIALIZED (SELECT doc_id,
       |    ${TextSql.shingleHashes("t", 3)} AS s FROM cand2$S),
       |toksr$S AS (SELECT d.doc_id,
       |       list_filter(string_split_regex(d.text, '\\s+'), t -> t <> '') AS t
       |     FROM $curRel d JOIN retained$S r ON d.doc_id = r.doc_id),
       |shr$S AS MATERIALIZED (SELECT doc_id,
       |    ${TextSql.shingleHashes("t", 3)} AS s FROM toksr$S),
       |ckill$S AS (SELECT DISTINCT c.doc_id
       |  FROM shc$S c JOIN shr$S r
       |  ON len(c.s) > 0 AND len(r.s) > 0 AND ${jac("c.s", "r.s")} >= 0.5),
       |cand3$S AS MATERIALIZED (SELECT * FROM cand2$S
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ckill$S)),
       |sh3$S AS MATERIALIZED (SELECT shc$S.doc_id, shc$S.s
       |  FROM shc$S JOIN cand3$S USING (doc_id)),
       |prs$S AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh3$S a JOIN sh3$S b ON a.doc_id < b.doc_id
       |  WHERE len(a.s) > 0 AND len(b.s) > 0 AND ${jac("a.s", "b.s")} >= 0.5),
       |edges$S AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM prs$S
       |          UNION ALL SELECT doc_b, doc_a FROM prs$S),
       |reach$S AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges$S)
       |  UNION
       |  SELECT e.u, reach$S.r FROM edges$S e JOIN reach$S ON e.v = reach$S.u),
       |cl$S AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |       FROM reach$S GROUP BY u),
       |cand4$S AS MATERIALIZED (SELECT * FROM cand3$S
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cl$S WHERE doc_id <> cluster_id)),
       |retemb$S AS MATERIALIZED (SELECT e.vec_id, e.v
       |  FROM $embRel e JOIN retained$S r ON e.vec_id = r.doc_id),
       |cde$S AS (SELECT e.vec_id, e.v
       |  FROM $embRel e JOIN cand4$S c ON e.vec_id = c.doc_id),
       |skill$S AS (SELECT DISTINCT c.vec_id AS doc_id FROM cde$S c JOIN retemb$S r
       |  ON list_cosine_similarity(c.v, r.v) >= 0.9),
       |cand5$S AS MATERIALIZED (SELECT * FROM cand4$S
       |  WHERE doc_id NOT IN (SELECT doc_id FROM skill$S)),
       |ce5$S AS MATERIALIZED (SELECT e.vec_id, e.v
       |  FROM $embRel e JOIN cand5$S c ON e.vec_id = c.doc_id),
       |eprs$S AS MATERIALIZED (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM ce5$S a JOIN ce5$S b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
       |eedges$S AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM eprs$S
       |           UNION ALL SELECT doc_b, doc_a FROM eprs$S),
       |ereach$S AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM eedges$S)
       |  UNION
       |  SELECT e2.u, ereach$S.r FROM eedges$S e2 JOIN ereach$S ON e2.v = ereach$S.u),
       |ecl$S AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |        FROM ereach$S GROUP BY u),
       |qv$S AS (SELECT doc_id, ${TextSql.qualityScoreFromM} AS quality FROM m$S),
       |mem$S AS (SELECT c.doc_id, COALESCE(ecl$S.cluster_id, c.doc_id) AS cluster_id,
       |               qv$S.quality
       |        FROM cand5$S c JOIN qv$S USING (doc_id)
       |        LEFT JOIN ecl$S USING (doc_id)),
       |keepers$S AS (SELECT doc_id, quality FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, doc_id ASC) AS rn FROM mem$S)
       |  WHERE rn = 1),
       |nt$S AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
       |       FROM toks$S WHERE len(t) > 0),
       |cum$S AS (SELECT k.doc_id, k.quality, nt$S.n_tokens,
       |               sum(nt$S.n_tokens) OVER (
       |                 ORDER BY k.quality DESC, k.doc_id ASC
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                 AS cum_tokens
       |        FROM keepers$S k JOIN nt$S USING (doc_id)),
       |sel$S AS (SELECT doc_id FROM cum$S WHERE cum_tokens <= $budget),
       |pb0$S AS (SELECT s2.doc_id, d.lang,
       |               CAST(floor(${hu("s2.doc_id", graft.ops.Packing.ShardSeed)} * $packShards) AS BIGINT) AS shard,
       |               nt$S.n_tokens AS tokens
       |        FROM sel$S s2 JOIN toks$S d USING (doc_id) JOIN nt$S USING (doc_id)),
       |pb$S AS (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) AS rn
       |       FROM pb0$S),
       |prec$S AS (
       |  SELECT lang, shard, rn, doc_id, tokens, tokens AS acc,
       |         CAST(1 AS BIGINT) AS pack_id
       |  FROM pb$S WHERE rn = 1
       |  UNION ALL
       |  SELECT b.lang, b.shard, b.rn, b.doc_id, b.tokens,
       |         CASE WHEN r.acc + b.tokens > 256 THEN b.tokens
       |              ELSE r.acc + b.tokens END,
       |         CASE WHEN r.acc + b.tokens > 256 THEN r.pack_id + 1
       |              ELSE r.pack_id END
       |  FROM pb$S b JOIN prec$S r
       |    ON b.lang = r.lang AND b.shard = r.shard AND b.rn = r.rn + 1),
       |npk$S AS (SELECT DISTINCT '$generation/' || lang || '/' ||
       |            CAST(shard AS VARCHAR) ||
       |            '/' || CAST(pack_id AS VARCHAR) AS pack_key FROM prec$S),
       |prevmax$S AS (SELECT max(shuffle_pos) AS mx FROM $priorRel),
       |nasn$S AS (SELECT pack_key,
       |           CAST(row_number() OVER (
       |             ORDER BY ${hu("pack_key", "relshuf")}, pack_key)
       |             AS BIGINT) - 1 + (SELECT mx FROM prevmax$S) + 1 AS shuffle_pos
       |         FROM npk$S),
       |fresh$S AS (SELECT p2.doc_id, p2.lang, p2.shard, p2.tokens, p2.pack_id,
       |                 '$generation/' || p2.lang || '/' ||
       |                   CAST(p2.shard AS VARCHAR) ||
       |                   '/' || CAST(p2.pack_id AS VARCHAR) AS pack_key,
       |                 d.source, a.shuffle_pos, a.shuffle_pos % $outShards AS out_shard
       |          FROM prec$S p2 JOIN $curRel d USING (doc_id)
       |          JOIN nasn$S a ON a.pack_key = '$generation/' || p2.lang || '/' ||
       |            CAST(p2.shard AS VARCHAR) || '/' ||
       |            CAST(p2.pack_id AS VARCHAR))""".stripMargin
  }

  private def deltaSelect(S: String): String =
    s"""SELECT doc_id, lang, shard, tokens, pack_id, pack_key, source,
       |       shuffle_pos, out_shard
       |FROM retained$S
       |UNION ALL
       |SELECT doc_id, lang, shard, tokens, pack_id, pack_key, source,
       |       shuffle_pos, out_shard
       |FROM fresh$S""".stripMargin

  /** q147/q148's oracle: the incremental release replayed in SQL — prior
    * release fixture, closed-form delta statuses (the fixture's
    * added/changed/removed sets are modular predicates, so the oracle
    * needs no md5 replay), then [[deltaChainCtes]] in the operator's exact
    * stage order, ending in retained ∪ fresh. */
  private def deltaReleaseOracleSql: String =
    s"""WITH RECURSIVE
       |$deltaFixtureCtes,
       |${deltaChainCtes("", "prior",
          "doc_id % 13 <> 0 AND doc_id % 7 <> 0", "dcur",
          "(doc_id >= 1000000 OR doc_id % 10 = 0 OR doc_id % 7 = 0)",
          "ecur", "d1", 3000L, 2, 4)}
       |${deltaSelect("")}""".stripMargin

  /** q153's oracle: TWO stacked generations — the full gen-1 chain as the
    * `prior2` relation, a second closed-form churn (removed % 17 = 2,
    * changed % 11 = 5 → ' v3', new planted clones m=7 cross / m=9 within
    * at offsets 4e6/5e6/6e6), then the chain again with generation 'd2'.
    * The ENGINE side runs gen-2 against the APPENDED
    * [[graft.ops.ReleaseDedupIndex]] restored from parquet, so a hash
    * match pins the whole index lifecycle: build → re-cut → append →
    * round-trip → re-cut. */
  private def gen2ReleaseOracleSql: String =
    s"""WITH RECURSIVE
       |$deltaFixtureCtes,
       |${deltaChainCtes("", "prior",
          "doc_id % 13 <> 0 AND doc_id % 7 <> 0", "dcur",
          "(doc_id >= 1000000 OR doc_id % 10 = 0 OR doc_id % 7 = 0)",
          "ecur", "d1", 3000L, 2, 4)},
       |prior2 AS MATERIALIZED (
       |${deltaSelect("")}),
       |${cloneCte("dcg", 7, 4000000L)},
       |${cloneCte("dha", 9, 5000000L)},
       |${cloneCte("dhb", 9, 6000000L)},
       |dcur2 AS MATERIALIZED (
       |  SELECT doc_id, lang, source, n_chars,
       |         CASE WHEN doc_id % 11 = 5 THEN text || ' v3' ELSE text END AS text
       |  FROM dcur WHERE doc_id % 17 <> 2
       |  UNION ALL SELECT doc_id, lang, source, n_chars, text FROM dcg
       |  UNION ALL SELECT doc_id, lang, source, n_chars, text FROM dha
       |  UNION ALL SELECT doc_id, lang, source, n_chars, text FROM dhb),
       |ecur2 AS MATERIALIZED (SELECT vec_id, v FROM ecur
       |  UNION ALL SELECT vec_id + 4000000, v FROM e0 WHERE vec_id % 20 = 7
       |  UNION ALL SELECT vec_id + 5000000, v FROM e0 WHERE vec_id % 20 = 9
       |  UNION ALL SELECT vec_id + 6000000, v FROM e0 WHERE vec_id % 20 = 9),
       |${deltaChainCtes("2", "prior2",
          "doc_id % 17 <> 2 AND doc_id % 11 <> 5", "dcur2",
          "(doc_id >= 4000000 OR doc_id % 11 = 5)",
          "ecur2", "d2", 3000L, 2, 4)}
       |${deltaSelect("2")}""".stripMargin

  /** Oracle tail shared by q13/q18: shares → scatter-add → left join + naive. */
  private def adjustedTailSql(selCte: String): String =
    s"""${OracleCtes.softmax(selCte)},
       |acc AS (
       |  SELECT month, c_idx, sum(weighted_value) AS adj,
       |         sum(dist) / count(*) AS avg_d,
       |         CAST(count(*) AS BIGINT) AS n_added,
       |         sum(weight) AS w_sum
       |  FROM shares GROUP BY month, c_idx),
       |matched_nc AS (SELECT DISTINCT month, nc_idx, nc_value FROM $selCte),
       |ccnt AS (SELECT month, count(*) AS c_cnt FROM c GROUP BY month),
       |msum AS (SELECT month, sum(nc_value) AS nc_sum FROM matched_nc GROUP BY month),
       |naive AS (
       |  SELECT ccnt.month, coalesce(nc_sum, 0) / c_cnt AS naive_add
       |  FROM ccnt LEFT JOIN msum ON ccnt.month = msum.month)
       |SELECT c.month, c.idx, c.value,
       |       ROUND(1e-9 + coalesce(acc.adj, 0), 4) AS adjusted_conversion,
       |       ROUND(1e-9 + acc.avg_d, 4) AS average_distance,
       |       coalesce(acc.n_added, 0) AS n_added_conversions,
       |       ROUND(1e-9 + coalesce(acc.w_sum, 0), 6) AS sum_distribution_weights,
       |       ROUND(1e-9 + c.value + naive.naive_add, 4) AS naive_adjusted_conversion
       |FROM c
       |JOIN naive ON c.month = naive.month
       |LEFT JOIN acc ON acc.month = c.month AND acc.c_idx = c.idx""".stripMargin

  // --------------------------------------------------------------- registry
  /** (name, query, oracle SQL — None ⇒ driver does a rows-only check). */
  private lazy val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // S2 — source scan + pushed-down date predicate (SURVEY §2.A S2).
    ("q01_cohort_scan",
      (s: SparkSession, dir: String) =>
        Cohorts.base(s, dir).select("month", "idx", "value", "consent"),
      Some(s"""WITH ${OracleCtes.base}
              |SELECT month, idx, value, consent FROM base""".stripMargin)),

    // S3/A8 — scalar max-date query (cloud_function/main.py:124-134).
    ("q02_max_date",
      (s: SparkSession, dir: String) =>
        Cohorts.table(s, dir, "orders")
          .agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("latest_date")),
      Some("SELECT strftime(max(o_orderdate), '%Y-%m-%d') AS latest_date FROM orders")),

    // P1+P2 — null/non-positive cleaning then aggregate (preprocess.py:30-49).
    ("q03_clean",
      (s: SparkSession, dir: String) =>
        Preprocess.clean(Cohorts.table(s, dir, "lineitem"), "l_quantity")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
               rnd(sum("l_extendedprice"), 2).as("sum_price")),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             |       ROUND(1e-9 + CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
             |FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity > 0
             |GROUP BY l_returnflag""".stripMargin)),

    // P4 — faithful get_dummies wide one-hot (data-dependent schema). Input
    // is the full 1995 year: the category domain is saturated there at every
    // scale factor, so the static oracle column list matches the
    // data-dependent Spark schema (checked for sf0.001/0.01/0.1).
    ("q04_dummy_wide",
      (s: SparkSession, dir: String) => {
        val yr = Cohorts.table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .join(broadcast(Cohorts.table(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey").as("idx"),
            col("o_orderpriority"), col("o_orderstatus"), col("c_mktsegment"))
        Preprocess.dummyEncode(yr, Seq("o_orderpriority", "o_orderstatus", "c_mktsegment"))
      },
      Some {
        val pri = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val st = Seq("F", "O", "P")
        val seg = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val cases =
          pri.map(v => s"CASE WHEN o_orderpriority = '$v' THEN 1 ELSE 0 END AS ${Preprocess.sanitize(s"o_orderpriority_$v")}") ++
          st.map(v => s"CASE WHEN o_orderstatus = '$v' THEN 1 ELSE 0 END AS ${Preprocess.sanitize(s"o_orderstatus_$v")}") ++
          seg.map(v => s"CASE WHEN c_mktsegment = '$v' THEN 1 ELSE 0 END AS ${Preprocess.sanitize(s"c_mktsegment_$v")}")
        s"""SELECT o_orderkey AS idx, ${cases.mkString(",\n       ")}
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           |  AND o_orderdate <  TIMESTAMP '1996-01-01'""".stripMargin
      }),

    // U1 — union with consent flag, checked via per-flag aggregates.
    ("q05_union_flag",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        Preprocess.unionWithConsentFlag(nc, c)
          .groupBy("consent", "month")
          .agg(count(lit(1)).as("n_rows"), rnd(sum("value"), 2).as("sum_value"))
      },
      Some(s"""WITH ${OracleCtes.base}
              |SELECT consent, month, CAST(count(*) AS BIGINT) AS n_rows,
              |       ROUND(1e-9 + sum(value), 2) AS sum_value
              |FROM base GROUP BY consent, month""".stripMargin)),

    // P7 — deterministic dense row ids (pandas positional index analogue).
    ("q06_row_ids",
      (s: SparkSession, dir: String) => {
        val (_, nc) = cohortPair(s, dir)
        Preprocess.withRowIds(nc.filter(col("month") === "1995-01"), Seq("idx"), "rowid")
          .select("rowid", "idx")
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit}
              |SELECT CAST(row_number() OVER (ORDER BY idx) - 1 AS BIGINT) AS rowid, idx
              |FROM nc WHERE month = '1995-01'""".stripMargin)),

    // Scalar string ops — hierarchy split (preprocess.py:52-78 guidance).
    ("q07_hierarchy_split",
      (s: SparkSession, dir: String) =>
        Preprocess.splitHierarchy(
            Cohorts.table(s, dir, "orders"), "o_orderpriority", "-", 2)
          .select("o_orderkey", "o_orderpriority_l0", "o_orderpriority_l1"),
      Some("""SELECT o_orderkey,
             |       string_split(o_orderpriority, '-')[1] AS o_orderpriority_l0,
             |       string_split(o_orderpriority, '-')[2] AS o_orderpriority_l1
             |FROM orders""".stripMargin)),

    // J1 substrate — the candidate pairs relation with manhattan distance.
    ("q08_knn_pairs",
      (s: SparkSession, dir: String) =>
        allPairs(s, dir).filter(col("month") === "1995-01")
          .select(col("nc_idx"), col("c_idx"), rnd(col("dist"), 4).as("dist")),
      Some(s"""${OracleCtes.prefix}
              |SELECT nc_idx, c_idx, ROUND(1e-9 + dist, 4) AS dist
              |FROM pairs WHERE month = '1995-01'""".stripMargin)),

    // J1/W2 — exact top-k with deterministic tie-break (dist, c_idx).
    ("q09_knn_topk",
      (s: SparkSession, dir: String) =>
        NeighborJoin.topK(allPairs(s, dir), Cohorts.spec, 3.0)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist")),
      Some(s"""${OracleCtes.prefix},
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // J1/W2 scale path — exact top-k WITHOUT the dense pairs relation:
    // per-probe adaptive radius from the 1-D k-NN distance on the numeric
    // feature, then a bucket band join (near-linear shuffles; the dense
    // expansion measured ~quadratic at a 10× replica). Equals q09 exactly —
    // same oracle.
    ("q58_knn_topk_banded",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        NeighborJoin.topKBanded(c, nc, Cohorts.spec, 3)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist"))
      },
      Some(s"""${OracleCtes.prefix},
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // J2 — radius (theta) join via the numeric band prune (|Δacctbal| ≤ r
    // necessary condition → equi-join on (month, bucket), then exact
    // filter); output identical to filtering the dense pairs relation.
    ("q10_radius_join",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        NeighborJoin.withinRadiusBucketed(c, nc, Cohorts.spec, 100.0)
          .groupBy("month", "nc_idx")
          .agg(count(lit(1)).as("n_neighbors"))
      },
      Some(s"""${OracleCtes.prefix}
              |SELECT month, nc_idx, CAST(count(*) AS BIGINT) AS n_neighbors
              |FROM pairs WHERE dist <= 100.0 GROUP BY month, nc_idx""".stripMargin)),

    // J2 scale path — radius join via MinHash-LSH token-band pruning: the
    // banding threshold derives from the radius (guaranteed 1−1e-9 recall,
    // exact verify), so the result equals the dense theta join and shares
    // its oracle. Radius 2.5 < 2·|token set| keeps the bound non-vacuous —
    // the regime where token pruning (vs q10's numeric bucketing) applies.
    ("q45_radius_join_lsh",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        NeighborJoin.withinRadiusLsh(c, nc, Cohorts.spec, 2.5)
          .groupBy("month", "nc_idx")
          .agg(count(lit(1)).as("n_neighbors"))
      },
      Some(s"""${OracleCtes.prefix}
              |SELECT month, nc_idx, CAST(count(*) AS BIGINT) AS n_neighbors
              |FROM pairs WHERE dist <= 2.5 GROUP BY month, nc_idx""".stripMargin)),

    // Hamming radius join THROUGH the LSH token prune: dist ≤ r bounds the
    // token symmetric difference by r·W, which at r = 0.16 (W ≈ 14 here)
    // admits only pairs sharing ≥ 2 of the 3 category tokens — tight
    // enough for a guaranteed-recall MinHash banding, so the prune is
    // ACTIVE (not the dense fallback) while the oracle stays the dense
    // all-pairs filter.
    ("q72_radius_hamming_lsh",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val vocab = c.select(explode(col("features")).as("__t"))
          .union(nc.select(explode(col("features")).as("__t")))
          .distinct().count()
        val spec = Cohorts.spec.copy(metric = Hamming(vocab + 1))
        NeighborJoin.withinRadiusLsh(c, nc, spec, 0.16)
          .groupBy("month", "nc_idx")
          .agg(count(lit(1)).as("n_neighbors"))
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit},
              |w AS (SELECT CAST(count(DISTINCT t) + 1 AS DOUBLE) AS w
              |      FROM (SELECT unnest(features) AS t FROM base)),
              |pairs AS (
              |  SELECT nc.month, nc.idx AS nc_idx,
              |         (CAST(len(nc.features) + len(c.features)
              |              - 2 * len(list_intersect(nc.features, c.features)) AS DOUBLE)
              |           + CASE WHEN nc.c_acctbal <> c.c_acctbal THEN 1.0 ELSE 0.0 END)
              |           / (SELECT w FROM w) AS dist
              |  FROM nc JOIN c ON nc.month = c.month)
              |SELECT month, nc_idx, CAST(count(*) AS BIGINT) AS n_neighbors
              |FROM pairs WHERE dist <= 0.16 GROUP BY month, nc_idx""".stripMargin)),

    // W1 — numerically-stable softmax(−dist) shares per noconsent row.
    // Input = the banded exact top-k (≡ dense; q58/PropertySpec) so the
    // gate exercises the softmax operator, not the quadratic pairs kernel.
    ("q11_softmax_shares",
      (s: SparkSession, dir: String) =>
        Adjust.softmaxShares(
            bandedTopK(s, dir, 3), Cohorts.spec)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            rnd(col("weight"), 6).as("weight"),
            rnd(col("weighted_value"), 4).as("weighted_value")),
      Some(s"""${OracleCtes.prefix},
              |${OracleCtes.topk(3)},
              |${OracleCtes.softmax("topk")}
              |SELECT month, nc_idx, c_idx, ROUND(1e-9 + weight, 6) AS weight,
              |       ROUND(1e-9 + weighted_value, 4) AS weighted_value
              |FROM shares""".stripMargin)),

    // A1 — scatter-add as hash aggregation over the pairs relation.
    ("q12_scatter_add",
      (s: SparkSession, dir: String) =>
        Adjust.softmaxShares(
            bandedTopK(s, dir, 3), Cohorts.spec)
          .groupBy("month", "c_idx")
          .agg(rnd(sum("weighted_value"), 4).as("adjusted_conversion"),
               rnd(sum("dist") / count(lit(1)), 4).as("average_distance"),
               count(lit(1)).as("n_added_conversions"),
               rnd(sum("weight"), 6).as("sum_distribution_weights")),
      Some(s"""${OracleCtes.prefix},
              |${OracleCtes.topk(3)},
              |${OracleCtes.softmax("topk")}
              |SELECT month, c_idx,
              |       ROUND(1e-9 + sum(weighted_value), 4) AS adjusted_conversion,
              |       ROUND(1e-9 + sum(dist) / count(*), 4) AS average_distance,
              |       CAST(count(*) AS BIGINT) AS n_added_conversions,
              |       ROUND(1e-9 + sum(weight), 6) AS sum_distribution_weights
              |FROM shares GROUP BY month, c_idx""".stripMargin)),

    // J3+A1+A2 — the full adjusted consent frame under K(3).
    ("q13_adjusted_k",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        selectAdjusted(
          CocoaPipeline.run(c, nc, Cohorts.spec, MatchStrategy.K(3),
            broadcastConsent = true).adjusted)
      },
      Some(s"""${OracleCtes.prefix},
              |${OracleCtes.topk(3)},
              |${adjustedTailSql("topk")}""".stripMargin)),

    // A3 — per-cohort matched-summary statistics under Radius(100).
    ("q14_summary_radius",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val sel = NeighborJoin.withinRadiusBucketed(c, nc, Cohorts.spec, 100.0)
        Summary.matchedSummary(nc, Summary.nearestDistances(sel, Cohorts.spec), Cohorts.spec)
          .select(col("month"),
            rnd(col("percentage_matched_conversion_value"), 4).as("percentage_matched_conversion_value"),
            rnd(col("percentage_matched_conversions"), 4).as("percentage_matched_conversions"),
            col("number_matched_conversions"),
            rnd(col("total_matched_conversion_value"), 2).as("total_matched_conversion_value"))
      },
      Some(s"""${OracleCtes.prefix},
              |matched AS (
              |  SELECT month, nc_idx, any_value(nc_value) AS nc_value
              |  FROM pairs WHERE dist <= 100.0 GROUP BY month, nc_idx),
              |m AS (SELECT month, sum(nc_value) AS m_value,
              |             CAST(count(*) AS BIGINT) AS m_n
              |      FROM matched GROUP BY month),
              |t AS (SELECT month, sum(value) AS t_value, count(*) AS t_n
              |      FROM nc GROUP BY month)
              |SELECT t.month,
              |       ROUND(1e-9 + coalesce(m.m_value, 0) / t.t_value * 100, 4) AS percentage_matched_conversion_value,
              |       ROUND(1e-9 + coalesce(m.m_n, 0) / t.t_n * 100, 4) AS percentage_matched_conversions,
              |       coalesce(m.m_n, 0) AS number_matched_conversions,
              |       ROUND(1e-9 + coalesce(m.m_value, 0), 2) AS total_matched_conversion_value
              |FROM t LEFT JOIN m ON t.month = m.month""".stripMargin)),

    // A4 — distance_to_nearest_neighbor per matched noconsent row.
    ("q15_nearest_distance",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        Summary.nearestDistances(
            NeighborJoin.withinRadiusBucketed(c, nc, Cohorts.spec, 100.0), Cohorts.spec)
          .select(col("month"), col("nc_idx"),
            rnd(col("distance_to_nearest_neighbor"), 4).as("distance_to_nearest_neighbor"))
      },
      Some(s"""${OracleCtes.prefix}
              |SELECT month, nc_idx,
              |       ROUND(1e-9 + min(dist), 4) AS distance_to_nearest_neighbor
              |FROM pairs WHERE dist <= 100.0 GROUP BY month, nc_idx""".stripMargin)),

    // A5 — exact linear-interpolation quantile (percentile-strategy radius),
    // scoped per cohort like the reference's per-date runs (ADVICE r01).
    ("q16_quantile_radius",
      (s: SparkSession, dir: String) =>
        Summary.minRadiusByPercentilePerCohort(
            Summary.nearestDistances(bandedTopK(s, dir, 1), Cohorts.spec),
            0.9, Cohorts.spec)
          .select(col("month"), rnd(col("__radius"), 4).as("radius")),
      Some(s"""${OracleCtes.prefix},
              |nearest AS (SELECT month, nc_idx, min(dist) AS d
              |            FROM pairs GROUP BY month, nc_idx)
              |SELECT month, ROUND(1e-9 + quantile_cont(d, 0.9), 4) AS radius
              |FROM nearest GROUP BY month""".stripMargin)),

    // A5 scale twin — the two-pass sketch-bracketed EXACT quantile
    // (bounded memory per cohort; Spark's exact `percentile` buffers every
    // distinct value). Shares q16's oracle: the answers are identical.
    ("q69_quantile_twopass",
      (s: SparkSession, dir: String) =>
        Summary.minRadiusByPercentilePerCohortScalable(
            Summary.nearestDistances(bandedTopK(s, dir, 1), Cohorts.spec),
            0.9, Cohorts.spec)
          .select(col("month"), rnd(col("__radius"), 4).as("radius")),
      Some(s"""${OracleCtes.prefix},
              |nearest AS (SELECT month, nc_idx, min(dist) AS d
              |            FROM pairs GROUP BY month, nc_idx)
              |SELECT month, ROUND(1e-9 + quantile_cont(d, 0.9), 4) AS radius
              |FROM nearest GROUP BY month""".stripMargin)),

    // A6 — describe() over nearest distances.
    ("q17_distance_describe",
      (s: SparkSession, dir: String) => {
        val d = col("distance_to_nearest_neighbor")
        Summary.nearestDistances(bandedTopK(s, dir, 1), Cohorts.spec)
          .agg(count(lit(1)).as("count"), rnd(avg(d), 4).as("mean"),
            rnd(stddev_samp(d), 4).as("std"), rnd(min(d), 4).as("min"),
            rnd(expr("percentile(distance_to_nearest_neighbor, 0.25)"), 4).as("p25"),
            rnd(expr("percentile(distance_to_nearest_neighbor, 0.5)"), 4).as("p50"),
            rnd(expr("percentile(distance_to_nearest_neighbor, 0.75)"), 4).as("p75"),
            rnd(expr("percentile(distance_to_nearest_neighbor, 0.9)"), 4).as("p90"),
            rnd(expr("percentile(distance_to_nearest_neighbor, 0.95)"), 4).as("p95"),
            rnd(expr("percentile(distance_to_nearest_neighbor, 0.99)"), 4).as("p99"),
            rnd(max(d), 4).as("max"))
      },
      Some(s"""${OracleCtes.prefix},
              |nearest AS (SELECT month, nc_idx, min(dist) AS d
              |            FROM pairs GROUP BY month, nc_idx)
              |SELECT CAST(count(*) AS BIGINT) AS count, ROUND(1e-9 + avg(d), 4) AS mean,
              |       ROUND(1e-9 + stddev_samp(d), 4) AS std, ROUND(1e-9 + min(d), 4) AS min,
              |       ROUND(1e-9 + quantile_cont(d, 0.25), 4) AS p25,
              |       ROUND(1e-9 + quantile_cont(d, 0.5), 4) AS p50,
              |       ROUND(1e-9 + quantile_cont(d, 0.75), 4) AS p75,
              |       ROUND(1e-9 + quantile_cont(d, 0.9), 4) AS p90,
              |       ROUND(1e-9 + quantile_cont(d, 0.95), 4) AS p95,
              |       ROUND(1e-9 + quantile_cont(d, 0.99), 4) AS p99,
              |       ROUND(1e-9 + max(d), 4) AS max
              |FROM nearest""".stripMargin)),

    // E3 percentile strategy — the two-pass plan end-to-end; the radius is
    // derived PER COHORT, matching the reference's per-date runs (ADVICE r01).
    ("q18_adjusted_percentile",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        selectAdjusted(
          CocoaPipeline.run(c, nc, Cohorts.spec, MatchStrategy.Percentile(0.5),
            broadcastConsent = true).adjusted)
      },
      Some(s"""${OracleCtes.prefix},
              |nearest AS (SELECT month, nc_idx, min(dist) AS d
              |            FROM pairs GROUP BY month, nc_idx),
              |radius AS (SELECT month, quantile_cont(d, 0.5) AS r
              |           FROM nearest GROUP BY month),
              |sel AS (SELECT pairs.* FROM pairs JOIN radius
              |        ON pairs.month = radius.month WHERE pairs.dist <= radius.r),
              |${adjustedTailSql("sel")}""".stripMargin)),

    // A2 — the naive uniform adjustment scalar per cohort.
    ("q19_naive_adjustment",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val shares = Adjust.softmaxShares(
          NeighborJoin.topKBanded(c, nc, Cohorts.spec, 3), Cohorts.spec)
        val matchedNc = shares.select("month", "nc_idx", "nc_value").distinct()
          .groupBy("month").agg(sum("nc_value").as("nc_sum"))
        val cCnt = c.groupBy("month").agg(count(lit(1)).as("c_cnt"))
        cCnt.join(matchedNc, Seq("month"), "left")
          .select(col("month"),
            rnd(coalesce(col("nc_sum"), lit(0.0)) / col("c_cnt"), 6).as("naive_add"))
      },
      Some(s"""${OracleCtes.prefix},
              |${OracleCtes.topk(3)},
              |matched_nc AS (SELECT DISTINCT month, nc_idx, nc_value FROM topk),
              |ccnt AS (SELECT month, count(*) AS c_cnt FROM c GROUP BY month),
              |msum AS (SELECT month, sum(nc_value) AS nc_sum FROM matched_nc GROUP BY month)
              |SELECT ccnt.month,
              |       ROUND(1e-9 + coalesce(nc_sum, 0) / c_cnt, 6) AS naive_add
              |FROM ccnt LEFT JOIN msum ON ccnt.month = msum.month""".stripMargin)),

    // A7 — distinct counts (dummy-width prediction helper).
    ("q20_count_distinct",
      (s: SparkSession, dir: String) =>
        Cohorts.table(s, dir, "orders")
          .agg(countDistinct(col("o_orderpriority")).as("n_priority"),
               countDistinct(col("o_orderstatus")).as("n_status"))
          .crossJoin(Cohorts.table(s, dir, "customer")
            .agg(countDistinct(col("c_mktsegment")).as("n_segment"))),
      Some("""SELECT
             |  (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders) AS n_priority,
             |  (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders) AS n_status,
             |  (SELECT CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer) AS n_segment""".stripMargin)),

    // Date functions — lookback date-range generation
    // (cloud_function/main.py:103-121).
    ("q21_lookback_dates",
      (s: SparkSession, dir: String) =>
        Cohorts.table(s, dir, "orders")
          .agg(to_date(max(col("o_orderdate"))).as("d"))
          .select(explode(sequence(date_sub(col("d"), 6), col("d"))).as("d"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("date_str")),
      Some("""SELECT strftime(CAST(unnest(generate_series(
             |         CAST(max_d AS DATE) - INTERVAL 6 DAY,
             |         CAST(max_d AS DATE), INTERVAL 1 DAY)) AS DATE),
             |       '%Y-%m-%d') AS date_str
             |FROM (SELECT max(o_orderdate) AS max_d FROM orders)""".stripMargin)),

    // Headline scan-heavy aggregate (bench anchor; prompt's q1 example).
    ("q22_lineitem_agg",
      (s: SparkSession, dir: String) =>
        Cohorts.table(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(rnd(sum("l_quantity"), 2).as("sum_qty"),
               rnd(sum("l_extendedprice"), 2).as("sum_base_price"),
               rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
               rnd(avg("l_quantity"), 4).as("avg_qty"),
               count(lit(1)).as("n_rows")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       ROUND(1e-9 + sum(l_quantity), 2) AS sum_qty,
             |       ROUND(1e-9 + sum(l_extendedprice), 2) AS sum_base_price,
             |       ROUND(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |       ROUND(1e-9 + avg(l_quantity), 4) AS avg_qty,
             |       CAST(count(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Broadcast dimension-join chain (orders ⋈ customer ⋈ nation).
    ("q23_nation_revenue",
      (s: SparkSession, dir: String) =>
        Cohorts.table(s, dir, "orders")
          .join(broadcast(Cohorts.table(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Cohorts.table(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(rnd(sum("o_totalprice"), 2).as("revenue"),
               count(lit(1)).as("n_orders")),
      Some("""SELECT n_name, ROUND(1e-9 + sum(o_totalprice), 2) AS revenue,
             |       CAST(count(*) AS BIGINT) AS n_orders
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // Alternate distance metric — euclidean over the same feature space
    // (reference accepts any sklearn metric string; TODO at
    // cocoa/nearest_consented_customers.py:66).
    ("q38_knn_topk_euclidean",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val spec = Cohorts.spec.copy(metric = Euclidean)
        NeighborJoin.topKBanded(c, nc, spec, 3)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist"))
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit},
              |pairs AS (
              |  SELECT nc.month, nc.idx AS nc_idx, c.idx AS c_idx,
              |         sqrt(CAST(len(nc.features) + len(c.features)
              |              - 2 * len(list_intersect(nc.features, c.features)) AS DOUBLE)
              |           + power(nc.c_acctbal - c.c_acctbal, 2)) AS dist
              |  FROM nc JOIN c ON nc.month = c.month),
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // Proportional k — k<1 resolves to int(k · |consent cohort|)
    // (cocoa/nearest_consented_customers.py:145-147).
    ("q39_knn_proportional_k",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        NeighborJoin.topKBandedProportional(c, nc, Cohorts.spec, 0.1)
          .groupBy("month", "nc_idx")
          .agg(count(lit(1)).as("n_neighbors"))
      },
      Some(s"""${OracleCtes.prefix},
              |ranked AS (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY month, nc_idx ORDER BY dist, c_idx) AS rank
              |  FROM pairs),
              |ck AS (SELECT month, CAST(floor(0.1 * count(*)) AS BIGINT) AS k
              |       FROM c GROUP BY month)
              |SELECT r.month, r.nc_idx, CAST(count(*) AS BIGINT) AS n_neighbors
              |FROM ranked r JOIN ck ON r.month = ck.month
              |WHERE r.rank <= ck.k
              |GROUP BY r.month, r.nc_idx""".stripMargin)),

    // Cosine metric — scale-invariant in the numeric feature, so the
    // manhattan/euclidean band bound doesn't apply; topKBanded routes
    // cosine to its own per-probe prune (topKCosineBandedImpl,
    // knn.scala: per-probe admissible x-interval + wildcard tier, exact
    // verification). This gate pins the metric arithmetic and that route.
    ("q61_knn_topk_cosine",
      (s: SparkSession, dir: String) => {
        // spread = true: the cosine route scores every candidate exactly in
        // both phases — CPU-heavy enough that the post-scan exchange pays
        // for itself even on a small single-file scan (r8: 3.44 → 3.05 s).
        val (c, nc) = Cohorts.cohorts(s, dir, spread = true)
        val spec = Cohorts.spec.copy(metric = Cosine)
        NeighborJoin.topKBanded(c, nc, spec, 3, broadcastConsent = true)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist"))
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit},
              |pairs AS (
              |  SELECT nc.month, nc.idx AS nc_idx, c.idx AS c_idx,
              |         CASE WHEN sqrt(CAST(len(nc.features) AS DOUBLE) + nc.c_acctbal * nc.c_acctbal)
              |                   * sqrt(CAST(len(c.features) AS DOUBLE) + c.c_acctbal * c.c_acctbal) = 0
              |              THEN 1.0
              |              ELSE 1.0 - (CAST(len(list_intersect(nc.features, c.features)) AS DOUBLE)
              |                            + nc.c_acctbal * c.c_acctbal)
              |                   / (sqrt(CAST(len(nc.features) AS DOUBLE) + nc.c_acctbal * nc.c_acctbal)
              |                      * sqrt(CAST(len(c.features) AS DOUBLE) + c.c_acctbal * c.c_acctbal))
              |         END AS dist
              |  FROM nc JOIN c ON nc.month = c.month),
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // Chebyshev metric — L∞ over the dummy vector: the one-hot block
    // contributes 1 iff the token sets differ; dist ≥ |Δx| still holds, so
    // the BANDED path applies with radius bound max(D, 1).
    ("q62_knn_topk_chebyshev",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val spec = Cohorts.spec.copy(metric = Chebyshev)
        NeighborJoin.topKBanded(c, nc, spec, 3)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist"))
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit},
              |pairs AS (
              |  SELECT nc.month, nc.idx AS nc_idx, c.idx AS c_idx,
              |         greatest(
              |           CASE WHEN len(nc.features) + len(c.features)
              |                     - 2 * len(list_intersect(nc.features, c.features)) > 0
              |                THEN 1.0 ELSE 0.0 END,
              |           abs(nc.c_acctbal - c.c_acctbal)) AS dist
              |  FROM nc JOIN c ON nc.month = c.month),
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // Minkowski-p metric (p=3) — the parameterized L_p family between the
    // named metrics; rides the banded path via the (D^p + B)^(1/p) radius
    // bound. Reference forwards any sklearn metric string, and sklearn's
    // minkowski takes the p kwarg (cocoa/nearest_consented_customers.py:58-66).
    ("q63_knn_topk_minkowski",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val spec = Cohorts.spec.copy(metric = Minkowski(3.0))
        NeighborJoin.topKBanded(c, nc, spec, 3)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist"))
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit},
              |pairs AS (
              |  SELECT nc.month, nc.idx AS nc_idx, c.idx AS c_idx,
              |         pow(CAST(len(nc.features) + len(c.features)
              |              - 2 * len(list_intersect(nc.features, c.features)) AS DOUBLE)
              |           + pow(abs(nc.c_acctbal - c.c_acctbal), 3), 1.0/3) AS dist
              |  FROM nc JOIN c ON nc.month = c.month),
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // Hamming over the dummy matrix: width = union vocabulary + numeric
    // passthroughs (what [[NearestCustomerMatcher]] resolves for
    // metric=hamming); coarse quantized distances make the deterministic
    // (dist, c_idx) tie-break do the heavy lifting.
    ("q70_knn_topk_hamming",
      (s: SparkSession, dir: String) => {
        val (c, nc) = cohortPair(s, dir)
        val vocab = c.select(explode(col("features")).as("__t"))
          .union(nc.select(explode(col("features")).as("__t")))
          .distinct().count()
        val spec = Cohorts.spec.copy(metric = Hamming(vocab + 1))
        NeighborJoin.topKBanded(c, nc, spec, 3)
          .select(col("month"), col("nc_idx"), col("c_idx"),
            col("rank").cast("long").as("rank"), rnd(col("dist"), 4).as("dist"))
      },
      Some(s"""WITH ${OracleCtes.base},
              |${OracleCtes.cohortSplit},
              |w AS (SELECT CAST(count(DISTINCT t) + 1 AS DOUBLE) AS w
              |      FROM (SELECT unnest(features) AS t FROM base)),
              |pairs AS (
              |  SELECT nc.month, nc.idx AS nc_idx, c.idx AS c_idx,
              |         (CAST(len(nc.features) + len(c.features)
              |              - 2 * len(list_intersect(nc.features, c.features)) AS DOUBLE)
              |           + CASE WHEN nc.c_acctbal <> c.c_acctbal THEN 1.0 ELSE 0.0 END)
              |           / (SELECT w FROM w) AS dist
              |  FROM nc JOIN c ON nc.month = c.month),
              |${OracleCtes.topk(3)}
              |SELECT month, nc_idx, c_idx, rank, ROUND(1e-9 + dist, 4) AS dist
              |FROM topk""".stripMargin)),

    // ====================== LLM-pipeline extension operators ==============

    // Exact dedup — hash-groupBy on text.
    ("q24_dedup_exact",
      (s: SparkSession, dir: String) =>
        Dedup.exact(Cohorts.documents(s, dir)),
      Some("""SELECT md5(text) AS text_hash,
             |       CAST(min(doc_id) AS BIGINT) AS keeper_id,
             |       CAST(count(*) AS BIGINT) AS n_copies
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // MinHash signature math pinned bit-for-bit (first two hash slots).
    ("q25_minhash_signature",
      (s: SparkSession, dir: String) => {
        val sets = Dedup.shingleSets(Cohorts.documents(s, dir))
          .filter(size(col("shingles")) > 0)
        val Seq((a0, b0), (a1, b1)) = Dedup.Seeds.take(2)
        sets.select(col("doc_id"),
          array_min(transform(col("shingles"),
            h => (lit(a0) * h + lit(b0)) % TextAnalysis.P)).as("sig0"),
          array_min(transform(col("shingles"),
            h => (lit(a1) * h + lit(b1)) % TextAnalysis.P)).as("sig1"))
      },
      Some {
        val Seq((a0, b0), (a1, b1)) = Dedup.Seeds.take(2)
        val P = TextAnalysis.P
        s"""WITH ${TextSql.toksCte},
           |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s FROM toks)
           |SELECT doc_id,
           |       list_min(list_transform(s, h -> ($a0 * h + $b0) % $P)) AS sig0,
           |       list_min(list_transform(s, h -> ($a1 * h + $b1) % $P)) AS sig1
           |FROM sh WHERE len(s) > 0""".stripMargin
      }),

    // MinHash + LSH banding + exact-Jaccard verify; oracle = exact
    // all-pairs. Banding is derived from the threshold (Dedup.bandingFor:
    // 0.5 → 73 bands × 2 rows) so any true pair at jaccard ≥ 0.5 is
    // admitted w.p. ≥ 1−1e-9 — corpus-independent, no flake as SF grows.
    ("q26_dedup_minhash",
      (s: SparkSession, dir: String) =>
        Dedup.minHashPairs(Cohorts.documents(s, dir), 0.5),
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM toks),
              |p AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
              |         len(a.s) + len(b.s) AS tot
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |  WHERE len(a.s) > 0 AND len(b.s) > 0)
              |SELECT doc_a, doc_b, ROUND(1e-9 + inter / (tot - inter), 4) AS jaccard
              |FROM p WHERE inter / (tot - inter) >= 0.5""".stripMargin)),

    // SimHash near-dup pairs (hamming <= 3 over 30-bit shingle-set hash).
    // Cluster consolidation over the q26 near-dup pairs: connected
    // components, min-id canonical keeper (label propagation; oracle via
    // DuckDB's recursive reachability closure over the same exact pairs).
    ("q46_dedup_clusters",
      (s: SparkSession, dir: String) =>
        Dedup.dedupClusters(Dedup.minHashPairs(Cohorts.documents(s, dir), 0.5)),
      Some(s"""$dedupClustersCtes
              |SELECT doc_id, cluster_id FROM cl""".stripMargin)),

    // Anchor-edge (star) cluster consolidation — the corpus-scale variant
    // that never enumerates intra-cluster pairs (O(docs×bands) verified hub
    // edges; pair enumeration measured 351 s vs 23 s on a 100-way-clone
    // corpus). Hub-verifiable clusters make it equal the exact
    // pair-enumeration clusters — holds on every tested corpus (all SFs +
    // clone replicas; OpsSpec pins the general contract) — so it shares
    // q46's recursive-closure oracle.
    ("q59_dedup_clusters_lsh",
      (s: SparkSession, dir: String) =>
        Dedup.clustersLsh(Cohorts.documents(s, dir), 0.5),
      Some(s"""$dedupClustersCtes
              |SELECT doc_id, cluster_id FROM cl""".stripMargin)),

    ("q27_dedup_simhash",
      (s: SparkSession, dir: String) =>
        Dedup.simHashPairs(Cohorts.documents(s, dir), 3),
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM toks),
              |h AS (SELECT doc_id, unnest(s) AS hv FROM sh WHERE len(s) > 0),
              |bits AS (
              |  SELECT doc_id, j,
              |         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
              |  FROM h, range(30) t(j) GROUP BY doc_id, j),
              |sim AS (
              |  SELECT doc_id,
              |         SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS sim
              |  FROM bits GROUP BY doc_id)
              |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
              |       CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
              |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
              |WHERE bit_count(xor(x.sim, y.sim)) <= 3""".stripMargin)),

    // Blocked exact n-gram (bigram) Jaccard within a language block.
    ("q28_dedup_blocked_jaccard",
      (s: SparkSession, dir: String) =>
        Dedup.blockedJaccardPairs(Cohorts.documents(s, dir), "lang", 0.6, 2),
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, lang AS block,
              |              ${TextSql.shingleHashes("t", 2)} AS s
              |       FROM toks),
              |p AS (
              |  SELECT a.block, a.doc_id AS doc_a, b.doc_id AS doc_b,
              |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
              |         len(a.s) + len(b.s) AS tot
              |  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
              |  WHERE len(a.s) > 0 AND len(b.s) > 0)
              |SELECT block, doc_a, doc_b, ROUND(1e-9 + inter / (tot - inter), 4) AS jaccard
              |FROM p WHERE inter / (tot - inter) >= 0.6""".stripMargin)),

    // Language-ID heuristic: marker-stopword argmax, alphabetical tie-break.
    ("q29_text_langid",
      (s: SparkSession, dir: String) => {
        val toks = TextAnalysis.tokens(col("text"))
        val (pred, hits) = TextAnalysis.langId(toks)
        Cohorts.documents(s, dir)
          .select(col("doc_id"), col("lang"), pred.as("predicted_lang"),
            hits.cast("long").as("marker_hits"))
      },
      Some {
        val scores = TextAnalysis.Markers.map { case (l, ms) =>
          l -> TextSql.markerHits("t", ms)
        }
        val best = s"greatest(${scores.map(_._2).mkString(", ")})"
        val caseChain = scores.init
          .map { case (l, s) => s"WHEN $s = m THEN '$l'" }
          .mkString(" ")
        s"""WITH ${TextSql.toksCte},
           |scored AS (SELECT doc_id, lang, t, $best AS m FROM toks)
           |SELECT doc_id, lang,
           |       CASE $caseChain ELSE '${TextAnalysis.Markers.last._1}' END AS predicted_lang,
           |       CAST(m AS BIGINT) AS marker_hits
           |FROM scored""".stripMargin
      }),

    // Quality scoring: length/stopword/type-token signals. The composite
    // score has ONE definition per engine (TextAnalysis.qualityScore /
    // TextSql.qualityScoreFromM), shared with q49's top-k selection.
    ("q30_text_quality",
      (s: SparkSession, dir: String) => {
        val toks = TextAnalysis.tokens(col("text"))
        val n = size(toks).cast("double")
        val alphaLen = length(regexp_replace(col("text"), "\\s+", "")).cast("double")
        val stop = TextAnalysis.markerHits(toks,
          TextAnalysis.Markers.toMap.apply("en")).cast("double")
        val ttr = size(array_distinct(toks)).cast("double") / n
        Cohorts.documents(s, dir).select(
          col("doc_id"),
          n.cast("long").as("n_tokens"),
          rnd(alphaLen / n, 4).as("mean_token_len"),
          rnd(stop / n, 4).as("stopword_ratio"),
          rnd(ttr, 4).as("type_token_ratio"),
          rnd(TextAnalysis.qualityScore(col("text")), 4).as("quality_score"))
      },
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.qualitySignalsCte()}
              |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
              |       ROUND(1e-9 + alpha_len / n, 4) AS mean_token_len,
              |       ROUND(1e-9 + stop / n, 4) AS stopword_ratio,
              |       ROUND(1e-9 + ttr, 4) AS type_token_ratio,
              |       ${TextSql.qualityScoreFromM} AS quality_score
              |FROM m""".stripMargin)),

    // Token counting: whitespace + BPE-ish regex tokenizer.
    ("q31_text_tokens",
      (s: SparkSession, dir: String) =>
        Cohorts.documents(s, dir).select(
          col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe_tokens"),
          length(col("text")).cast("long").as("n_chars_text")),
      Some("""SELECT doc_id,
             |       CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
             |       CAST(length(text) AS BIGINT) AS n_chars_text
             |FROM documents""".stripMargin)),

    // Document fingerprinting: full-text rolling hash + min-shingle hash.
    ("q32_text_fingerprint",
      (s: SparkSession, dir: String) =>
        Cohorts.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.polyHash(col("text")).as("fp_full"),
          array_min(TextAnalysis.shingleHashes(col("text"), 4)).as("fp_min")),
      Some(s"""WITH ${TextSql.toksCte}
              |SELECT doc_id, ${TextSql.polyHash("text")} AS fp_full,
              |       list_min(${TextSql.shingleHashes("t", 4)}) AS fp_min
              |FROM toks""".stripMargin)),

    // Brute-force exact cosine top-k (ANN baseline).
    ("q33_sim_topk",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.cosineTopK(e, e.filter(col("vec_id") % 50 === 0), 10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
             |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |             list_cosine_similarity(q.v, c.v) AS sim
             |      FROM q JOIN e c ON q.vec_id <> c.vec_id),
             |r AS (SELECT *, CAST(row_number() OVER (
             |        PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC, c_id) AS BIGINT) AS rank
             |      FROM p)
             |SELECT q_id, c_id, rank, ROUND(1e-9 + sim, 6) AS sim
             |FROM r WHERE rank <= 10""".stripMargin)),

    // IVF-style cell-pruned top-k (label = coarse quantizer cell).
    ("q34_sim_ivf",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.partitionedTopK(e, e.filter(col("vec_id") % 50 === 0), "label", 5)
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
             |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |             list_cosine_similarity(q.v, c.v) AS sim
             |      FROM q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id),
             |r AS (SELECT *, CAST(row_number() OVER (
             |        PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC, c_id) AS BIGINT) AS rank
             |      FROM p)
             |SELECT q_id, c_id, rank, ROUND(1e-9 + sim, 6) AS sim
             |FROM r WHERE rank <= 5""".stripMargin)),

    // Learned-centroid IVF (k-means cells + nProbe search). The oracle is
    // GENERATED, not static: the fit is deterministic under seed 42, so
    // Verify refits on the same data and embeds the learned centroids as
    // literals in relational DuckDB SQL (ivfKmeansOracle below) — the full
    // rows+schema+hash gate. Exactness-vs-cosineTopK stays OpsSpec-pinned.
    ("q44_sim_ivf_kmeans",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.ivfTopK(e,
          e.filter(col("vec_id") % Similarity.AnnQueryMod === 0),
          Similarity.AnnK)
      },
      None),

    // Embedding-cosine near-dup pairs (the dedup flavor of similarity).
    ("q40_dedup_embedding",
      (s: SparkSession, dir: String) =>
        Similarity.nearDupPairs(Cohorts.embeddings(s, dir), 0.4),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |       ROUND(1e-9 + list_cosine_similarity(a.v, b.v), 6) AS sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin)),

    // Streaming-shaped tumbling-window aggregation (batch-equivalent plan).
    ("q35_events_hourly",
      (s: SparkSession, dir: String) =>
        EventOps.hourlyAgg(Cohorts.events(s, dir)),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             |       event_type, CAST(count(*) AS BIGINT) AS n_events,
             |       ROUND(1e-9 + sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // As-of join: each purchase ⟵ the user's most recent view at-or-before
    // it. The oracle is the O(|L|·|R|)-per-user inequality join + rank the
    // engine's single-window plan exists to avoid.
    ("q73_events_asof",
      (s: SparkSession, dir: String) =>
        EventOps.asofJoin(Cohorts.events(s, dir), "purchase", "view"),
      Some("""WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT * FROM events WHERE event_type = 'view'),
             |j AS (SELECT l.event_id, l.user_id,
             |             r.event_id AS matched_id,
             |             ROUND(1e-9 + r.value, 2) AS matched_value,
             |             epoch_us(l.ts) - epoch_us(r.ts) AS lag_us,
             |             row_number() OVER (PARTITION BY l.event_id
             |               ORDER BY r.ts DESC, r.event_id DESC) AS rn
             |      FROM l LEFT JOIN r
             |        ON l.user_id = r.user_id AND r.ts <= l.ts)
             |SELECT event_id, user_id, matched_id, matched_value, lag_us
             |FROM j WHERE rn = 1""".stripMargin)),

    // Time-band range join: clicks in the 5 minutes before each error —
    // bucketed band equi-join (withinRadiusBucketed applied to time), the
    // oracle is the naive inequality join.
    ("q74_events_range_join",
      (s: SparkSession, dir: String) =>
        EventOps.rangeJoinCount(Cohorts.events(s, dir), "error", "click", 300),
      Some("""WITH l AS (SELECT event_id, epoch_us(ts) AS lus FROM events
             |           WHERE event_type = 'error'),
             |r AS (SELECT epoch_us(ts) AS rus FROM events
             |      WHERE event_type = 'click')
             |SELECT l.event_id, CAST(count(*) AS BIGINT) AS n_prior
             |FROM l JOIN r ON r.rus > l.lus - 300000000 AND r.rus <= l.lus
             |GROUP BY l.event_id""".stripMargin)),

    // Sessionization (30-min gap) — batch twin of flatMapGroupsWithState.
    ("q36_events_sessionize",
      (s: SparkSession, dir: String) =>
        EventOps.sessionize(Cohorts.events(s, dir))
          .withColumn("session_no", col("session_no").cast("long")),
      Some("""WITH e AS (SELECT user_id, event_id, value,
             |                  date_trunc('second', ts) AS tsec FROM events),
             |l AS (SELECT *, lag(tsec) OVER (
             |        PARTITION BY user_id ORDER BY tsec, event_id) AS prev FROM e),
             |f AS (SELECT *, CASE WHEN prev IS NULL
             |                     OR epoch(tsec) - epoch(prev) > 1800
             |                THEN 1 ELSE 0 END AS is_new FROM l),
             |s AS (SELECT *, SUM(is_new) OVER (
             |        PARTITION BY user_id ORDER BY tsec, event_id
             |        ROWS UNBOUNDED PRECEDING) AS session_no FROM f)
             |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
             |       strftime(min(tsec), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       ROUND(1e-9 + sum(value), 2) AS sum_value
             |FROM s GROUP BY user_id, session_no""".stripMargin)),

    // Multimodal plumbing: binary payloads + batched stub decode.
    ("q37_multimodal_meta",
      (s: SparkSession, dir: String) =>
        Multimodal.extractMeta(
          Multimodal.payloads(Cohorts.documents(s, dir))).toDF(),
      Some("""SELECT doc_id,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       hex(encode(substring(text, 1, 8))) AS header_hex,
             |       CAST(list_aggregate(list_transform(
             |         string_split(substring(text, 1, 4), ''),
             |         c -> CAST(unicode(c) AS BIGINT)), 'sum') AS BIGINT) AS feat_sum
             |FROM documents""".stripMargin)),

    // Multimodal stub resize: stride-4 byte subsample + checksum/fingerprint.
    // (The corpus is ASCII, so DuckDB's per-character codepoints equal the
    // payload bytes the Spark side samples.)
    ("q41_multimodal_resize",
      (s: SparkSession, dir: String) =>
        Multimodal.resize(
          Multimodal.payloads(Cohorts.documents(s, dir)), 4).toDF(),
      Some("""WITH c AS (SELECT doc_id, string_split(text, '') AS ch FROM documents),
             |s AS (SELECT doc_id, list_select(ch, range(1, len(ch)+1, 4)) AS sam FROM c)
             |SELECT doc_id, CAST(len(sam) AS BIGINT) AS n_bytes_out,
             |       CAST(list_aggregate(list_transform(sam,
             |         c -> CAST(unicode(c) AS BIGINT)), 'sum') AS BIGINT) AS sample_sum,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(sam, c -> CAST(unicode(c) AS BIGINT))),
             |         (a, b) -> (a * 31 + b) % 1000000007) AS sample_fp
             |FROM s""".stripMargin)),

    // Multimodal stub frame sampling: 32-byte frames, every 4th kept, one
    // row per frame — the 1→N expansion stays partition-local (no shuffle).
    ("q42_multimodal_frames",
      (s: SparkSession, dir: String) =>
        Multimodal.sampleFrames(
          Multimodal.payloads(Cohorts.documents(s, dir)), 32, 4).toDF(),
      Some("""WITH c AS (SELECT doc_id, string_split(text, '') AS ch FROM documents),
             |f AS (SELECT doc_id, ch,
             |             unnest(range(0, CAST(ceil(len(ch)/32.0) AS BIGINT), 4)) AS frame_no
             |      FROM c)
             |SELECT doc_id, frame_no,
             |       CAST(len(list_slice(ch, frame_no*32+1, frame_no*32+32)) AS BIGINT) AS frame_bytes,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(list_slice(ch, frame_no*32+1, frame_no*32+32),
             |           c -> CAST(unicode(c) AS BIGINT))),
             |         (a, b) -> (a * 31 + b) % 1000000007) AS frame_fp
             |FROM f""".stripMargin)),

    // Sliding-window aggregation (1 h window, 15 min slide): each event
    // expands to 4 overlapping windows — a projection, not a join.
    ("q43_events_sliding",
      (s: SparkSession, dir: String) =>
        EventOps.slidingAgg(Cohorts.events(s, dir)),
      Some("""WITH e AS (SELECT event_type, value,
             |                  date_trunc('second', ts) AS tsec FROM events),
             |w AS (SELECT event_type, value,
             |             tsec - INTERVAL 1 SECOND *
             |               (CAST(epoch(tsec) AS BIGINT) % 900 + k * 900) AS win_start
             |      FROM e, (SELECT unnest(range(0, 4)) AS k))
             |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
             |       event_type, CAST(count(*) AS BIGINT) AS n_events,
             |       ROUND(1e-9 + sum(value), 2) AS sum_value
             |FROM w GROUP BY 1, 2""".stripMargin)),

    // End-to-end dedup: the corpus minus non-keeper near-dup cluster
    // members (anti-join against q46's clusters).
    ("q47_dedup_corpus",
      (s: SparkSession, dir: String) => {
        val docs = Cohorts.documents(s, dir)
        Dedup.deduplicated(docs, Dedup.minHashPairs(docs, 0.5))
          .select("doc_id", "lang", "n_chars")
      },
      Some(s"""$dedupClustersCtes
              |SELECT doc_id, lang, n_chars FROM documents
              |WHERE doc_id NOT IN
              |      (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)""".stripMargin)),

    // END-TO-END CURATION — the composition a real training-data pipeline
    // runs as one job: near-dup removal (canonical member per MinHash
    // cluster) ∩ benchmark decontamination (8-gram overlap vs src0) ∩
    // quality floor, benchmark source itself excluded. One declarative
    // plan: Catalyst fuses the quality filter into the scan and runs the
    // two anti-join prunes off the shared shingle lineage.
    ("q67_curate_corpus",
      (s: SparkSession, dir: String) => {
        val docs = Cohorts.documents(s, dir)
        val deduped = Dedup.deduplicated(docs, Dedup.minHashPairs(docs, 0.5))
        val contaminatedIds = Dedup.contaminated(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"), 8)
          .select("doc_id")
        deduped
          .filter(col("source") =!= "src0")
          .join(contaminatedIds, Seq("doc_id"), "left_anti")
          .filter(TextAnalysis.qualityScore(col("text")) >= 0.4)
          .select(col("doc_id"), col("lang"),
            rnd(TextAnalysis.qualityScore(col("text")), 4).as("quality_score"))
      },
      Some(s"""$dedupClustersCtes,
              |${TextSql.qualitySignalsCte()},
              |sh8 AS (SELECT doc_id, source, ${TextSql.shingleHashes("t", 8)} AS s8
              |        FROM toks),
              |bm AS (SELECT DISTINCT unnest(s8) AS h FROM sh8 WHERE source = 'src0'),
              |contam AS (SELECT DISTINCT doc_id FROM
              |             (SELECT doc_id, unnest(s8) AS h FROM sh8 WHERE source <> 'src0')
              |           JOIN bm USING (h))
              |SELECT d.doc_id, d.lang, ${TextSql.qualityScoreFromM} AS quality_score
              |FROM documents d JOIN m USING (doc_id)
              |WHERE d.source <> 'src0'
              |  AND d.doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
              |  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
              |  AND least(1.0, n / 100) * 0.4 + (stop / n) * 0.3 + ttr * 0.3 >= 0.4""".stripMargin)),

    // Span-level exact dedup: fixed 10-token spans, first corpus-order
    // occurrence kept, documents reassembled (the "remove duplicated
    // substrings" curation pass at span granularity).
    ("q68_dedup_spans",
      (s: SparkSession, dir: String) =>
        Dedup.spanDedup(Cohorts.documents(s, dir), 10),
      Some(s"""WITH ${TextSql.toksCte},
              |sp AS (
              |  SELECT doc_id, i AS span_idx,
              |         array_to_string(list_slice(t, i * 10 + 1, i * 10 + 10), ' ') AS span
              |  FROM (SELECT doc_id, t, unnest(range((len(t) - 1) // 10 + 1)) AS i
              |        FROM toks WHERE len(t) > 0)),
              |rk AS (
              |  SELECT doc_id, span_idx, span,
              |         row_number() OVER (PARTITION BY md5(span)
              |                            ORDER BY doc_id, span_idx) AS rn
              |  FROM sp)
              |SELECT doc_id,
              |       COALESCE(string_agg(span, ' ' ORDER BY span_idx)
              |                  FILTER (WHERE rn = 1), '') AS text,
              |       CAST(count(*) AS BIGINT) AS n_spans,
              |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              |FROM rk GROUP BY doc_id""".stripMargin)),

    // Deterministic content-addressed stratified sampling (per-language
    // rates; membership = polynomial hash of the doc id, so the sample is
    // stable across runs, engines and repartitioning).
    ("q48_sample_stratified",
      (s: SparkSession, dir: String) =>
        Sampling.stratifiedBernoulli(Cohorts.documents(s, dir),
            "lang", "doc_id", Map("en" -> 0.25, "de" -> 0.5),
            defaultRate = 0.75, seed = "s42")
          .select("doc_id", "lang", "source"),
      Some(s"""SELECT doc_id, lang, source FROM documents
              |WHERE ${Sampling.hashUnitSql("doc_id", "s42")} <
              |      CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5 ELSE 0.75 END""".stripMargin)),

    // Quality-filtered selection: per-language top-5 documents by the q30
    // quality score (window top-k with deterministic id tie-break).
    ("q49_quality_topk",
      (s: SparkSession, dir: String) => {
        val scored = Cohorts.documents(s, dir).select(
          col("doc_id"), col("lang"),
          rnd(TextAnalysis.qualityScore(col("text")), 4).as("quality_score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
      },
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.qualitySignalsCte(" lang,")},
              |q AS (SELECT doc_id, lang,
              |             ${TextSql.qualityScoreFromM} AS quality_score
              |      FROM m),
              |r AS (SELECT *, CAST(row_number() OVER (
              |        PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank
              |      FROM q)
              |SELECT doc_id, lang, quality_score, rank FROM r WHERE rank <= 5""".stripMargin)),

    // Deterministic train/valid/test split: the same hash keyed by doc id,
    // bucketed by cumulative weights; output = per-split per-language counts.
    ("q50_split_counts",
      (s: SparkSession, dir: String) =>
        Sampling.splitAssign(Cohorts.documents(s, dir), "doc_id",
            Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), "sp7")
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs")),
      Some(s"""WITH h AS (SELECT lang,
              |  ${Sampling.hashUnitSql("doc_id", "sp7")} AS u
              |  FROM documents)
              |SELECT CASE WHEN u < 0.8 THEN 'train'
              |            WHEN u < 0.9 THEN 'valid' ELSE 'test' END AS split,
              |       lang, CAST(count(*) AS BIGINT) AS n_docs
              |FROM h GROUP BY 1, 2""".stripMargin)),

    // Benchmark decontamination: train docs (source != src0) sharing any
    // 8-token shingle with the benchmark set (source = src0), with the
    // shared-shingle count as removal evidence.
    ("q51_decontaminate",
      (s: SparkSession, dir: String) => {
        val docs = Cohorts.documents(s, dir)
        Dedup.contaminated(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), 8)
      },
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, source, ${TextSql.shingleHashes("t", 8)} AS s
              |       FROM toks),
              |bm AS (SELECT DISTINCT unnest(s) AS h FROM sh WHERE source = 'src0'),
              |tre AS (SELECT doc_id, unnest(s) AS h FROM sh WHERE source <> 'src0')
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
              |FROM tre JOIN bm USING (h) GROUP BY doc_id""".stripMargin)),

    // Sequence packing: greedy first-fit concatenation of documents into
    // 256-token packs, sequential in doc_id order per (language, hash
    // shard) — the sharded form IS the gated contract (bounded sequential
    // chains; pack ids scoped per shard). Oracle = the same recurrence as
    // a DuckDB recursive CTE over the identical content-addressed shard.
    ("q52_pack_sequences",
      (s: SparkSession, dir: String) =>
        Packing.packDocuments(Cohorts.documents(s, dir), 256, "lang", 4).toDF(),
      Some(s"""WITH RECURSIVE ${TextSql.toksCte},
              |base0 AS (SELECT doc_id, lang,
              |                 CAST(floor(${Sampling.hashUnitSql("doc_id", Packing.ShardSeed)} * 4) AS BIGINT) AS shard,
              |                 CAST(len(t) AS BIGINT) AS tokens
              |          FROM toks),
              |base AS (SELECT *, CAST(row_number() OVER (
              |                  PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) AS rn
              |         FROM base0),
              |rec AS (
              |  SELECT lang, shard, rn, doc_id, tokens, tokens AS acc,
              |         CAST(1 AS BIGINT) AS pack_id
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b.lang, b.shard, b.rn, b.doc_id, b.tokens,
              |         CASE WHEN r.acc + b.tokens > 256 THEN b.tokens
              |              ELSE r.acc + b.tokens END,
              |         CASE WHEN r.acc + b.tokens > 256 THEN r.pack_id + 1
              |              ELSE r.pack_id END
              |  FROM base b JOIN rec r
              |    ON b.lang = r.lang AND b.shard = r.shard AND b.rn = r.rn + 1)
              |SELECT doc_id, lang, shard, tokens, pack_id FROM rec""".stripMargin)),

    // PII scrubbing: emails/IPv4s masked + per-doc match counts. The gate
    // INJECTS deterministic PII (both engines build the same string from
    // doc_id) so masking and counting are pinned on text that actually
    // contains matches, not just on all-zero lorem.
    ("q64_text_scrub_pii",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com from 10.0.0."), pmod(col("doc_id"), lit(256)))
            .as("text"))
        TextAnalysis.scrubPii(d)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
             |         || '@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed,
             |  CAST(len(regexp_extract_all(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(text,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
             |FROM t""".stripMargin)),

    // Per-label centroids of L2-normalized embeddings (class prototypes /
    // mean pooling): one partial-agg shuffle on (label, pos).
    ("q65_embed_centroids",
      (s: SparkSession, dir: String) =>
        Similarity.labelCentroids(Cohorts.embeddings(s, dir)),
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
             |u AS (SELECT label,
             |             unnest(list_transform(v, y -> CASE WHEN nrm = 0 THEN 0.0 ELSE y / nrm END)) AS x,
             |             unnest(range(1, len(v) + 1)) AS pos
             |      FROM n)
             |SELECT label, CAST(pos AS BIGINT) AS pos,
             |       ROUND(1e-9 + avg(x), 6) AS centroid
             |FROM u GROUP BY label, pos""".stripMargin)),

    // Per-language token-count stats (packing / token-budget planning):
    // exact interpolated percentiles, one partial-agg shuffle on lang.
    ("q66_token_stats",
      (s: SparkSession, dir: String) =>
        TextAnalysis.tokenStats(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |n AS (SELECT lang, CAST(len(t) AS BIGINT) AS n FROM toks)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(n) AS BIGINT) AS total_tokens,
              |       ROUND(1e-9 + quantile_cont(n, 0.5), 4) AS median_tokens,
              |       ROUND(1e-9 + quantile_cont(n, 0.9), 4) AS p90_tokens
              |FROM n GROUP BY lang""".stripMargin)),

    // Corpus-trained unigram LM score (the relational stand-in for the
    // CCNet perplexity filter): mean ln(count(token)/total) per document.
    ("q71_unigram_logprob",
      (s: SparkSession, dir: String) =>
        TextAnalysis.unigramLogProb(Cohorts.documents(s, dir))
          .select(col("doc_id"), col("n_tokens"),
            rnd(col("avg_logprob"), 4).as("avg_logprob")),
      Some(s"""WITH ${TextSql.toksCte},
              |tok AS (SELECT doc_id, unnest(t) AS t FROM toks),
              |freq AS (SELECT t, CAST(count(*) AS DOUBLE) AS cnt
              |         FROM tok GROUP BY t),
              |tot AS (SELECT sum(cnt) AS tot FROM freq)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |       ROUND(1e-9 + avg(ln(cnt / (SELECT tot FROM tot))), 4)
              |         AS avg_logprob
              |FROM tok JOIN freq USING (t) GROUP BY doc_id""".stripMargin)),

    // Bigram-LM score: mean ln(c(w1 w2)/c(w1 ·)) per document — the
    // first-order-context refinement of q71.
    ("q75_bigram_logprob",
      (s: SparkSession, dir: String) =>
        TextAnalysis.bigramLogProb(Cohorts.documents(s, dir))
          .select(col("doc_id"), col("n_bigrams"),
            rnd(col("avg_logprob"), 4).as("avg_logprob")),
      Some(s"""WITH ${TextSql.toksCte},
              |bg AS (SELECT doc_id, unnest(${TextSql.shingleStrings("t", 2)}) AS g
              |       FROM toks),
              |b1 AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1 FROM bg),
              |c2 AS (SELECT g, CAST(count(*) AS DOUBLE) AS c2 FROM b1 GROUP BY g),
              |c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM b1 GROUP BY w1)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |       ROUND(1e-9 + avg(ln(c2 / c1)), 4) AS avg_logprob
              |FROM b1 JOIN c2 USING (g) JOIN c1 USING (w1)
              |GROUP BY doc_id""".stripMargin)),

    // Intra-document repetition (Gopher-style quality signal): most
    // frequent bigram's share of all bigram occurrences.
    ("q53_text_repetition",
      (s: SparkSession, dir: String) =>
        TextAnalysis.repetition(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |g AS (SELECT doc_id, unnest(${TextSql.shingleStrings("t", 2)}) AS g
              |      FROM toks),
              |c AS (SELECT doc_id, ${TextSql.polyHash("g")} AS hv,
              |             count(*) AS cnt
              |      FROM g GROUP BY doc_id, hv)
              |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_2grams,
              |       CAST(max(cnt) AS BIGINT) AS max_2gram_count,
              |       ROUND(1e-9 + CAST(max(cnt) AS DOUBLE) / sum(cnt), 4) AS repetition_ratio
              |FROM c GROUP BY doc_id""".stripMargin)),

    // Corpus-wide most-frequent bigrams per language (boilerplate/template
    // detection): two-level hash agg + per-lang window top-k.
    ("q55_ngram_topk",
      (s: SparkSession, dir: String) =>
        TextAnalysis.topNgrams(Cohorts.documents(s, dir), 2, 20),
      Some(s"""WITH ${TextSql.toksCte},
              |g AS (SELECT lang, unnest(${TextSql.shingleStrings("t", 2)}) AS gram
              |      FROM toks),
              |cnt AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n_occurrences
              |        FROM g GROUP BY lang, gram),
              |r AS (SELECT *, CAST(row_number() OVER (
              |        PARTITION BY lang ORDER BY n_occurrences DESC, gram) AS BIGINT) AS rank
              |      FROM cnt)
              |SELECT lang, gram, n_occurrences, rank FROM r WHERE rank <= 20""".stripMargin)),

    // Vocabulary with document frequency (the IDF input): two-level
    // aggregation so both shuffles carry pre-aggregated rows.
    ("q56_vocab_df",
      (s: SparkSession, dir: String) =>
        TextAnalysis.vocabulary(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |o AS (SELECT doc_id, unnest(t) AS token FROM toks),
              |tf AS (SELECT doc_id, token, count(*) AS tf FROM o GROUP BY doc_id, token)
              |SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
              |       CAST(sum(tf) AS BIGINT) AS n_occurrences
              |FROM tf GROUP BY token""".stripMargin)),

    // Top-3 TF-IDF terms per document (tf · ln(N/df)), deterministic
    // rounded-score ordering with token tie-break.
    ("q57_tfidf",
      (s: SparkSession, dir: String) =>
        TextAnalysis.tfIdf(Cohorts.documents(s, dir), 3),
      Some(s"""WITH ${TextSql.toksCte},
              |o AS (SELECT doc_id, unnest(t) AS token FROM toks),
              |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              |       FROM o GROUP BY doc_id, token),
              |df AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
              |       FROM tf GROUP BY token),
              |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
              |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.doc_freq,
              |              tf.tf * ln(nn.n / df.doc_freq) AS tf_idf
              |       FROM tf JOIN df USING (token), nn),
              |r AS (SELECT *, CAST(row_number() OVER (
              |        PARTITION BY doc_id
              |        ORDER BY round(1e-9 + tf_idf, 9) DESC, token) AS BIGINT) AS rank
              |      FROM sc)
              |SELECT doc_id, token, tf, doc_freq,
              |       ROUND(1e-9 + tf_idf, 6) AS tf_idf, rank
              |FROM r WHERE rank <= 3""".stripMargin)),

    // Embedding cluster consolidation WITHOUT pair enumeration: verified
    // star edges over SRP-LSH band buckets → connected components. The gate
    // plants DETERMINISTIC clone clusters (every 10th vector re-enters
    // bit-identical under an offset id) and clusters at 0.9 — a threshold
    // the base corpus provably never reaches (its max pairwise cosine is
    // < 0.5 at every SF), so the exact answer is precisely the clone pairs.
    // Identical vectors share every SRP band (admission prob. 1, fixed
    // seed) and hub-verify at sim = 1.0 exactly, so the star clusters equal
    // the exact recursive-closure clusters — a FULL hash gate, not
    // rows-only, exercising srpChunks → hub window → exact verify →
    // connected components end-to-end. Diffuse-threshold recall (0.4-ish)
    // stays characterized by OpsSpec's contract pins, not a hash oracle —
    // SRP admission there is genuinely probabilistic.
    ("q60_embed_clusters_lsh",
      (s: SparkSession, dir: String) => {
        requireEmbedSelfSilence(s, dir, "q60")
        val e = Cohorts.embeddings(s, dir)
        val clones = e.filter(col("vec_id") % 10 === 0)
          .withColumn("vec_id", col("vec_id") + lit(1000000L))
        Similarity.embedClustersLsh(e.unionByName(clones), 0.9)
      },
      Some("""WITH RECURSIVE
             |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (SELECT * FROM e0
             |      UNION ALL
             |      SELECT vec_id + 1000000, v FROM e0 WHERE vec_id % 10 = 0),
             |prs AS (
             |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
             |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
             |          UNION ALL SELECT doc_b, doc_a FROM prs),
             |reach AS (
             |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
             |  UNION
             |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON e2.v = reach.u)
             |SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             |FROM reach GROUP BY u""".stripMargin)),

    // Near-dup cluster consolidation on the EMBEDDING modality: the same
    // connected-components operator composed over cosine near-dup pairs.
    ("q54_embed_clusters",
      (s: SparkSession, dir: String) =>
        Dedup.dedupClusters(
          Similarity.nearDupPairs(Cohorts.embeddings(s, dir), 0.4)
            .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))),
      Some("""WITH RECURSIVE
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |prs AS (
             |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
             |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
             |          UNION ALL SELECT doc_b, doc_a FROM prs),
             |reach AS (
             |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
             |  UNION
             |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON e2.v = reach.u)
             |SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             |FROM reach GROUP BY u""".stripMargin)),

    // Ordered conversion funnel view → click → purchase: one shuffle +
    // per-row array arithmetic; the oracle is the k−1 chained agg+join
    // rounds the single-collect plan avoids.
    ("q76_events_funnel",
      (s: SparkSession, dir: String) =>
        EventOps.funnel(Cohorts.events(s, dir), Seq("view", "click", "purchase")),
      Some("""WITH e AS (SELECT user_id, date_trunc('second', ts) AS tsec,
             |                  event_type FROM events),
             |u AS (SELECT DISTINCT user_id FROM e),
             |s1 AS (SELECT user_id, min(tsec) AS t1 FROM e
             |       WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(tsec) AS t2 FROM e JOIN s1 USING (user_id)
             |       WHERE event_type = 'click' AND tsec > t1 GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, min(tsec) AS t3 FROM e JOIN s2 USING (user_id)
             |       WHERE event_type = 'purchase' AND tsec > t2 GROUP BY e.user_id)
             |SELECT u.user_id,
             |       strftime(t1, '%Y-%m-%d %H:%M:%S') AS step1_ts,
             |       strftime(t2, '%Y-%m-%d %H:%M:%S') AS step2_ts,
             |       strftime(t3, '%Y-%m-%d %H:%M:%S') AS step3_ts,
             |       CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END) +
             |            (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) +
             |            (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stage
             |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
             |       LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // Multi-level ROLLUP revenue (nation × order-year + subtotals + grand
    // total in ONE partial-aggregated pass — Spark expands grouping sets
    // map-side, so the shuffle carries pre-combined rows per set).
    ("q77_revenue_rollup",
      (s: SparkSession, dir: String) =>
        Cohorts.table(s, dir, "orders")
          .join(broadcast(Cohorts.table(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Cohorts.table(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"),
            col("o_totalprice"))
          // Column-arg rollup: the String overload resolves through the
          // by-name path that trips Spark 4's self-join ambiguity check
          // after a join chain (observed on 4.1.2); Column args bind the
          // grouping keys directly and dodge it.
          .rollup(col("n_name"), col("o_year"))
          .agg(rnd(sum("o_totalprice"), 2).as("revenue"),
               count(lit(1)).as("n_orders"),
               grouping_id().cast("long").as("lvl")),
      Some("""WITH j AS (SELECT n_name,
             |                  CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |                  o_totalprice
             |           FROM orders
             |           JOIN customer ON o_custkey = c_custkey
             |           JOIN nation ON c_nationkey = n_nationkey)
             |SELECT n_name, o_year,
             |       ROUND(1e-9 + sum(o_totalprice), 2) AS revenue,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(GROUPING(n_name) * 2 + GROUPING(o_year) AS BIGINT) AS lvl
             |FROM j GROUP BY ROLLUP (n_name, o_year)""".stripMargin)),

    // Per-vector int8 quantization audit: scale, quantized sum/min/max,
    // reconstruction MSE — pure narrow projection, no shuffle.
    ("q78_embed_quantize",
      (s: SparkSession, dir: String) =>
        Similarity.quantizeInt8(Cohorts.embeddings(s, dir)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |             list_max(list_transform(v, x -> abs(x))) / 127 AS scale
             |      FROM e),
             |q AS (SELECT vec_id, v, scale,
             |             CASE WHEN scale > 0
             |                  THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
             |                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
             |      FROM s)
             |SELECT vec_id, ROUND(1e-9 + scale, 9) AS scale,
             |       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
             |       CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
             |       CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
             |       ROUND(1e-9 + (list_aggregate(list_transform(v, x -> x * x), 'sum')
             |         - 2 * scale * list_inner_product(v, list_transform(qv, x -> CAST(x AS DOUBLE)))
             |         + scale * scale * list_aggregate(
             |             list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |         / len(v), 9) AS mse
             |FROM q""".stripMargin)),

    // Quality-weighted deterministic sampling: keep-probability = the q30
    // quality score (clamped), membership content-addressed — narrow
    // filter, no shuffle, reproducible and weight-monotone.
    ("q79_sample_weighted",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val keep = rnd(TextAnalysis.qualityScore(col("text")), 4)
        Sampling.weightedBernoulli(d, "doc_id", keep, "w42")
          .select(col("doc_id"), col("lang"), keep.as("keep_p"))
      },
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.qualitySignalsCte(" lang,")}
              |SELECT doc_id, lang, ${TextSql.qualityScoreFromM} AS keep_p
              |FROM m
              |WHERE ${Sampling.hashUnitSql("doc_id", "w42")} <
              |      least(1.0, greatest(0.0, ${TextSql.qualityScoreFromM}))""".stripMargin)),

    // Hard-negative mining: top-10 corpus vectors per query INSIDE the
    // similarity band [0.1, 0.5) — below the positive ceiling, above the
    // uninformative floor (contrastive-training pair construction).
    ("q85_hard_negatives",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.hardNegatives(e, e.filter(col("vec_id") % 50 === 0),
          10, 0.1, 0.5)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
             |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |             list_cosine_similarity(q.v, c.v) AS sim
             |      FROM q JOIN e c ON q.vec_id <> c.vec_id),
             |b AS (SELECT * FROM p WHERE round(1e-9 + sim, 9) >= 0.1
             |                       AND round(1e-9 + sim, 9) < 0.5),
             |r AS (SELECT *, CAST(row_number() OVER (
             |        PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC, c_id) AS BIGINT) AS rank
             |      FROM b)
             |SELECT q_id, c_id, rank, ROUND(1e-9 + sim, 6) AS sim
             |FROM r WHERE rank <= 10""".stripMargin)),

    // Per-source corpus composition report: one partial-aggregated pass.
    ("q86_corpus_report",
      (s: SparkSession, dir: String) =>
        TextAnalysis.corpusReport(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.qualitySignalsCte(" source, lang,")}
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(n) AS BIGINT) AS total_tokens,
              |       ROUND(1e-9 + avg(least(1.0, n / 100) * 0.4
              |         + (stop / n) * 0.3 + ttr * 0.3), 4) AS mean_quality,
              |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              |       ROUND(1e-9 + CAST(sum(CASE WHEN n < 20 THEN 1 ELSE 0 END)
              |         AS DOUBLE) / count(*), 4) AS short_doc_frac
              |FROM m GROUP BY source""".stripMargin)),

    // DAU + 7-day rolling distinct actives: rolling COUNT DISTINCT as
    // coverage-explode + hash agg (no window-distinct in either engine).
    ("q87_rolling_dau",
      (s: SparkSession, dir: String) =>
        EventOps.rollingActiveUsers(Cohorts.events(s, dir)),
      Some("""WITH p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |           FROM events),
             |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
             |        FROM p GROUP BY day),
             |cov AS (SELECT user_id, day + CAST(o AS INTEGER) AS day
             |        FROM p, unnest(generate_series(0, 6)) AS t(o)),
             |d7 AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau7d
             |       FROM cov GROUP BY day)
             |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, dau7d
             |FROM dau JOIN d7 USING (day)""".stripMargin)),

    // Per-type z-score of event values: one stats pass -> broadcast ->
    // narrow scaled projection (the winsorize shape, for scaling).
    ("q89_events_zscore",
      (s: SparkSession, dir: String) =>
        Summary.zscore(Cohorts.events(s, dir), "value", Seq("event_type"))
          .select(col("event_id"), col("event_type"),
            rnd(col("mu"), 4).as("mu"), rnd(col("sigma"), 4).as("sigma"),
            rnd(col("z"), 4).as("z")),
      Some("""WITH st AS (SELECT event_type, avg(value) AS mu,
             |                   stddev_samp(value) AS sigma
             |            FROM events GROUP BY event_type)
             |SELECT event_id, event_type,
             |       ROUND(1e-9 + mu, 4) AS mu,
             |       ROUND(1e-9 + sigma, 4) AS sigma,
             |       ROUND(1e-9 + CASE WHEN sigma IS NULL OR sigma = 0 THEN 0.0
             |                         ELSE (value - mu) / sigma END, 4) AS z
             |FROM events JOIN st USING (event_type)""".stripMargin)),

    // Pre-training chunker: fixed-length token windows with stride
    // (overlap keeps boundary spans). Pure map-stage 1→N explode — no
    // shuffle; the oracle replays the start arithmetic with list_slice.
    ("q88_chunk_documents",
      (s: SparkSession, dir: String) =>
        TextAnalysis.chunkDocuments(Cohorts.documents(s, dir), 64, 48),
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split_regex(text, '\s+'),
             |                              x -> x <> '') AS toks
             |           FROM documents),
             |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             |c AS (SELECT doc_id, toks,
             |             unnest(generate_series(0,
             |               CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT))) AS chunk_no
             |      FROM n)
             |SELECT doc_id, chunk_no,
             |       CAST(len(list_slice(toks, chunk_no*48 + 1, chunk_no*48 + 64)) AS BIGINT) AS n_tokens,
             |       array_to_string(list_slice(toks, chunk_no*48 + 1, chunk_no*48 + 64), ' ') AS chunk_text
             |FROM c""".stripMargin)),

    // Deterministic fixed-size per-stratum sample: exactly min(k, |lang|)
    // docs per language by smallest key hash — WindowGroupLimit prunes
    // map-side, shuffle carries O(k·strata·maps).
    ("q82_sample_fixed_k",
      (s: SparkSession, dir: String) =>
        Sampling.stratifiedFixedK(Cohorts.documents(s, dir),
            "lang", "doc_id", 20, "fk42")
          .select("doc_id", "lang", "source"),
      Some(s"""SELECT doc_id, lang, source FROM (
              |  SELECT doc_id, lang, source, row_number() OVER (
              |    PARTITION BY lang
              |    ORDER BY ${Sampling.hashUnitSql("doc_id", "fk42")} ASC, doc_id ASC) AS rn
              |  FROM documents) WHERE rn <= 20""".stripMargin)),

    // Per-type winsorization of event values at [p05, p95]: one percentile
    // pass → broadcast bounds → narrow clip projection.
    ("q83_events_winsorize",
      (s: SparkSession, dir: String) =>
        Summary.winsorize(Cohorts.events(s, dir), "value",
            Seq("event_type"), 0.05, 0.95)
          .select(col("event_id"), col("event_type"), col("value"),
            col("lo"), col("hi"), col("v_clip"),
            col("clipped").cast("long").as("clipped")),
      Some("""WITH b AS (SELECT event_type,
             |                  ROUND(1e-9 + quantile_cont(value, 0.05), 4) AS lo,
             |                  ROUND(1e-9 + quantile_cont(value, 0.95), 4) AS hi
             |           FROM events GROUP BY event_type)
             |SELECT event_id, e.event_type, value, lo, hi,
             |       least(greatest(value, lo), hi) AS v_clip,
             |       CAST(CASE WHEN value < lo OR value > hi
             |                 THEN 1 ELSE 0 END AS BIGINT) AS clipped
             |FROM events e JOIN b USING (event_type)""".stripMargin)),

    // BM25 postings: top-10 docs per vocabulary term (df ≥ 5) — the
    // lexical-retrieval index of a RAG pipeline, Lucene-flavor idf.
    ("q84_bm25_postings",
      (s: SparkSession, dir: String) =>
        TextAnalysis.bm25TopDocs(Cohorts.documents(s, dir), 5, 10),
      Some(s"""WITH ${TextSql.toksCte},
              |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
              |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
              |                 CAST(count(*) AS DOUBLE) AS n FROM lens),
              |tk AS (SELECT doc_id, unnest(t) AS token FROM toks),
              |tfc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              |        FROM tk GROUP BY doc_id, token),
              |dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
              |        FROM tfc GROUP BY token HAVING count(*) >= 5),
              |sc AS (SELECT token, tfc.doc_id, tf, doc_freq,
              |              ln(1.0 + (n - doc_freq + 0.5) / (doc_freq + 0.5))
              |                * (tf * 2.2)
              |                / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS score
              |       FROM tfc JOIN dfc USING (token) JOIN lens USING (doc_id)
              |            CROSS JOIN stats),
              |r AS (SELECT *, CAST(row_number() OVER (
              |        PARTITION BY token
              |        ORDER BY round(1e-9 + score, 9) DESC, doc_id) AS BIGINT) AS rank
              |      FROM sc)
              |SELECT token, doc_id, tf, doc_freq,
              |       ROUND(1e-9 + score, 6) AS score, rank
              |FROM r WHERE rank <= 10""".stripMargin)),

    // Sparse TF-IDF cosine pairs through the inverted-index join: pairs
    // generated per shared token under a df-cut vocabulary — the shuffle
    // is keyed by token, never the all-pairs cross join.
    ("q81_sparse_cosine",
      (s: SparkSession, dir: String) =>
        TextAnalysis.sparseCosinePairs(Cohorts.documents(s, dir), 0.3, 50),
      Some(s"""WITH ${TextSql.toksCte},
              |tk AS (SELECT doc_id, unnest(t) AS token FROM toks),
              |tfc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
              |        FROM tk GROUP BY doc_id, token),
              |dfc AS (SELECT token, count(*) AS doc_freq FROM tfc
              |        GROUP BY token HAVING count(*) <= 50),
              |w AS (SELECT doc_id, token,
              |             tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
              |                     / doc_freq) AS w
              |      FROM tfc JOIN dfc USING (token)),
              |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
              |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |                sum(a.w * b.w) AS dot
              |         FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
              |         GROUP BY a.doc_id, b.doc_id),
              |sm AS (SELECT doc_a, doc_b, dot / (na.norm * nb.norm) AS sim
              |       FROM dots JOIN nrm na ON doc_a = na.doc_id
              |                 JOIN nrm nb ON doc_b = nb.doc_id)
              |SELECT doc_a, doc_b, ROUND(1e-9 + sim, 6) AS sim
              |FROM sm WHERE ROUND(1e-9 + sim, 9) >= 0.3""".stripMargin)),

    // Per-user rolling last-5-events window stats (feature engineering):
    // one shuffle on user_id, O(n) frame state.
    ("q80_events_rolling",
      (s: SparkSession, dir: String) =>
        EventOps.rollingStats(Cohorts.events(s, dir), 5),
      Some("""WITH e AS (SELECT user_id, event_id, value,
             |                  date_trunc('second', ts) AS tsec FROM events)
             |SELECT user_id, event_id,
             |       ROUND(1e-9 + sum(value) OVER w, 2) AS roll_sum,
             |       ROUND(1e-9 + avg(value) OVER w, 4) AS roll_avg,
             |       CAST(count(*) OVER w AS BIGINT) AS n_window
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id
             |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // 14-day retention matrix: first-active-day cohorts × day offsets.
    // One user-keyed shuffle builds the distinct-day sets; the join the
    // naive SQL does is folded into array_min over that set.
    ("q90_events_retention",
      (s: SparkSession, dir: String) =>
        EventOps.retentionMatrix(Cohorts.events(s, dir), 14),
      Some("""WITH p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |           FROM events),
             |f AS (SELECT user_id, min(day) AS cohort_day FROM p GROUP BY user_id),
             |o AS (SELECT f.cohort_day,
             |             CAST(date_diff('day', f.cohort_day, p.day) AS BIGINT) AS day_offset
             |      FROM p JOIN f USING (user_id)
             |      WHERE date_diff('day', f.cohort_day, p.day) <= 14),
             |m AS (SELECT cohort_day, day_offset,
             |             CAST(count(*) AS BIGINT) AS n_users
             |      FROM o GROUP BY cohort_day, day_offset)
             |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
             |       n_users,
             |       ROUND(1e-9 + n_users * 1.0 /
             |             max(CASE WHEN day_offset = 0 THEN n_users END)
             |               OVER (PARTITION BY cohort_day), 4) AS retention
             |FROM m""".stripMargin)),

    // First-order event-type transition matrix with row probabilities:
    // lead over (user, ts, event_id) → O(types²) count matrix.
    ("q91_events_transitions",
      (s: SparkSession, dir: String) =>
        EventOps.eventTransitions(Cohorts.events(s, dir)),
      Some("""WITH nx AS (
             |  SELECT event_type AS from_type,
             |         lead(event_type) OVER (
             |           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
             |      FROM nx WHERE to_type IS NOT NULL
             |      GROUP BY from_type, to_type)
             |SELECT from_type, to_type, n,
             |       ROUND(1e-9 + n * 1.0 /
             |             sum(n) OVER (PARTITION BY from_type), 4) AS p
             |FROM c""".stripMargin)),

    // Temperature-α language rebalance (α=0.5): kept corpus shares follow
    // n_lang^α, smallest language keeps everything, membership
    // content-addressed (lang is the skewed stratum in this corpus —
    // sources are uniform).
    ("q92_sample_temperature",
      (s: SparkSession, dir: String) =>
        Sampling.temperatureSample(Cohorts.documents(s, dir),
            "lang", "doc_id", 0.5, "t42")
          .select("doc_id", "lang", "rate"),
      Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
              |          FROM documents GROUP BY lang),
              |r AS (SELECT lang,
              |             ROUND(1e-9 + pow((SELECT min(n) FROM c) * 1.0 / n,
              |                              0.5), 6) AS rate
              |      FROM c)
              |SELECT d.doc_id, d.lang, r.rate
              |FROM documents d JOIN r USING (lang)
              |WHERE ${Sampling.hashUnitSql("d.doc_id", "t42")} < r.rate""".stripMargin)),

    // Deterministic global training-shuffle order: dense positions in
    // finalized-hash order via the range-partitioned zipWithIndex plan —
    // no single-task window anywhere.
    ("q93_shuffle_order",
      (s: SparkSession, dir: String) =>
        Sampling.shuffleOrder(Cohorts.documents(s, dir), "doc_id", "sh42")
          .select("doc_id", "shuffle_pos"),
      Some(s"""SELECT doc_id,
              |       CAST(row_number() OVER (
              |         ORDER BY ${Sampling.hashUnitSql("doc_id", "sh42")}, doc_id)
              |         AS BIGINT) - 1 AS shuffle_pos
              |FROM documents""".stripMargin)),

    // Long-to-wide pivot: day × event-type count matrix. The column set is
    // data-dependent (dummy-encode contract), so its oracle is dynamic —
    // see eventsPivotOracle.
    ("q94_events_pivot",
      (s: SparkSession, dir: String) =>
        EventOps.pivotDailyCounts(Cohorts.events(s, dir)),
      None),

    // Per-type equal-width 10-bin value histogram: two agg passes, sparse
    // (group, bin) output.
    ("q95_value_histogram",
      (s: SparkSession, dir: String) =>
        Summary.histogram(Cohorts.events(s, dir), "value",
          Seq("event_type"), 10),
      Some("""WITH st AS (SELECT event_type, min(value) AS mn, max(value) AS mx
             |            FROM events GROUP BY event_type),
             |b AS (SELECT e.event_type,
             |             CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
             |                  ELSE least(CAST(floor((value - mn) /
             |                         ((mx - mn) / 10.0)) AS BIGINT),
             |                       CAST(9 AS BIGINT)) END AS bin,
             |             mn, mx
             |      FROM events e JOIN st USING (event_type))
             |SELECT event_type, bin,
             |       ROUND(1e-9 + mn + bin * ((mx - mn) / 10.0), 4) AS bin_lo,
             |       ROUND(1e-9 + mn + (bin + 1) * ((mx - mn) / 10.0), 4) AS bin_hi,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM b GROUP BY event_type, bin, mn, mx""".stripMargin)),

    // Deterministic weighted interleave (stride scheduling): en 3×, zh
    // 1.5×, rest 1× — every training prefix sees the target language mix.
    ("q96_interleave",
      (s: SparkSession, dir: String) =>
        Sampling.interleaveByStrata(Cohorts.documents(s, dir), "lang",
            "doc_id", Map("en" -> 3.0, "zh" -> 1.5), 1.0, "il42")
          .select("doc_id", "lang", "interleave_pos"),
      Some(s"""WITH rk AS (SELECT doc_id, lang,
              |             CAST(row_number() OVER (PARTITION BY lang
              |               ORDER BY ${Sampling.hashUnitSql("doc_id", "il42")},
              |                        doc_id) AS BIGINT) AS r
              |            FROM documents),
              |k AS (SELECT doc_id, lang,
              |             r / CASE lang WHEN 'en' THEN 3.0
              |                           WHEN 'zh' THEN 1.5
              |                           ELSE 1.0 END AS pk
              |      FROM rk)
              |SELECT doc_id, lang,
              |       CAST(row_number() OVER (ORDER BY pk, lang, doc_id)
              |         AS BIGINT) - 1 AS interleave_pos
              |FROM k""".stripMargin)),

    // Per-source unigram KL from the corpus distribution — domain-shift
    // score that drives mixture re-weighting.
    ("q97_source_divergence",
      (s: SparkSession, dir: String) =>
        TextAnalysis.sourceDivergence(Cohorts.documents(s, dir))
          .select(col("source"), col("n_tokens"), rnd(col("kl"), 4).as("kl")),
      Some(s"""WITH ${TextSql.toksCte},
              |o AS (SELECT source, unnest(t) AS tok FROM toks),
              |st AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS nst
              |       FROM o GROUP BY source, tok),
              |nt AS (SELECT tok, sum(nst) AS nt FROM st GROUP BY tok),
              |ns AS (SELECT source, sum(nst) AS ns FROM st GROUP BY source),
              |tot AS (SELECT sum(nst) AS n FROM st)
              |SELECT st.source, CAST(ns.ns AS BIGINT) AS n_tokens,
              |       ROUND(1e-9 + sum((nst / ns.ns) *
              |             ln((nst / ns.ns) / (nt.nt / tot.n))), 4) AS kl
              |FROM st JOIN nt USING (tok) JOIN ns USING (source), tot
              |GROUP BY st.source, ns.ns""".stripMargin)),

    // PMI collocations: top-10 statistically-bound word pairs per language
    // (min 5 occurrences — PMI is noise below that).
    ("q98_collocations",
      (s: SparkSession, dir: String) =>
        TextAnalysis.collocations(Cohorts.documents(s, dir), 5, 10),
      Some(s"""WITH ${TextSql.toksCte},
              |bg AS (SELECT lang, unnest(${TextSql.shingleStrings("t", 2)}) AS g
              |       FROM toks),
              |b AS (SELECT lang, string_split(g, ' ')[1] AS w1,
              |             string_split(g, ' ')[2] AS w2 FROM bg),
              |pc AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS n_pair
              |       FROM b GROUP BY lang, w1, w2),
              |nb AS (SELECT lang, CAST(count(*) AS DOUBLE) AS nbg
              |       FROM b GROUP BY lang),
              |o AS (SELECT lang, unnest(t) AS tok FROM toks),
              |ug AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS c
              |       FROM o GROUP BY lang, tok),
              |nu AS (SELECT lang, sum(c) AS nu FROM ug GROUP BY lang),
              |sc AS (SELECT pc.lang, pc.w1, pc.w2, pc.n_pair,
              |              ln((n_pair / nb.nbg) /
              |                 ((u1.c / nu.nu) * (u2.c / nu.nu))) AS pmi
              |       FROM pc
              |       JOIN nb USING (lang)
              |       JOIN ug u1 ON u1.lang = pc.lang AND u1.tok = pc.w1
              |       JOIN ug u2 ON u2.lang = pc.lang AND u2.tok = pc.w2
              |       JOIN nu ON nu.lang = pc.lang
              |       WHERE n_pair >= 5),
              |r AS (SELECT *, CAST(row_number() OVER (
              |        PARTITION BY lang
              |        ORDER BY round(1e-9 + pmi, 9) DESC, w1, w2) AS BIGINT) AS rank
              |      FROM sc)
              |SELECT lang, w1, w2, n_pair, ROUND(1e-9 + pmi, 4) AS pmi, rank
              |FROM r WHERE rank <= 10""".stripMargin)),

    // Robust per-type outlier flags: MAD-scored values, |z| > 3 — the
    // scale-stats pass the mean/stddev z-score can't do when outliers
    // inflate the scale itself.
    ("q99_mad_outliers",
      (s: SparkSession, dir: String) =>
        Summary.madOutliers(Cohorts.events(s, dir), "value",
            Seq("event_type"), 3.0)
          .select(col("event_id"), col("event_type"), col("value"),
            col("med"), col("mad"), rnd(col("robust_z"), 4).as("robust_z"),
            col("outlier")),
      Some("""WITH m AS (SELECT event_type,
             |                  ROUND(1e-9 + quantile_cont(value, 0.5), 4) AS med
             |           FROM events GROUP BY event_type),
             |d AS (SELECT e.event_id, e.event_type, e.value, m.med
             |      FROM events e JOIN m USING (event_type)),
             |md AS (SELECT event_type,
             |              ROUND(1e-9 + quantile_cont(abs(value - med), 0.5), 4) AS mad
             |       FROM d GROUP BY event_type)
             |SELECT event_id, event_type, value, med, mad,
             |       ROUND(1e-9 + CASE WHEN mad = 0 THEN 0.0
             |                         ELSE (value - med) / (1.4826 * mad) END,
             |             4) AS robust_z,
             |       CAST(CASE WHEN mad <> 0 AND
             |                      abs((value - med) / (1.4826 * mad)) > 3.0
             |                 THEN 1 ELSE 0 END AS BIGINT) AS outlier
             |FROM d JOIN md USING (event_type)""".stripMargin)),

    // Hourly volume anomalies: per-type hourly counts scored against the
    // type's own median/MAD — the feed-monitoring composite.
    ("q100_hourly_anomaly",
      (s: SparkSession, dir: String) =>
        EventOps.hourlyAnomalies(Cohorts.events(s, dir), 3.0)
          .select(col("hour_start"), col("event_type"),
            col("n_events").cast("long").as("n_events"),
            col("med"), col("mad"),
            rnd(col("robust_z"), 4).as("robust_z"), col("outlier")),
      Some("""WITH h AS (SELECT strftime(date_trunc('hour', ts),
             |                           '%Y-%m-%d %H:%M:%S') AS hour_start,
             |                  event_type,
             |                  CAST(count(*) AS DOUBLE) AS n
             |           FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type,
             |             ROUND(1e-9 + quantile_cont(n, 0.5), 4) AS med
             |      FROM h GROUP BY event_type),
             |d AS (SELECT h.*, m.med FROM h JOIN m USING (event_type)),
             |md AS (SELECT event_type,
             |              ROUND(1e-9 + quantile_cont(abs(n - med), 0.5), 4) AS mad
             |       FROM d GROUP BY event_type)
             |SELECT hour_start, event_type, CAST(n AS BIGINT) AS n_events,
             |       med, mad,
             |       ROUND(1e-9 + CASE WHEN mad = 0 THEN 0.0
             |                         ELSE (n - med) / (1.4826 * mad) END,
             |             4) AS robust_z,
             |       CAST(CASE WHEN mad <> 0 AND
             |                      abs((n - med) / (1.4826 * mad)) > 3.0
             |                 THEN 1 ELSE 0 END AS BIGINT) AS outlier
             |FROM d JOIN md USING (event_type)""".stripMargin)),

    // BPE first-iteration pair statistic: corpus → distinct (word, count)
    // (Zipf contraction) → per-distinct-word char-pair explode → weighted
    // counts → distributed top-50 (TakeOrderedAndProject, no global sort).
    ("q101_bpe_pairs",
      (s: SparkSession, dir: String) =>
        TextAnalysis.bpePairCounts(Cohorts.documents(s, dir), 50),
      Some(s"""WITH ${TextSql.toksCte},
              |tok AS (SELECT unnest(t) AS w FROM toks),
              |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
              |       FROM tok GROUP BY w),
              |p AS (SELECT unnest(list_transform(range(length(w) - 1),
              |               i -> substr(w, CAST(i + 1 AS INT), 2))) AS pair,
              |             cnt
              |      FROM wc WHERE length(w) >= 2),
              |agg AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
              |        FROM p GROUP BY pair)
              |SELECT pair, n, rank FROM (
              |  SELECT pair, n, CAST(row_number() OVER (
              |    ORDER BY n DESC, pair) AS BIGINT) AS rank FROM agg)
              |WHERE rank <= 50""".stripMargin)),

    // Arrival-process statistics: per-user lag window (one shuffle), exact
    // BIGINT micro gaps, partial-aggregated per-type rollup.
    ("q102_interevent_gaps",
      (s: SparkSession, dir: String) =>
        EventOps.interEventGaps(Cohorts.events(s, dir)),
      Some("""WITH g AS (
             |  SELECT event_type,
             |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events)
             |SELECT event_type,
             |       CAST(count(*) AS BIGINT) AS n_gaps,
             |       ROUND(1e-9 + CAST(sum(gap_us) AS DOUBLE) / count(*) / 1e6,
             |             4) AS avg_gap_s,
             |       ROUND(1e-9 + quantile_cont(gap_us, 0.5) / 1e6, 4)
             |         AS median_gap_s,
             |       CAST(max(gap_us) AS BIGINT) AS max_gap_us
             |FROM g WHERE gap_us IS NOT NULL
             |GROUP BY event_type""".stripMargin)),

    // Ingestion-gate column profile: one scan (Expand-replicated map side),
    // one partial-aggregated shuffle, driver-sized unpivot.
    ("q103_profile",
      (s: SparkSession, dir: String) =>
        Profile.columnProfile(Cohorts.events(s, dir),
          Seq("event_id", "ts", "user_id", "event_type", "value", "props")),
      Some(Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c =>
          s"""SELECT '$c' AS column, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
             |FROM events""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // Equi-depth decile binning: one exact-percentile pass → broadcast
    // boundaries → narrow bin projection → (group, bin) rollup.
    ("q104_value_deciles",
      (s: SparkSession, dir: String) =>
        Summary.equiDepthBins(Cohorts.events(s, dir), "value",
          Seq("event_type"), 10),
      Some {
        val fr = (1 until 10).map(i => i.toDouble / 10)
        val boundsList = fr
          .map(f => s"ROUND(1e-9 + quantile_cont(value, $f), 4)")
          .mkString("[", ", ", "]")
        s"""WITH b AS (SELECT event_type, $boundsList AS bounds
           |           FROM events GROUP BY event_type),
           |a AS (SELECT e.event_type, e.value,
           |             COALESCE(len(list_filter(b.bounds, x -> e.value > x)),
           |                      0) AS bin
           |      FROM events e LEFT JOIN b USING (event_type))
           |SELECT event_type, CAST(bin AS BIGINT) AS bin,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(1e-9 + min(value), 6) AS v_min,
           |       ROUND(1e-9 + max(value), 6) AS v_max
           |FROM a GROUP BY event_type, bin""".stripMargin
      }),

    // Learned-parameter sessionization: gap = 3x the median same-user
    // inter-event gap (recomputed relationally by the oracle — the
    // threshold is a deterministic double->floor of exact inputs).
    ("q105_adaptive_sessions",
      (s: SparkSession, dir: String) =>
        EventOps.adaptiveSessionize(Cohorts.events(s, dir))
          .withColumn("session_no", col("session_no").cast("long")),
      Some("""WITH g AS (
             |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |th AS (SELECT CAST(floor(3.0 * quantile_cont(gap_us, 0.5) / 1e6)
             |                AS BIGINT) AS gap_s
             |       FROM g WHERE gap_us IS NOT NULL),
             |e AS (SELECT user_id, event_id, value,
             |             date_trunc('second', ts) AS tsec FROM events),
             |l AS (SELECT *, lag(tsec) OVER (
             |        PARTITION BY user_id ORDER BY tsec, event_id) AS prev FROM e),
             |f AS (SELECT *, CASE WHEN prev IS NULL
             |                     OR epoch(tsec) - epoch(prev) >
             |                        (SELECT gap_s FROM th)
             |                THEN 1 ELSE 0 END AS is_new FROM l),
             |s AS (SELECT *, SUM(is_new) OVER (
             |        PARTITION BY user_id ORDER BY tsec, event_id
             |        ROWS UNBOUNDED PRECEDING) AS session_no FROM f)
             |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
             |       strftime(min(tsec), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       ROUND(1e-9 + sum(value), 2) AS sum_value,
             |       (SELECT gap_s FROM th) AS gap_s
             |FROM s GROUP BY user_id, session_no""".stripMargin)),

    // Misra-Gries candidate prune + exact recount; the oracle sees only
    // the exact relational result.
    ("q106_heavy_hitters",
      (s: SparkSession, dir: String) =>
        TextAnalysis.heavyHitters(Cohorts.documents(s, dir), 0.01),
      Some(s"""WITH ${TextSql.toksCte},
              |tok AS (SELECT unnest(t) AS token FROM toks),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
              |SELECT token, CAST(count(*) AS BIGINT) AS n,
              |       ROUND(1e-9 + count(*) / (SELECT CAST(n AS DOUBLE) FROM tot),
              |             6) AS share
              |FROM tok GROUP BY token
              |HAVING count(*) > CAST(floor(0.01 * (SELECT n FROM tot))
              |                       AS BIGINT)""".stripMargin)),

    // Temporal holdout at learned p80/p90 time quantiles (leakage-safe,
    // unlike a content-addressed split): rollup per split.
    ("q107_temporal_split",
      (s: SparkSession, dir: String) =>
        Sampling.temporalSplit(Cohorts.events(s, dir), "ts",
            Seq("train", "val", "test"), Seq(0.8, 0.9))
          .groupBy("split")
          .agg(count(lit(1)).as("n"),
            date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
            date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts")),
      Some("""WITH b AS (SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.8))
             |                    AS BIGINT) AS b1,
             |                  CAST(floor(quantile_cont(epoch_us(ts), 0.9))
             |                    AS BIGINT) AS b2
             |           FROM events),
             |a AS (SELECT ts,
             |        CASE WHEN epoch_us(ts) <= (SELECT b1 FROM b) THEN 'train'
             |             WHEN epoch_us(ts) <= (SELECT b2 FROM b) THEN 'val'
             |             ELSE 'test' END AS split
             |      FROM events)
             |SELECT split, CAST(count(*) AS BIGINT) AS n,
             |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
             |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
             |FROM a GROUP BY split""".stripMargin)),

    // Feature-store export: one user-keyed agg pair (Expand for the two
    // exact distincts).
    ("q108_user_features",
      (s: SparkSession, dir: String) =>
        EventOps.userFeatures(Cohorts.events(s, dir)),
      Some("""SELECT user_id,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
             |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
             |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
             |       ROUND(1e-9 + sum(value), 2) AS total_value,
             |       ROUND(1e-9 + sum(value) / count(*), 4) AS avg_value
             |FROM events GROUP BY user_id""".stripMargin)),

    // Label rebalance to the LEARNED min class size: content-addressed
    // smallest-hash-per-class (nested along k), k = min label count — the
    // oracle computes k relationally, Spark reads the one-row scalar
    // between jobs (q105 discipline).
    ("q109_label_rebalance",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        val kRow = e.groupBy("label").count().agg(min("count")).head()
        // empty corpus → min over zero groups is null → empty result,
        // mirroring the oracle's empty relation (not a driver NPE)
        if (kRow.isNullAt(0)) e.select("vec_id", "label").limit(0)
        else Sampling.stratifiedFixedK(e, "label", "vec_id",
            kRow.getLong(0), "lb7")
          .select("vec_id", "label")
      },
      Some(s"""WITH c AS (SELECT label, count(*) AS n
              |           FROM embeddings GROUP BY label),
              |k AS (SELECT min(n) AS k FROM c)
              |SELECT vec_id, label FROM (
              |  SELECT vec_id, label, row_number() OVER (
              |    PARTITION BY label
              |    ORDER BY ${Sampling.hashUnitSql("vec_id", "lb7")} ASC,
              |             vec_id ASC) AS rn
              |  FROM embeddings) WHERE rn <= (SELECT k FROM k)""".stripMargin)),

    // SemDeDup: embedding-cosine components (q54's cluster oracle) x
    // quality ranking — keep the best doc per semantic cluster.
    ("q110_semantic_dedup",
      (s: SparkSession, dir: String) =>
        Similarity.semanticDedup(Cohorts.documents(s, dir),
          Cohorts.embeddings(s, dir), 0.4),
      Some(s"""WITH RECURSIVE
              |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |prs AS (
              |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
              |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
              |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
              |          UNION ALL SELECT doc_b, doc_a FROM prs),
              |reach AS (
              |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
              |  UNION
              |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON e2.v = reach.u),
              |cl AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              |       FROM reach GROUP BY u),
              |${TextSql.toksCte},
              |${TextSql.qualitySignalsCte()},
              |q AS (SELECT doc_id, ${TextSql.qualityScoreFromM} AS quality FROM m),
              |j AS (SELECT q.doc_id,
              |             COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
              |             q.quality
              |      FROM q LEFT JOIN cl USING (doc_id))
              |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id, quality,
              |       CAST(CASE WHEN row_number() OVER (
              |              PARTITION BY cluster_id
              |              ORDER BY quality DESC, doc_id ASC) = 1
              |            THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM j""".stripMargin)),

    // SemDeDup over the LSH pair path — the 100 TB composition, gated with
    // q60's planted-clone discipline: clone every 10th doc+embedding at
    // id + 1e6 and dedup at threshold 0.9. Real-data cosine < 0.5 at every
    // SF, so the exact answer is precisely the clone clusters; identical
    // vectors share every SRP band (admission prob. 1 under the fixed
    // seed), hub-verify at sim = 1.0, and the full-signature star clusters
    // them deterministically — so semanticDedupLsh equals the exact
    // recursive-closure SemDeDup and the gate is a FULL hash gate whose
    // plan NEVER enumerates the |corpus|² pair relation (q110's admitted
    // quadratic). Clones share the original's text ⇒ equal quality; the
    // doc_id tie-break keeps the original, drops the clone.
    ("q111_semantic_dedup_lsh",
      (s: SparkSession, dir: String) => {
        requireEmbedSelfSilence(s, dir, "q111")
        val d0 = Cohorts.documents(s, dir)
        val e0 = Cohorts.embeddings(s, dir)
        val docs = d0.unionByName(d0.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
        val emb = e0.unionByName(e0.filter(col("vec_id") % 10 === 0)
          .withColumn("vec_id", col("vec_id") + lit(1000000L)))
        Similarity.semanticDedupLsh(docs, emb, 0.9)
      },
      Some(s"""WITH RECURSIVE
              |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |ev AS (SELECT * FROM e0
              |       UNION ALL
              |       SELECT vec_id + 1000000, v FROM e0 WHERE vec_id % 10 = 0),
              |prs AS (
              |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
              |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
              |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
              |          UNION ALL SELECT doc_b, doc_a FROM prs),
              |reach AS (
              |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
              |  UNION
              |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON e2.v = reach.u),
              |cl AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              |       FROM reach GROUP BY u),
              |d0 AS (SELECT doc_id, text FROM documents),
              |d AS (SELECT * FROM d0
              |      UNION ALL
              |      SELECT doc_id + 1000000, text FROM d0 WHERE doc_id % 10 = 0),
              |toks AS (
              |  SELECT doc_id, text,
              |         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
              |  FROM d),
              |${TextSql.qualitySignalsCte()},
              |q AS (SELECT doc_id, ${TextSql.qualityScoreFromM} AS quality FROM m),
              |j AS (SELECT q.doc_id,
              |             COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
              |             q.quality
              |      FROM q LEFT JOIN cl USING (doc_id))
              |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id, quality,
              |       CAST(CASE WHEN row_number() OVER (
              |              PARTITION BY cluster_id
              |              ORDER BY quality DESC, doc_id ASC) = 1
              |            THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM j""".stripMargin)),

    // DSIR-style importance weights: per-doc mean log-likelihood ratio of
    // the target-domain (source src0) unigram LM vs the corpus LM, Laplace
    // +1 smoothed over the shared vocabulary — one frequency shuffle, one
    // 1-row broadcast of the three scalars, one scoring join.
    ("q112_importance_weights",
      (s: SparkSession, dir: String) =>
        TextAnalysis.importanceWeights(Cohorts.documents(s, dir),
            col("source") === "src0")
          .select(col("doc_id"), col("n_tokens"),
            rnd(col("avg_llr"), 4).as("avg_llr")),
      Some(s"""WITH ${TextSql.toksCte},
              |tok AS (SELECT doc_id,
              |               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS isT,
              |               unnest(t) AS t
              |        FROM toks),
              |freq AS (SELECT t, CAST(count(*) AS DOUBLE) AS cc,
              |                CAST(sum(isT) AS DOUBLE) AS ct
              |         FROM tok GROUP BY t),
              |tot AS (SELECT sum(cc) AS Tc, sum(ct) AS Tt,
              |               CAST(count(*) AS DOUBLE) AS V
              |        FROM freq)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |       ROUND(1e-9 + avg(ln((ct + 1) / (Tt + V)) -
              |                        ln((cc + 1) / (Tc + V))), 4) AS avg_llr
              |FROM tok JOIN freq USING (t) CROSS JOIN tot
              |GROUP BY doc_id""".stripMargin)),

    // Asymmetric shingle containment (excerpt-in-superset detection):
    // ordered pairs with |Sa ∩ Sb| / |Sa| >= 0.3 via the inverted-index
    // join; the oracle is the exact all-pairs list_intersect.
    ("q113_containment_pairs",
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairs(Cohorts.documents(s, dir), 0.3),
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM toks),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
              |             CAST(len(a.s) AS DOUBLE) AS na
              |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
              |      WHERE len(a.s) > 0 AND len(b.s) > 0)
              |SELECT doc_a, doc_b, ROUND(1e-9 + inter / na, 6) AS containment
              |FROM p WHERE inter / na >= 0.3""".stripMargin)),

    // Domain-mixture audit + uniform-target resampling weights: one
    // map-side-combining groupBy(source) + a 1-row broadcast total.
    ("q114_domain_mixture",
      (s: SparkSession, dir: String) =>
        TextAnalysis.domainMixture(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |               CAST(sum(len(t)) AS BIGINT) AS n_tokens
              |        FROM toks GROUP BY source),
              |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
              |               CAST(count(*) AS DOUBLE) AS ns
              |        FROM per)
              |SELECT source, n_docs, n_tokens,
              |       ROUND(1e-9 + n_tokens / tot, 6) AS token_share,
              |       ROUND(1e-9 + (1.0 / ns) / (n_tokens / tot), 6)
              |         AS uniform_weight
              |FROM per CROSS JOIN tot""".stripMargin)),

    // Tokenizer-vocabulary coverage / OOV-rate audit at a learned top-20
    // vocab (count desc, token tie-break): TakeOrderedAndProject vocab,
    // broadcast left join, per-doc fold.
    ("q115_vocab_coverage",
      (s: SparkSession, dir: String) =>
        TextAnalysis.vocabCoverage(Cohorts.documents(s, dir), 20),
      Some(s"""WITH ${TextSql.toksCte},
              |tok AS (SELECT doc_id, unnest(t) AS t FROM toks),
              |vc AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
              |vocab AS (SELECT t, 1 AS inv FROM (
              |  SELECT t, row_number() OVER (ORDER BY n DESC, t ASC) AS rn
              |  FROM vc) WHERE rn <= 20)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |       CAST(sum(COALESCE(inv, 0)) AS BIGINT) AS n_in_vocab,
              |       ROUND(1e-9 + CAST(sum(COALESCE(inv, 0)) AS DOUBLE)
              |             / count(*), 4) AS coverage
              |FROM tok LEFT JOIN vocab USING (t)
              |GROUP BY doc_id""".stripMargin)),

    // Dedup audit: cluster-size histogram over the q46 MinHash components,
    // singletons included via the SemDeDup left-join + own-id coalesce.
    ("q116_cluster_sizes",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        Dedup.clusterSizeReport(d,
          Dedup.dedupClusters(Dedup.minHashPairs(d, 0.5)))
      },
      Some(s"""$dedupClustersCtes,
              |m AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cid
              |      FROM documents d LEFT JOIN cl USING (doc_id)),
              |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz
              |       FROM m GROUP BY cid)
              |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
              |       CAST(sum(sz) AS BIGINT) AS n_docs
              |FROM sz GROUP BY sz""".stripMargin)),

    // Containment via PPJoin-style prefix filtering — EXACT by pigeonhole
    // (rarity-ordered prefixes must share a shingle with any true pair),
    // so it shares q113's all-pairs oracle while probing the inverted
    // index with only the rarest ⌊(1−t)·|Sa|⌋+1 shingles per doc — the
    // scale path where the full posting join grows on hot shingles.
    ("q117_containment_prefix",
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairsPrefix(Cohorts.documents(s, dir), 0.3),
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM toks),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
              |             CAST(len(a.s) AS DOUBLE) AS na
              |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
              |      WHERE len(a.s) > 0 AND len(b.s) > 0)
              |SELECT doc_a, doc_b, ROUND(1e-9 + inter / na, 6) AS containment
              |FROM p WHERE inter / na >= 0.3""".stripMargin)),

    // Excerpt detection at the SPARSE operating point (t = 0.9 — where the
    // prefix filter prunes 6.1× over the full join, DESIGN §10): plant a
    // 40%-prefix excerpt of every 10th doc at id + 1e6; every planted
    // excerpt's shingles are a subset of its source's, so containment
    // excerpt→source = 1.0 and the gate has guaranteed non-vacuous rows.
    // Exactness at this threshold is pinned by the shared all-pairs oracle.
    ("q118_excerpt_detection",
      (s: SparkSession, dir: String) => {
        val d0 = Cohorts.documents(s, dir)
        val toks = TextAnalysis.tokens(col("text"))
        val excerpts = d0.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L))
          .withColumn("text", array_join(
            slice(toks, lit(1), ceil(size(toks) * 0.4).cast("int")), " "))
        Dedup.containmentPairsPrefix(d0.unionByName(excerpts), 0.9)
      },
      Some(s"""WITH d0 AS (SELECT doc_id, text FROM documents),
              |t0 AS (SELECT doc_id,
              |         list_filter(string_split_regex(text, '\\s+'),
              |                     x -> x <> '') AS t
              |       FROM d0),
              |ex AS (SELECT doc_id + 1000000 AS doc_id,
              |              array_to_string(list_slice(t, 1,
              |                CAST(ceil(0.4 * len(t)) AS BIGINT)), ' ') AS text
              |       FROM t0 WHERE doc_id % 10 = 0),
              |u AS (SELECT doc_id, text FROM d0
              |      UNION ALL SELECT doc_id, text FROM ex),
              |ut AS (SELECT doc_id,
              |         list_filter(string_split_regex(text, '\\s+'),
              |                     x -> x <> '') AS t
              |       FROM u),
              |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM ut),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
              |             CAST(len(a.s) AS DOUBLE) AS na
              |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
              |      WHERE len(a.s) > 0 AND len(b.s) > 0)
              |SELECT doc_a, doc_b, ROUND(1e-9 + inter / na, 6) AS containment
              |FROM p WHERE inter / na >= 0.9""".stripMargin)),

    // Shingle-novelty score: share of a doc's distinct 3-shingles with
    // corpus df = 1 — the uniqueness/boilerplate signal; Zipf-bounded
    // posting relations, no quadratic stage.
    ("q119_novelty_scores",
      (s: SparkSession, dir: String) =>
        Dedup.noveltyScores(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM toks),
              |ex AS (SELECT doc_id, unnest(s) AS h FROM sh WHERE len(s) > 0),
              |dfr AS (SELECT h, count(*) AS df FROM ex GROUP BY h)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
              |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |         AS n_unique,
              |       ROUND(1e-9 + CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
              |               AS DOUBLE) / count(*), 4) AS novelty
              |FROM ex JOIN dfr USING (h)
              |GROUP BY doc_id""".stripMargin)),

    // Global exact-k sample by smallest key hash — TakeOrderedAndProject
    // (bounded per-partition heaps + k-row driver merge), never a global
    // sort or one-task window.
    ("q120_global_sample",
      (s: SparkSession, dir: String) =>
        Sampling.fixedK(Cohorts.embeddings(s, dir), "vec_id", 100, "gs8")
          .select("vec_id", "label"),
      Some(s"""SELECT vec_id, label FROM (
              |  SELECT vec_id, label,
              |         ${Sampling.hashUnitSql("vec_id", "gs8")} AS u
              |  FROM embeddings ORDER BY u ASC, vec_id ASC LIMIT 100)""".stripMargin)),

    // Token-budget selection: best-quality docs while the inclusive
    // running token total stays within budget — the distributed
    // running-sum primitive vs the oracle's one-task window form.
    ("q121_token_budget",
      (s: SparkSession, dir: String) =>
        Sampling.tokenBudgetSelect(Cohorts.documents(s, dir), 5000),
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.qualitySignalsCte()},
              |q AS (SELECT doc_id, ${TextSql.qualityScoreFromM} AS quality
              |      FROM m),
              |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
              |      FROM toks WHERE len(t) > 0),
              |c AS (SELECT q.doc_id, quality, n_tokens,
              |             sum(n_tokens) OVER (
              |               ORDER BY quality DESC, q.doc_id ASC
              |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |               AS cum_tokens
              |      FROM q JOIN n ON q.doc_id = n.doc_id)
              |SELECT doc_id, quality, n_tokens,
              |       CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM c WHERE cum_tokens <= 5000""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion of the LEXICAL ranking
    // (sparse TF-IDF cosine neighbors, q81's inverted index, both
    // directions, top-10 per query) with the SEMANTIC ranking (embedding
    // cosine top-10, q33) for query docs (id % 50 = 0) — rank-based
    // fusion, no score calibration across systems.
    ("q122_hybrid_rrf",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val e = Cohorts.embeddings(s, dir)
        // queryPred pushes the query restriction INTO the posting join:
        // candidates are O(query postings × df-cut postings), matching the
        // semantic side's query-filtered shape (ADVICE r8) — identical
        // rows to symmetrize-then-filter, pinned by OpsSpec.
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
        val lex = TextAnalysis.sparseCosinePairs(d, 0.1, 50,
            queryPred = Some(col("doc_id") % 50 === 0))
          .select(col("doc_a").as("q_id"), col("doc_b").as("c_id"), col("sim"))
          .withColumn("rank", row_number().over(wl).cast("long"))
          .filter(col("rank") <= 10)
          .select("q_id", "c_id", "rank")
        val sem = Similarity.cosineTopK(e, e.filter(col("vec_id") % 50 === 0), 10)
          .select("q_id", "c_id", "rank")
        Similarity.rrfFuse(Seq(lex, sem), 60, 10)
      },
      Some(s"""WITH ${TextSql.toksCte},
              |tk AS (SELECT doc_id, unnest(t) AS token FROM toks),
              |tfc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
              |        FROM tk GROUP BY doc_id, token),
              |dfc AS (SELECT token, count(*) AS doc_freq FROM tfc
              |        GROUP BY token HAVING count(*) <= 50),
              |w AS (SELECT doc_id, token,
              |             tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
              |                     / doc_freq) AS w
              |      FROM tfc JOIN dfc USING (token)),
              |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
              |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |                sum(a.w * b.w) AS dot
              |         FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
              |         GROUP BY a.doc_id, b.doc_id),
              |sm AS (SELECT doc_a, doc_b, dot / (na.norm * nb.norm) AS sim
              |       FROM dots JOIN nrm na ON doc_a = na.doc_id
              |                 JOIN nrm nb ON doc_b = nb.doc_id
              |       WHERE ROUND(1e-9 + dot / (na.norm * nb.norm), 9) >= 0.1),
              |lex0 AS (SELECT doc_a AS q_id, doc_b AS c_id,
              |                ROUND(1e-9 + sim, 6) AS sim FROM sm
              |         UNION ALL
              |         SELECT doc_b, doc_a, ROUND(1e-9 + sim, 6) FROM sm),
              |lex AS (SELECT q_id, c_id, CAST(row_number() OVER (
              |          PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
              |          AS BIGINT) AS rank
              |        FROM lex0 WHERE q_id % 50 = 0),
              |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |             list_cosine_similarity(q.v, c.v) AS sim
              |      FROM ev q JOIN ev c ON q.vec_id <> c.vec_id
              |      WHERE q.vec_id % 50 = 0),
              |sem AS (SELECT q_id, c_id, CAST(row_number() OVER (
              |          PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC,
              |          c_id ASC) AS BIGINT) AS rank
              |        FROM p),
              |u AS (SELECT q_id, c_id, rank FROM lex WHERE rank <= 10
              |      UNION ALL
              |      SELECT q_id, c_id, rank FROM sem WHERE rank <= 10),
              |f AS (SELECT q_id, c_id, sum(1.0 / (60 + rank)) AS rrf
              |      FROM u GROUP BY q_id, c_id),
              |rr AS (SELECT *, CAST(row_number() OVER (
              |         PARTITION BY q_id ORDER BY round(1e-9 + rrf, 9) DESC,
              |         c_id ASC) AS BIGINT) AS rank
              |       FROM f)
              |SELECT q_id, c_id, ROUND(1e-9 + rrf, 6) AS rrf, rank
              |FROM rr WHERE rank <= 10""".stripMargin)),

    // Incremental-ingest dedup: the src0 "daily drop" against the rest of
    // the corpus as the index — cross-side LSH candidates only, exact
    // Jaccard verify, anti-join survivors. The oracle is the exact
    // all-cross-pairs Jaccard (banding recall covers the threshold, q26's
    // guarantee).
    ("q123_ingest_dedup",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        Dedup.newAgainstIndex(d.filter(col("source") === "src0"),
            d.filter(col("source") =!= "src0"), 0.5)
          .select("doc_id")
      },
      Some(s"""WITH ${TextSql.toksCte},
              |sh AS (SELECT doc_id, source, ${TextSql.shingleHashes("t", 3)} AS s
              |       FROM toks),
              |nw AS (SELECT doc_id, s FROM sh
              |       WHERE source = 'src0' AND len(s) > 0),
              |ix AS (SELECT doc_id, s FROM sh
              |       WHERE source <> 'src0' AND len(s) > 0),
              |m AS (SELECT DISTINCT n.doc_id
              |      FROM nw n JOIN ix i
              |      ON CAST(len(list_intersect(n.s, i.s)) AS DOUBLE) /
              |         (len(n.s) + len(i.s) - len(list_intersect(n.s, i.s)))
              |         >= 0.5)
              |SELECT doc_id FROM documents
              |WHERE source = 'src0'
              |  AND doc_id NOT IN (SELECT doc_id FROM m)""".stripMargin)),

    // Key-skew audit over the join/agg key candidates of the events table:
    // per-key count distribution shape (heaviest key share, p50/p99) — the
    // pre-flight check that decides salting/broadcast/AQE-skew strategy.
    ("q124_key_skew",
      (s: SparkSession, dir: String) =>
        Profile.keySkewReport(Cohorts.events(s, dir),
          Seq("user_id", "event_type")),
      Some(Seq("user_id", "event_type").map(c =>
        s"""SELECT '$c' AS column,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(max(n) AS BIGINT) AS max_count,
           |  ROUND(1e-9 + CAST(max(n) AS DOUBLE) / sum(n), 6) AS max_share,
           |  ROUND(1e-9 + quantile_cont(n, 0.5), 4) AS p50_count,
           |  ROUND(1e-9 + quantile_cont(n, 0.99), 4) AS p99_count
           |FROM (SELECT $c, CAST(count(*) AS BIGINT) AS n
           |      FROM events GROUP BY $c)""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // ANN quality audit: recall@5 of the label-cell IVF ranking (q34)
    // against the exact brute-force top-5 (q33) per query — the number an
    // IVF deployment tunes against; cell-missed queries report recall 0.
    ("q125_ann_recall",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.annRecall(
          Similarity.cosineTopK(e, q, 5),
          Similarity.partitionedTopK(e, q, "label", 5))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
             |px AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |              list_cosine_similarity(q.v, c.v) AS sim
             |       FROM q JOIN e c ON q.vec_id <> c.vec_id),
             |ex AS (SELECT q_id, c_id FROM (
             |         SELECT *, row_number() OVER (
             |           PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC,
             |           c_id) AS rank FROM px) WHERE rank <= 5),
             |pa AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |              list_cosine_similarity(q.v, c.v) AS sim
             |       FROM q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id),
             |ap AS (SELECT q_id, c_id FROM (
             |         SELECT *, row_number() OVER (
             |           PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC,
             |           c_id) AS rank FROM pa) WHERE rank <= 5),
             |h AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_hits
             |      FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.c_id = ap.c_id
             |      GROUP BY ex.q_id),
             |t AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
             |      FROM ex GROUP BY q_id)
             |SELECT t.q_id, t.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
             |       ROUND(1e-9 + CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             |             / t.n_exact, 4) AS recall
             |FROM t LEFT JOIN h ON t.q_id = h.q_id""".stripMargin)),

    // Curation v2 — the full modern pipeline as ONE declarative plan:
    // q67's lexical pass (MinHash dedup keepers ∩ benchmark
    // decontamination ∩ quality floor) → SemDeDup keepers on the
    // embedding modality WITHIN the survivors (q110's exact path; the LSH
    // twin is the gated scale swap) → the best-quality token-budget cut
    // (q121's distributed running sum). Every stage reuses a separately
    // gated operator; the oracle is the conjunction of their oracles.
    ("q126_curate_v2",
      (s: SparkSession, dir: String) =>
        // exactSemantic: the brute-force pair kernel is the ORACLE BASELINE
        // form (recall guaranteed at threshold 0.4, where real near-dups
        // exist); the production default composition — LSH semantic stage —
        // is gated separately by q127 on a planted-clone corpus.
        Curation.curateV2(Cohorts.documents(s, dir),
          Cohorts.embeddings(s, dir), tokenBudget = 4000,
          semanticThreshold = 0.4, exactSemantic = true),
      Some(s"""$dedupClustersCtes,
              |${TextSql.qualitySignalsCte()},
              |sh8 AS (SELECT doc_id, source, ${TextSql.shingleHashes("t", 8)} AS s8
              |        FROM toks),
              |bm AS (SELECT DISTINCT unnest(s8) AS h FROM sh8 WHERE source = 'src0'),
              |contam AS (SELECT DISTINCT doc_id FROM
              |             (SELECT doc_id, unnest(s8) AS h FROM sh8 WHERE source <> 'src0')
              |           JOIN bm USING (h)),
              |-- MATERIALIZED: s1 closes over the whole lexical-curation
              |-- chain (recursive closure + contamination + quality) and is
              |-- referenced from BOTH the induced pair graph and the member
              |-- relation — without the hint DuckDB re-inlines that chain
              |-- per reference (measured 80+ min vs 10 min at sf0.1)
              |s1 AS MATERIALIZED (
              |       SELECT d.doc_id FROM documents d JOIN m USING (doc_id)
              |       WHERE d.source <> 'src0'
              |         AND d.doc_id NOT IN (SELECT doc_id FROM cl
              |                              WHERE doc_id <> cluster_id)
              |         AND d.doc_id NOT IN (SELECT doc_id FROM contam)
              |         AND least(1.0, n / 100) * 0.4 + (stop / n) * 0.3
              |             + ttr * 0.3 >= 0.4),
              |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              |       FROM embeddings JOIN s1 ON vec_id = s1.doc_id),
              |eprs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
              |         FROM ev a JOIN ev b ON a.vec_id < b.vec_id
              |         WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
              |eedges AS (SELECT doc_a AS u, doc_b AS v FROM eprs
              |           UNION ALL SELECT doc_b, doc_a FROM eprs),
              |ereach AS (
              |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM eedges)
              |  UNION
              |  SELECT e2.u, ereach.r FROM eedges e2 JOIN ereach ON e2.v = ereach.u),
              |ecl AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              |        FROM ereach GROUP BY u),
              |qv AS (SELECT doc_id, ${TextSql.qualityScoreFromM} AS quality FROM m),
              |mem AS (SELECT s1.doc_id,
              |               COALESCE(ecl.cluster_id, s1.doc_id) AS cluster_id,
              |               qv.quality
              |        FROM s1 JOIN qv USING (doc_id) LEFT JOIN ecl USING (doc_id)),
              |keepers AS (SELECT doc_id, quality FROM (
              |  SELECT *, row_number() OVER (PARTITION BY cluster_id
              |    ORDER BY quality DESC, doc_id ASC) AS rn FROM mem)
              |  WHERE rn = 1),
              |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
              |       FROM toks WHERE len(t) > 0),
              |cum AS (SELECT k.doc_id, k.quality, nt.n_tokens,
              |               sum(nt.n_tokens) OVER (
              |                 ORDER BY k.quality DESC, k.doc_id ASC
              |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |                 AS cum_tokens
              |        FROM keepers k JOIN nt USING (doc_id))
              |SELECT doc_id, quality, n_tokens,
              |       CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM cum WHERE cum_tokens <= 4000""".stripMargin)),

    // Curation v2 over the LSH semantic path — the PRODUCTION default
    // composition of [[Curation.curateV2]], gated with the q111 planted-
    // clone discipline: every doc_id % 10 == 0 doc gets a clone at
    // id + 1e6 with fresh unique text (100 distinct tokens ⇒ passes the
    // quality floor, shares no shingles with anything ⇒ survives lexical
    // dedup + decontamination) but the ORIGINAL's embedding, and the
    // semantic threshold sits at 0.9 where the real corpus is silent — so
    // the SRP full-signature star finds exactly the deterministic
    // identical-embedding pairs, the recursive-closure oracle hash-matches
    // in FULL, and no plan stage ever enumerates |survivors|² pairs.
    ("q127_curate_v2_lsh",
      (s: SparkSession, dir: String) => {
        // the semantic stage runs over stage-1 survivors' embeddings — the
        // whole-corpus silence check is a strict superset of that set
        requireEmbedSelfSilence(s, dir, "q127")
        val (docs, emb) = plantedCloneCorpus(s, dir)
        Curation.curateV2(docs, emb, tokenBudget = 4000)
      },
      Some(s"""${cloneCurationCtes(modelFloor = None)},
              |cum AS (SELECT k.doc_id, k.quality, nt.n_tokens,
              |               sum(nt.n_tokens) OVER (
              |                 ORDER BY k.quality DESC, k.doc_id ASC
              |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |                 AS cum_tokens
              |        FROM keepers k JOIN nt USING (doc_id))
              |SELECT doc_id, quality, n_tokens,
              |       CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM cum WHERE cum_tokens <= 4000""".stripMargin)),

    // Semantic decontamination (exact baseline): train docs whose embedding
    // is cosine ≥ 0.4 from any benchmark (src0) doc — the paraphrase
    // leakage the lexical q51 Bloom pass can't see. 0.4 is where real
    // near-dups exist (the q126 precedent), so the gate exercises real
    // hits, not just planted ones.
    ("q128_semantic_decon",
      (s: SparkSession, dir: String) => {
        val src = Cohorts.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("source"))
        val e = Cohorts.embeddings(s, dir).join(src, "vec_id")
        Similarity.semanticContaminated(
          e.filter(col("source") =!= "src0"),
          e.filter(col("source") === "src0"), 0.4)
      },
      Some("""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |            FROM embeddings),
             |sj AS (SELECT ev.vec_id, v, source
             |       FROM ev JOIN documents ON ev.vec_id = documents.doc_id),
             |t AS (SELECT vec_id, v FROM sj WHERE source <> 'src0'),
             |b AS (SELECT vec_id, v FROM sj WHERE source = 'src0'),
             |p AS (SELECT t.vec_id AS doc_id,
             |             list_cosine_similarity(t.v, b.v) AS sim
             |      FROM t JOIN b
             |        ON ROUND(1e-9 + list_cosine_similarity(t.v, b.v), 9) >= 0.4)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
             |       ROUND(1e-9 + max(sim), 6) AS max_sim
             |FROM p GROUP BY doc_id""".stripMargin)),

    // The LSH twin as a FULL hash gate (q111 discipline): every 5th
    // benchmark embedding is cloned into the train side at id + 1e6;
    // threshold 0.9 sits where real train×bench similarity is silent, so
    // the only hits are the bit-identical clones — found DETERMINISTICALLY
    // by the full-signature join — and the LSH answer hash-equals the
    // exact cross-pair oracle while the plan never builds train×bench.
    ("q129_semantic_decon_lsh",
      (s: SparkSession, dir: String) => {
        val src = Cohorts.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("source"))
        val e = Cohorts.embeddings(s, dir).join(src, "vec_id")
        val bench = e.filter(col("source") === "src0").drop("source")
        val realTrain = e.filter(col("source") =!= "src0").drop("source")
        // fixture-silence precondition: the SELF check over the whole
        // embeddings table subsumes the train×bench cross check AND the
        // bench×bench pairs a planted clone inherits from its source (a
        // clone of bench doc B sits at sim(B, B') from every other bench
        // doc B' — cross-silence alone would miss that surface); disjoint
        // REAL corpora would use requireCrossSilentAbove instead.
        requireEmbedSelfSilence(s, dir, "q129")
        val train = realTrain
          .unionByName(bench.filter(col("vec_id") % 5 === 0)
            .withColumn("vec_id", col("vec_id") + lit(1000000L)))
        Similarity.semanticContaminatedLsh(train, bench, 0.9)
      },
      Some("""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |            FROM embeddings),
             |sj AS (SELECT ev.vec_id, v, source
             |       FROM ev JOIN documents ON ev.vec_id = documents.doc_id),
             |b AS (SELECT vec_id, v FROM sj WHERE source = 'src0'),
             |t AS (SELECT vec_id, v FROM sj WHERE source <> 'src0'
             |      UNION ALL
             |      SELECT vec_id + 1000000, v FROM b WHERE vec_id % 5 = 0),
             |p AS (SELECT t.vec_id AS doc_id,
             |             list_cosine_similarity(t.v, b.v) AS sim
             |      FROM t JOIN b
             |        ON ROUND(1e-9 + list_cosine_similarity(t.v, b.v), 9) >= 0.9)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
             |       ROUND(1e-9 + max(sim), 6) AS max_sim
             |FROM p GROUP BY doc_id""".stripMargin)),

    // Product-quantization ADC top-k — the memory leg of the ANN story
    // (brute q33 → IVF q34/q44 → PQ): corpus stored as 8 codebook codes,
    // queries score candidates through their precomputed LUTs. Oracle is
    // GENERATED with the learned codebook literals (pqOracle below, the
    // q44 discipline) — full hash gate over encode + LUT + rank.
    ("q130_pq_topk",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.pqTopK(e,
          e.filter(col("vec_id") % Similarity.AnnQueryMod === 0),
          Similarity.AnnK)
      },
      None),

    // Position-sensitive retrieval audit: MRR + NDCG@10 of the label-cell
    // IVF ranking (q34's shape) against the exact cosine top-10 — the
    // quality dashboard an ANN deployment tunes alongside q125's recall.
    ("q131_ranking_metrics",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.rankingMetrics(
          Similarity.cosineTopK(e, q, 10),
          Similarity.partitionedTopK(e, q, "label", 10), 10)
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
             |px AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |              list_cosine_similarity(q.v, c.v) AS sim
             |       FROM q JOIN e c ON q.vec_id <> c.vec_id),
             |ex AS (SELECT q_id, c_id FROM (
             |         SELECT *, row_number() OVER (
             |           PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC,
             |           c_id) AS rank FROM px) WHERE rank <= 10),
             |pa AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |              list_cosine_similarity(q.v, c.v) AS sim
             |       FROM q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id),
             |ap AS (SELECT q_id, c_id, rank FROM (
             |         SELECT *, CAST(row_number() OVER (
             |           PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC,
             |           c_id) AS BIGINT) AS rank FROM pa) WHERE rank <= 10),
             |h AS (SELECT ap.q_id, ap.rank FROM ap JOIN ex USING (q_id, c_id)),
             |pq AS (SELECT q_id, min(rank) AS first,
             |              sum(1.0 / log2(rank + 1)) AS dcg
             |       FROM h GROUP BY q_id),
             |nr AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel
             |       FROM ex GROUP BY q_id),
             |m AS (SELECT nr.q_id, nr.n_rel, pq.first, pq.dcg,
             |             list_sum(list_transform(
             |               range(1, least(nr.n_rel, 10) + 1),
             |               i -> 1.0 / log2(i + 1))) AS idcg
             |      FROM nr LEFT JOIN pq USING (q_id))
             |SELECT q_id, n_rel,
             |       ROUND(1e-9 + COALESCE(1.0 / first, 0), 6) AS mrr,
             |       ROUND(1e-9 + COALESCE(dcg / idcg, 0), 6) AS ndcg
             |FROM m""".stripMargin)),

    // IVF-PQ — the full production ANN index (coarse cells prune the
    // candidate set, PQ codes price each candidate): the FAISS composition
    // of q44's learned cells with q130's codebooks. Oracle is GENERATED
    // with BOTH literal sets (ivfPqOracle below).
    ("q132_ivfpq_topk",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.ivfPqTopK(e,
          e.filter(col("vec_id") % Similarity.AnnQueryMod === 0),
          Similarity.AnnK)
      },
      None),

    // ANN index incremental maintenance — the daily-ingest deployment shape
    // (the q123 discipline for the embedding modality): quantizers are fit
    // ONCE on the pre-ingest base, the drop is encoded against the FROZEN
    // codebooks/centroids and appended (AnnIndex.append — the index side is
    // never re-encoded, the quantizers never refit), and search runs over
    // the union. Oracle is GENERATED with the BASE-side fits replayed as
    // literals over the whole corpus (annIngestOracle) — full hash gate
    // over freeze + encode + append + search.
    ("q133_ann_ingest",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        val idx = Similarity.buildIvfPqIndex(
          e.filter(col("vec_id") % Similarity.AnnIngestMod =!= 0))
        idx.append(e.filter(col("vec_id") % Similarity.AnnIngestMod === 0))
          .search(e.filter(col("vec_id") % Similarity.AnnQueryMod === 0),
            Similarity.AnnK)
      },
      None),

    // PQ recall audit — recall@k of q130's ADC ranking against the exact
    // cosine top-k: the measured number the m/kCents compression trade is
    // tuned against (q125's discipline applied to the PQ leg). Oracle is
    // GENERATED (pqRecallOracle: the q130 chain + exact side + recall).
    ("q134_pq_recall",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        val q = e.filter(col("vec_id") % Similarity.AnnQueryMod === 0)
        Similarity.annRecall(
          Similarity.cosineTopK(e, q, Similarity.AnnK),
          Similarity.pqTopK(e, q, Similarity.AnnK))
      },
      None),

    // IVF-PQ position-sensitive audit — MRR/NDCG@k of q132's ranking
    // against the exact cosine top-k (q131's discipline for the production
    // index): recall can stay flat while PQ distortion reorders the head.
    // Oracle is GENERATED (ivfPqRankingOracle).
    ("q135_ivfpq_ranking",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        val q = e.filter(col("vec_id") % Similarity.AnnQueryMod === 0)
        Similarity.rankingMetrics(
          Similarity.cosineTopK(e, q, Similarity.AnnK),
          Similarity.ivfPqTopK(e, q, Similarity.AnnK), Similarity.AnnK)
      },
      None),

    // IVF-PQ + exact re-ranking — the FAISS refine stage: ADC retrieves
    // refineFactor*k candidates, exact cosine re-scores ONLY those
    // (candidate-keyed join back to the raw vectors, never a scan) — the
    // standard fix for the quantization head-reordering q134/q135 measure.
    // Oracle is GENERATED (ivfPqRefineOracle: the q132 chain's candidates
    // + exact re-rank in SQL).
    ("q136_ivfpq_refine",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.ivfPqRefineTopK(e,
          e.filter(col("vec_id") % Similarity.AnnQueryMod === 0),
          Similarity.AnnK, Similarity.AnnRefine)
      },
      None),

    // Snapshot delta audit — corpus versioning's diff step between two
    // crawls/curation runs: per source, how many docs were added, removed,
    // changed (content fingerprint differs) or unchanged. Snapshots are
    // derived deterministically from the documents table (prev misses the
    // %10 docs and carries modified text for the %7 docs; cur misses the
    // %13 docs), so the gate exercises all four statuses.
    ("q137_corpus_diff",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val prev = d.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v1"))).otherwise(col("text")))
        val cur = d.filter(col("doc_id") % 13 =!= 0)
        Profile.corpusDiff(prev, cur, "doc_id", Seq("text"), "source")
      },
      Some(s"""WITH o AS (SELECT doc_id, source,
        |         md5(COALESCE(CASE WHEN doc_id % 7 = 0 THEN text || ' v1'
        |                           ELSE text END, ${Profile.NullSentinelSql})) AS fp
        |       FROM documents WHERE doc_id % 10 <> 0),
        |c AS (SELECT doc_id, source,
        |        md5(COALESCE(text, ${Profile.NullSentinelSql})) AS fp
        |      FROM documents WHERE doc_id % 13 <> 0),
        |j AS (SELECT COALESCE(c.source, o.source) AS source,
        |             CASE WHEN o.fp IS NULL THEN 'added'
        |                  WHEN c.fp IS NULL THEN 'removed'
        |                  WHEN o.fp <> c.fp THEN 'changed'
        |                  ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id)
        |SELECT source,
        |       CAST(count(*) FILTER (WHERE status = 'added') AS BIGINT) AS n_added,
        |       CAST(count(*) FILTER (WHERE status = 'removed') AS BIGINT) AS n_removed,
        |       CAST(count(*) FILTER (WHERE status = 'changed') AS BIGINT) AS n_changed,
        |       CAST(count(*) FILTER (WHERE status = 'unchanged') AS BIGINT) AS n_unchanged
        |FROM j GROUP BY source""".stripMargin)),

    // Distribution drift (PSI) between two event snapshots — the
    // per-feature monitoring number between corpus versions: equal-width
    // bins learned from the REFERENCE side's range, both sides
    // histogrammed over those fixed bins (out-of-range current values
    // clamp into the edge bins), per-bin add-one-smoothed PSI terms.
    ("q138_dist_drift",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.events(s, dir)
        Profile.distributionDrift(
          e.filter(col("event_id") % 3 =!= 0),
          e.filter(col("event_id") % 3 === 0), "value", 10)
      },
      Some("""WITH s AS (SELECT min(value) AS mn, max(value) AS mx
        |        FROM events WHERE event_id % 3 <> 0 AND value IS NOT NULL),
        |rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - mn) / ((mx - mn) / 10.0)), 0), 9) AS BIGINT) AS bin
        |       FROM events, s WHERE event_id % 3 <> 0 AND value IS NOT NULL),
        |cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - mn) / ((mx - mn) / 10.0)), 0), 9) AS BIGINT) AS bin
        |       FROM events, s WHERE event_id % 3 = 0 AND value IS NOT NULL),
        |sp AS (SELECT unnest(range(10)) AS bin),
        |rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM rb GROUP BY bin),
        |cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM cb GROUP BY bin),
        |j AS (SELECT sp.bin, COALESCE(rc.n_ref, 0) AS n_ref, COALESCE(cc.n_cur, 0) AS n_cur
        |      FROM sp LEFT JOIN rc ON sp.bin = rc.bin LEFT JOIN cc ON sp.bin = cc.bin),
        |t AS (SELECT bin, n_ref, n_cur,
        |             sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc FROM j)
        |SELECT bin,
        |       ROUND(1e-9 + mn + bin * ((mx - mn) / 10.0), 4) AS bin_lo,
        |       ROUND(1e-9 + mn + (bin + 1) * ((mx - mn) / 10.0), 4) AS bin_hi,
        |       n_ref, n_cur,
        |       ROUND(1e-9 + (CAST(n_ref + 1 AS DOUBLE) / (tr + 10)
        |                     - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
        |             * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
        |                  / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))), 6) AS psi_term
        |FROM t, s""".stripMargin)),

    // ANN index drift monitor — the retrain trigger closing the index
    // lifecycle (build q132 → ingest q133 → restore/serve → MONITOR):
    // per-vector PQ quantization error against codebooks FROZEN on the
    // pre-ingest base, aggregated per side; a drop row materially above
    // the base row says the frozen quantizers stopped fitting the incoming
    // distribution. Oracle is GENERATED (indexDriftOracle: the base-side
    // codebook literals, encode-error + per-side stats in SQL).
    ("q139_index_drift",
      (s: SparkSession, dir: String) => {
        val e = Cohorts.embeddings(s, dir)
        Similarity.indexDriftReport(
          e.filter(col("vec_id") % Similarity.AnnIngestMod =!= 0),
          e.filter(col("vec_id") % Similarity.AnnIngestMod === 0))
      },
      None),

    // Model-based quality scoring — the fastText/CCNet-style classifier
    // stage after the heuristic floor (q30): linear model over hashed
    // unigram+bigram features with FROZEN literal weights (the q133
    // frozen-codebook discipline; training happens offline, the engine
    // does deterministic bulk inference). Pure narrow projection — no
    // explode, no shuffle; the oracle replays the same weight literals
    // with a left-fold sum, so only exp() can differ, under two roundings.
    ("q140_model_quality",
      (s: SparkSession, dir: String) =>
        TextAnalysis.modelQuality(Cohorts.documents(s, dir)),
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.modelQualityCtes}
              |SELECT doc_id, n_feats, model_quality,
              |       CAST(model_quality >= ${QualityModel.Threshold} AS BIGINT) AS keep
              |FROM mq""".stripMargin)),

    // Training-data RELEASE capstone — the full release chain as ONE
    // declarative plan (VERDICT r11 #1): q127's planted-clone curation
    // (lexical dedup → decontamination → heuristic floor → MODEL floor
    // q140 → SemDeDup-LSH keepers) → temperature-α lang rebalance (q92) →
    // token-budget cut (q121) → sequence packing (q52) → deterministic
    // pack shuffle (q93) → round-robin shard assignment → per-shard
    // release manifest (pack/doc/token counts + canonical source mix).
    // The oracle is the CONJUNCTION of the stages' oracles over the
    // shared clone CTE prefix (MATERIALIZED s1, the q126 lesson).
    ("q141_release_manifest",
      (s: SparkSession, dir: String) => {
        requireEmbedSelfSilence(s, dir, "q141")
        val (docs, emb) = plantedCloneCorpus(s, dir)
        Curation.releasePipeline(docs, emb, tokenBudget = 4000,
          packBudget = 256, packShards = 2, outShards = 4, alpha = 0.5,
          modelFloor = Some(QualityModel.Threshold))
      },
      Some {
        val packKeySql = (p: String) =>
          s"$p.lang || '/' || CAST($p.shard AS VARCHAR) || '/' || CAST($p.pack_id AS VARCHAR)"
        s"""${cloneCurationCtes(modelFloor = Some(QualityModel.Threshold))},
           |kd AS (SELECT k.doc_id, k.quality, d.lang, d.source
           |       FROM keepers k JOIN dext d USING (doc_id)),
           |tc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM kd GROUP BY lang),
           |trt AS (SELECT lang,
           |               ROUND(1e-9 + pow((SELECT min(n) FROM tc) * 1.0 / n,
           |                                0.5), 6) AS rate
           |        FROM tc),
           |mix AS (SELECT kd.doc_id, kd.quality FROM kd JOIN trt USING (lang)
           |        WHERE ${Sampling.hashUnitSql("kd.doc_id", "relmix")} < trt.rate),
           |cum AS (SELECT mx.doc_id, mx.quality, nt.n_tokens,
           |               sum(nt.n_tokens) OVER (
           |                 ORDER BY mx.quality DESC, mx.doc_id ASC
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |                 AS cum_tokens
           |        FROM mix mx JOIN nt USING (doc_id)),
           |sel AS (SELECT doc_id FROM cum WHERE cum_tokens <= 4000),
           |pb0 AS (SELECT s2.doc_id, d.lang,
           |               CAST(floor(${Sampling.hashUnitSql("s2.doc_id", graft.ops.Packing.ShardSeed)} * 2) AS BIGINT) AS shard,
           |               nt.n_tokens AS tokens
           |        FROM sel s2 JOIN dext d USING (doc_id) JOIN nt USING (doc_id)),
           |pb AS (SELECT *, CAST(row_number() OVER (
           |               PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) AS rn
           |       FROM pb0),
           |prec AS (
           |  SELECT lang, shard, rn, doc_id, tokens, tokens AS acc,
           |         CAST(1 AS BIGINT) AS pack_id
           |  FROM pb WHERE rn = 1
           |  UNION ALL
           |  SELECT b.lang, b.shard, b.rn, b.doc_id, b.tokens,
           |         CASE WHEN r.acc + b.tokens > 256 THEN b.tokens
           |              ELSE r.acc + b.tokens END,
           |         CASE WHEN r.acc + b.tokens > 256 THEN r.pack_id + 1
           |              ELSE r.pack_id END
           |  FROM pb b JOIN prec r
           |    ON b.lang = r.lang AND b.shard = r.shard AND b.rn = r.rn + 1),
           |pk AS (SELECT DISTINCT ${packKeySql("prec")} AS pack_key FROM prec),
           |ord AS (SELECT pack_key, CAST(row_number() OVER (
           |          ORDER BY ${Sampling.hashUnitSql("pack_key", "relshuf")}, pack_key)
           |          AS BIGINT) - 1 AS shuffle_pos
           |        FROM pk),
           |asn AS (SELECT pack_key, shuffle_pos % 4 AS out_shard FROM ord),
           |ds AS (SELECT p2.doc_id, p2.tokens, d.source, a.out_shard
           |       FROM prec p2 JOIN dext d USING (doc_id)
           |       JOIN asn a ON a.pack_key = ${packKeySql("p2")}),
           |sm AS (SELECT out_shard, source, CAST(count(*) AS BIGINT) AS n,
           |              CAST(sum(tokens) AS BIGINT) AS tk
           |       FROM ds GROUP BY out_shard, source),
           |pc AS (SELECT out_shard, CAST(count(*) AS BIGINT) AS n_packs
           |       FROM asn GROUP BY out_shard),
           |mf AS (SELECT out_shard, CAST(sum(n) AS BIGINT) AS n_docs,
           |              CAST(sum(tk) AS BIGINT) AS n_tokens,
           |              string_agg(source || ':' || CAST(n AS VARCHAR),
           |                         ',' ORDER BY source) AS source_mix
           |       FROM sm GROUP BY out_shard)
           |SELECT mf.out_shard, pc.n_packs, mf.n_docs, mf.n_tokens, mf.source_mix
           |FROM mf JOIN pc USING (out_shard)""".stripMargin
      }),

    // Iterative BPE trainer — q101 computes ONE merge iteration; this
    // gates the learned MERGE TABLE after 6 iterations (VERDICT r11 #4).
    // Driver loop over the Zipf-bounded distinct-word relation; each
    // iteration's winning pair is a 1-row collect (learned-literal
    // discipline). The oracle is STATIC layered SQL that picks each
    // iteration's top pair itself and replays the leftmost-greedy merge.
    ("q142_bpe_train",
      (s: SparkSession, dir: String) =>
        TextAnalysis.bpeTrain(Cohorts.documents(s, dir), 6),
      Some(TextSql.bpeTrainSql(6))),

    // BPE segmentation — the CONSUMER of q142's merge table: train the 6
    // merges (driver loop, learned-literal collects), then segment the
    // corpus with them and report per-doc token economics (word count,
    // BPE token count, chars-per-token). Segmentation runs on the
    // Zipf-bounded DISTINCT-WORD relation, never per token. The oracle
    // re-trains in SQL (q142's layer prefix picks each top pair itself)
    // and applies s6 — so the gate pins train+apply end-to-end.
    // Precondition: the corpus supports >= 6 merges (q142's own 6-row
    // gate asserts this per fixture; an early-exhausted corpus would
    // segment with fewer merges than the oracle's fixed 6 layers).
    ("q143_bpe_segment",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val merges = TextAnalysis.bpeTrain(d, 6)
          .orderBy("iter").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // Fail fast on the fixture precondition instead of letting an
        // early-exhausted corpus surface as a confusing empty-vs-nonempty
        // oracle diff: bpeTrain silently returns fewer rows when the
        // corpus runs out of pairs, while the oracle's fixed s6 layer
        // would then be empty (ADVICE r12).
        require(merges.size == 6,
          s"q143 fixture precondition: corpus must support 6 BPE merges, " +
            s"got ${merges.size} — regenerate/rescale the documents fixture")
        TextAnalysis.bpeSegment(d, merges)
      },
      Some(TextSql.bpeSegmentSql(6))),

    // Model-quality SCORE drift — the model-monitoring loop over the q140
    // classifier: PSI (q138's frozen-reference-bin machinery) between the
    // score distributions of two corpus snapshots (q137's derived prev/cur
    // — prev carries modified text for the %7 docs, so the scores really
    // move). A drifting score distribution is the standard retrain/
    // recalibrate trigger for a frozen quality model. Plan = two narrow
    // fused-kernel scoring scans + q138's bins-row folds.
    ("q144_quality_drift",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val prev = d.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v1"))).otherwise(col("text")))
        val cur = d.filter(col("doc_id") % 13 =!= 0)
        Profile.distributionDrift(
          TextAnalysis.modelQuality(prev),
          TextAnalysis.modelQuality(cur), "model_quality", 10)
      },
      Some(s"""WITH toks1 AS (
              |  SELECT doc_id, list_filter(string_split_regex(
              |    CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END,
              |    '\\s+'), x -> x <> '') AS t
              |  FROM documents WHERE doc_id % 10 <> 0),
              |toks2 AS (
              |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
              |    x -> x <> '') AS t
              |  FROM documents WHERE doc_id % 13 <> 0),
              |${TextSql.modelQualityCtesFrom("toks1", "1")},
              |${TextSql.modelQualityCtesFrom("toks2", "2")},
              |s AS (SELECT min(model_quality) AS mn, max(model_quality) AS mx
              |      FROM mq1 WHERE model_quality IS NOT NULL),
              |rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((model_quality - mn) / ((mx - mn) / 10.0)), 0), 9) AS BIGINT) AS bin
              |       FROM mq1, s WHERE model_quality IS NOT NULL),
              |cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((model_quality - mn) / ((mx - mn) / 10.0)), 0), 9) AS BIGINT) AS bin
              |       FROM mq2, s WHERE model_quality IS NOT NULL),
              |sp AS (SELECT unnest(range(10)) AS bin),
              |rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM rb GROUP BY bin),
              |cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM cb GROUP BY bin),
              |j AS (SELECT sp.bin, COALESCE(rc.n_ref, 0) AS n_ref, COALESCE(cc.n_cur, 0) AS n_cur
              |      FROM sp LEFT JOIN rc ON sp.bin = rc.bin LEFT JOIN cc ON sp.bin = cc.bin),
              |t AS (SELECT bin, n_ref, n_cur,
              |             sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc FROM j)
              |SELECT bin,
              |       ROUND(1e-9 + mn + bin * ((mx - mn) / 10.0), 4) AS bin_lo,
              |       ROUND(1e-9 + mn + (bin + 1) * ((mx - mn) / 10.0), 4) AS bin_hi,
              |       n_ref, n_cur,
              |       ROUND(1e-9 + (CAST(n_ref + 1 AS DOUBLE) / (tr + 10)
              |                     - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
              |             * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
              |                  / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))), 6) AS psi_term
              |FROM t, s""".stripMargin)),

    // Weights-as-DATA quality model — the deploy leg of the q144 retrain
    // loop (VERDICT r12 #7): the refreshed classifier arrives as a
    // RELATION (here derived in-engine from a range — deterministic, so
    // the oracle replays the identical doubles), is collected (model-sized
    // bounded collect, the learned-literal discipline) and threaded into
    // the same fused codegen'd kernel. New weights + bias + threshold,
    // zero recompilation. OpsSpec separately pins the frozen-vs-with
    // equivalence on identical weights.
    ("q145_model_quality_v2",
      (s: SparkSession, dir: String) => {
        val wdf = s.range(QualityModel.Dim).select(col("id"),
          ((((col("id") * lit(2246822519L) + lit(3266489917L)) % lit(1000033L))
            .cast("double") / lit(1000033.0)) - lit(0.5)) * lit(1.8))
        val weights = wdf.orderBy("id").collect().map(_.getDouble(1)).toSeq
        TextAnalysis.modelQualityWith(Cohorts.documents(s, dir), weights,
          BiasV2, ThresholdV2)
      },
      Some(s"""WITH ${TextSql.toksCte},
              |${TextSql.modelQualityCtesWith("toks", "", weightsV2, BiasV2)}
              |SELECT doc_id, n_feats, model_quality,
              |       CAST(model_quality >= $ThresholdV2 AS BIGINT) AS keep
              |FROM mq""".stripMargin)),

    // Tokenizer artifact lifecycle (VERDICT r12 #2): train the q142 merge
    // table, persist it as a parquet artifact, RESTORE it, and segment the
    // corpus with the restored merges — the oracle is q143's train+apply
    // chain, so the gate pins that the persisted artifact round-trips
    // bit-exactly into the segmentation path (the AnnIndex
    // restore-from-parquet discipline for the tokenizer).
    ("q146_bpe_artifact",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val merges = TextAnalysis.bpeTrain(d, 6)
        val path = artifactPath("bpe_artifact", dir)
        TextAnalysis.saveBpeMerges(merges, path)
        val pairs = TextAnalysis.mergePairs(TextAnalysis.loadBpeMerges(s, path))
        require(pairs.size == 6,
          s"q146 fixture precondition: corpus must support 6 BPE merges, " +
            s"got ${pairs.size} — regenerate/rescale the documents fixture")
        TextAnalysis.bpeSegment(d, pairs)
      },
      Some(TextSql.bpeSegmentSql(6))),

    // INCREMENTAL (delta) release build — the q141 release re-cut at the
    // reference deployment's incremental grain (VERDICT r12 #1,
    // cloud_function/main.py:34,103-121): prior release assignments +
    // prev/cur corpus snapshots in, retained-rows ∪ newly-curated-packed
    // delta out. The fixture plants semantic clones in the delta (cross
    // clones carrying retained docs' embeddings, within-delta pairs
    // carrying removed docs' embeddings) so both semantic legs
    // demonstrably fire; the real corpus is silent at 0.9 (asserted).
    // Oracle: deltaReleaseOracleSql — the full admission chain replayed
    // with exact kernels over closed-form fixture statuses.
    ("q147_release_delta",
      (s: SparkSession, dir: String) => {
        requireEmbedSelfSilence(s, dir, "q147")
        val (prevDocs, curDocs, curEmb, prevAssign) =
          deltaReleaseFixture(s, dir)
        Curation.deltaReleaseAssignments(prevAssign, prevDocs, curDocs,
          curEmb, deltaTokenBudget = 3000, packBudget = 256, packShards = 2,
          outShards = 4)
      },
      Some(deltaReleaseOracleSql)),

    // The q147 re-cut against the RESTORED dedup-index artifact
    // (VERDICT r12 #1's deployment shape, closed): the prior release's
    // ReleaseDedupIndex (shingle sets + MinHash sigs, double-cast
    // embeddings + norms + SRP sigs) is built over the PRIOR release's
    // docs, shipped to parquet, read back, filtered to the retained ids
    // at delta time — so the re-cut does no per-character / per-vector
    // kernel work on the index side. The oracle is q147's EXACT SQL:
    // the gate pins that the artifact round-trip is bit-neutral.
    ("q148_release_delta_indexed",
      (s: SparkSession, dir: String) => {
        requireEmbedSelfSilence(s, dir, "q148")
        val (prevDocs, curDocs, curEmb, prevAssign) =
          deltaReleaseFixture(s, dir)
        val priorIds = prevAssign.select("doc_id")
        val ix = Curation.buildReleaseIndex(
          prevDocs.join(priorIds, "doc_id"),
          Cohorts.embeddings(s, dir)
            .join(priorIds.select(col("doc_id").as("vec_id")), "vec_id"))
        val path = artifactPath("release_index", dir)
        Io.writeReleaseIndex(ix, path)
        Curation.deltaReleaseAssignments(prevAssign, prevDocs, curDocs,
          curEmb, deltaTokenBudget = 3000, packBudget = 256, packShards = 2,
          outShards = 4, index = Some(Io.readReleaseIndex(s, path)))
      },
      Some(deltaReleaseOracleSql)),

    // Per-document churn statuses — the DELTA FRAME behind q147/q148's
    // incremental re-processing (q137 is the aggregated REPORT; this is
    // the relation downstream incremental operators join against): one
    // row per id seen in either snapshot with added/removed/changed/
    // unchanged, md5 content fingerprints computed map-side.
    ("q149_corpus_delta",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val prev = d.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v1"))).otherwise(col("text")))
        val cur = d.filter(col("doc_id") % 13 =!= 0)
        Profile.corpusDelta(prev, cur, "doc_id", Seq("text"))
      },
      Some(s"""WITH o AS (SELECT doc_id,
        |         md5(COALESCE(CASE WHEN doc_id % 7 = 0 THEN text || ' v1'
        |                           ELSE text END, ${Profile.NullSentinelSql})) AS fp
        |       FROM documents WHERE doc_id % 10 <> 0),
        |c AS (SELECT doc_id,
        |        md5(COALESCE(text, ${Profile.NullSentinelSql})) AS fp
        |      FROM documents WHERE doc_id % 13 <> 0)
        |SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
        |       CASE WHEN o.fp IS NULL THEN 'added'
        |            WHEN c.fp IS NULL THEN 'removed'
        |            WHEN o.fp <> c.fp THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id""".stripMargin)),

    // In-engine quality-model TRAINER (VERDICT r13 #2) — the missing leg
    // of the monitor→train→deploy loop: deterministic fixed-iteration
    // logistic GD over the hashed n-gram feature space, distilling the
    // heuristic quality score into weak labels. Output = the weights
    // relation q145's deploy leg consumes (j 0..dim−1 + bias at j = −1).
    // The oracle replays every iteration's arithmetic as static layered
    // SQL — forward pass via the gram-order fold, gradients as exact
    // quantized-integer sums, 9 dp updates — so the gate pins the
    // LEARNING arithmetic itself, not just an inference pass.
    ("q150_quality_trainer",
      (s: SparkSession, dir: String) =>
        TextAnalysis.trainQualityModel(Cohorts.documents(s, dir)),
      Some(TextSql.trainerSql(0.4, QualityModel.Dim, 4, 4.0))),

    // Per-source corpus report — integer-additive stats only, exactly so
    // the incremental twin below can subtract removals (sketches can't).
    ("q151_source_stats",
      (s: SparkSession, dir: String) =>
        Profile.sourceStats(Cohorts.documents(s, dir)),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
             |    t -> t <> ''))) AS BIGINT) AS n_tokens,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars
             |FROM documents GROUP BY source""".stripMargin)),

    // Delta-aware corpus monitor (VERDICT r13 #8): the per-source report
    // updated INCREMENTALLY from the churn between the q149 fixture
    // snapshots — prior stats + added/changed additions − removed/changed
    // subtractions, fingerprint-classified on (text, source). The oracle
    // is the FULL RESCAN of the current snapshot, so the gate pins
    // incremental == rescan row-for-row; cost economics live in the
    // x_stats_delta / x_stats_rescan probes.
    ("q152_source_stats_delta",
      (s: SparkSession, dir: String) => {
        val d = Cohorts.documents(s, dir)
        val prev = d.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v1"))).otherwise(col("text")))
        val cur = d.filter(col("doc_id") % 13 =!= 0)
        Profile.sourceStatsDelta(Profile.sourceStats(prev), prev, cur)
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
             |    t -> t <> ''))) AS BIGINT) AS n_tokens,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars
             |FROM documents WHERE doc_id % 13 <> 0 GROUP BY source""".stripMargin)),

    // SECOND-generation delta re-cut against the APPENDED dedup index
    // (VERDICT r13 #1 closed end-to-end): gen-1 re-cut → buildReleaseIndex
    // over the gen-0 release → updateReleaseIndex appends the gen-1
    // release's fresh docs (unchanged entries reused via fingerprints,
    // changed/added recomputed delta-sized) → artifact round-trips through
    // parquet → gen-2 re-cut consumes it. Oracle = BOTH admission chains
    // stacked in exact SQL (deltaChainCtes twice), so a hash match pins
    // the whole index lifecycle: the weekly-re-cut story now amortizes
    // across generations instead of exactly one.
    ("q153_release_gen2",
      (s: SparkSession, dir: String) => {
        requireEmbedSelfSilence(s, dir, "q153")
        val (prevDocs, curDocs, curEmb, prevAssign) =
          deltaReleaseFixture(s, dir)
        // d1 (the gen-1 assignment) is consumed by updateReleaseIndex (ids
        // ∪ reuse/fresh joins), the artifact write, AND the gen-2 re-cut
        // (prevHead agg + retained join) — each would re-run its lazy
        // admission tail. A real weekly loop persists the assignment to
        // parquet between generations (the x_delta probes do exactly
        // that); here the in-session equivalent is one staged boundary.
        // Same for the in-memory prior index relations, which the gen-1
        // re-cut's cross legs and updateReleaseIndex both consume and which
        // a deployment restores from parquet anyway (q148).
        // Shared prep across the generation chain (VERDICT r14 #1):
        //  - the gen-1 re-cut runs AGAINST ix0 (bit-identical results —
        //    q147 and q148 pin indexed ≡ non-indexed on this very fixture
        //    through one shared oracle), so the chain never re-hashes the
        //    retained corpus that ix0 already carries;
        //  - the (prevDocs → curDocs) fingerprint status frame is computed
        //    ONCE and shared by the gen-1 chain and updateReleaseIndex
        //    (each used to re-scan both snapshots).
        // ix0's legs and the status frame are INDEPENDENT plans — submit
        // them from driver threads (guide §2.6) so they back-fill each
        // other; the gen-1 re-cut consumes both.
        val priorIds = prevAssign.select("doc_id")
        val ix0raw = Curation.buildReleaseIndex(
          prevDocs.join(priorIds, "doc_id"),
          Cohorts.embeddings(s, dir)
            .join(priorIds.select(col("doc_id").as("vec_id")), "vec_id"))
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import Boundary.executionContext
        val ix0F = Future(graft.ops.ReleaseDedupIndex(
          Boundary.stage(ix0raw.lexical), Boundary.stage(ix0raw.semantic),
          ix0raw.meta))
        val statusF = Future(Boundary.stage(graft.ops.Profile.corpusDelta(
          prevDocs, curDocs, "doc_id", Seq("text"))))
        val ix0 = Await.result(ix0F, Duration.Inf)
        val status01 = Await.result(statusF, Duration.Inf)
        val d1 = Boundary.stage(Curation.deltaReleaseAssignments(prevAssign,
          prevDocs, curDocs, curEmb, deltaTokenBudget = 3000,
          packBudget = 256, packShards = 2, outShards = 4,
          index = Some(ix0), sharedDelta = Some(status01)))
        val ix1 = Curation.updateReleaseIndex(ix0, d1, prevDocs, curDocs,
          curEmb, sharedDelta = Some(status01))
        val path = artifactPath("gen2_index", dir)
        Io.writeReleaseIndex(ix1, path)
        val (cur2Docs, cur2Emb) = gen2DeltaFixture(s, dir, curDocs, curEmb)
        Curation.deltaReleaseAssignments(d1, curDocs, cur2Docs, cur2Emb,
          deltaTokenBudget = 3000, packBudget = 256, packShards = 2,
          outShards = 4, generation = "d2",
          index = Some(Io.readReleaseIndex(s, path)))
      },
      Some(gen2ReleaseOracleSql))
  )

  /** Where the queries that round-trip an artifact through storage (q146,
    * q148, q153) write it: a fresh temporary directory per JVM, deleted at
    * exit, so concurrent Verify and Bench runs over one sf directory never
    * share a path. */
  private lazy val scratchDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-artifacts-").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getPath
  }

  private def artifactPath(kind: String, dir: String): String =
    s"$scratchDir/${kind}_${Integer.toHexString(dir.hashCode)}"

  /** q147/q148 shared fixture: the q137 churn snapshots plus planted
    * delta clones (cross clones carry retained docs' embeddings, within-
    * delta pairs carry removed docs' embeddings) and a simple modular
    * prior-release assignment. Fixture frames are pinned: the operator
    * scans its snapshots ~5 times (fingerprints, floors, decontam
    * benchmark, retained re-attach, fresh source join) and the
    * clone-union construction (an interpreted 100-token transform per
    * clone row) would otherwise re-run per scan — fixture tooling, freed
    * by the harness scope like every gate pin. */
  private def deltaReleaseFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val d0 = Cohorts.documents(s, dir)
    val e0 = Cohorts.embeddings(s, dir)
    val prevDocs = d0.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v1"))).otherwise(col("text")))
    def clones(m: Long, off: Long) = d0.filter(col("doc_id") % 20 === m)
      .withColumn("doc_id", col("doc_id") + lit(off))
      .withColumn("source", lit("clone"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), lit(100)),
          i => concat(lit("dx"), col("doc_id").cast("string"),
            lit("t"), i.cast("string")))))
    def cloneEmb(m: Long, off: Long) = e0.filter(col("vec_id") % 20 === m)
      .withColumn("vec_id", col("vec_id") + lit(off))
    val curDocs = d0.filter(col("doc_id") % 13 =!= 0)
      .unionByName(clones(1L, 1000000L))
      .unionByName(clones(3L, 2000000L))
      .unionByName(clones(3L, 3000000L))
      .transform(Boundary.pin)
    val curEmb = e0
      .unionByName(cloneEmb(1L, 1000000L))
      .unionByName(cloneEmb(3L, 2000000L))
      .unionByName(cloneEmb(3L, 3000000L))
      .transform(Boundary.pin)
    // prior release fixture: every non-benchmark prev doc, packed by a
    // simple modular rule with a deterministic hash-ordered pack shuffle —
    // the operator contract only needs the assignment SCHEMA (the
    // full-chain prior is q141's subject, not these gates')
    val pbase = prevDocs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(4L)).as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tokens"),
        pmod(col("doc_id"), lit(3L)).as("pack_id"), col("source"))
      .filter(col("tokens") > 0)
      .withColumn("pack_key", concat_ws("/", lit("p"), col("lang"),
        col("shard"), col("pack_id")))
    val ppos = Sampling.shuffleOrder(pbase.select("pack_key").distinct(),
        "pack_key", "prevrel")
      .withColumn("out_shard", pmod(col("shuffle_pos"), lit(4L)))
    val prevAssign = pbase.join(ppos, "pack_key")
      .select("doc_id", "lang", "shard", "tokens", "pack_id", "pack_key",
        "source", "shuffle_pos", "out_shard")
      .transform(Boundary.pin)
    (prevDocs, curDocs, curEmb, prevAssign)
  }

  /** q153's SECOND churn on top of [[deltaReleaseFixture]]'s current
    * snapshot: removed % 17 = 2, changed % 11 = 5 (' v3' appended — the
    * rules apply to gen-1 clones too, ids are just longs), plus gen-2
    * planted clones — m=7 @4e6 carrying base embeddings (cross-semantic
    * kill against docs still retained through BOTH generations) and m=9
    * @5e6/@6e6 pairs sharing one vector (within-delta SemDeDup; originals
    * like doc 49 are %7-changed in gen-1 and %11-changed in gen-2, so the
    * pair is never cross-killed and the within leg demonstrably fires).
    * Same pinned-fixture discipline as gen-1. */
  private def gen2DeltaFixture(s: SparkSession, dir: String,
      curDocs: DataFrame, curEmb: DataFrame): (DataFrame, DataFrame) = {
    val d0 = Cohorts.documents(s, dir)
    val e0 = Cohorts.embeddings(s, dir)
    def clones(m: Long, off: Long) = d0.filter(col("doc_id") % 20 === m)
      .withColumn("doc_id", col("doc_id") + lit(off))
      .withColumn("source", lit("clone"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), lit(100)),
          i => concat(lit("dx"), col("doc_id").cast("string"),
            lit("t"), i.cast("string")))))
    def cloneEmb(m: Long, off: Long) = e0.filter(col("vec_id") % 20 === m)
      .withColumn("vec_id", col("vec_id") + lit(off))
    val cur2 = curDocs.filter(col("doc_id") % 17 =!= 2)
      .withColumn("text", when(col("doc_id") % 11 === 5,
        concat(col("text"), lit(" v3"))).otherwise(col("text")))
      .unionByName(clones(7L, 4000000L))
      .unionByName(clones(9L, 5000000L))
      .unionByName(clones(9L, 6000000L))
      .transform(Boundary.pin)
    val emb2 = curEmb
      .unionByName(cloneEmb(7L, 4000000L))
      .unionByName(cloneEmb(9L, 5000000L))
      .unionByName(cloneEmb(9L, 6000000L))
      .transform(Boundary.pin)
    (cur2, emb2)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full CoCoA adjustment under K(3) — scan → clean → encode → kNN →
    * softmax → scatter-add → re-attach, one lazy plan. */
  def entry(spark: SparkSession): DataFrame = {
    val (c, nc) = Cohorts.cohorts(spark, "/root/testdata/sf0.001")
    selectAdjusted(
      CocoaPipeline.run(c, nc, Cohorts.spec, MatchStrategy.K(3),
            broadcastConsent = true).adjusted)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, fn, _) => n -> fn }.toMap

  /** Set by [[Verify]] before dumping [[oracleSql]]: the sf dir the queries
    * just ran against, enabling oracles whose SQL must embed LEARNED model
    * literals (q44's k-means centroids). None ⇒ those queries stay
    * rows-only, exactly the pre-round-5 behavior. */
  @volatile var oracleDataDir: Option[String] = None

  /** q44's full oracle: the k-means fit is deterministic under its fixed
    * seed, so refit on the SAME data the query ran against and splice the
    * learned centroids into relational DuckDB SQL — assignment is the
    * argmin over the centroid literals, probing and ranking replay
    * [[graft.ops.Similarity.ivfTopK]]'s exact expressions (d² and sim are
    * sequential-accumulation dot products on both engines, rounded before
    * every ordering, so the comparison is engine-stable). */
  private def ivfKmeansOracle(dir: String): String = {
    val spark = SparkSession.active
    val cents = Similarity.ivfCentroids(Cohorts.embeddings(spark, dir))
    // Double.toString round-trips the exact IEEE value through DuckDB's
    // literal parser — no precision is lost driver → SQL.
    val rows = cents.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${Similarity.selfDot(v).toString})"
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents(cell, c, c2) AS (VALUES
       |$rows),
       |ad AS (SELECT e.vec_id, e.v, cents.cell,
       |              ROUND(1e-9 + cents.c2 - 2 * list_inner_product(e.v, cents.c), 6) AS d2
       |       FROM e CROSS JOIN cents),
       |assigned AS (SELECT vec_id, v, cell FROM
       |  (SELECT *, row_number() OVER (
       |     PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM ad)
       |  WHERE rn = 1),
       |probes AS (SELECT q_id, v, cell FROM
       |  (SELECT vec_id AS q_id, v, cell,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS pr
       |   FROM ad WHERE vec_id % ${Similarity.AnnQueryMod} = 0)
       |  WHERE pr <= ${Similarity.AnnNProbe}),
       |cand AS (SELECT p.q_id, a.vec_id AS c_id,
       |                list_cosine_similarity(p.v, a.v) AS sim
       |         FROM probes p JOIN assigned a USING (cell)
       |         WHERE a.vec_id <> p.q_id),
       |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |        PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC, c_id) AS BIGINT) AS rank
       |      FROM cand)
       |SELECT q_id, c_id, rank, ROUND(1e-9 + sim, 6) AS sim
       |FROM r WHERE rank <= ${Similarity.AnnK}""".stripMargin
  }

  /** DuckDB-equivalent SQL per query (omitted ⇒ rows-only check). Queries
    * whose oracle embeds learned literals appear only when
    * [[oracleDataDir]] is set. */
  /** q94's oracle: the pivoted column set is data-dependent (Spark's pivot
    * discovers the distinct event types); replay the discovery on the same
    * dir and emit one conditional count per type under the type's own
    * name — the exact wide schema the pivot produced. */
  private def eventsPivotOracle(dir: String): String = {
    val types = Cohorts.events(SparkSession.active, dir)
      .select("event_type").where(col("event_type").isNotNull).distinct()
      .collect().map(_.getString(0)).sorted
    val cols = types.map { t =>
      val q = t.replace("'", "''")       // string-literal escaping
      val id = t.replace("\"", "\"\"")   // quoted-identifier escaping
      s"""CAST(count(*) FILTER (WHERE event_type = '$q') AS BIGINT) AS "$id""""
    }.mkString(",\n       ")
    s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       |       $cols
       |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin
  }

  /** The PQ encode→LUT→rank CTE chain shared by the q130 and q134 oracles:
    * learned codebooks as literals, encode (rounded-d² + cell tie-break per
    * subspace), per-query LUT scoring, ranked relation `r` (unfiltered —
    * consumers cut at their k). Defines `e` (the vector relation) for
    * downstream exact-ranking CTEs to reuse. */
  private def pqRankCtes(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val d = books(0)(0).length
    val rows = (for { mi <- books.indices; c <- books(mi).indices } yield
      s"($mi, $c, [${books(mi)(c).map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${Similarity.selfDot(books(mi)(c)).toString})").mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents(m, cell, c, c2) AS (VALUES
       |$rows),
       |ms AS (SELECT unnest(range($m)) AS m),
       |sub AS (SELECT vec_id, m, list_slice(v, m * $d + 1, m * $d + $d) AS sv
       |        FROM e CROSS JOIN ms),
       |ad AS (SELECT vec_id, sub.m, cell,
       |              ROUND(1e-9 + c2 - 2 * list_inner_product(sv, c), 6) AS d2
       |       FROM sub JOIN cents ON sub.m = cents.m),
       |code AS (SELECT vec_id, m, cell FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id, m ORDER BY d2 ASC, cell ASC) AS rn
       |  FROM ad) WHERE rn = 1),
       |qs AS (SELECT vec_id AS q_id, m, sv
       |       FROM sub WHERE vec_id % ${Similarity.AnnQueryMod} = 0),
       |sc AS (SELECT qs.q_id, code.vec_id AS c_id,
       |              sum(list_inner_product(qs.sv, cents.c)) AS score
       |       FROM qs JOIN code ON qs.m = code.m
       |       JOIN cents ON cents.m = code.m AND cents.cell = code.cell
       |       WHERE code.vec_id <> qs.q_id
       |       GROUP BY qs.q_id, code.vec_id),
       |r AS (SELECT q_id, c_id, score, CAST(row_number() OVER (
       |        PARTITION BY q_id ORDER BY round(1e-9 + score, 9) DESC, c_id)
       |        AS BIGINT) AS rank
       |      FROM sc)""".stripMargin
  }

  /** Exact cosine top-[[Similarity.AnnK]] CTEs over the `e` relation a rank
    * chain already defined — the recall/ranking oracles' ground truth
    * (mirrors q125/q131's exact side). */
  private def exactRankCtes: String =
    s"""px AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |              list_cosine_similarity(q.v, c.v) AS sim
       |       FROM e q JOIN e c
       |       ON q.vec_id % ${Similarity.AnnQueryMod} = 0 AND q.vec_id <> c.vec_id),
       |ex AS (SELECT q_id, c_id FROM (
       |         SELECT *, row_number() OVER (
       |           PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC,
       |           c_id) AS rank FROM px) WHERE rank <= ${Similarity.AnnK})""".stripMargin

  /** q130's oracle: replay the deterministic per-subspace codebook fit on
    * the same dir and rank entirely in DuckDB ([[pqRankCtes]] — the
    * [[ivfKmeansOracle]] discipline for the PQ arithmetic). */
  private def pqOracle(dir: String): String = {
    val books = Similarity.pqCodebooks(
      Cohorts.embeddings(SparkSession.active, dir))
    s"""WITH ${pqRankCtes(books)}
       |SELECT q_id, c_id, rank, ROUND(1e-9 + score, 6) AS score
       |FROM r WHERE rank <= ${Similarity.AnnK}""".stripMargin
  }

  /** q134's oracle: recall@k of the PQ ADC ranking ([[pqRankCtes]], same
    * refit literals as q130) against the exact cosine top-k
    * ([[exactRankCtes]]), aggregated exactly like q125's recall audit. */
  private def pqRecallOracle(dir: String): String = {
    val books = Similarity.pqCodebooks(
      Cohorts.embeddings(SparkSession.active, dir))
    s"""WITH ${pqRankCtes(books)},
       |ap AS (SELECT q_id, c_id FROM r WHERE rank <= ${Similarity.AnnK}),
       |$exactRankCtes,
       |h AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_hits
       |      FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.c_id = ap.c_id
       |      GROUP BY ex.q_id),
       |t AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
       |      FROM ex GROUP BY q_id)
       |SELECT t.q_id, t.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
       |       ROUND(1e-9 + CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       |             / t.n_exact, 4) AS recall
       |FROM t LEFT JOIN h ON t.q_id = h.q_id""".stripMargin
  }

  /** The IVF-PQ CTE chain shared by the q132/q133/q135 oracles: BOTH
    * learned literal sets embedded — IVF cell assignment + nProbe probe
    * selection from [[ivfKmeansOracle]], PQ encode + LUT scoring from
    * [[pqRankCtes]], composed exactly like the engine plan; ends in the
    * ranked relation `r` (unfiltered) and defines `e` for exact-ranking
    * consumers. The quantizer fits are the CALLER's — q132/q135 fit on the
    * full corpus, q133 on the pre-ingest base only (frozen-quantizer
    * replay). */
  private def ivfPqRankCtes(cents: Array[Array[Double]],
                            books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val d = books(0)(0).length
    val centRows = cents.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${Similarity.selfDot(v).toString})"
    }.mkString(",\n")
    val pqRows = (for { mi <- books.indices; c <- books(mi).indices } yield
      s"($mi, $c, [${books(mi)(c).map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${Similarity.selfDot(books(mi)(c)).toString})").mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents(cell, c, c2) AS (VALUES
       |$centRows),
       |pcents(m, pcell, pc, pc2) AS (VALUES
       |$pqRows),
       |ad AS (SELECT e.vec_id, e.v, cents.cell,
       |              ROUND(1e-9 + cents.c2 - 2 * list_inner_product(e.v, cents.c), 6) AS d2
       |       FROM e CROSS JOIN cents),
       |acell AS (SELECT vec_id, cell FROM
       |  (SELECT *, row_number() OVER (
       |     PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM ad)
       |  WHERE rn = 1),
       |ms AS (SELECT unnest(range($m)) AS m),
       |sub AS (SELECT vec_id, m, list_slice(v, m * $d + 1, m * $d + $d) AS sv
       |        FROM e CROSS JOIN ms),
       |pad AS (SELECT vec_id, sub.m, pcell,
       |               ROUND(1e-9 + pc2 - 2 * list_inner_product(sv, pc), 6) AS d2
       |        FROM sub JOIN pcents ON sub.m = pcents.m),
       |code AS (SELECT vec_id, m, pcell FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id, m ORDER BY d2 ASC, pcell ASC) AS rn
       |  FROM pad) WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, cell FROM
       |  (SELECT vec_id, cell, row_number() OVER (
       |     PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS pr
       |   FROM ad WHERE vec_id % ${Similarity.AnnQueryMod} = 0)
       |  WHERE pr <= ${Similarity.AnnNProbe}),
       |qs AS (SELECT vec_id AS q_id, m, sv
       |       FROM sub WHERE vec_id % ${Similarity.AnnQueryMod} = 0),
       |cand AS (SELECT p.q_id, a.vec_id AS c_id
       |         FROM probes p JOIN acell a USING (cell)
       |         WHERE a.vec_id <> p.q_id),
       |sc AS (SELECT cand.q_id, cand.c_id,
       |              sum(list_inner_product(qs.sv, pcents.pc)) AS score
       |       FROM cand
       |       JOIN qs ON qs.q_id = cand.q_id
       |       JOIN code ON code.vec_id = cand.c_id AND code.m = qs.m
       |       JOIN pcents ON pcents.m = code.m AND pcents.pcell = code.pcell
       |       GROUP BY cand.q_id, cand.c_id),
       |r AS (SELECT q_id, c_id, score, CAST(row_number() OVER (
       |        PARTITION BY q_id ORDER BY round(1e-9 + score, 9) DESC, c_id)
       |        AS BIGINT) AS rank
       |      FROM sc)""".stripMargin
  }

  /** q132's oracle: both quantizer fits replayed on the full corpus. */
  private def ivfPqOracle(dir: String): String = {
    val e = Cohorts.embeddings(SparkSession.active, dir)
    s"""WITH ${ivfPqRankCtes(Similarity.ivfCentroids(e), Similarity.pqCodebooks(e))}
       |SELECT q_id, c_id, rank, ROUND(1e-9 + score, 6) AS score
       |FROM r WHERE rank <= ${Similarity.AnnK}""".stripMargin
  }

  /** q133's oracle — the frozen-quantizer ingest replay: both fits run on
    * the PRE-INGEST base side only (`vec_id % AnnIngestMod != 0`, exactly
    * the relation the engine's [[graft.ops.Similarity.buildIvfPqIndex]]
    * saw), and the SQL then encodes and searches the WHOLE corpus against
    * those frozen literals — base ∪ drop, the engine's appended index. The
    * CTE body is [[ivfPqRankCtes]] verbatim; only the literals move. */
  private def annIngestOracle(dir: String): String = {
    val base = Cohorts.embeddings(SparkSession.active, dir)
      .filter(col("vec_id") % Similarity.AnnIngestMod =!= 0)
    s"""WITH ${ivfPqRankCtes(Similarity.ivfCentroids(base),
                             Similarity.pqCodebooks(base))}
       |SELECT q_id, c_id, rank, ROUND(1e-9 + score, 6) AS score
       |FROM r WHERE rank <= ${Similarity.AnnK}""".stripMargin
  }

  /** q136's oracle: the q132 chain truncated at AnnRefine·AnnK candidates,
    * then the exact cosine re-rank — the refine stage replayed in SQL over
    * the same full-corpus refit literals. */
  private def ivfPqRefineOracle(dir: String): String = {
    val e = Cohorts.embeddings(SparkSession.active, dir)
    s"""WITH ${ivfPqRankCtes(Similarity.ivfCentroids(e), Similarity.pqCodebooks(e))},
       |cnd AS (SELECT q_id, c_id FROM r
       |        WHERE rank <= ${Similarity.AnnK * Similarity.AnnRefine}),
       |rr AS (SELECT cnd.q_id, cnd.c_id,
       |              list_cosine_similarity(qe.v, ce.v) AS sim
       |       FROM cnd JOIN e qe ON qe.vec_id = cnd.q_id
       |       JOIN e ce ON ce.vec_id = cnd.c_id),
       |rf AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |         PARTITION BY q_id ORDER BY round(1e-9 + sim, 9) DESC, c_id)
       |         AS BIGINT) AS rank FROM rr)
       |SELECT q_id, c_id, rank, ROUND(1e-9 + sim, 6) AS sim
       |FROM rf WHERE rank <= ${Similarity.AnnK}""".stripMargin
  }

  /** q139's oracle: the BASE-side codebook fit replayed as literals, the
    * per-vector quantization error (per-subspace rounded d² incl. the
    * ‖sub‖² term, min per subspace, 6 dp-rounded sum) and the per-side
    * stats — the [[Similarity.indexDriftReport]] arithmetic in SQL. */
  private def indexDriftOracle(dir: String): String = {
    val e = Cohorts.embeddings(SparkSession.active, dir)
    val books = Similarity.pqCodebooks(
      e.filter(col("vec_id") % Similarity.AnnIngestMod =!= 0))
    val m = books.length
    val d = books(0)(0).length
    val rows = (for { mi <- books.indices; c <- books(mi).indices } yield
      s"($mi, [${books(mi)(c).map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${Similarity.selfDot(books(mi)(c)).toString})").mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents(m, c, c2) AS (VALUES
       |$rows),
       |ms AS (SELECT unnest(range($m)) AS m),
       |sub AS (SELECT vec_id, m, list_slice(v, m * $d + 1, m * $d + $d) AS sv
       |        FROM e CROSS JOIN ms),
       |ad AS (SELECT vec_id, sub.m,
       |              ROUND(1e-9 + list_inner_product(sv, sv) + c2
       |                    - 2 * list_inner_product(sv, c), 6) AS d2
       |       FROM sub JOIN cents ON sub.m = cents.m),
       |mn AS (SELECT vec_id, m, min(d2) AS md FROM ad GROUP BY vec_id, m),
       |er AS (SELECT vec_id, ROUND(1e-9 + sum(md), 6) AS err2
       |       FROM mn GROUP BY vec_id),
       |vn AS (SELECT vec_id, list_inner_product(v, v) AS n2 FROM e)
       |SELECT CASE WHEN er.vec_id % ${Similarity.AnnIngestMod} = 0
       |            THEN 'drop' ELSE 'base' END AS side,
       |       CAST(count(*) AS BIGINT) AS n,
       |       ROUND(1e-9 + avg(err2), 6) AS mean_err2,
       |       ROUND(1e-9 + quantile_cont(err2, 0.95), 6) AS p95_err2,
       |       ROUND(1e-9 + avg(err2 / n2), 6) AS mean_rel_err2
       |FROM er JOIN vn USING (vec_id) GROUP BY 1""".stripMargin
  }

  /** q135's oracle: MRR/NDCG@k of the IVF-PQ ranking ([[ivfPqRankCtes]],
    * same full-corpus refit literals as q132) against the exact cosine
    * top-k — the q131 aggregation over the generated approximate side. */
  private def ivfPqRankingOracle(dir: String): String = {
    val e = Cohorts.embeddings(SparkSession.active, dir)
    s"""WITH ${ivfPqRankCtes(Similarity.ivfCentroids(e), Similarity.pqCodebooks(e))},
       |ap AS (SELECT q_id, c_id, rank FROM r WHERE rank <= ${Similarity.AnnK}),
       |$exactRankCtes,
       |h AS (SELECT ap.q_id, ap.rank FROM ap JOIN ex USING (q_id, c_id)),
       |pq AS (SELECT q_id, min(rank) AS first,
       |              sum(1.0 / log2(rank + 1)) AS dcg
       |       FROM h GROUP BY q_id),
       |nr AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel
       |       FROM ex GROUP BY q_id),
       |mm AS (SELECT nr.q_id, nr.n_rel, pq.first, pq.dcg,
       |              list_sum(list_transform(
       |                range(1, least(nr.n_rel, ${Similarity.AnnK}) + 1),
       |                i -> 1.0 / log2(i + 1))) AS idcg
       |       FROM nr LEFT JOIN pq USING (q_id))
       |SELECT q_id, n_rel,
       |       ROUND(1e-9 + COALESCE(1.0 / first, 0), 6) AS mrr,
       |       ROUND(1e-9 + COALESCE(dcg / idcg, 0), 6) AS ndcg
       |FROM mm""".stripMargin
  }

  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap ++
      oracleDataDir.map(dir => "q44_sim_ivf_kmeans" -> ivfKmeansOracle(dir)) ++
      oracleDataDir.map(dir => "q94_events_pivot" -> eventsPivotOracle(dir)) ++
      oracleDataDir.map(dir => "q130_pq_topk" -> pqOracle(dir)) ++
      oracleDataDir.map(dir => "q132_ivfpq_topk" -> ivfPqOracle(dir)) ++
      oracleDataDir.map(dir => "q133_ann_ingest" -> annIngestOracle(dir)) ++
      oracleDataDir.map(dir => "q134_pq_recall" -> pqRecallOracle(dir)) ++
      oracleDataDir.map(dir => "q135_ivfpq_ranking" -> ivfPqRankingOracle(dir)) ++
      oracleDataDir.map(dir => "q136_ivfpq_refine" -> ivfPqRefineOracle(dir)) ++
      oracleDataDir.map(dir => "q139_index_drift" -> indexDriftOracle(dir))
}
