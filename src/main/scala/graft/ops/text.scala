package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** Text-analysis operators for the large-scale training-data pipeline:
  * tokenization, language-ID heuristic, quality scoring, token counting and
  * document fingerprinting. Everything is built from codegen-friendly
  * built-in functions / higher-order functions — no UDFs — and every
  * formula has a DuckDB twin in [[TextSql]] (kept adjacent so the two stay
  * in sync; the driver's oracle hashes both sides).
  *
  * Deterministic cross-engine hash: 31-base polynomial over code points,
  * mod P = 1e9+7 (fits BIGINT intermediate products in both engines).
  */
object TextAnalysis {
  val P = 1000000007L

  /** Language marker stopword lists (language-ID heuristic). Keys sorted
    * alphabetically — the tie-break order of [[langId]]. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "los", "las", "y", "que", "una", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"))

  /** Whitespace tokens with empties removed. */
  /** Whitespace tokens, empties dropped — ONE codegen'd kernel call
    * ([[graft.expr.TokensOf]]); formerly `filter(split(text, "\\s+"), t =>
    * t =!= "")`, whose ArrayFilter lambda is interpreted per token per
    * document in every text query (ExprSpec pins bit-equality to that
    * composition). */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.TokensOf(
        org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** Polynomial rolling hash of a string: fold (acc*31 + codepoint) % P.
    * Codegen'd kernel ([[graft.expr.PolyHash]]); the equivalent built-in
    * composition `aggregate(split(s,''), …)` evaluates an interpreted HOF
    * per character and was the dominant cost of every text query. */
  def polyHash(s: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.PolyHash(org.apache.spark.sql.graftbridge.Bridge.expression(s)))

  /** k-token shingle strings (space-joined); empty array when the document
    * is shorter than k tokens (guards Spark's descending `sequence`).
    * Kept for API completeness; the hashing path fuses this via
    * [[graft.expr.TokenShingleHashes]]. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle hashes — the document's shingle set for MinHash /
    * Jaccard — as one fused codegen'd kernel (tokenize stays a built-in;
    * windowing + hashing + distinct run in a single JVM loop). */
  def shingleHashes(text: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.TokenShingleHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(tokens(text)), k))

  /** Marker-hit count for one language — fused ([[graft.expr.MarkerHits]];
    * formerly `size(filter(toks, t => array_contains(markers, t)))`, an
    * interpreted lambda per token per document inside every quality score
    * and language-ID pass; ExprSpec pins equality to that composition). */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.MarkerHits(
        org.apache.spark.sql.graftbridge.Bridge.expression(toks), markers))

  /** Predicted language: argmax of marker hits, alphabetical tie-break. */
  def langId(toks: Column): (Column, Column) = {
    val scores = Markers.map { case (l, ms) => l -> markerHits(toks, ms) }
    val best = greatest(scores.map(_._2): _*)
    val pred = scores.init.foldRight(lit(Markers.last._1)) {
      case ((l, s), els) => when(s === best, lit(l)).otherwise(els)
    }
    (pred, best)
  }

  /** Intra-document repetition stats — the Gopher-style quality signal:
    * total bigram occurrences, the most frequent bigram's count, and their
    * ratio (a templated/looping document scores high). Grams are hashed to
    * longs BEFORE the per-(doc, gram) aggregation so the shuffle carries
    * fixed-width keys, not gram strings; docs shorter than 2 tokens have no
    * bigrams and drop out (same as the SQL twin's `unnest` of an empty
    * list). Both aggregations partial map-side; the second's keys are
    * exactly the docs. */
  def repetition(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val grams = shingles(tokens(col("text")), 2)
    docs.select(col("doc_id"), explode(grams).as("g"))
      .groupBy(col("doc_id"), polyHash(col("g")).as("hv"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_2grams"), max("cnt").as("max_2gram_count"))
      .select(col("doc_id"), col("n_2grams"), col("max_2gram_count"),
        graft.Num.rnd(col("max_2gram_count").cast("double") / col("n_2grams"), 4)
          .as("repetition_ratio"))
  }

  /** Composite document quality score (unrounded): length saturation 0.4 +
    * en-stopword ratio 0.3 + type-token ratio 0.3. THE single definition —
    * q30 (per-doc scoring) and q49 (per-lang top-k selection) both build on
    * it; its SQL twin is [[TextSql.qualityScoreFromM]]. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val stop = markerHits(toks, Markers.toMap.apply("en")).cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / n
    least(lit(1.0), n / 100) * 0.4 + (stop / n) * 0.3 + ttr * 0.3
  }

  /** Corpus-wide most-frequent k-grams per language — the boilerplate /
    * template detector (frequent n-grams across many documents are removal
    * candidates). Plan: explode → hash-aggregate on (lang, gram) with
    * map-side partial counts, then a per-lang window top-k —
    * `WindowGroupLimit` prunes each partition to `topK` rows per language
    * before the final exchange, so the sort never sees the whole vocabulary.
    * Gram strings stay the aggregation key (they ARE the answer); the
    * shuffle carries one row per distinct (lang, gram), bounded by the
    * vocabulary — not the corpus. */
  def topNgrams(docs: org.apache.spark.sql.DataFrame, k: Int = 2,
                topK: Int = 20): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("n_occurrences").desc, col("gram").asc)
    docs.select(col("lang"), explode(shingles(tokens(col("text")), k)).as("gram"))
      .groupBy("lang", "gram")
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Vocabulary with document frequency: one row per distinct token with
    * the number of documents containing it and total occurrences. Two-level
    * aggregation — (doc, token) partial counts first, then token totals —
    * so BOTH shuffles carry pre-aggregated rows (a direct
    * `countDistinct(doc_id)` would shuffle every token occurrence). The
    * (doc, token) relation is also exactly the term-frequency input
    * [[tfIdf]] reuses. */
  def vocabulary(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"), sum("tf").as("n_occurrences"))

  /** Top-`topK` TF-IDF terms per document: tf(doc, token) · ln(N / df).
    * The document-frequency relation is vocabulary-sized (usually
    * broadcast-able; Catalyst/AQE decides — at web scale it degrades to a
    * shuffle equi-join on token). N is the corpus document count, collected
    * as a scalar. Ordering is deterministic across engines: score rounded
    * to 9 dp, token tie-break. */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, topK: Int = 3): org.apache.spark.sql.DataFrame = {
    val n = docs.count()
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(graft.Num.rnd(col("tf_idf"), 9).desc, col("token").asc)
    tf.join(df, "token")
      .withColumn("tf_idf", col("tf") * log(lit(n.toDouble) / col("doc_freq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("token"), col("tf"),
        col("doc_freq"), graft.Num.rnd(col("tf_idf"), 6).as("tf_idf"), col("rank"))
  }

  /** All-pairs TF-IDF cosine similarity ≥ `minSim` via an INVERTED-INDEX
    * join — the sparse-vector sibling of the embedding near-dup pass
    * ([[graft.ops.Similarity.nearDupPairs]]), and the classic corpus-scale
    * construction: pairs are generated per shared TOKEN (self-join of the
    * posting list on the term), so the shuffle is keyed by token and two
    * documents meet IFF they share vocabulary — never the all-pairs cross
    * join.
    *
    * `maxDocFreq` df-cuts the vocabulary first (posting lists longer than
    * this are dropped): each surviving token contributes ≤ df² candidate
    * pairs, bounding the join quadratically in the CUT, not the corpus —
    * the standard stop-word economics (a token in half the corpus costs
    * O(N²/4) pairs and carries ~zero idf weight). The df-cut is part of the
    * operator's SEMANTICS (weights, norms and sims are all over the pruned
    * vocabulary), so results stay exact vs the oracle, which prunes
    * identically. Similarity is cosine over tf·ln(N/df) weights.
    *
    * `queryPred` (a predicate over `doc_id`) restricts the LEFT side of the
    * posting self-join to a query subset: output rows are then the ORDERED
    * (doc_a = query, doc_b = any other doc) pairs — exactly the
    * symmetrized-then-filtered relation of the default form, but the
    * candidate volume is O(query postings × df-cut posting length) instead
    * of corpus², so a retrieval pass over a small query set never mines
    * pairs it will discard (ADVICE r8: q122 computed full-corpus pairs and
    * kept 2%). Weights/norms/df are still corpus-wide — scores identical. */
  def sparseCosinePairs(docs: org.apache.spark.sql.DataFrame, minSim: Double,
                        maxDocFreq: Long = 1000,
                        queryPred: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.DataFrame = {
    val n = docs.count()
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= maxDocFreq)
    // Three consumers (norms + both join sides) would each re-tokenize the
    // corpus — pin the weighted postings once (the q69 precedent; at
    // warehouse scale this is the materialize-the-index step).
    val w = tf.join(df, "token")
      .select(col("doc_id"), col("token"),
        (col("tf") * log(lit(n.toDouble) / col("doc_freq"))).as("w"))
      .transform(Boundary.pin)
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    // Query form: filter the cached postings BEFORE the token join (the
    // pruned side drives candidate volume) and emit ordered pairs — the
    // a<b dedup only applies to the symmetric form.
    val left = queryPred.fold(w)(p => w.filter(p))
    val contrib = left.select(col("token"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(w.select(col("token"), col("doc_id").as("doc_b"), col("w").as("wb")),
        "token")
      .filter(if (queryPred.isDefined) col("doc_a") =!= col("doc_b")
              else col("doc_a") < col("doc_b"))
    contrib.groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("norm", "norm_a"), "doc_a")
      .join(norms.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("norm", "norm_b"), "doc_b")
      .withColumn("sim", col("dot") / (col("norm_a") * col("norm_b")))
      .filter(graft.Num.rnd(col("sim"), 9) >= minSim)
      .select(col("doc_a"), col("doc_b"), graft.Num.rnd(col("sim"), 6).as("sim"))
  }

  /** Per-source corpus composition report — the curation dashboard row a
    * data team reads before deciding rates/budgets per source: document and
    * token volume, mean quality, language spread, short-doc share. ONE
    * partial-aggregated shuffle on source; every signal is a scan-local
    * expression, so the whole report is one pass over the corpus. */
  def corpusReport(docs: org.apache.spark.sql.DataFrame,
                   shortDocTokens: Int = 20): org.apache.spark.sql.DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    docs.select(col("source"), col("lang"), n.as("n"),
        qualityScore(col("text")).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        graft.Num.rnd(avg("q"), 4).as("mean_quality"),
        countDistinct("lang").as("n_langs"),
        graft.Num.rnd(
          sum(when(col("n") < shortDocTokens, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 4).as("short_doc_frac"))
  }

  /** BM25 postings: for every vocabulary term with doc_freq ≥ `minDf`, the
    * `topK` highest-BM25 documents (Lucene-flavor idf, k1 = 1.2, b = 0.75) —
    * the precomputed-postings shape of a corpus search index, and the
    * lexical-retrieval scorer of a RAG data pipeline. avgdl is computed
    * from EXACT integer token counts (sum of longs ÷ count), so the
    * normalization constant is engine-identical. Plan: tf hash-agg →
    * df-filtered vocabulary join → per-term `WindowGroupLimit` top-k, all
    * shuffles keyed by (doc, token) or token, partial-aggregated. */
  def bm25TopDocs(docs: org.apache.spark.sql.DataFrame, minDf: Long = 5,
                  topK: Int = 10): org.apache.spark.sql.DataFrame = {
    val lens = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    val Seq(sumDl, nDocs) = lens.agg(sum("dl"), count(lit(1)))
      .head().toSeq.map(_.asInstanceOf[Long])
    val avgdl = sumDl.toDouble / nDocs
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDf)
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("doc_freq") + 0.5) / (col("doc_freq") + 0.5))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token")
      .orderBy(graft.Num.rnd(col("score"), 9).desc, col("doc_id").asc)
    // k1 = 1.2, b = 0.75: every inexact constant appears as the SAME
    // decimal literal the oracle SQL uses (2.2 = k1+1 precomputed, 0.25 =
    // 1−b) — a k1+1 evaluated in Scala could round to a different double
    // than the SQL parser's 2.2.
    tf.join(dfr, "token").join(lens, "doc_id")
      .withColumn("score", idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("token"), col("doc_id"), col("tf"), col("doc_freq"),
        graft.Num.rnd(col("score"), 6).as("score"), col("rank"))
  }

  /** Per-language token-count statistics — the planning input a packing /
    * token-budget step keys on (corpus composition, typical document
    * length, tail length). Exact interpolated percentiles via the
    * sort-based `percentile` aggregate (same interpolation as DuckDB's
    * quantile_cont, the q16-proven pairing); one partial-aggregated
    * shuffle on lang. */
  def tokenStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        graft.Num.rnd(percentile(col("n"), lit(0.5)), 4).as("median_tokens"),
        graft.Num.rnd(percentile(col("n"), lit(0.9)), 4).as("p90_tokens"))

  /** PII patterns shared with the DuckDB oracle: both Java's regex and
    * DuckDB's RE2 read these identically (character classes, {m,}
    * repetition, ASCII \b word boundary — no lookaround, no engine-specific
    * syntax). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing — the mask-before-training pass every LLM data pipeline
    * runs: emails → `<EMAIL>`, IPv4s → `<IP>`, plus per-doc match counts
    * (the evidence columns a filter/audit step keys on). Pure codegen'd
    * string kernels (regexp_replace / regexp_count) — narrow, no shuffle,
    * scales with the scan. Patterns are deliberately conservative,
    * RE2-compatible literals; swap in house patterns via the arguments. */
  def scrubPii(docs: org.apache.spark.sql.DataFrame, textCol: String = "text",
               emailRe: String = EmailRe, ipRe: String = Ipv4Re): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(col(textCol), lit(emailRe), lit("<EMAIL>")),
        lit(ipRe), lit("<IP>")).as("scrubbed"),
      regexp_count(col(textCol), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(ipRe)).cast("long").as("n_ips"))

  /** Corpus-trained unigram language-model score per document: the mean
    * over a document's tokens of ln(count(token)/total_tokens) — the
    * negated per-token cross-entropy under the corpus's own unigram
    * distribution, the cheap fully-relational stand-in for the LM
    * perplexity filter of CCNet-style curation (out-of-distribution
    * documents score low; boilerplate scores high). Output:
    * (doc_id, n_tokens, avg_logprob); token-less documents excluded.
    *
    * Plan shape at scale: one shuffle builds the frequency table
    * (map-side-combining groupBy — hot stopword keys collapse per map
    * task), the scalar total rides a broadcast cross join (no driver
    * action), and one token→frequency equi-join scores documents. The
    * frequency relation is vocabulary-sized — Zipf-bounded far below
    * corpus size — so Catalyst auto-broadcasts it at small SFs, and when a
    * 100 TB vocabulary outgrows the threshold the shuffle join stays
    * balanced: the hot keys are exactly the high-frequency tokens, already
    * collapsed to one build-side row each. */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val freq = toks.groupBy("t").agg(count(lit(1)).cast("double").as("__cnt"))
    val total = freq.agg(sum("__cnt").as("__tot"))
    toks.join(freq, "t")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("__cnt") / col("__tot"))).as("avg_logprob"))
  }

  /** Bigram-LM document score — [[unigramLogProb]] with first-order
    * context: the mean over a document's bigrams of
    * ln(count(w₁w₂)/count(w₁·)), where count(w₁·) is w₁'s occurrences as
    * a bigram prefix, so p(·|w₁) is a proper MLE conditional (sums to 1
    * per context). A higher-fidelity perplexity stand-in than the unigram
    * — templated text scores near 0, token-salad scores low. Output:
    * (doc_id, n_bigrams, avg_logprob); docs shorter than 2 tokens
    * excluded. Same plan shape as the unigram: two map-side-combining
    * count shuffles (bigram table, prefix table) + equi-joins against
    * Zipf-bounded relations. */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bg = docs
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 2)).as("g"))
      .withColumn("__w1", element_at(split(col("g"), " "), 1))
    val cnt2 = bg.groupBy("g").agg(count(lit(1)).cast("double").as("__c2"))
    val cnt1 = bg.groupBy("__w1").agg(count(lit(1)).cast("double").as("__c1"))
    bg.join(cnt2, "g").join(cnt1, "__w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log(col("__c2") / col("__c1"))).as("avg_logprob"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, data selection via
    * importance resampling): per-document mean log-likelihood RATIO between
    * a TARGET domain's unigram LM and the full-corpus unigram LM —
    * documents whose token distribution looks like the target score high
    * and get upsampled when assembling a domain-focused training mix.
    * `isTarget` is any boolean expression over the doc columns (e.g.
    * `col("source") === "src0"`). Both LMs are Laplace-smoothed over the
    * SHARED corpus vocabulary (add-one over |V|), so out-of-target tokens
    * contribute a finite penalty instead of −∞ and the score is a total
    * function — and fully relational, hence oracle-hashable.
    *
    * Plan shape: ONE token-frequency shuffle builds both count columns
    * (corpus count + conditional target count per token); the three
    * scalars (target total, corpus total, |V|) ride a 1-row broadcast
    * cross join — no driver action; one token→frequency equi-join scores
    * documents. Same Zipf-bounded build side as [[unigramLogProb]]. */
  def importanceWeights(docs: org.apache.spark.sql.DataFrame,
                        isTarget: Column): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), isTarget.cast("int").as("__isT"),
        explode(tokens(col("text"))).as("t"))
    val freq = toks.groupBy("t").agg(
      count(lit(1)).cast("double").as("__cc"),
      sum(col("__isT")).cast("double").as("__ct"))
    val totals = freq.agg(sum("__cc").as("__Tc"), sum("__ct").as("__Tt"),
      count(lit(1)).cast("double").as("__V"))
    toks.join(freq, "t")
      .crossJoin(broadcast(totals))
      .withColumn("__llr",
        log((col("__ct") + 1) / (col("__Tt") + col("__V"))) -
          log((col("__cc") + 1) / (col("__Tc") + col("__V"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), avg(col("__llr")).as("avg_llr"))
  }

  /** Domain-mixture report — the "data mixing" audit before assembling a
    * training run (what share of tokens does each source contribute, and
    * what per-source resampling weight hits a UNIFORM target mix): one row
    * per source with doc/token counts, the source's token share, and
    * weight = (1/|sources|) / share (> 1 ⇒ upsample). Everything is
    * relational — |sources| and the token total come from a 1-row
    * broadcast aggregate, no driver scalar — and the whole plan is one
    * map-side-combining groupBy on the source key plus that broadcast:
    * the shape survives any corpus size (|sources| rows out). */
  def domainMixture(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val per = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("__n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").cast("double").as("__tot"),
      count(lit(1)).cast("double").as("__ns"))
    per.crossJoin(broadcast(tot))
      .withColumn("token_share", col("n_tokens") / col("__tot"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.Num.rnd(col("token_share"), 6).as("token_share"),
        graft.Num.rnd((lit(1.0) / col("__ns")) / (col("n_tokens") / col("__tot")), 6)
          .as("uniform_weight"))
  }

  /** Tokenizer-vocabulary coverage audit: per document, the share of its
    * token OCCURRENCES covered by the corpus's top-`topK` vocabulary (by
    * total occurrences, token-string tie-break) — the OOV-rate check run
    * before committing a fixed vocab/tokenizer to a corpus. Output:
    * (doc_id, n_tokens, n_in_vocab, coverage).
    *
    * Plan shape: the vocab is a global top-k via orderBy+limit —
    * TakeOrderedAndProject (per-partition bounded heaps, k-row driver
    * merge), never a one-partition window sort — then a broadcast LEFT
    * join marks each token occurrence and one groupBy(doc) folds the
    * flags. The vocab relation is k rows by construction — broadcast at
    * any corpus size. */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame,
                    topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("t").asc).limit(topK)
      .select(col("t"), lit(1).as("__inv"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__inv"), lit(0))).cast("long").as("n_in_vocab"))
      .withColumn("coverage",
        graft.Num.rnd(col("n_in_vocab") / col("n_tokens").cast("double"), 4))
  }

  /** Fixed-length token chunks with stride — the pre-training chunker
    * (documents → max-`maxTokens` sequences, consecutive chunks
    * overlapping by `maxTokens − stride` tokens so no span is lost at a
    * boundary). Chunk starts are 0, stride, 2·stride, …; the count
    * 1 + ⌈max(n − maxTokens, 0) / stride⌉ is exactly enough for the last
    * chunk to cover the tail. Empty-token documents emit nothing.
    *
    * Plan shape: one narrow projection + partition-local explode — no
    * shuffle, no state; the 1→N expansion is bounded by n/stride per doc.
    * At 100 TB this is a pure map stage that scales with input splits. */
  def chunkDocuments(docs: org.apache.spark.sql.DataFrame,
                     maxTokens: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(stride >= 1 && stride <= maxTokens,
      s"stride must be in [1, maxTokens], got $stride")
    val nChunks = lit(1) + greatest(
      ceil((col("__n") - lit(maxTokens)).cast("double") / lit(stride.toDouble)),
      lit(0.0)).cast("long")
    docs
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("chunk_no", explode(sequence(lit(0L), nChunks - lit(1L))))
      .select(col("doc_id"), col("chunk_no"),
        slice(col("__toks"), (col("chunk_no") * stride + 1).cast("int"),
          lit(maxTokens)).as("__chunk"))
      .select(col("doc_id"), col("chunk_no"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** BPE-style adjacent symbol-pair counts — the statistic one iteration of
    * byte-pair-encoding tokenizer training maximizes (Sennrich et al. 2016,
    * the subword-vocab path every LLM tokenizer starts from): for every
    * adjacent character pair inside a whitespace word, the total number of
    * occurrences across the corpus, top-`topK` pairs.
    *
    * Plan shape — the Zipf contraction is the whole design: the corpus is
    * tokenized and aggregated to DISTINCT (word, count) FIRST (one
    * partial-aggregated shuffle whose key space is the vocabulary, not the
    * token stream), and only the distinct words are exploded into their
    * ≤ len−1 pairs, weighted by the word's corpus count. At 100 TB the
    * token stream is trillions of rows but the vocabulary is millions —
    * the pair explode and second aggregate run on the small relation.
    * Ranking is engine-stable: exact BIGINT counts, pair-string
    * tie-break. */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame,
                    topK: Int = 50): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wordCounts = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val pairs = wordCounts
      .filter(length(col("w")) >= 2)
      .select(col("cnt"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))
    // global top-k WITHOUT a one-partition window sort: orderBy+limit is
    // planned as TakeOrderedAndProject (per-partition bounded heaps, k-row
    // merge on the driver); only the k survivors see the rank window.
    val w = Window.orderBy(col("n").desc, col("pair"))
    pairs.orderBy(col("n").desc, col("pair")).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("pair"), col("n"), col("rank"))
  }

  /** Heavy hitters: every token whose corpus share exceeds `minShare`,
    * with EXACT counts — via the two-phase sketch-then-verify shape that
    * keeps the candidate state bounded at any scale:
    *
    *  1. Candidate phase — per-partition Misra–Gries summaries
    *     (capacity ⌈2/minShare⌉, `mapPartitions`: the sanctioned
    *     genuinely-imperative per-partition kernel) emit each partition's
    *     surviving counters. Pigeonhole guarantee: a token with global
    *     share > minShare has share > minShare in ≥ 1 partition, and MG
    *     with capacity k retains every item of partition share > 1/(k+1) —
    *     so the union of survivors is a SUPERSET of the true heavy hitters
    *     (OpsSpec pins this against brute counts on random corpora).
    *     State per task is O(1/minShare) — independent of vocabulary size.
    *  2. Verify phase — exact recount of the token stream semi-joined
    *     (broadcast) to the candidate set, filtered at
    *     `count > floor(minShare · N)`. Output is exact, so the oracle is
    *     plain relational SQL with no sketch in sight.
    *
    * A direct groupBy-count also scales (Zipf-bounded keys) — the sketch
    * phase is for the 100 TB regime where shuffling the full vocabulary
    * (URLs, n-grams, user-ids) to find a handful of heavy keys wastes the
    * exchange; here only candidate tokens reach a shuffle. */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame,
                   minShare: Double): org.apache.spark.sql.DataFrame = {
    require(minShare > 0 && minShare < 1,
      s"minShare must be in (0, 1), got $minShare")
    val spark = docs.sparkSession
    import spark.implicits._
    // The sketch phase's two consumers (candidate pass, total) share one
    // pinned tokenize — the q81/q98 inverted-index discipline — released
    // before returning: both are driver actions, and the candidate set is
    // driver-small BY THE SKETCH BOUND (≤ ⌈2/minShare⌉ survivors per task),
    // so collecting it here costs O(tasks/minShare) strings, not a pin
    // held past the call. The returned verify plan re-tokenizes once — one
    // extra scan, zero caller-owned state.
    val cap = math.ceil(2.0 / minShare).toInt
    val (candidateTokens, total) =
      Boundary.scoped {
        val toks = Boundary.pin(docs.select(explode(tokens(col("text"))).as("token")))
        val cands = toks.as[String].mapPartitions { it =>
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach { t =>
            if (counters.contains(t)) counters(t) += 1
            else if (counters.size < cap) counters(t) = 1
            else {
              // decrement-all step; drop zeroed counters
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              counters.keysIterator.foreach { k =>
                val v = counters(k) - 1
                if (v == 0) dead += k else counters(k) = v
              }
              dead.foreach(counters.remove)
            }
          }
          counters.keysIterator
        }.distinct().collect()
        (cands, toks.agg(count(lit(1))).as[Long].head())
      }
    docs.select(explode(tokens(col("text"))).as("token"))
      .join(broadcast(candidateTokens.toSeq.toDF("token")), "token")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") > math.floor(minShare * total).toLong)
      .select(col("token"), col("n"),
        graft.Num.rnd(col("n") / lit(total.toDouble), 6).as("share"))
  }

  /** PMI collocations per language — statistically-bound word pairs
    * (`"new york"`-style units a tokenizer or phrase-mining pass wants):
    * pmi(w₁,w₂) = ln(p(w₁w₂) / (p(w₁)·p(w₂))) over adjacent-bigram and
    * unigram occurrence counts, reported for pairs with ≥ `minCount`
    * occurrences (PMI is noise at low counts), top-`topK` per language.
    *
    * Plan: the bigram and unigram count relations are the same Zipf-
    * bounded aggregates the LM scores build; the two unigram joins key on
    * (lang, word) — pre-aggregated rows only, AQE free to broadcast the
    * vocabulary side when it fits. Ranking is engine-stable: 9-dp-rounded
    * PMI, (w₁, w₂) tie-break, rank inside the minCount-filtered relation
    * (vocabulary-bounded, so the per-lang window is small by
    * construction). */
  def collocations(docs: org.apache.spark.sql.DataFrame, minCount: Long = 5,
                   topK: Int = 20): org.apache.spark.sql.DataFrame = {
    // both count relations sit on the corpus-sized tokenize/explode
    // lineage and feed multiple consumers (pc: join + the nb marginal;
    // ug: two join sides + the nu marginal) — persist them and DERIVE the
    // marginals from the aggregates (nb = Σ n_pair pre-filter) so the
    // explode runs once per modality, the sourceDivergence discipline.
    val b = docs
      .select(col("lang"), explode(shingles(tokens(col("text")), 2)).as("g"))
      .select(col("lang"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
    val pc = b.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n_pair"))
      .transform(Boundary.pin)
    val nb = pc.groupBy("lang").agg(sum("n_pair").cast("double").as("__nbg"))
    val ug = docs
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).cast("double").as("__c"))
      .transform(Boundary.pin)
    val nu = ug.groupBy("lang").agg(sum("__c").as("__nu"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("__pmi9").desc, col("w1").asc, col("w2").asc)
    pc.filter(col("n_pair") >= minCount)
      .join(ug.select(col("lang"), col("tok").as("w1"), col("__c").as("__c1")),
        Seq("lang", "w1"))
      .join(ug.select(col("lang"), col("tok").as("w2"), col("__c").as("__c2")),
        Seq("lang", "w2"))
      .join(broadcast(nb), "lang")
      .join(broadcast(nu), "lang")
      .withColumn("__pmi", log((col("n_pair") / col("__nbg")) /
        ((col("__c1") / col("__nu")) * (col("__c2") / col("__nu")))))
      .withColumn("__pmi9", graft.Num.rnd(col("__pmi"), 9))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("lang"), col("w1"), col("w2"), col("n_pair"),
        graft.Num.rnd(col("__pmi"), 4).as("pmi"), col("rank"))
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * domain-shift detection for mixture curation: KL(p_source ‖ p_corpus)
    * = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) over the source's observed tokens
    * (p_s(t)=0 terms contribute 0; p_c(t)>0 wherever p_s(t)>0 since the
    * corpus contains the source). A source whose token mix matches the
    * corpus scores ~0; a divergent domain scores high — the signal that
    * drives re-weighting ([[graft.ops.Sampling.temperatureSample]]) or
    * exclusion.
    *
    * Plan: one tokenize+explode pass into the (source, token) count
    * relation — persisted, because THREE consumers read it (token
    * marginals, source marginals, the final join) and its lineage is the
    * corpus-sized explode; everything downstream is pre-aggregated,
    * Zipf-bounded rows. The token-marginal join shuffles only those
    * aggregated rows; source marginals and the grand total ride in as
    * broadcasts. Output: (source, n_tokens, kl). */
  def sourceDivergence(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).cast("double").as("__nst"))
      .transform(Boundary.pin)
    val byTok = st.groupBy("t").agg(sum("__nst").as("__nt"))
    val bySrc = st.groupBy("source").agg(sum("__nst").as("__ns"))
    val total = byTok.agg(sum("__nt").as("__n"))
    st.join(byTok, "t")
      .join(broadcast(bySrc), "source")
      .crossJoin(broadcast(total))
      .groupBy("source")
      .agg(first(col("__ns")).cast("long").as("n_tokens"),
        sum((col("__nst") / col("__ns")) *
          log((col("__nst") / col("__ns")) / (col("__nt") / col("__n"))))
          .as("kl"))
  }

  /** Iterative BPE trainer — [[bpePairCounts]] computes ONE merge
    * iteration; this runs the full loop and returns the learned MERGE
    * TABLE after `nMerges` iterations: (iter, lhs, rhs, merged, n), the
    * artifact a tokenizer trainer actually ships. Classic BPE: words
    * split into character symbols; each iteration counts word-frequency-
    * weighted ADJACENT symbol pairs, merges the most frequent pair
    * (count DESC, then lexicographic (lhs, rhs) — fully deterministic)
    * everywhere LEFTMOST-GREEDILY, and repeats on the merged symbols.
    *
    * The merge application is a per-word leftmost-greedy pass (the fused
    * [[graft.expr.BpeMergeAll]] kernel — formerly an interpreted
    * `aggregate` HOF with identical accumulator semantics): the pair
    * merges exactly when the output's LAST symbol is `lhs` and the
    * incoming one is `rhs` — which reproduces sequential leftmost
    * scanning including the overlapping-run case ("a a a a" with merge
    * (a,a) → [aa, aa], because the first merge's output "aa" no longer
    * equals "a").
    *
    * Scale shape — the reason this is a DRIVER LOOP and not a giant plan:
    * the loop state is the DISTINCT-WORD relation (Zipf-bounded: vocab
    * grows ~O(corpus^0.5), not linearly), persisted and swapped each
    * iteration; the corpus is scanned ONCE (the initial word count). Per
    * iteration: one vocab-sized pair explode + partial-agg shuffle, one
    * 1-row driver collect of the winning pair (the learned-literal
    * discipline — q44 centroids, q133 codebooks), one narrow merge
    * projection. Per-iteration cost is vocabulary-bounded, independent of
    * corpus size. */
  /** Leftmost-greedy single-merge application over a symbol array — the
    * per-word left fold shared by [[bpeTrain]] and [[bpeSegment]]: the
    * pair merges exactly when the accumulator's LAST symbol is `a` and
    * the incoming one is `b` (reproduces sequential scanning including
    * the a==b overlapping-run case). */
  private[ops] def bpeMergeExpr(syms: Column, a: String, b: String): Column =
    bpeMergeAllExpr(syms, Seq((a, b)))

  /** Apply a WHOLE merge table in one codegen'd kernel call
    * ([[graft.expr.BpeMergeAll]]) — bit-identical to folding
    * [[bpeMergeExpr]] per merge (the kernel replays the same leftmost-
    * greedy accumulator semantics, OpsSpec pins the equivalence), but one
    * fused JVM loop instead of one interpreted `aggregate`
    * HigherOrderFunction per merge per word (VERDICT r14 #4: the last
    * interpreted expression in a hot projection). */
  private[ops] def bpeMergeAllExpr(syms: Column,
                                   merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) syms
    else org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.BpeMergeAll(
        org.apache.spark.sql.graftbridge.Bridge.expression(syms),
        merges.map(_._1), merges.map(_._2)))

  /** Character symbols of a word — BPE's layer-0 segmentation, fused
    * ([[graft.expr.CharSymbols]]; formerly `transform(sequence(1,
    * length(w)), i => w.substr(i, 1))`, an interpreted lambda per
    * character per vocab word per pass). */
  private[ops] def charSyms(w: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.CharSymbols(
        org.apache.spark.sql.graftbridge.Bridge.expression(w)))

  def bpeTrain(docs: org.apache.spark.sql.DataFrame, nMerges: Int): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    // adjacent pairs via the fused kernel (one JVM pass per word) — the
    // transform+element_at composition paid an interpreted lambda per
    // position per word per iteration
    def pairsOf(syms: Column): Column =
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.BpeAdjacentPairs(
          org.apache.spark.sql.graftbridge.Bridge.expression(syms)))
    def mergeExpr(syms: Column, a: String, b: String): Column =
      bpeMergeExpr(syms, a, b)
    var vocab = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), charSyms(col("w")).as("syms"))
      .transform(Boundary.pin)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    // The parent vocab's pin is dropped LAZILY — one iteration later, right
    // after the pair-count collect has filled the child's cache from
    // the parent's blocks. The former eager shape (next.count() then
    // unpersist parent) paid one extra materialization job per iteration,
    // plus a full merge-apply pass for the FINAL vocab, which nothing ever
    // reads (its merge table is already collected). Same merge table, one
    // action per iteration instead of two.
    var parent: Option[org.apache.spark.sql.DataFrame] = None
    var exhausted = false
    for (it <- 1 to nMerges if !exhausted) {
      val top = vocab
        .select(col("cnt"), explode(pairsOf(col("syms"))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      // the collect above filled `vocab`'s cache — the parent's
      // blocks have served their one consumer and can go
      parent.foreach(Boundary.release)
      parent = None
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((it.toLong, a, b, a + b, n))
        val next = vocab
          .withColumn("syms", mergeExpr(col("syms"), a, b))
          .transform(Boundary.pin)
        parent = Some(vocab)
        vocab = next
      }
    }
    parent.foreach(Boundary.release)
    Boundary.release(vocab)
    import spark.implicits._
    merges.toSeq.toDF("iter", "lhs", "rhs", "merged", "n")
  }

  /** BPE segmentation — the CONSUMER of [[bpeTrain]]'s merge table: apply
    * the learned merges in order to the corpus and report per-doc token
    * economics: word count, BPE token count, and chars-per-BPE-token (the
    * compression number a tokenizer is tuned on). Depth-2 tokenizer story:
    * q142 trains the table, this segments with it.
    *
    * Scale shape: segmentation happens on the DISTINCT-WORD relation
    * (Zipf-bounded), not per token — chars → N chained leftmost-greedy
    * merge folds ([[bpeMergeExpr]]), all narrow projections over the
    * vocabulary. The corpus is then one tokenize+explode pass equi-joined
    * to the segmented vocab on the word (vocab-sized build side —
    * Catalyst/AQE broadcasts when it fits, degrades to a token-keyed
    * shuffle join at web scale) and folded per doc. Two corpus scans
    * total (the trainer's word count + this join), never a per-token
    * merge loop. */
  def bpeSegment(docs: org.apache.spark.sql.DataFrame,
                 merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val vocab0 = docs.select(explode(tokens(col("text"))).as("w")).distinct()
    val seg = vocab0
      .select(col("w"),
        bpeMergeAllExpr(charSyms(col("w")), merges).as("syms"))
      .select(col("w"), size(col("syms")).cast("long").as("n_syms"),
        length(col("w")).cast("long").as("n_chars"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(seg, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_syms").as("n_bpe_tokens"),
        graft.Num.rnd(
          sum("n_chars").cast("double") / sum("n_syms"), 4).as("chars_per_token"))
  }

  /** Model-based quality score — the fastText/CCNet-style classifier stage
    * every production curation pipeline runs after the heuristic floor
    * ([[qualityScore]]): a linear model over HASHED token n-gram features
    * (unigrams + bigrams, the fastText feature space) with FROZEN literal
    * weights, squashed through a sigmoid. The weights in [[QualityModel]]
    * stand in for offline-trained coefficients under the same
    * frozen-literal discipline as the q133 PQ codebooks: training happens
    * elsewhere; the ENGINE's job is deterministic bulk inference, and the
    * oracle replays the same literals in SQL.
    *
    * score = σ(mean_g w[polyHash(g) mod D] + bias) over the doc's feature
    * grams g; a featureless doc scores σ(bias). The pre-sigmoid logit is
    * rounded 9 dp so both engines feed BIT-IDENTICAL doubles to exp (sum
    * order can differ by ulps); the score rounds 6 dp and the keep flag
    * compares THE ROUNDED score to the threshold, so flag parity follows
    * from score parity.
    *
    * Plan shape: a pure NARROW projection — tokenize, then ONE codegen'd
    * kernel call ([[graft.expr.NgramWeightSum]]) computing the whole
    * hashed-feature logit numerator per doc; no explode, no shuffle, no
    * join. The first cut composed built-in HOFs (transform + aggregate
    * over the gram list) and paid an interpreted lambda + element_at PER
    * GRAM — 81 s on a single-task 5.5k-doc scan; the fused kernel is the
    * [[polyHash]] lesson applied again. Scan-bound at any corpus size;
    * composes as a filter stage anywhere (see
    * [[graft.ops.Curation.releasePipeline]]). */
  def modelQualityScore(text: Column): Column =
    modelQualityScoreWith(text, QualityModel.Weights.toSeq, QualityModel.Bias)

  /** Weights-as-DATA variant of [[modelQualityScore]] — the deploy leg of
    * the model-retrain loop (q144 fires the trigger; this ships the
    * refreshed model): the weight vector and bias arrive as RUNTIME
    * arguments (read from a model table / artifact and collected — a
    * model-sized bounded collect, the learned-literal discipline), not
    * compile-time constants, so a recalibrated classifier deploys without
    * recompiling the engine. The hashed feature dimension is
    * `weights.length`. Same fused codegen'd kernel
    * ([[graft.expr.NgramWeightSum]] already takes the weights as a Seq),
    * same two-rounding parity contract as the frozen path — identical
    * weights give bit-identical scores (OpsSpec pins it). */
  def modelQualityScoreWith(text: Column, weights: Seq[Double],
                            bias: Double): Column =
    modelQualityScoreFromTokens(tokens(text), weights, bias)

  /** [[modelQualityScoreWith]] over a PRE-TOKENIZED document (the token
    * array [[tokens]] produces) — bit-identical scores, because the kernel
    * and every rounding step are THE SAME; only the tokenize step is
    * hoisted to the caller. Exists for iterating consumers that pin the
    * token arrays once and score repeatedly under changing weights
    * ([[trainQualityModel]]'s forward pass re-ran split+filter over every
    * doc's text per GD iteration — 4× the tokenize cost for identical
    * arrays). */
  def modelQualityScoreFromTokens(toks: Column, weights: Seq[Double],
                                  bias: Double): Column = {
    require(weights.nonEmpty, "modelQualityScoreWith needs at least one weight")
    // n unigrams + max(n-1, 0) bigrams — arithmetic, not a second pass
    val nFeats = size(toks) + greatest(size(toks) - 1, lit(0))
    val hits = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.NgramWeightSum(
        org.apache.spark.sql.graftbridge.Bridge.expression(toks),
        weights, weights.length))
    val z = graft.Num.rnd(
      when(nFeats === 0, lit(0.0)).otherwise(hits / nFeats)
        + lit(bias), 9)
    graft.Num.rnd(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** Per-doc model-quality inference over a documents frame: (doc_id,
    * n_feats, model_quality, keep) — `keep` decided on the ROUNDED score
    * vs [[QualityModel.Threshold]] (cast to BIGINT: flag columns hash
    * engine-stably as integers). */
  def modelQuality(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    modelQualityWith(docs, QualityModel.Weights.toSeq, QualityModel.Bias,
      QualityModel.Threshold)

  /** [[modelQuality]] under a RUNTIME model ([[modelQualityScoreWith]]):
    * same (doc_id, n_feats, model_quality, keep) schema, keep decided on
    * the rounded score vs the caller's threshold. */
  def modelQualityWith(docs: org.apache.spark.sql.DataFrame,
                       weights: Seq[Double], bias: Double,
                       threshold: Double): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    val nFeats = (size(toks) + greatest(size(toks) - 1, lit(0))).cast("long")
    docs.select(col("doc_id"), nFeats.as("n_feats"),
        modelQualityScoreWith(col("text"), weights, bias).as("model_quality"))
      .withColumn("keep", (col("model_quality") >= threshold).cast("long"))
  }

  /** In-engine quality-model TRAINER — the missing leg of the
    * monitor→train→deploy loop (VERDICT r13 #2: q144 fires the retrain
    * trigger, q145 deploys refreshed weights; this PRODUCES them):
    * deterministic fixed-iteration batch gradient descent for a logistic
    * model over the hashed unigram+bigram feature space
    * [[modelQualityScoreWith]] scores with, distilling the heuristic
    * [[qualityScore]] into weak labels (the fastText/CCNet production
    * pattern — train a fast linear classifier against a slower signal).
    * Reference anchor for the pluggable-learned-stage philosophy:
    * cocoa/preprocess.py:30-78.
    *
    * Semantics, engine-stable by construction (every cross-doc float sum
    * is INTEGER arithmetic):
    *
    *   - training docs: every doc with ≥1 token; label y = 1 iff the
    *     4 dp-ROUNDED heuristic quality ≥ `labelFloor` (comparison on the
    *     rounded score — the oracle convention).
    *   - features: x_j = (count of the doc's unigram+bigram grams with
    *     polyHash(gram) mod dim = j) / n_feats — exactly the feature map
    *     of the scoring kernel, so z = w·x + bias reproduces
    *     [[modelQualityScoreWith]]'s logit.
    *   - forward pass: THE deployment kernel itself
    *     ([[modelQualityScoreWith]] under the current weights — 9 dp
    *     logit, 6 dp sigmoid), so train- and serve-time arithmetic can
    *     never skew.
    *   - gradient: per (doc, feature), g_ij = (p_i − y_i)·cnt_ij / n_i,
    *     QUANTIZED to a long at 1e-9 granularity (round(1e-9 + g·1e9)) —
    *     the cross-doc reduction is then an exact, order-free integer
    *     sum, immune to Spark's nondeterministic partition-sum order.
    *     The bias gradient is DEFINED as Σ_j Q_j (per-doc Σ_j cnt_ij/n_i
    *     = 1, so it equals Σ_i e_i up to quantization) — one aggregate
    *     per iteration, replayed exactly by the oracle.
    *   - update: w_j ← round9(w_j − lr·(Q_j/1e9)/N), computed through the
    *     SAME Spark expressions the oracle's SQL mirrors (a dim+1-row
    *     local relation per iteration — never driver math that could
    *     diverge from engine rounding). Weights start at zero.
    *
    * Plan shape: the corpus is scanned ONCE to pin the (doc_id, toks, n,
    * y) training frame — token arrays, not raw text, so no iteration
    * re-tokenizes — and the (doc_id, j, cnt) feature counts derive from
    * the same pinned arrays (one explode + one partial-aggregated
    * shuffle). Each of the `nIter` iterations is then one narrow kernel
    * projection over the pinned frame joined to the counts and folded to
    * ≤dim rows — a dim-sized bounded collect per iteration, the
    * [[bpeTrain]] learned-literal driver-loop discipline. Pins are freed
    * before returning.
    *
    * Output: the weights RELATION the deploy leg consumes — (j, weight)
    * for j ∈ 0..dim−1 plus the bias as j = −1; thread through
    * [[trainedModel]] into [[modelQualityWith]]. */
  def trainQualityModel(docs: org.apache.spark.sql.DataFrame,
                        labelFloor: Double = 0.4,
                        dim: Int = QualityModel.Dim,
                        nIter: Int = 4,
                        lr: Double = 4.0): org.apache.spark.sql.DataFrame = Boundary.scoped {
    require(dim >= 1 && nIter >= 1, s"need dim >= 1, nIter >= 1; got $dim/$nIter")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = tokens(col("text"))
    // Pin the TOKEN ARRAYS, not the raw text: every GD iteration's forward
    // pass re-scored the corpus, and scoring from cached tokens is
    // bit-identical ([[modelQualityScoreFromTokens]] — same kernel, same
    // roundings, same arrays) while skipping the split+filter re-tokenize
    // per iteration. The feature counts below reuse the same pinned arrays
    // (docs with n = 0 explode to zero gram rows either way, so building
    // fx from the filtered base is exactly the unfiltered-docs fx).
    val base = docs.select(col("doc_id"), toks.as("toks"),
        (size(toks) + greatest(size(toks) - 1, lit(0))).cast("long").as("n"),
        (graft.Num.rnd(qualityScore(col("text")), 4) >= lit(labelFloor))
          .cast("int").as("y"))
      .filter(col("n") > 0)
      .transform(Boundary.pin)
    val tk = col("toks")
    val fx = base
      .select(col("doc_id"), explode(concat(tk, shingles(tk, 2))).as("x"))
      .select(col("doc_id"),
        (polyHash(col("x")) % lit(dim.toLong)).cast("int").as("j"))
      .groupBy("doc_id", "j").agg(count(lit(1)).as("cnt"))
      .transform(Boundary.pin)
    val nDocs = base.count()
    require(nDocs > 0, "trainQualityModel: no document has a token")
    var w = Seq.fill(dim)(0.0)
    var b = 0.0
    for (_ <- 1 to nIter) {
      val scored = base.select(col("doc_id"), col("n"), col("y"),
        modelQualityScoreFromTokens(col("toks"), w, b).as("p"))
      val grads = fx.join(scored, "doc_id")
        .withColumn("q", graft.Num.rnd(
          (col("p") - col("y")) * col("cnt").cast("double") /
            col("n").cast("double") * lit(1e9), 0).cast("long"))
        .groupBy("j").agg(sum("q").as("q"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val qb = grads.values.sum
      val upd = ((0 until dim).map(j => (j.toLong, w(j), grads.getOrElse(j, 0L)))
          :+ ((-1L, b, qb)))
        .toDF("j", "w", "q")
        .select(col("j"), graft.Num.rnd(
          col("w") - lit(lr) * (col("q").cast("double") / lit(1e9)) /
            lit(nDocs.toDouble), 9).as("nw"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      w = (0 until dim).map(j => upd(j.toLong))
      b = upd(-1L)
    }
    ((0 until dim).map(j => (j.toLong, w(j))) :+ ((-1L, b)))
      .toDF("j", "weight")
  }

  /** Split a [[trainQualityModel]] output relation back into the
    * (weights, bias) arguments [[modelQualityWith]] deploys — a
    * dim+1-row bounded collect (learned-literal discipline). */
  def trainedModel(model: org.apache.spark.sql.DataFrame): (Seq[Double], Double) = {
    val rows = model.select("j", "weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dim = rows.size - 1
    require(rows.contains(-1L) && (0 until dim).forall(j => rows.contains(j.toLong)),
      s"malformed model relation: keys ${rows.keySet.toSeq.sorted.take(5)}...")
    ((0 until dim).map(j => rows(j.toLong)), rows(-1L))
  }

  /** Persist a learned BPE merge table ([[bpeTrain]]'s output) as a plain
    * parquet artifact — the tokenizer-lifecycle twin of the ANN index's
    * restore-from-parquet contract: train once, ship the table, segment
    * forever against the FROZEN merges. One file (the table is
    * nMerges-sized), exact directory the caller names. */
  def saveBpeMerges(merges: org.apache.spark.sql.DataFrame, path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(path)

  /** Restore a persisted merge table. Round-trips [[saveBpeMerges]]
    * exactly (columnar data, no learned state outside the table). */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(path)

  /** The ordered (lhs, rhs) merge pairs of a merge table — the argument
    * [[bpeSegment]]/[[bpeSegmentStream]] consume. Merge order IS the
    * tokenizer (later merges build on earlier ones), so the collect sorts
    * by `iter`; nMerges-sized bounded collect (learned-literal
    * discipline). */
  def mergePairs(merges: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    merges.select("iter", "lhs", "rhs").orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Streaming twin of [[bpeSegment]] — segment an INCOMING document
    * stream against a FROZEN merge table (the q133 frozen-quantizer
    * discipline applied to the tokenizer artifact): per-doc word count,
    * BPE token count and chars-per-token as a STATELESS narrow projection
    * (no watermark, no state store — works in append mode on any stream,
    * and identically on a batch frame, which OpsSpec pins against
    * [[bpeSegment]]).
    *
    * Economics trade, stated honestly: the batch form folds the merges
    * over the Zipf-bounded DISTINCT-WORD vocabulary and prices the corpus
    * with one join; a stream has no vocabulary relation, so this twin
    * folds per token — O(tokens × merges) interpreted-HOF work per doc.
    * That is the right shape for event-at-a-time online segmentation
    * economics; BULK reprocessing should use [[bpeSegment]]. Token-less
    * docs are dropped, matching the batch join semantics. */
  def bpeSegmentStream(docs: org.apache.spark.sql.DataFrame,
                       merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    def segSize(w: Column): Column =
      size(bpeMergeAllExpr(charSyms(w), merges)).cast("long")
    docs
      .withColumn("__nw", size(toks).cast("long"))
      .filter(col("__nw") > 0)
      .withColumn("__nb",
        aggregate(toks, lit(0L), (acc, w) => acc + segSize(w)))
      .withColumn("__nc",
        aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long")))
      .select(col("doc_id"), col("__nw").as("n_words"),
        col("__nb").as("n_bpe_tokens"),
        graft.Num.rnd(col("__nc").cast("double") / col("__nb"), 4)
          .as("chars_per_token"))
  }
}

/** Frozen parameters of [[TextAnalysis.modelQualityScore]] — the
  * offline-trained-elsewhere linear quality classifier. Compile-time
  * constants, so the oracle twin ([[TextSql.modelQualityCtes]]) is STATIC
  * SQL embedding the same literals. */
object QualityModel {
  /** Hashed feature dimension (weight-vector length). */
  val Dim = 64
  /** Intercept. */
  val Bias = 0.0
  /** Keep-flag decision threshold on the rounded sigmoid score. */
  val Threshold = 0.5
  /** Frozen weights in [-1, 1): a SplitMix-style integer mix of the
    * feature index — deterministic, engine-independent, and embedded
    * digit-for-digit in the SQL twin via Double.toString round-trip. */
  val Weights: Array[Double] = Array.tabulate(Dim) { i =>
    val h = (i.toLong * 2654435761L + 1013904223L) % 1000003L
    (h.toDouble / 1000003.0 - 0.5) * 2.0
  }
}

/** DuckDB SQL twins of [[TextAnalysis]] — fragment builders interpolated
  * into oracle queries. */
object TextSql {
  val P = 1000000007L

  /** toks CTE: (doc_id, t = cleaned token list). */
  val toksCte: String =
    """toks AS (
      |  SELECT doc_id, lang, source, n_chars, text,
      |         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
      |  FROM documents)""".stripMargin

  def polyHash(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $P)"

  /** Distinct k-shingle strings from token-list expression `t`. */
  def shingleStrings(t: String, k: Int): String =
    s"list_transform(range(greatest(len($t) - ${k - 1}, 0)), " +
      s"i -> array_to_string(list_slice($t, i + 1, i + $k), ' '))"

  def shingleHashes(t: String, k: Int): String =
    s"list_distinct(list_transform(${shingleStrings(t, k)}, s -> ${polyHash("s")}))"

  def markerHits(t: String, markers: Seq[String]): String =
    s"len(list_filter($t, x -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], x)))"

  /** `m` CTE body for quality signals over the toks CTE: per-doc token
    * count `n`, en-stopword count `stop`, type-token ratio `ttr` (plus
    * `alpha_len` for q30's mean token length). */
  def qualitySignalsCte(extraCols: String = ""): String = {
    val en = TextAnalysis.Markers.toMap.apply("en")
    s"""m AS (SELECT doc_id,$extraCols CAST(len(t) AS DOUBLE) AS n,
       |             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) AS alpha_len,
       |             CAST(${markerHits("t", en)} AS DOUBLE) AS stop,
       |             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
       |      FROM toks)""".stripMargin
  }

  /** The quality-score formula over `m`'s columns — the SQL twin of
    * [[TextAnalysis.qualityScore]], rounded like every oracle double. */
  val qualityScoreFromM: String =
    "ROUND(1e-9 + least(1.0, n / 100) * 0.4 + (stop / n) * 0.3 + ttr * 0.3, 4)"

  /** SQL twin of [[TextAnalysis.bpeTrain]]: STATIC layered SQL — one CTE
    * block per merge iteration, each of which (a) counts adjacent symbol
    * pairs over the previous layer's symbol lists (two aligned unnests of
    * shifted slices), (b) picks the top pair itself (count DESC, then
    * (lhs, rhs) — no learned literals needed), and (c) applies it
    * leftmost-greedily: candidate positions are gaps-and-islands grouped
    * (pos − row_number within candidates), EVEN offsets within each
    * consecutive run merge — exactly the left-fold semantics of the
    * engine's `aggregate` merge (runs of overlapping candidates only
    * arise when lhs = rhs, where sequential scanning merges alternate
    * positions). Window-over-window steps are staged in separate CTEs
    * (DuckDB rejects nesting). */
  /** Shared BPE layer prefix: toks → word counts → layer-0 character
    * symbols (s0, which also carries the word string for segmentation
    * consumers) → one CTE block per merge iteration producing s1..sN.
    * Multiply-referenced CTEs are MATERIALIZED — DuckDB re-inlines
    * per reference and the layered fan-out is otherwise exponential
    * (measured: >15 min → 1.3 s at sf0.01). */
  private def bpeLayersSql(nMerges: Int): String = {
    val layers = (1 to nMerges).map { k =>
      val s = s"s${k - 1}"
      s"""p$k AS (SELECT cnt,
         |            unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
         |            unnest(list_slice(syms, 2, len(syms))) AS r
         |       FROM $s WHERE len(syms) >= 2),
         |b$k AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n
         |       FROM p$k GROUP BY l, r ORDER BY n DESC, l, r LIMIT 1),
         |e$k AS (SELECT wid, cnt, unnest(range(len(syms))) AS pos,
         |              unnest(syms) AS s
         |       FROM $s),
         |c$k AS MATERIALIZED (SELECT e.wid, e.cnt, e.pos, e.s, b.l AS bl, b.r AS br,
         |              COALESCE(e.s = b.l AND lead(e.s) OVER (
         |                PARTITION BY e.wid ORDER BY e.pos) = b.r, FALSE) AS cand
         |       FROM e$k e CROSS JOIN b$k b),
         |r$k AS (SELECT *, pos - row_number() OVER (
         |              PARTITION BY wid, cand ORDER BY pos) AS grp
         |       FROM c$k),
         |sel$k AS MATERIALIZED (SELECT wid, pos FROM (
         |         SELECT wid, pos, row_number() OVER (
         |                PARTITION BY wid, grp ORDER BY pos) - 1 AS off
         |         FROM r$k WHERE cand) WHERE off % 2 = 0),
         |s$k AS MATERIALIZED (SELECT c.wid, min(c.cnt) AS cnt,
         |            list(CASE WHEN m.pos IS NOT NULL THEN c.bl || c.br
         |                      ELSE c.s END ORDER BY c.pos) AS syms
         |       FROM c$k c
         |       LEFT JOIN sel$k m ON m.wid = c.wid AND m.pos = c.pos
         |       LEFT JOIN sel$k m2 ON m2.wid = c.wid AND m2.pos = c.pos - 1
         |       WHERE m2.pos IS NULL
         |       GROUP BY c.wid)""".stripMargin
    }
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(t) AS w FROM toks),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
       |s0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS wid,
       |              w, cnt,
       |              list_transform(range(length(w)),
       |                i -> substr(w, CAST(i + 1 AS INT), 1)) AS syms
       |       FROM wc),
       |${layers.mkString(",\n")}""".stripMargin
  }

  def bpeTrainSql(nMerges: Int): String = {
    val union = (1 to nMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS iter, l AS lhs, r AS rhs, " +
        s"l || r AS merged, n FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""${bpeLayersSql(nMerges)}
       |$union""".stripMargin
  }

  /** SQL twin of [[TextAnalysis.bpeSegment]] fed by [[bpeTrainSql]]'s own
    * learned merges: the same layer prefix trains AND applies (the engine
    * side trains via the gated q142 loop, so the composition is pinned
    * end-to-end), then the segmented vocabulary (sN, joined back to s0
    * for the word string) prices every document's tokens. */
  def bpeSegmentSql(nMerges: Int): String = {
    s"""${bpeLayersSql(nMerges)},
       |wn AS (SELECT s0.w, CAST(len(sN.syms) AS BIGINT) AS n_syms,
       |              CAST(length(s0.w) AS BIGINT) AS n_chars
       |       FROM s$nMerges sN JOIN s0 USING (wid)),
       |tokw AS (SELECT doc_id, unnest(t) AS w FROM toks)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
       |       ROUND(1e-9 + CAST(sum(n_chars) AS DOUBLE) / sum(n_syms), 4)
       |         AS chars_per_token
       |FROM tokw JOIN wn USING (w) GROUP BY doc_id""".stripMargin
  }

  /** SQL twin of [[TextAnalysis.modelQualityScore]] over the toks CTE:
    * CTEs `g` (unigram+bigram feature grams), `wt` (the frozen
    * [[QualityModel.Weights]] as a literal array — Double.toString
    * round-trips the exact IEEE value through DuckDB's parser) and `mq`
    * (doc_id, n_feats, model_quality). The logit sum is an explicit
    * LEFT FOLD (list_reduce with a prepended 0.0) in gram order — the
    * exact addition sequence of Spark's `aggregate` HOF — so the
    * pre-round logit is bit-identical in both engines and the 9 dp round
    * + sigmoid + 6 dp round can only diverge on an exp() ulp. */
  def modelQualityCtes: String = modelQualityCtesFrom("toks", "")

  /** [[modelQualityCtes]] over an arbitrary token relation (`doc_id`, `t`)
    * with suffixed CTE names — lets one query score TWO snapshots side by
    * side (q144's score-drift monitor). */
  def modelQualityCtesFrom(toksRel: String, sfx: String): String =
    modelQualityCtesWith(toksRel, sfx, QualityModel.Weights.toSeq,
      QualityModel.Bias)

  /** [[modelQualityCtesFrom]] under a CALLER-supplied model — the oracle
    * twin of [[TextAnalysis.modelQualityScoreWith]]: the runtime weight
    * vector is embedded digit-for-digit (Double.toString round-trips the
    * exact IEEE value through DuckDB's literal parser), dimension =
    * weights.length. */
  def modelQualityCtesWith(toksRel: String, sfx: String,
                           weights: Seq[Double], bias: Double): String = {
    val wl = weights.map(_.toString).mkString(", ")
    s"""g$sfx AS (SELECT doc_id, list_concat(t, ${shingleStrings("t", 2)}) AS g
       |      FROM $toksRel),
       |wt$sfx AS (SELECT [$wl]::DOUBLE[] AS w),
       |zz$sfx AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_feats,
       |             ROUND(1e-9 + CASE WHEN len(g) = 0 THEN 0.0
       |               ELSE list_reduce(list_prepend(0.0, list_transform(g,
       |                      x -> w[CAST(${polyHash("x")} % ${weights.length} AS INT) + 1])),
       |                      (a, b) -> a + b) / len(g)
       |               END + $bias, 9) AS z
       |      FROM g$sfx, wt$sfx),
       |mq$sfx AS (SELECT doc_id, n_feats,
       |              ROUND(1e-9 + 1.0 / (1.0 + exp(-z)), 6) AS model_quality
       |       FROM zz$sfx)""".stripMargin
  }

  /** SQL twin of [[TextAnalysis.trainQualityModel]]: STATIC layered SQL —
    * one CTE block per gradient-descent iteration, no learned literals.
    * `wb0` is the zero model; each block replays the engine's exact
    * arithmetic: forward pass (the [[modelQualityCtesWith]] gram-order
    * left fold under the PREVIOUS layer's weights — 9 dp logit, 6 dp
    * sigmoid), per-(doc, feature) gradient quantized to BIGINT at 1e-9
    * granularity (cross-doc sums are then exact integer arithmetic — the
    * property that makes distributed GD oracle-checkable at all), dense
    * gradient vector via a dim-spine left join, and the 9 dp-rounded
    * weight/bias update. Every multiply-referenced CTE is MATERIALIZED
    * (the q126/q142 re-inlining lesson). */
  def trainerSql(labelFloor: Double, dim: Int, nIter: Int,
                 lr: Double): String = {
    val layers = (1 to nIter).map { k =>
      val pw = s"wb${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT gm.doc_id,
         |         ROUND(1e-9 + 1.0 / (1.0 + exp(-(ROUND(1e-9 +
         |           list_reduce(list_prepend(0.0, list_transform(gm.g,
         |             x -> $pw.w[CAST(${polyHash("x")} % $dim AS INT) + 1])),
         |             (a, b) -> a + b) / gm.n + $pw.b, 9)))), 6) AS p
         |  FROM gm, $pw),
         |gr$k AS MATERIALIZED (
         |  SELECT fx.j,
         |         CAST(SUM(CAST(ROUND(1e-9 +
         |           (p$k.p - lb.y) * fx.cnt / gm.n * 1e9, 0) AS BIGINT))
         |           AS BIGINT) AS q
         |  FROM fx JOIN p$k USING (doc_id) JOIN lb USING (doc_id)
         |       JOIN gm USING (doc_id)
         |  GROUP BY fx.j),
         |gv$k AS MATERIALIZED (
         |  SELECT list(COALESCE(q, 0) ORDER BY sp.j) AS qv,
         |         CAST(SUM(COALESCE(q, 0)) AS BIGINT) AS qb
         |  FROM (SELECT unnest(range($dim)) AS j) sp LEFT JOIN gr$k USING (j)),
         |wb$k AS MATERIALIZED (
         |  SELECT list_transform(range($dim), i ->
         |           ROUND(1e-9 + w[CAST(i AS INT) + 1] - $lr *
         |             (CAST(qv[CAST(i AS INT) + 1] AS DOUBLE) / 1e9) / nn.nd, 9))
         |           AS w,
         |         ROUND(1e-9 + b - $lr * (CAST(qb AS DOUBLE) / 1e9) / nn.nd, 9)
         |           AS b
         |  FROM $pw, gv$k, nn)""".stripMargin
    }
    s"""WITH $toksCte,
       |${qualitySignalsCte()},
       |gm AS MATERIALIZED (
       |  SELECT doc_id, g, CAST(len(g) AS BIGINT) AS n FROM (
       |    SELECT doc_id, list_concat(t, ${shingleStrings("t", 2)}) AS g
       |    FROM toks)
       |  WHERE len(g) > 0),
       |lb AS MATERIALIZED (
       |  SELECT doc_id,
       |         CASE WHEN $qualityScoreFromM >= $labelFloor THEN 1 ELSE 0 END
       |           AS y
       |  FROM m WHERE n > 0),
       |fx AS MATERIALIZED (
       |  SELECT doc_id, j, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, CAST(${polyHash("x")} % $dim AS INT) AS j
       |    FROM (SELECT doc_id, unnest(g) AS x FROM gm))
       |  GROUP BY doc_id, j),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM gm),
       |wb0 AS (SELECT list_transform(range($dim), i -> 0.0) AS w,
       |               CAST(0.0 AS DOUBLE) AS b),
       |${layers.mkString(",\n")}
       |SELECT CAST(sp.j AS BIGINT) AS j, w[CAST(sp.j AS INT) + 1] AS weight
       |FROM wb$nIter, (SELECT unnest(range($dim)) AS j) sp
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS j, b AS weight FROM wb$nIter""".stripMargin
  }
}
