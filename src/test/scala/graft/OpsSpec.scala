package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops._

/** Extension-operator tests: dedup, similarity, text, streaming, multimodal. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps min doc_id") {
    val d = docs((1L, "a b c"), (5L, "a b c"), (3L, "x y z"))
    val out = Dedup.exact(d).orderBy("keeper_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds high-jaccard pairs with exact verified jaccard") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.minHashPairs(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
    // exact jaccard: base has 38 shingles, nearDup differs in 3 (k=3 window
    // around position 7) → inter 35, union 41.
    val j = Dedup.minHashPairs(d, 0.5).select("jaccard").as[Double].head()
    assert(math.abs(j - 35.0 / 41.0) < 1e-3)
  }

  test("bandingFor bounds the miss probability at the admission threshold") {
    for (t <- Seq(0.3, 0.5, 0.7, 0.9, 1.0)) {
      val (b, r) = Dedup.bandingFor(t)
      assert(b >= 1 && r >= 1 && b * r <= Dedup.MaxHashes, s"t=$t -> ($b,$r)")
      assert(math.pow(1 - math.pow(t, r), b) <= 1e-9, s"t=$t -> ($b,$r)")
    }
    assert(Dedup.bandingFor(0.5) == (73, 2))
    assert(Dedup.bandingFor(0.9) == (32, 7))
    // shallow S-curve region: the required band count for wide rows
    // overflows 32-bit arithmetic (t=0.1, r=8 needs ~2.07e9 bands) — the
    // search must fall through to the feasible (197, 1), not wrap negative
    assert(Dedup.bandingWithin(0.1) == Some((197, 1)))
    // and report infeasibility (instead of a silently weaker banding) when
    // no budget-sized banding reaches the miss bound
    assert(Dedup.bandingWithin(0.05).isEmpty)
    assertThrows[IllegalArgumentException](Dedup.bandingFor(0.05))
  }

  test("MinHashSig kernel matches the per-seed Column signature") {
    val d = docs((1L, (1 to 30).map(i => s"w$i").mkString(" ")),
                 (2L, "one two three four five six"))
    val sets = Dedup.shingleSets(d).filter(size(col("shingles")) > 0)
    val viaCols = sets.orderBy("doc_id")
      .select(Dedup.minHashSignature(col("shingles"), 32).as("sig"))
      .as[Seq[Long]].collect().toSeq
    val seeds = Dedup.Seeds.take(32)
    val viaKernel = sets.orderBy("doc_id")
      .select(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.MinHashSig(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("shingles")),
          seeds.map(_._1), seeds.map(_._2))).as("sig"))
      .as[Seq[Long]].collect().toSeq
    assert(viaCols == viaKernel)
  }

  test("simhash chunk-banding equals brute-force hamming pairs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simHashPairs(d, 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val sims = Dedup.shingleSets(d).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), Dedup.simHash(col("shingles")).as("sim"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // planted near-dups exist in the corpus
  }

  test("dedup clusters: connected components label by min reachable doc id") {
    // path graph 5-4-3-2-1 forces multi-round propagation; 10-11 separate
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the distributed label-propagation path (forced via threshold 0)
    // computes the identical labeling
    val distributed = Dedup.dedupClusters(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed == out)
    // dispatch boundary: the edge relation carries both orientations, so
    // 5 pairs = 10 edges. threshold == count takes the driver union-find,
    // threshold == count − 1 takes label propagation — identical labels
    // either side of the boundary, so the count-gated dispatch is safe at
    // exactly its limit (and unionFindLocal's require stays satisfied).
    for (t <- Seq(10L, 9L))
      assert(Dedup.dedupClusters(pairs, driverThreshold = t)
        .as[(Long, Long)].collect().toMap == out)
  }

  test("streaming exact dedup keeps the first-seen doc per content hash") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val sdf = stream.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Dedup.exactStream(sdf).writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((1L, "a b", ts(0)), (2L, "a b", ts(1)), (3L, "x", ts(2)))
      q.processAllAvailable()
      stream.addData((4L, "a b", ts(3)), (5L, "new", ts(4))) // dup across batches
      q.processAllAvailable()
      val kept = spark.table("dedup_out")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L, 5L)) // first-seen wins, within and across batches
      // streaming answer == batch exact dedup hash set
      val batchHashes = Dedup.exact(Seq((1L, "a b"), (2L, "a b"), (3L, "x"),
        (4L, "a b"), (5L, "new")).toDF("doc_id", "text"))
        .select("text_hash").as[String].collect().toSet
      val streamHashes = spark.table("dedup_out")
        .select("text_hash").as[String].collect().toSet
      assert(streamHashes == batchHashes)
    } finally q.stop()
  }

  test("modelQuality is a stateless stream stage: per-row scores equal batch") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    // the ingest-time quality gate: the SAME narrow projection applied to
    // a stream — no state, no watermark, per-row append
    val q = TextAnalysis.modelQuality(sdf).writeStream
      .format("memory").queryName("mq_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = Seq((1L, "the quick brown fox"), (2L, ""), (3L, "aa bb aa"))
      stream.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("mq_out")
        .as[(Long, Long, Double, Long)].collect().toSet
      val batch = TextAnalysis.modelQuality(rows.toDF("doc_id", "text"))
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(streamed == batch && batch.size == 3)
    } finally q.stop()
  }

  test("repetition stats: most frequent bigram share") {
    // "a a a b": bigrams (a a), (a a), (a b) → n=3, max=2, ratio 0.6667
    val out = TextAnalysis.repetition(docs((1L, "a a a b"), (2L, "solo")))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 2L, 0.6667))) // doc 2 has no bigrams → absent
  }

  test("decontamination flags train docs sharing k-gram with benchmark") {
    val bench = docs((100L, "a b c d e"))
    // doc 1 shares shingles "a b c"/"b c d" (k=3); doc 2 disjoint
    val train = docs((1L, "x a b c d"), (2L, "p q r s t"))
    val out = Dedup.contaminated(train, bench, 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L))
  }

  test("bloom-refined decontamination equals the unfiltered join") {
    // real corpus slice: bloom prune (default) vs no bloom must agree
    // exactly — false positives die in the exact join
    val d = Cohorts.documents(spark, "/root/testdata/sf0.001")
    val train = d.filter($"source" =!= "src0")
    val bench = d.filter($"source" === "src0")
    val withBloom = Dedup.contaminated(train, bench, 8)
      .collect().map(_.toSeq).toSet
    val noBloom = Dedup.contaminated(train, bench, 8, bloomFpp = None)
      .collect().map(_.toSeq).toSet
    assert(withBloom == noBloom)
    spark.catalog.clearCache()
  }

  test("deduplicated corpus keeps cluster keepers and untouched docs") {
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "alone"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.deduplicated(d, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L)) // 2,3 collapse into keeper 1; 7 untouched
  }

  test("hash sampling is deterministic, rate-bounded, and content-addressed") {
    val d = (1L to 400L).toDF("doc_id")
    val s1 = Sampling.bernoulli(d, "doc_id", 0.3, "seedA")
      .as[Long].collect().toSet
    val s2 = Sampling.bernoulli(d, "doc_id", 0.3, "seedA")
      .as[Long].collect().toSet
    assert(s1 == s2) // reproducible, no RNG state
    assert(Sampling.bernoulli(d, "doc_id", 0.0, "seedA").count() == 0)
    assert(Sampling.bernoulli(d, "doc_id", 1.0, "seedA").count() == 400)
    // roughly the asked-for rate (hash-uniformity sanity bound)
    assert(s1.size > 400 * 0.15 && s1.size < 400 * 0.45, s"got ${s1.size}")
    // content-addressed: a row's fate never changes when the corpus grows
    val bigger = (1L to 800L).toDF("doc_id")
    val s3 = Sampling.bernoulli(bigger, "doc_id", 0.3, "seedA")
      .as[Long].collect().toSet
    assert(s3.filter(_ <= 400L) == s1)
    // and a different seed draws a different sample
    assert(Sampling.bernoulli(d, "doc_id", 0.3, "seedB")
      .as[Long].collect().toSet != s1)
  }

  test("stratified sampling applies per-stratum and default rates") {
    val d = (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val out = Sampling.stratifiedBernoulli(d, "lang", "doc_id",
      Map("en" -> 0.0), defaultRate = 1.0, seed = "s")
    val langs = out.select("lang").distinct().as[String].collect().toSet
    assert(langs == Set("fr")) // en fully dropped, fr fully kept via default
    assert(out.count() == 200)
    assert(out.columns.toSeq == d.columns.toSeq) // helper column dropped
  }

  test("split assignment is total, deterministic and weight-validated") {
    val d = (1L to 1000L).toDF("doc_id")
    val out = Sampling.splitAssign(d, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), "sp")
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 1000) // total: every row lands in one split
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts("train") > 700 && counts("train") < 900)
    assertThrows[IllegalArgumentException](
      Sampling.splitAssign(d, "doc_id", Seq("a" -> 0.5, "b" -> 0.4), "sp"))
    // weights summing to 1 but outside [0,1] individually are rejected too
    assertThrows[IllegalArgumentException](
      Sampling.splitAssign(d, "doc_id", Seq("a" -> 1.5, "b" -> -0.5), "sp"))
  }

  test("sequence packing is greedy first-fit per group in doc order") {
    val d = Seq(
      (1L, "en", "a b c"),                            // 3 tokens → pack 1
      (2L, "en", "d e"),                              // 2 → pack 1 (total 5)
      (3L, "en", "f g h"),                            // 5+3 > 6 → pack 2
      (4L, "en", (1 to 10).map("w" + _).mkString(" ")), // oversized → own pack 3
      (5L, "en", "x"),                                // 10+1 > 6 → pack 4
      (6L, "de", "a b")                               // new group → pack 1
    ).toDF("doc_id", "lang", "text")
    val out = Packing.packDocuments(d, 6).collect()
      .map(p => p.doc_id -> ((p.lang, p.tokens, p.pack_id))).toMap
    assert(out == Map(
      1L -> (("en", 3L, 1L)), 2L -> (("en", 2L, 1L)), 3L -> (("en", 3L, 2L)),
      4L -> (("en", 10L, 3L)), 5L -> (("en", 1L, 4L)), 6L -> (("de", 2L, 1L))))
    // null group keys / texts are rejected, not packed under a sentinel
    intercept[Exception] {
      Packing.packDocuments(Seq((1L, null: String, "a b"))
        .toDF("doc_id", "lang", "text"), 6).collect()
    }
    intercept[Exception] {
      Packing.packDocuments(Seq((1L, "en", null: String))
        .toDF("doc_id", "lang", "text"), 6).collect()
    }
  }

  test("sampling rejects null keys instead of silently dropping rows") {
    val d = Seq(Some(1L), None, Some(3L)).toDF("doc_id")
    intercept[Exception] {
      Sampling.bernoulli(d, "doc_id", 0.5, "s").count()
    }
    intercept[Exception] {
      Sampling.splitAssign(d, "doc_id", Seq("a" -> 0.5, "b" -> 0.5), "s")
        .collect()
    }
  }

  test("cosine LSH near-dup pairs: subset of exact answer, high recall") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Similarity.nearDupPairs(e, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairsLsh(e, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // exact verify admits no false positives
    assert(exact.nonEmpty)
    // Probabilistic recall, deterministic under the fixed seed: pairs at
    // the 0.4 admission boundary are caught w.p. ~93%, near-dups ~100%.
    assert(lsh.size >= math.ceil(exact.size * 0.7).toInt,
      s"recall ${lsh.size}/${exact.size}")
  }

  test("cosine top-k returns exact nearest neighbors") {
    val e = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(-1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineTopK(e, e.filter($"vec_id" === 0), 2)
      .select("c_id", "rank").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L), (2L, 2L))) // 0.994, 0.0; -1 excluded by rank
  }

  test("partitioned (IVF) top-k searches only the query's cell") {
    val e = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.5f, 0.5f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.partitionedTopK(e, e.filter($"vec_id" === 0), "label", 5)
      .select("c_id").as[Long].collect().toSeq
    assert(out == Seq(2L)) // vec 1 is nearer but in another cell
  }

  test("learned-centroid IVF: deterministic, high recall vs exact top-k") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter($"vec_id" % 50 === 0)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = key(Similarity.cosineTopK(e, q, 10))
    val ivf = key(Similarity.ivfTopK(e, q, 10))
    assert(ivf == key(Similarity.ivfTopK(e, q, 10))) // fixed seed → stable
    val recall = (n: Int) =>
      (key(Similarity.ivfTopK(e, q, 10, nProbe = n)) & exact).size.toDouble / exact.size
    // recall grows with probe breadth; full probe recovers the exact answer
    val (r4, r8) = (recall(4), recall(8))
    assert(r4 >= 0.75, s"IVF recall@4 $r4")
    assert(r8 >= r4 && r8 >= 0.9, s"IVF recall@8 $r8 (recall@4 $r4)")
    assert(key(Similarity.ivfTopK(e, q, 10, nProbe = 16)) == exact)
  }

  test("IVF sample-capped fit: deterministic, recall holds, full probe exact") {
    // cap far below the corpus so the k-means fit really runs on a sample
    // (the 100 TB contract: Lloyd passes touch <= cap rows, assignment is
    // still the full corpus)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter($"vec_id" % 50 === 0)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val sampled = key(Similarity.ivfTopK(e, q, 10, fitSampleCap = 64))
    assert(sampled == key(Similarity.ivfTopK(e, q, 10, fitSampleCap = 64)))
    val exact = key(Similarity.cosineTopK(e, q, 10))
    val r8 = (key(Similarity.ivfTopK(e, q, 10, nProbe = 8, fitSampleCap = 64)) & exact)
      .size.toDouble / exact.size
    // slightly looser than the full-fit pin (0.9): the fit saw less than a
    // third of the corpus, measured 0.83 on this corpus
    assert(r8 >= 0.80, s"sampled-fit IVF recall@8 $r8")
    // probing every cell recovers the exact answer regardless of the fit
    assert(key(Similarity.ivfTopK(e, q, 10, nProbe = 16, fitSampleCap = 64)) == exact)
  }

  test("PII scrub masks emails and IPv4s and counts matches") {
    val d = Seq((1L, "mail a@b.co and c.d+x@e-f.org at 10.0.0.7 or 256ish 1.2.3.4."),
        (2L, "no pii here")).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(d).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L,
      "mail <EMAIL> and <EMAIL> at <IP> or 256ish <IP>.", 2L, 2L)))
    assert(out(1) == ((2L, "no pii here", 0L, 0L)))
  }

  test("label centroids average L2-normalized embeddings per label") {
    val e = Seq(
      (1L, "a", Array(3.0f, 4.0f)),   // normalizes to (0.6, 0.8)
      (2L, "a", Array(0.0f, 2.0f)),   // normalizes to (0.0, 1.0)
      (3L, "b", Array(0.0f, 0.0f)))   // zero norm -> contributes zeros
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.labelCentroids(e).orderBy("label", "pos")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("a", 1L, 0.3), ("a", 2L, 0.9), ("b", 1L, 0.0), ("b", 2L, 0.0)))
  }

  test("language id picks the marker-richest language, tie-break alphabetical") {
    val d = Seq((1L, "der hund und die katze"), (2L, "zzz qqq www"))
      .toDF("doc_id", "text")
    val (pred, hits) = TextAnalysis.langId(TextAnalysis.tokens(col("text")))
    val out = d.select(col("doc_id"), pred, hits).orderBy("doc_id")
      .as[(Long, String, Int)].collect()
    assert(out(0) == ((1L, "de", 3)))
    assert(out(1) == ((2L, "de", 0))) // all-zero tie → alphabetical first
  }

  test("events loader normalizes ts to TimestampType on the real testdata (all SFs)") {
    // Guard against driver-side testdata regeneration changing the physical
    // ts encoding under us (r6 lost nine queries to exactly that): whatever
    // the parquet carries, the loader must hand downstream ops a
    // session-zone TIMESTAMP that unix_micros accepts.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = Cohorts.events(spark, s"/root/testdata/$sf")
      assert(e.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$sf: ts is ${e.schema("ts").dataType}")
      // unix_micros is what asofJoin/rangeJoinCount call — fail here, loudly
      assert(e.select(unix_micros($"ts")).limit(1).count() == 1, s"$sf: empty events")
    }
  }

  test("streaming hourly aggregation matches the batch plan") {
    implicit val sq = spark.sqlContext
    val events = Cohorts.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventOps.hourlyAggStream(sdf).writeStream
      .format("memory").queryName("hourly_out").outputMode(OutputMode.Complete())
      .start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .select("hour_start", "event_type", "n_events", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = EventOps.hourlyAgg(
        events.toDF("ts", "event_type", "value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches batch sessionize") {
    implicit val sq = spark.sqlContext
    val raw = Cohorts.events(spark, "/root/testdata/sf0.001")
      .filter($"user_id" < 20)
    // SHUFFLED (seeded) — the watermarked operator must not depend on
    // arrival order; correctness comes from the state buffer + seal logic
    val rows = new scala.util.Random(7).shuffle(raw
      .select($"user_id", date_trunc("second", $"ts").as("ts"), $"value")
      .as[(Long, java.sql.Timestamp, Double)]
      .collect().toSeq)
    // sentinel event per user far in the future advances the watermark
    // past every real session's close point; the event-time timeouts then
    // flush them in the no-data batch
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val users = rows.map(_._1).distinct
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventOps.sessionizeStream(
        stream.toDS().map(identity))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows)
      stream.addData(users.map(u => (u, flushTs, 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
        .collect().map(_.toSeq).toSet
      val batch = EventOps.sessionize(raw)
        .select(col("user_id"), col("session_start"), col("n_events"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming sessionize: out-of-order ACROSS batches within the watermark") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // user 1: one session 10:00-10:10 whose interior events arrive LATE and
    // OUT OF ORDER in a second batch (admissible: watermark after batch 1 is
    // 10:10 - 1h = 09:10); a 12:00 event then both advances the watermark to
    // 11:00 (sealing the first session: 10:10 + 30min < 11:00) and opens a
    // second session. user 2 interleaves to prove per-key isolation.
    val b1 = Seq((1L, ts("2024-05-01 10:00:00"), 1.0),
                 (1L, ts("2024-05-01 10:10:00"), 2.0),
                 (2L, ts("2024-05-01 10:07:00"), 5.0))
    val b2 = Seq((1L, ts("2024-05-01 10:05:00"), 3.0),  // late, in-gap
                 (1L, ts("2024-05-01 09:30:00"), 4.0),  // late, EXTENDS session backwards
                 (2L, ts("2024-05-01 10:02:00"), 6.0))
    val b3 = Seq((1L, ts("2024-05-01 12:00:00"), 7.0),
                 (2L, ts("2024-05-01 12:00:00"), 8.0))
    val b4 = Seq((1L, ts("2030-01-01 00:00:00"), 0.0),
                 (2L, ts("2030-01-01 00:00:00"), 0.0))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventOps.sessionizeStream(stream.toDS().map(identity),
        gapSeconds = 1800, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3, b4).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("sess_ooo")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))
        .collect().map(_.toSeq).toSet
      val batch = EventOps.sessionize(
          (b1 ++ b2 ++ b3).toDF("user_id", "ts", "value")
            .withColumn("event_id", lit(0L)))
        .select(col("user_id"), col("session_start"), col("n_events"), col("sum_value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // the late 09:30 arrival must have been absorbed into user 1's session
      assert(streamed.exists(r => r.head == 1L &&
        r(1) == "2024-05-01 09:30:00" && r(2) == 4L))
    } finally q.stop()
  }

  test("sliding aggregation streams in APPEND mode: watermark wires through") {
    // regression: windowing on a derived (truncated) column loses the
    // watermark and append-mode analysis fails / state never evicts
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventOps.slidingAggStream(sdf, "10 minutes").writeStream
      .format("memory").queryName("sliding_append")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "click", 1.0)))
      q.processAllAvailable()
      // advance event time far past the watermark: the click's windows close
      stream.addData(Seq((java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), "view", 2.0)))
      q.processAllAvailable()
      val emitted = spark.table("sliding_append")
        .filter(col("event_type") === "click").count()
      assert(emitted == 4) // one finalized row per overlapping window
    } finally q.stop()
  }

  test("file-source streaming with Trigger.AvailableNow matches batch") {
    // the reference's orchestration grain (dates file → scheduled batch)
    // as a Structured Streaming file source that drains and stops
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val events = Cohorts.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
    events.write.mode("overwrite").parquet(dir)
    val sdf = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventOps.hourlyAggStream(sdf).writeStream
      .format("memory").queryName("an_out").outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(180000)) // AvailableNow stops when drained
      val streamed = spark.table("an_out").collect().map(_.toSeq).toSet
      val batch = EventOps.hourlyAgg(events).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("multimodal stub decode extracts byte metadata through mapPartitions") {
    val d = docs((7L, "hello world"))
    val m = Multimodal.extractMeta(Multimodal.payloads(d)).head()
    assert(m.doc_id == 7L)
    assert(m.n_bytes == 11L)
    assert(m.header_hex == "68656C6C6F20776F") // "hello wo"
    assert(m.feat_sum == 'h'.toLong + 'e' + 'l' + 'l')
  }

  test("multimodal stub resize keeps every stride-th byte") {
    val d = docs((3L, "hello world"))
    val r = Multimodal.resize(Multimodal.payloads(d), 4).head()
    // indices 0,4,8 -> 'h','o','r'
    val kept = Seq('h', 'o', 'r').map(_.toLong)
    assert(r.doc_id == 3L)
    assert(r.n_bytes_out == 3L)
    assert(r.sample_sum == kept.sum)
    assert(r.sample_fp == kept.foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L))
  }

  test("multimodal frame sampling emits every k-th frame incl. short tail") {
    val d = docs((9L, "hello world")) // 11 bytes, 3 frames of 4
    val out = Multimodal.sampleFrames(Multimodal.payloads(d), 4, 2)
      .collect().sortBy(_.frame_no)
    assert(out.map(f => (f.frame_no, f.frame_bytes)).toSeq == Seq((0L, 4L), (2L, 3L)))
    val fp = (s: String) =>
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    assert(out.map(_.frame_fp).toSeq == Seq(fp("hell"), fp("rld")))
  }

  test("sliding windows cover each event exactly window/slide times") {
    val events = Cohorts.events(spark, "/root/testdata/sf0.001")
    val slid = EventOps.slidingAgg(events)
    val n = events.count()
    assert(slid.agg(sum("n_events")).as[Long].head() == 4 * n)
    // every tumbling-hour bucket appears among the sliding windows with at
    // least the same count (the aligned window contains all its events)
    val hourly = EventOps.hourlyAgg(events)
      .select(col("hour_start").as("window_start"), col("event_type"),
        col("n_events").as("h_n"))
    val joined = hourly.join(slid, Seq("window_start", "event_type"), "left")
    assert(joined.filter(col("n_events").isNull || col("n_events") < col("h_n")).count() == 0)
  }

  test("streaming sliding aggregation matches the batch plan") {
    implicit val sq = spark.sqlContext
    val events = Cohorts.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventOps.slidingAggStream(sdf).writeStream
      .format("memory").queryName("sliding_out").outputMode(OutputMode.Complete())
      .start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = EventOps.slidingAgg(
        events.toDF("ts", "event_type", "value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("sliding stream: AvailableNow drain + checkpoint restart equals batch") {
    // the gap q43's batch twin and the append-mode test left open: state
    // that STRADDLES a stop/restart (windows half-filled in run 1, finished
    // in run 2) must survive the checkpoint — a broken resume double-counts
    // or drops exactly those windows.
    val base = java.nio.file.Files.createTempDirectory("graft-slide-restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val rows = Cohorts.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq.sortBy(_._1.getTime)
    val (h1, h2) = rows.splitAt(rows.size / 2)
    // a far-future sentinel pushes the watermark past every real window so
    // append mode finalizes them all by the end of run 2
    val sentinel = (new java.sql.Timestamp(
      rows.map(_._1.getTime).max + 10L * 3600 * 1000), "sentinel", 0.0)
    val schema = h1.toDF("ts", "event_type", "value").schema
    def drain(): Unit = {
      val sdf = spark.readStream.schema(schema).parquet(inDir)
      val q = EventOps.slidingAggStream(sdf).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(180000)) finally q.stop()
    }
    h1.toDF("ts", "event_type", "value").write.mode("append").parquet(inDir)
    drain()
    (h2 :+ sentinel).toDF("ts", "event_type", "value")
      .write.mode("append").parquet(inDir)
    drain()
    val streamed = spark.read.parquet(outDir)
      .filter($"event_type" =!= "sentinel")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = EventOps.slidingAgg(rows.toDF("ts", "event_type", "value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("unigramLogProb scores docs under the corpus's own unigram model") {
    // freq: a=2, b=2, c=1; total 5
    val d = docs((1L, "a a b"), (2L, "b c"), (3L, " "))
    val out = TextAnalysis.unigramLogProb(d)
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 3L), (2L, 2L)))
    val e1 = math.log(2.0 / 5.0) // all three tokens have p = 2/5
    val e2 = (math.log(2.0 / 5.0) + math.log(1.0 / 5.0)) / 2.0
    assert(math.abs(out(0)._3 - e1) < 1e-12)
    assert(math.abs(out(1)._3 - e2) < 1e-12)
  }

  test("bigramLogProb scores with proper MLE conditionals c(w1w2)/c(w1.)") {
    // corpus bigrams: "a b"×2, "b a"×1, "b c"×1; prefixes a.=2, b.=2
    val d = docs((1L, "a b a b c"), (2L, "x"))
    val out = TextAnalysis.bigramLogProb(d)
      .select("doc_id", "n_bigrams", "avg_logprob")
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 4L))) // doc 2: < 2 tokens
    // (ln(2/2) + ln(1/2) + ln(2/2) + ln(1/2)) / 4
    assert(math.abs(out(0)._3 - math.log(0.5) / 2.0) < 1e-12)
  }

  test("asofJoin picks the latest right row at-or-before, max-id on ties") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 10:05:00"), 1L, "view", 2.0),
      (10L, ts("2024-01-01 10:05:00"), 1L, "purchase", 9.0), // tie with view 2 → matched
      (11L, ts("2024-01-01 10:01:00"), 1L, "purchase", 9.0), // between views → view 1
      (12L, ts("2024-01-01 09:00:00"), 2L, "purchase", 9.0), // no prior view → nulls
      (3L, ts("2024-01-01 10:00:00"), 3L, "view", 3.0),
      (4L, ts("2024-01-01 10:00:00"), 3L, "view", 4.0),      // equal-ts views:
      (13L, ts("2024-01-01 10:00:00"), 3L, "purchase", 9.0)) // max id 4 wins
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.asofJoin(e, "purchase", "view")
      .select("event_id", "matched_id", "lag_us")
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (10L, Some(2L), Some(0L)),
      (11L, Some(1L), Some(60000000L)),
      (12L, None, None),
      (13L, Some(4L), Some(0L))))
  }

  test("rangeJoinCount: half-open (t-300s, t] window across bucket edges") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (20L, ts("2024-01-01 10:10:00"), 1L, "error", 0.0),
      (30L, ts("2024-01-01 10:05:00"), 2L, "click", 0.0), // exactly -300 s: OUT
      (31L, ts("2024-01-01 10:06:00"), 3L, "click", 0.0), // prior bucket: IN
      (32L, ts("2024-01-01 10:10:00"), 4L, "click", 0.0), // same instant: IN
      (33L, ts("2024-01-01 10:04:59"), 5L, "click", 0.0), // too old: OUT
      (34L, ts("2024-01-01 10:10:01"), 6L, "click", 0.0), // after: OUT
      (21L, ts("2024-01-01 00:00:00"), 7L, "error", 0.0)) // zero matches: absent
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.rangeJoinCount(e, "error", "click", 300)
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((20L, 2L)))
  }

  test("funnel chains strictly-after step completions per user") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq(
      // user 1: full funnel in order
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 10:10:00"), 1L, "purchase", 0.0),
      // user 2: clicks only before/at the first view — strictly-after fails,
      // so the later purchase cannot advance the funnel either
      (4L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0),
      (5L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0),
      (6L, ts("2024-01-01 10:00:00"), 2L, "click", 0.0),
      (7L, ts("2024-01-01 10:30:00"), 2L, "purchase", 0.0),
      // user 3: never starts
      (8L, ts("2024-01-01 10:00:00"), 3L, "purchase", 0.0),
      // user 4: stops after step 2
      (9L, ts("2024-01-01 10:00:00"), 4L, "view", 0.0),
      (10L, ts("2024-01-01 10:01:00"), 4L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.funnel(e, Seq("view", "click", "purchase"))
      .as[(Long, Option[String], Option[String], Option[String], Long)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Some("2024-01-01 10:00:00"), Some("2024-01-01 10:05:00"),
        Some("2024-01-01 10:10:00"), 3L),
      (2L, Some("2024-01-01 10:00:00"), None, None, 1L),
      (3L, None, None, None, 0L),
      (4L, Some("2024-01-01 10:00:00"), Some("2024-01-01 10:01:00"), None, 2L)))
  }

  test("rollingStats bounds the frame at n rows with warm-up widths") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 10:01:00"), 1L, "view", 2.0),
      (3L, ts("2024-01-01 10:02:00"), 1L, "view", 3.0),
      (4L, ts("2024-01-01 10:03:00"), 1L, "view", 4.0),
      (5L, ts("2024-01-01 10:00:00"), 2L, "view", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.rollingStats(e, 3)
      .as[(Long, Long, Double, Double, Long)].collect().sortBy(_._2).toSeq
    assert(out == Seq(
      (1L, 1L, 1.0, 1.0, 1L),
      (1L, 2L, 3.0, 1.5, 2L),
      (1L, 3L, 6.0, 2.0, 3L),
      (1L, 4L, 9.0, 3.0, 3L),    // frame slid: 2+3+4
      (2L, 5L, 7.0, 7.0, 1L)))
  }

  test("rollingStatsStream matches batch rollingStats on shuffled real events") {
    implicit val sq = spark.sqlContext
    val raw = Cohorts.events(spark, "/root/testdata/sf0.001")
      .filter($"user_id" < 20)
    // SHUFFLED (seeded) — sealing order must come from the watermark +
    // state sort, not arrival order
    val rows = new scala.util.Random(11).shuffle(raw
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSeq)
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val users = rows.map(_._1).distinct
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = EventOps.rollingStatsStream(stream.toDS().map(identity), 5)
      .writeStream.format("memory").queryName("roll_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows)
      // sentinel per user advances the watermark past every real event;
      // sentinels themselves stay pending and never emit
      stream.addData(users.map(u => (u, flushTs, -1L, 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("roll_out")
        .select("user_id", "event_id", "roll_sum", "roll_avg", "n_window")
        .collect().map(_.toSeq).toSet
      val batch = EventOps.rollingStats(raw, 5)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("rollingStatsStream: late in-watermark arrival lands in the right frame") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // 10:00 and 10:10 arrive first; 10:05 arrives LATE in batch 2 but is
    // admissible (watermark after batch 1 = 10:10 − 1 h). Frames must read
    // (1), (1,3), (1,3,2) in event-time order — not arrival order.
    val b1 = Seq((1L, ts("2024-05-01 10:00:00"), 1L, 1.0),
                 (1L, ts("2024-05-01 10:10:00"), 2L, 2.0))
    val b2 = Seq((1L, ts("2024-05-01 10:05:00"), 3L, 4.0))
    val b3 = Seq((1L, ts("2030-01-01 00:00:00"), -1L, 0.0))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = EventOps.rollingStatsStream(stream.toDS().map(identity),
        n = 2, watermark = "1 hour")
      .writeStream.format("memory").queryName("roll_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("roll_ooo")
        .select("event_id", "roll_sum", "roll_avg", "n_window")
        .collect().map(_.toSeq).toSet
      assert(streamed == Set(
        Seq(1L, 1.0, 1.0, 1L),
        Seq(3L, 5.0, 2.5, 2L),   // frame (1.0, 4.0)
        Seq(2L, 6.0, 3.0, 2L)))  // frame (4.0, 2.0) — late row included
    } finally q.stop()
  }

  test("rollingActiveUsersStream matches batch rollingActiveUsers on shuffled events") {
    implicit val sq = spark.sqlContext
    val raw = Cohorts.events(spark, "/root/testdata/sf0.001")
    val rows = new scala.util.Random(13).shuffle(raw
      .select($"user_id", $"ts")
      .as[(Long, java.sql.Timestamp)].collect().toSeq)
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventOps.rollingActiveUsersStream(stream.toDS().map(identity))
      .writeStream.format("memory").queryName("dau_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows)
      stream.addData(Seq((-1L, flushTs))) // advances the watermark; its own
                                          // far-future day never seals
      q.processAllAvailable()
      val streamed = spark.table("dau_out")
        .select("day", "dau", "dau7d").collect().map(_.toSeq).toSet
      val batch = EventOps.rollingActiveUsers(raw)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("winsorizeWithBounds clips a stream against batch bounds like batch winsorize") {
    implicit val sq = spark.sqlContext
    val d = ((1 to 20).map(i => ("a", i.toDouble)) :+ (("b", 100.0))).toSeq
    val batchDf = d.toDF("g", "v")
    val bounds = Summary.winsorizeBounds(batchDf, "v", Seq("g"), 0.05, 0.95)
    val stream = MemoryStream[(String, Double)]
    val q = Summary.winsorizeWithBounds(
        stream.toDF().toDF("g", "v"), "v", Seq("g"), bounds)
      .writeStream.format("memory").queryName("wins_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(d)
      q.processAllAvailable()
      val streamed = spark.table("wins_out")
        .select("g", "v", "lo", "hi", "v_clip", "clipped")
        .collect().map(_.toSeq).toSet
      val batch = Summary.winsorize(batchDf, "v", Seq("g"), 0.05, 0.95)
        .select("g", "v", "lo", "hi", "v_clip", "clipped")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("binWithBounds quantizes a stream against batch quantile bounds like batch") {
    implicit val sq = spark.sqlContext
    val d = (1 to 40).map(i => ("a", i.toDouble))
    val batchDf = d.toDF("g", "v")
    val bounds = Summary.equiDepthBounds(batchDf, "v", Seq("g"), 4)
    val stream = MemoryStream[(String, Double)]
    val q = Summary.binWithBounds(
        stream.toDF().toDF("g", "v"), "v", Seq("g"), bounds)
      .writeStream.format("memory").queryName("bins_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(d)
      q.processAllAvailable()
      val streamed = spark.table("bins_out")
        .select("g", "v", "bin").as[(String, Double, Long)].collect().toSet
      val batch = Summary.binWithBounds(batchDf, "v", Seq("g"), bounds)
        .select("g", "v", "bin").as[(String, Double, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
      assert(streamed.map(_._3) == Set(0L, 1L, 2L, 3L))
      // no scratch columns leak into the public output
      assert(!Summary.binWithBounds(batchDf, "v", Seq("g"), bounds)
        .columns.contains("__bounds"))
    } finally q.stop()
    // a group the frozen snapshot never saw lands in bin 0, never dropped
    val unseen = Summary.binWithBounds(
        Seq(("z", 5.0)).toDF("g", "v"), "v", Seq("g"), bounds)
      .select("g", "bin").as[(String, Long)].collect().toSeq
    assert(unseen == Seq(("z", 0L)))
  }

  test("quantizeInt8 audit row: scale, bounds, and reconstruction error") {
    val d = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(d)
      .as[(Long, Double, Long, Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val s = 2.0 / 127
    val mse = (Seq(1.0, -2.0, 0.5) zip Seq(64L, -127L, 32L))
      .map { case (v, q) => math.pow(v - s * q, 2) }.sum / 3
    assert(out(0)._1 == 1L)
    assert(math.abs(out(0)._2 - s) < 1e-9)
    assert((out(0)._3, out(0)._4, out(0)._5) == ((-31L, -127L, 64L)))
    assert(math.abs(out(0)._6 - mse) < 1e-8)
    // zero vector: all-zero codes; scale/mse sit at the shared +1e-9
    // rounding bias (the oracle's ROUND(1e-9 + x, 9) produces the same)
    assert(out(1) == ((2L, 1.0e-9, 0L, 0L, 0L, 1.0e-9)))
  }

  test("hardNegatives keeps only the similarity band, ranked desc") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f)),       // query
      (2L, Array(1.0f, 0.0f)),       // sim 1.0 — above ceiling, excluded
      (3L, Array(0.0f, 1.0f)),       // sim 0.0 — below floor, excluded
      (4L, Array(1.0f, 2.0f)),       // sim ≈ 0.447 — in band
      (5L, Array(1.0f, 3.0f)))       // sim ≈ 0.316 — in band, ranked 2nd
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(d, d.filter(col("vec_id") === 1), 10, 0.1, 0.5)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._3).toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq((1L, 4L, 1L), (1L, 5L, 2L)))
    assert(math.abs(out(0)._4 - 1 / math.sqrt(5)) < 1e-6)
    // ceiling is exclusive: a band ending at 1.0 still drops the exact dup
    assert(Similarity.hardNegatives(d, d.filter(col("vec_id") === 1), 10, 0.9, 1.0)
      .count() == 0)
  }

  test("corpusReport aggregates per-source composition in one pass") {
    val d = Seq(
      (1L, "web", "en", "a b c"),
      (2L, "web", "de", (1 to 30).map("w" + _).mkString(" ")),
      (3L, "books", "en", "x y"))
      .toDF("doc_id", "source", "lang", "text")
    val out = TextAnalysis.corpusReport(d, shortDocTokens = 20)
      .as[(String, Long, Long, Double, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2, r._3, r._5)) ==
      Seq(("books", 1L, 2L, 1L), ("web", 2L, 33L, 2L)))
    assert(out(1)._6 == 0.5) // the 3-token web doc is short, the 30-token isn't
    assert(out(0)._6 == 1.0)
  }

  test("rollingActiveUsers: 7-day trailing distinct via coverage explode") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L), // u1 day 1
      (2L, ts("2024-01-01 11:00:00"), 1L), // same user+day → one pair
      (3L, ts("2024-01-01 12:00:00"), 2L), // u2 day 1
      (4L, ts("2024-01-05 10:00:00"), 2L), // u2 day 5
      (5L, ts("2024-01-09 10:00:00"), 3L)) // u3 day 9: u2@d5 in window, u1/u2@d1 not
      .map { case (id, t, u) => (id, t, u, "view", 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.rollingActiveUsers(e)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("2024-01-01", 2L, 2L),
      ("2024-01-05", 1L, 2L),   // u2 ∪ {u1,u2 from day 1} = {1,2}
      ("2024-01-09", 1L, 2L))) // u3 ∪ {u2 from day 5}; day-1 pairs aged out
  }

  test("stratifiedFixedK takes exactly k per stratum, nested along k") {
    val d = (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val s5 = Sampling.stratifiedFixedK(d, "lang", "doc_id", 5, "s")
    assert(s5.groupBy("lang").count().as[(String, Long)].collect().toMap
      == Map("en" -> 5L, "fr" -> 5L))
    assert(s5.columns.toSeq == d.columns.toSeq) // helper columns dropped
    // nesting: the k=3 sample is a strict subset of the k=5 sample
    val s3 = Sampling.stratifiedFixedK(d, "lang", "doc_id", 3, "s")
      .select("doc_id").as[Long].collect().toSet
    assert(s3.subsetOf(
      s5.select("doc_id").as[Long].collect().toSet) && s3.size == 6)
    // k beyond the stratum size returns the whole stratum, no padding
    val tiny = Seq((1L, "en"), (2L, "en")).toDF("doc_id", "lang")
    assert(Sampling.stratifiedFixedK(tiny, "lang", "doc_id", 99, "s").count() == 2)
    // null keys are rejected, not silently dropped
    intercept[Exception] {
      Sampling.stratifiedFixedK(Seq((Some(1L), "en"), (None, "en"))
        .toDF("doc_id", "lang"), "lang", "doc_id", 1, "s").collect()
    }
  }

  test("chunkDocuments windows tokens with stride and covers the tail") {
    val d = Seq(
      (1L, (1 to 10).map("t" + _).mkString(" ")), // 10 tokens
      (2L, "a b c"),                              // shorter than maxTokens
      (3L, "   "))                                // no tokens → dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(d, 4, 2)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    // doc 1: starts 0,2,4,6 — 1 + ceil((10-4)/2) = 4 chunks, tail covered
    assert(out.filter(_._1 == 1L) == Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 4L, "t5 t6 t7 t8"),
      (1L, 3L, 4L, "t7 t8 t9 t10")))
    assert(out.filter(_._1 == 2L) == Seq((2L, 0L, 3L, "a b c")))
    assert(!out.exists(_._1 == 3L))
    // no-overlap stride == maxTokens partitions exactly
    val flat = TextAnalysis.chunkDocuments(d.filter($"doc_id" === 1), 5, 5)
      .as[(Long, Long, Long, String)].collect().sortBy(_._2).toSeq
    assert(flat.map(_._4) == Seq("t1 t2 t3 t4 t5", "t6 t7 t8 t9 t10"))
    assertThrows[IllegalArgumentException](TextAnalysis.chunkDocuments(d, 4, 5))
    assertThrows[IllegalArgumentException](TextAnalysis.chunkDocuments(d, 0, 1))
  }

  test("zscore scales per group and zeroes degenerate groups") {
    val d = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
                ("b", 5.0),             // singleton: sample stddev null
                ("c", 7.0), ("c", 7.0)) // zero variance
      .toDF("g", "v")
    val out = Summary.zscore(d, "v", Seq("g"))
      .select("g", "v", "z").as[(String, Double, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out.filter(_._1 == "a").map(_._3) == Seq(-1.0, 0.0, 1.0))
    assert(out.filter(_._1 == "b").map(_._3) == Seq(0.0))
    assert(out.filter(_._1 == "c").map(_._3) == Seq(0.0, 0.0))
  }

  test("rollingActiveUsersStream: cross-batch late arrival lands in sealed windows") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // u2's day-1 event arrives out-of-order in batch 2 but ADMISSIBLE
    // (watermark after batch 1 = 11:00 − 2 h = 09:00 < 09:30); batch 3
    // advances the watermark past day 1's end and seals it with BOTH
    // users. Day 3's trailing window picks both day-1 users up.
    val b1 = Seq((1L, ts("2024-05-01 10:00:00")),
                 (1L, ts("2024-05-01 11:00:00")))
    val b2 = Seq((2L, ts("2024-05-01 09:30:00"))) // late, in-watermark
    val b3 = Seq((1L, ts("2024-05-03 12:00:00"))) // seals day 1
    val b4 = Seq((-1L, ts("2030-01-01 00:00:00")))
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventOps.rollingActiveUsersStream(stream.toDS().map(identity))
      .writeStream.format("memory").queryName("dau_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3, b4).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("dau_ooo")
        .select("day", "dau", "dau7d").collect().map(_.toSeq).toSet
      val batch = EventOps.rollingActiveUsers(
          (b1 ++ b2 ++ b3).toDF("user_id", "ts")
            .withColumn("event_id", lit(0L)))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed == Set(
        Seq("2024-05-01", 2L, 2L),
        Seq("2024-05-03", 1L, 2L)))
    } finally q.stop()
  }

  test("chunkDocuments is stateless and streams in append mode unchanged") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = TextAnalysis.chunkDocuments(
        stream.toDF().toDF("doc_id", "text"), 4, 2)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((1L, (1 to 6).map("t" + _).mkString(" "))))
      q.processAllAvailable()
      val got = spark.table("chunk_stream")
        .select("chunk_no", "chunk_text").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq((0L, "t1 t2 t3 t4"), (1L, "t3 t4 t5 t6")))
    } finally q.stop()
  }

  test("winsorize clips at rounded per-group interpolated percentiles") {
    val d = (1 to 20).map(i => ("a", i.toDouble)) :+ (("b", 100.0))
    val out = Summary.winsorize(d.toDF("g", "v"), "v", Seq("g"), 0.05, 0.95)
      .select("g", "v", "lo", "hi", "v_clip", "clipped")
      .as[(String, Double, Double, Double, Double, Boolean)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // group a, n=20: lo = 1 + 0.95·1 = 1.95, hi = 19 + 0.05·1 = 19.05
    val a = out.filter(_._1 == "a")
    assert(a.head == (("a", 1.0, 1.95, 19.05, 1.95, true)))
    assert(a.last == (("a", 20.0, 1.95, 19.05, 19.05, true)))
    assert(a(9) == (("a", 10.0, 1.95, 19.05, 10.0, false)))
    assert(a.count(_._6) == 2) // only the two extremes clip
    // singleton group: both bounds equal the value, nothing clips
    assert(out.filter(_._1 == "b") == Seq(("b", 100.0, 100.0, 100.0, 100.0, false)))
    assertThrows[IllegalArgumentException](
      Summary.winsorize(d.toDF("g", "v"), "v", Seq("g"), 0.9, 0.1))
  }

  test("bm25TopDocs scores and ranks postings for df-filtered terms") {
    val d = docs((1L, "a a b"), (2L, "a c"), (3L, "x y z"))
    val out = TextAnalysis.bm25TopDocs(d, minDf = 2, topK = 10)
      .as[(String, Long, Long, Long, Double, Long)].collect().sortBy(_._6).toSeq
    // only "a" has df >= 2; N=3, avgdl=8/3
    val avgdl = 8.0 / 3
    val idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    def score(tf: Long, dl: Long) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._6)) == Seq(
      ("a", 1L, 2L, 2L, 1L), ("a", 2L, 1L, 2L, 2L)))
    assert(math.abs(out(0)._5 - score(2, 3)) < 1e-6)
    assert(math.abs(out(1)._5 - score(1, 2)) < 1e-6)
  }

  test("sparseCosinePairs: token-join cosine with df-cut vocabulary") {
    val d = docs((1L, "a b"), (2L, "a c"), (3L, "x y"))
    val out = TextAnalysis.sparseCosinePairs(d, 0.0, 1000)
      .as[(Long, Long, Double)].collect().toSeq
    // only (1,2) share vocabulary; w(a) = ln(3/2), w(b) = w(c) = ln 3
    val ia = math.log(1.5); val ib = math.log(3.0)
    val expect = ia * ia / (ia * ia + ib * ib)
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(math.abs(out.head._3 - expect) < 1e-6)
    // df-cut at 1 removes the shared token entirely → no pairs at all
    assert(TextAnalysis.sparseCosinePairs(d, 0.0, 1).count() == 0)
    // threshold above the pair's sim filters it
    assert(TextAnalysis.sparseCosinePairs(d, expect + 0.01, 1000).count() == 0)
  }

  test("sparseCosinePairs queryPred == symmetrize-then-filter (q122 shape)") {
    // Enough docs with overlapping vocab that the query subset has real
    // neighbors on both sides of the a<b order.
    val d = docs((0L to 40L).map(i =>
      (i, s"tok${i % 7} tok${(i + 1) % 7} tok${i % 3} extra$i")): _*)
    val pred = col("doc_id") % 4 === 0
    val sym = TextAnalysis.sparseCosinePairs(d, 0.05, 100)
    val expected = sym.select(col("doc_a").as("q"), col("doc_b").as("c"), col("sim"))
      .unionByName(sym.select(col("doc_b").as("q"), col("doc_a").as("c"), col("sim")))
      .filter(col("q") % 4 === 0)
      .as[(Long, Long, Double)].collect().toSet
    val got = TextAnalysis.sparseCosinePairs(d, 0.05, 100, queryPred = Some(pred))
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty && got == expected)
    // the pruned side really is pruned: no non-query doc appears as doc_a
    assert(got.forall(_._1 % 4 == 0))
  }

  test("weightedBernoulli is weight-monotone and content-addressed") {
    val d = (1L to 500L).toDF("doc_id")
      .withColumn("w", (col("doc_id") % 10) / 10.0)
    val lo = Sampling.weightedBernoulli(d, "doc_id", col("w"), "s")
      .select("doc_id").as[Long].collect().toSet
    val hi = Sampling.weightedBernoulli(d, "doc_id", col("w") + 0.2, "s")
      .select("doc_id").as[Long].collect().toSet
    assert(lo.subsetOf(hi)) // raising weights only ever ADDS rows
    assert(lo.nonEmpty && hi.size > lo.size)
    // weight 0 keeps nothing even with clamping pressure below it
    assert(Sampling.weightedBernoulli(d, "doc_id", lit(-1.0), "s").count() == 0)
    // weight ≥ 1 keeps everything (clamped)
    assert(Sampling.weightedBernoulli(d, "doc_id", lit(2.0), "s").count() == 500)
    // a constant weight reduces to plain bernoulli at that rate
    val b = Sampling.bernoulli(d.drop("w"), "doc_id", 0.4, "s")
      .as[Long].collect().toSet
    val wb = Sampling.weightedBernoulli(d, "doc_id", lit(0.4), "s")
      .select("doc_id").as[Long].collect().toSet
    assert(b == wb)
  }

  test("streaming as-of join: late rights within the watermark fix the match") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // (user_id, ts, event_id, value, isRight)
    val b1 = Seq((1L, ts("2024-05-01 10:00:00"), 1L, 1.0, true),
                 (1L, ts("2024-05-01 10:10:00"), 10L, 9.0, false))
    // the left at 10:10 is still pending (wm < 10:10), so the LATE right at
    // 10:05 — earlier than the left but closer than the 10:00 one — must
    // win; an equal-ts right pair (ids 1, 3 at 10:00) pins the max-id tie
    val b2 = Seq((1L, ts("2024-05-01 10:05:00"), 2L, 2.0, true),
                 (1L, ts("2024-05-01 10:00:00"), 3L, 3.0, true),
                 (1L, ts("2024-05-01 10:00:00"), 11L, 8.0, false),
                 (2L, ts("2024-05-01 10:00:00"), 12L, 7.0, false))
    val b3 = Seq((99L, ts("2030-01-01 00:00:00"), 0L, 0.0, true)) // wm push
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, Double, Boolean)]
    val q = EventOps.asofJoinStream(stream.toDS().map(identity), "1 hour")
      .writeStream.format("memory").queryName("asof_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("asof_ooo")
        .as[(Long, Long, Option[Long], Option[Double], Option[Long])]
        .collect().toSet
      val batch = EventOps.asofJoin(
          (b1 ++ b2 ++ b3).map { case (u, t, id, v, r) =>
            (id, t, u, if (r) "view" else "purchase", v) }
            .toDF("event_id", "ts", "user_id", "event_type", "value"),
          "purchase", "view")
        .as[(Long, Long, Option[Long], Option[Double], Option[Long])]
        .collect().toSet
      assert(streamed == batch)
      // the late 10:05 right is the match for the 10:10 left
      assert(streamed.contains((10L, 1L, Some(2L), Some(2.0), Some(300000000L))))
      // equal-ts tie → max event_id; and the no-right left emits nulls
      assert(streamed.contains((11L, 1L, Some(3L), Some(3.0), Some(0L))))
      assert(streamed.contains((12L, 2L, None, None, None)))
    } finally q.stop()
  }

  test("streaming funnel: late earlier steps revise the chain before commit") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // (user_id, ts, step_idx). The step-3 completion at 10:20 arrives
    // BEFORE the 10:10 step-2 event that ends up defining the chain: an
    // eager (non-watermark) funnel would commit t2=10:30 and t3=10:40.
    val b1 = Seq((1L, ts("2024-05-01 10:00:00"), 0),
                 (1L, ts("2024-05-01 10:30:00"), 1),
                 (1L, ts("2024-05-01 10:20:00"), 2),
                 (1L, ts("2024-05-01 10:40:00"), 2),
                 (2L, ts("2024-05-01 10:00:00"), 1)) // never does step 0
    val b2 = Seq((1L, ts("2024-05-01 10:10:00"), 1)) // late but admissible
    val b3 = Seq((99L, ts("2030-01-01 00:00:00"), 0)) // watermark push
    val stream = MemoryStream[(Long, java.sql.Timestamp, Int)]
    val q = EventOps.funnelStream(stream.toDS().map(identity), 3, "1 hour")
      .writeStream.format("memory").queryName("funnel_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("funnel_ooo")
        .as[(Long, Int, Long)].collect().toSet
      val t = (s: String) => ts(s).getTime / 1000
      assert(streamed == Set(
        (1L, 1, t("2024-05-01 10:00:00")),
        (1L, 2, t("2024-05-01 10:10:00")),
        (1L, 3, t("2024-05-01 10:20:00"))))
      // batch equivalence: the emitted steps are exactly the non-null
      // step columns of the batch funnel over the same events
      val names = Map(0 -> "view", 1 -> "click", 2 -> "purchase")
      val batch = EventOps.funnel(
          (b1 ++ b2 ++ b3).zipWithIndex.map { case ((u, t0, s), i) =>
            (i.toLong, t0, u, names(s), 0.0) }
            .toDF("event_id", "ts", "user_id", "event_type", "value"),
          Seq("view", "click", "purchase"))
        .as[(Long, Option[String], Option[String], Option[String], Long)]
        .collect()
        .flatMap { case (u, t1, t2, t3, _) =>
          Seq(t1, t2, t3).zipWithIndex.collect {
            case (Some(x), i) => (u, i + 1, java.sql.Timestamp.valueOf(x).getTime / 1000) } }
        .toSet
      // user 99's sentinel is above the final watermark — uncommitted in
      // the stream by design, so it drops from the comparison
      assert(streamed == batch.filterNot(_._1 == 99L))
    } finally q.stop()
  }

  test("spanDedup keeps first corpus-order span occurrence and reassembles") {
    val d = docs(
      (0L, "a b c d e f g h i j k l"),   // 4 clean spans at w=3
      (1L, "a b c x y z"),               // span0 dups doc 0 → only "x y z" survives
      (2L, "d e f d e f"),               // both spans dup doc 0 → empty text
      (3L, "   "),                       // no tokens → absent from output
      (4L, "p q r p q r s"))             // within-doc dup: first "p q r" kept
    val out = Dedup.spanDedup(d, 3)
      .select("doc_id", "text", "n_spans", "n_kept")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, "a b c d e f g h i j k l", 4L, 4L),
      (1L, "x y z", 2L, 1L),
      (2L, "", 2L, 0L),
      (4L, "p q r s", 3L, 2L)))
    // repartition invariance: corpus order is (doc_id, span_idx), not
    // partition order
    val shuffled = Dedup.spanDedup(d.repartition(7), 3)
      .select("doc_id", "text", "n_spans", "n_kept")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(shuffled.toSeq == out.toSeq)
  }

  test("clustersLsh equals pair-enumeration clusters on clone-style corpora") {
    // clone clusters around an original (the hub-verifiable shape this
    // operator targets): 3 originals × 4 mutated clones + 2 singletons
    val base = (g: Int) => (1 to 30).map(i => s"g${g}tok$i").mkString(" ")
    val rows = (0 until 3).flatMap { g =>
      (0 until 5).map { c =>
        val text = if (c == 0) base(g) else s"cp$c " + base(g)
        ((g * 16 + c).toLong, text)
      }
    } ++ Seq((100L, (1 to 30).map(i => s"solo$i").mkString(" ")),
             (101L, (200 to 230).map(i => s"other$i").mkString(" ")))
    val d = docs(rows: _*)
    val exact = Dedup.dedupClusters(Dedup.minHashPairs(d, 0.5))
      .as[(Long, Long)].collect().toSet
    val star = Dedup.clustersLsh(d, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(star == exact)
    // three clusters, keeper = min id of each
    assert(exact.count { case (id, cl) => id == cl } == 3)
  }

  test("embedClustersLsh equals pair-enumeration clusters on clone groups") {
    // three clone groups of near-identical vectors + two isolated vectors
    val mk = (base: Array[Float], eps: Float) => base.map(_ + eps)
    val bases = Seq(
      Array(1.0f, 0.0f, 0.0f, 0.5f), Array(0.0f, 1.0f, 0.0f, -0.5f),
      Array(0.0f, 0.0f, 1.0f, 0.25f))
    val rows = bases.zipWithIndex.flatMap { case (b, g) =>
      (0 until 4).map(c => ((g * 16 + c).toLong, mk(b, c * 1e-4f)))
    } ++ Seq((100L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
             (101L, Array(-1.0f, 1.0f, -1.0f, 1.0f)))
    val e = rows.toDF("vec_id", "embedding")
    val exact = Dedup.dedupClusters(
        Similarity.nearDupPairs(e, 0.99)
          .select($"a_id".as("doc_a"), $"b_id".as("doc_b")))
      .as[(Long, Long)].collect().toSet
    val star = Similarity.embedClustersLsh(e, 0.99)
      .as[(Long, Long)].collect().toSet
    assert(star == exact)
    assert(exact.count { case (id, cl) => id == cl } == 3)
  }

  test("topNgrams ranks corpus bigrams per language with gram tie-break") {
    val d = Seq(
      (1L, "a b a b c", "en"),
      (2L, "a b x y", "en"),
      (3L, "q r q r", "de")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.topNgrams(d, 2, 2)
      .select("lang", "gram", "n_occurrences", "rank")
      .as[(String, String, Long, Long)].collect().toSet
    // en: "a b" ×3 (twice in doc1, once in doc2); then "b a"/"b c"/"b x"/
    // "x y" all ×1 — tie-break picks "b a".
    assert(out == Set(
      ("en", "a b", 3L, 1L), ("en", "b a", 1L, 2L),
      ("de", "q r", 2L, 1L), ("de", "r q", 1L, 2L)))
  }

  test("importanceWeights scores target-looking docs above off-target docs") {
    // target (src0) speaks {aa bb}, the rest speak {xx yy}; doc 5 mixes
    val d = Seq(
      (1L, "aa bb aa", "src0"), (2L, "bb aa bb", "src0"),
      (3L, "xx yy xx", "srcZ"), (4L, "yy xx yy", "srcZ"),
      (5L, "aa xx", "srcZ")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.importanceWeights(d, col("source") === "src0")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(1L)._1 == 3L)
    // local reference: Laplace(+1) over V=4, Tt=6 target tokens, Tc=14
    val cc = Map("aa" -> 4.0, "bb" -> 3.0, "xx" -> 4.0, "yy" -> 3.0)
    val ct = Map("aa" -> 3.0, "bb" -> 3.0, "xx" -> 0.0, "yy" -> 0.0)
    def llr(t: String) =
      math.log((ct(t) + 1) / (6 + 4.0)) - math.log((cc(t) + 1) / (14 + 4.0))
    def score(ts: String*) = ts.map(llr).sum / ts.size
    assert(math.abs(out(1L)._2 - score("aa", "bb", "aa")) < 1e-9)
    assert(math.abs(out(5L)._2 - score("aa", "xx")) < 1e-9)
    // ordering: pure-target > mixed > pure-off-target
    assert(out(1L)._2 > out(5L)._2 && out(5L)._2 > out(3L)._2)
  }

  test("containmentPairs is asymmetric: excerpt hits, superset doesn't") {
    // doc 2 = doc 1 plus a long unique tail: every 3-shingle of doc 1 is
    // in doc 2 (containment 1->2 = 1.0) but not vice versa
    val base = (1 to 10).map("w" + _).mkString(" ")
    val d = docs(
      (1L, base),
      (2L, base + " " + (20 to 40).map("z" + _).mkString(" ")),
      (3L, (100 to 110).map("q" + _).mkString(" ")))
    val out = Dedup.containmentPairs(d, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(out.map(r => (r._1, r._2)) == Set((1L, 2L)))
    assert(out.head._3 == 1.0)
  }

  test("keySkewReport flags the hot key and counts nulls as a key") {
    val rows = (Seq.fill(8)("hot") ++ Seq("a", "b", null)).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }
    val d = rows.toDF("id", "k")
    val out = graft.ops.Profile.keySkewReport(d, Seq("k", "id")).collect()
      .map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // 4 keys (hot, a, b, NULL), 11 rows, hottest 8 → share 8/11
    assert(k.getLong(1) == 4L && k.getLong(2) == 11L && k.getLong(3) == 8L)
    assert(math.abs(k.getDouble(4) - 0.727273) < 1e-9)
    // unique key column: every count is 1, share = 1/11
    val id = out("id")
    assert(id.getLong(1) == 11L && id.getLong(3) == 1L &&
      id.getDouble(5) == 1.0 && id.getDouble(6) == 1.0)
    // ONE scan for N audited columns: a single Expand (grouping sets), the
    // input relation appearing once, and no per-column Union of subplans.
    val plan = graft.ops.Profile.keySkewReport(d, Seq("k", "id"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Expand"))
    assert(plan.sliding("LocalRelation".length).count(_ == "LocalRelation") == 1)
    assert(!plan.contains("Union"))
  }

  test("semanticContaminated flags train docs near any benchmark doc") {
    val bench = Seq((100L, Array(1.0f, 0.0f)), (101L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(0.999f, 0.01f)),   // ~bench 100
      (2L, Array(0.7f, 0.7f)),      // sim ~0.707 to BOTH
      (3L, Array(-1.0f, 0.0f)))     // opposite — clean
      .toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.semanticContaminated(train, bench, 0.9)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L)._1 == 1L && out(1L)._2 > 0.999)
    // lower threshold admits doc 2 with BOTH benchmark hits
    val out2 = graft.ops.Similarity.semanticContaminated(train, bench, 0.5)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 2L))
  }

  test("lazy LSH operators release their pins with the caller's scope") {
    val rng = new scala.util.Random(11)
    val corpus = (0L until 40L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val train = corpus.filter(col("vec_id") < 30)
    val bench = corpus.filter(col("vec_id") >= 30)
    val queries = corpus.filter(col("vec_id") < 5)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    org.apache.spark.sql.graftbridge.Boundary.scoped {
      Similarity.nearDupPairsLsh(corpus, 0.4).collect()
      Similarity.semanticContaminatedLsh(train, bench, 0.5).collect()
      Similarity.semanticContaminatedLshIndexed(train,
        Similarity.buildSemIndex(bench), 0.5).collect()
      Similarity.hardNegativesBanded(corpus, queries, 5, 0.1, 0.9).collect()
      assert(!org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark))
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark))
  }

  test("semanticContaminatedLsh finds identical-embedding leaks deterministically") {
    val rng = new scala.util.Random(7)
    val bench = (0L until 20L).map(i =>
      (1000L + i, Array.fill(16)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    // train = random vectors (16-dim random pairs are far from cosine 0.95)
    // plus exact copies of two benchmark embeddings
    val benchRows = bench.as[(Long, Array[Float])].collect().toMap
    val train = ((0L until 30L).map(i =>
      (i, Array.fill(16)(rng.nextFloat() * 2 - 1))) ++
      Seq((500L, benchRows(1003L)), (501L, benchRows(1011L))))
      .toDF("vec_id", "embedding")
    val exact = graft.ops.Similarity.semanticContaminated(train, bench, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = graft.ops.Similarity.semanticContaminatedLsh(train, bench, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    // the copies MUST be flagged (full-signature path is deterministic)
    assert(lsh.map(_._1).intersect(Set(500L, 501L)) == Set(500L, 501L))
    assert(lsh == exact) // nothing else sits above 0.95 on this fixture
  }

  test("pqTopK retrieves at cluster granularity, k rows per query, deterministic") {
    // clustered corpus: vectors concentrate around 4 direction prototypes,
    // so per-subspace codebooks quantize well and ADC ranking should
    // recover most of the exact top-k
    val rng = new scala.util.Random(11)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val corpus = (0L until 200L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.1f * (rng.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    val pq = graft.ops.Similarity.pqTopK(corpus, queries, 5, m = 4, kCents = 8)
    assert(pq.select("q_id").distinct().count() == 10)
    // every query emits exactly k rows with ranks 1..k
    assert(pq.groupBy("q_id").count().select("count").as[Long].collect()
      .forall(_ == 5L))
    // coarse-quantized ADC retrieves at CLUSTER granularity: every
    // candidate comes from its query's cluster (i % 4). Within-cluster
    // fine order collapses to quantized ties by design — that's the
    // memory/fidelity trade PQ makes; rank-level recall is the q130
    // gate's and annRecall's business, not a fixture invariant.
    assert(pq.filter(col("q_id") % 4 =!= col("c_id") % 4).count() == 0)
    // deterministic: same corpus + seed => identical rows
    val pq2 = graft.ops.Similarity.pqTopK(corpus, queries, 5, m = 4, kCents = 8)
    assert(pq.collect().toSeq == pq2.collect().toSeq)
  }

  test("semanticContaminatedStream agrees with the batch LSH twin") {
    implicit val sq = spark.sqlContext
    val rng = new scala.util.Random(13)
    val bench = (0L until 15L).map(i =>
      (1000L + i, Array.fill(16)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val benchRows = bench.as[(Long, Array[Float])].collect().toMap
    val rows = (0L until 20L).map(i =>
      (i, Array.fill(16)(rng.nextFloat() * 2 - 1))) ++
      Seq((500L, benchRows(1002L)), (501L, benchRows(1009L))) // planted leaks
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val stream = MemoryStream[(java.sql.Timestamp, Long, Array[Float])]
    val sdf = stream.toDF().toDF("ingest_ts", "vec_id", "embedding")
    val q = graft.ops.Similarity
      .semanticContaminatedStream(sdf, bench, 0.95).writeStream
      .format("memory").queryName("sdecon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.zipWithIndex.map { case ((id, v), i) =>
        (ts(i.toLong), id, v) }: _*)
      // re-delivery of a leaked doc inside the watermark: collapses
      stream.addData((ts(20), 500L, benchRows(1002L)))
      q.processAllAvailable()
      stream.addData((ts(100000), 999L,
        Array.fill(16)(0.0f).updated(0, 1.0f))) // watermark push
      q.processAllAvailable()
      val got = spark.table("sdecon_out")
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.ops.Similarity.semanticContaminatedLsh(
          rows.toDF("vec_id", "embedding"), bench, 0.95)
        .as[(Long, Long, Double)].collect().toSet
      assert(got.map(_._1) == Set(500L, 501L)) // leaks flagged exactly once
      assert(got == batch)
    } finally q.stop()
  }

  test("ivfPqTopK prunes to probed cells and scores by ADC, deterministic") {
    val rng = new scala.util.Random(23)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val corpus = (0L until 200L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    val out = graft.ops.Similarity.ivfPqTopK(corpus, queries, 5,
      nCells = 4, nProbe = 2, m = 4, kCents = 8)
    // k rows per query, all from the query's own tight cluster
    assert(out.groupBy("q_id").count().select("count").as[Long].collect()
      .forall(_ == 5L))
    assert(out.filter(col("q_id") % 4 =!= col("c_id") % 4).count() == 0)
    val out2 = graft.ops.Similarity.ivfPqTopK(corpus, queries, 5,
      nCells = 4, nProbe = 2, m = 4, kCents = 8)
    assert(out.collect().toSeq == out2.collect().toSeq)
  }

  test("AnnIndex.append ingests against FROZEN quantizers; search equals a one-shot encode of the union") {
    val rng = new scala.util.Random(31)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val all = (0L until 240L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    val base = all.filter(col("vec_id") % 3 =!= 0)   // the pre-ingest index
    val fresh = all.filter(col("vec_id") % 3 === 0)  // the daily drop
    val queries = all.filter(col("vec_id") % 40 === 0)
    val idx = graft.ops.Similarity.buildIvfPqIndex(base,
      nCells = 4, m = 4, kCents = 8)
    val appended = idx.append(fresh)
    val got = appended.search(queries, 5, nProbe = 2).collect().toSeq
    // ground truth: encode the WHOLE corpus in one pass against the SAME
    // frozen quantizers (base-side fits) and search that — append must be
    // indistinguishable from a from-scratch encode under frozen literals
    val oneShot = graft.ops.Similarity.searchIvfPq(
      graft.ops.Similarity.encodeIvfPq(all, idx.cents, idx.books),
      idx.cents, idx.books, queries, 5, nProbe = 2).collect().toSeq
    assert(got == oneShot)
    // and the quantizers really are frozen: append reused the base fits
    assert(appended.cents.map(_.toSeq).toSeq == idx.cents.map(_.toSeq).toSeq)
    appended.unpersist()
  }

  test("encodeIvfPq is stateless: the same function encodes a stream, agreeing with batch") {
    implicit val sq = spark.sqlContext
    val rng = new scala.util.Random(37)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val baseRows = (0L until 120L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }
    val idx = graft.ops.Similarity.buildIvfPqIndex(
      baseRows.toDF("vec_id", "embedding"), nCells = 4, m = 4, kCents = 8)
    val dropRows = (1000L until 1030L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.Similarity.encodeIvfPq(
        stream.toDF().toDF("vec_id", "embedding"), idx.cents, idx.books)
      .writeStream.format("memory").queryName("ann_ingest_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(dropRows: _*)
      q.processAllAvailable()
      val got = spark.table("ann_ingest_out")
        .as[(Long, Int, Seq[Int])].collect().toSet
      val batch = graft.ops.Similarity.encodeIvfPq(
          dropRows.toDF("vec_id", "embedding"), idx.cents, idx.books)
        .as[(Long, Int, Seq[Int])].collect().toSet
      assert(got == batch && got.size == 30)
    } finally { q.stop(); idx.unpersist() }
  }

  test("ivfPqRefineTopK recovers the exact ranking once the refine pool covers the probed cells") {
    val rng = new scala.util.Random(53)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val corpus = (0L until 200L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    // refineFactor 10 => 50 ADC candidates per query = the full own-cluster
    // cell: the exact re-rank then sees every true neighbor (clusters are
    // tight and disjoint, so the exact top-5 is in-cluster), making refine
    // ranks IDENTICAL to the brute-force exact ranking — quantization
    // distortion fully repaired, only cell pruning could still lose (and
    // doesn't, because the query's own cell is always its nearest)
    val refined = graft.ops.Similarity.ivfPqRefineTopK(corpus, queries, 5,
      refineFactor = 10, nCells = 4, nProbe = 2, m = 4, kCents = 8)
    val exact = graft.ops.Similarity.cosineTopK(corpus, queries, 5)
    assert(refined.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(2))) ==
      exact.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(2))))
    val again = graft.ops.Similarity.ivfPqRefineTopK(corpus, queries, 5,
      refineFactor = 10, nCells = 4, nProbe = 2, m = 4, kCents = 8)
    assert(refined.collect().toSeq == again.collect().toSeq)
  }

  test("searchIvfPqStream answers a query stream identically to the batch search") {
    implicit val sq = spark.sqlContext
    val rng = new scala.util.Random(47)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val corpus = (0L until 200L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    val idx = graft.ops.Similarity.buildIvfPqIndex(corpus,
      nCells = 4, m = 4, kCents = 8)
    val qRows = (0L until 200L by 25L).map { i =>
      val p = protos((i % 4).toInt)
      (1000L + i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val stream = MemoryStream[(java.sql.Timestamp, Long, Array[Float])]
    val q = idx.searchStream(
        stream.toDF().toDF("ingest_ts", "vec_id", "embedding"), 5, nProbe = 2)
      .writeStream.format("memory").queryName("ann_serve_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(qRows.zipWithIndex.map { case ((id, v), i) =>
        (ts(i.toLong), id, v) }: _*)
      // a re-delivered query inside the watermark collapses (exactly-once)
      stream.addData((ts(50), qRows.head._1, qRows.head._2))
      q.processAllAvailable()
      stream.addData((ts(100000), 9999L, protos(0))) // watermark push
      q.processAllAvailable()
      val got = spark.table("ann_serve_out")
        .filter(col("q_id") =!= 9999L)
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = idx.search(qRows.toDF("vec_id", "embedding"), 5, nProbe = 2)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == batch && got.size == qRows.size * 5)
      assert(got.map(_._1) == qRows.map(_._1).toSet) // every query answered once
    } finally { q.stop(); idx.unpersist() }
  }

  test("searchIvfPq over an index restored from parquet equals the fresh search") {
    val rng = new scala.util.Random(43)
    val protos = Array.fill(4)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val corpus = (0L until 160L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.05f * (rng.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val idx = graft.ops.Similarity.buildIvfPqIndex(corpus,
      nCells = 4, m = 4, kCents = 8)
    val fresh = idx.search(queries, 5, nProbe = 2).collect().toSeq
    // the encoded relation is plain columnar data: write it out, read it
    // back, search against the SAME frozen quantizers — the deployment
    // restore path (no refit, no re-encode)
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    try {
      idx.index.write.mode("overwrite").parquet(s"$dir/index.parquet")
      idx.unpersist()
      val restored = spark.read.parquet(s"$dir/index.parquet")
      val got = graft.ops.Similarity.searchIvfPq(restored, idx.cents,
        idx.books, queries, 5, nProbe = 2).collect().toSeq
      assert(got == fresh)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("AnnIndex.unpersist releases every pinned relation (build + appends)") {
    spark.catalog.clearCache()
    val rng = new scala.util.Random(41)
    val all = (0L until 90L).map(i =>
      (i, Array.fill(16)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val idx = graft.ops.Similarity.buildIvfPqIndex(
      all.filter(col("vec_id") < 60), nCells = 2, m = 4, kCents = 4)
    val appended = idx.append(all.filter(col("vec_id") >= 60))
    // materialize a search so the pins are really populated
    appended.search(all.filter(col("vec_id") % 30 === 0), 3, nProbe = 2).count()
    assert(!org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark))
    appended.unpersist() // owns the base pin AND the append pin
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark))
  }

  test("fixture-silence preconditions: pass on silent corpora, allow bit-identical pairs, reject near-threshold real pairs") {
    val a = Array.fill(16)(0.5f)
    val aDup = a.clone()
    val nearA = a.clone(); nearA(0) = 0.62f // cosine ~0.997, not identical
    val far = Array.fill(16)(0.5f); far(0) = -8.0f
    // silent corpus (plus a bit-identical clone — deterministic, allowed)
    val ok = Seq((1L, a), (2L, aDup), (3L, far)).toDF("vec_id", "embedding")
    graft.ops.Similarity.requireSilentAbove(ok, 0.9, "ok fixture")
    graft.ops.Similarity.requireCrossSilentAbove(
      ok.filter(col("vec_id") === 3), ok.filter(col("vec_id") =!= 3),
      0.9, "ok cross fixture")
    // a real near-threshold, NOT bit-identical pair breaks the gate contract
    val bad = Seq((1L, a), (2L, nearA)).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Similarity.requireSilentAbove(bad, 0.9, "bad fixture")
    }
    assert(e1.getMessage.contains("bad fixture"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Similarity.requireCrossSilentAbove(
        bad.filter(col("vec_id") === 1), bad.filter(col("vec_id") === 2),
        0.9, "bad cross fixture")
    }
    assert(e2.getMessage.contains("bad cross fixture"))
  }

  test("rankingMetrics computes MRR and NDCG@k against the exact top-k") {
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L)).toDF("q_id", "c_id", "rank")
    val approx = Seq((1L, 99L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 55L, 1L), (2L, 56L, 2L), (3L, 30L, 1L)).toDF("q_id", "c_id", "rank")
    val out = graft.ops.Similarity.rankingMetrics(exact, approx, 3)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // q1: hits at approx ranks 2,3 → mrr 1/2; dcg = 1/log2(3) + 1/log2(4),
    // idcg(3) = 1 + 1/log2(3) + 1/log2(4)
    val dcg = 1.0 / (math.log(3) / math.log(2)) + 0.5
    assert(out(1L)._1 == 3L && out(1L)._2 == 0.5)
    assert(math.abs(out(1L)._3 - dcg / (1.0 + dcg)) < 1e-6)
    // q2: no hits → both metrics 0 (query still reported)
    assert(out(2L) == ((2L, 0.0, 0.0)))
    // q3 exists only in the approximate ranking → no row
    assert(!out.contains(3L))
  }

  test("annRecall measures overlap and reports cell-missed queries as 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("q_id", "c_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (3L, 30L))
      .toDF("q_id", "c_id")
    val out = graft.ops.Similarity.annRecall(exact, approx)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((3L, 2L, 0.6667)))
    assert(out(2L) == ((2L, 0L, 0.0)))   // approx missed q2 entirely
    assert(!out.contains(3L))            // approx-only queries don't score
  }

  test("rrfFuse combines rankings by reciprocal rank with c_id tie-break") {
    val r1 = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("q_id", "c_id", "rank")
    val r2 = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q_id", "c_id", "rank")
    val out = graft.ops.Similarity.rrfFuse(Seq(r1, r2), 60, 10)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._4) -> (r._2, r._3)).toMap
    // q1: c11 = 1/62 + 1/61 ≈ 0.032525 beats c10 = 1/61 ≈ 0.016393
    assert(out((1L, 1L))._1 == 11L)
    assert(out((1L, 2L))._1 == 10L)
    assert(out((1L, 3L))._1 == 12L)
    assert(math.abs(out((1L, 1L))._2 - (1.0 / 62 + 1.0 / 61 + 1e-9)) < 1e-6)
    assert(out((2L, 1L))._1 == 20L)
    // ties (same rrf) break by c_id ascending
    val tied = graft.ops.Similarity.rrfFuse(
      Seq(Seq((1L, 7L, 1L), (1L, 3L, 1L)).toDF("q_id", "c_id", "rank")), 60, 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).map(_._2).toSeq
    assert(tied == Seq(3L, 7L))
  }

  test("newAgainstIndex drops index near-dups, keeps novel and tiny docs") {
    val base = (1 to 30).map("w" + _).mkString(" ")
    val index = docs((100L, base), (101L, (50 to 80).map("v" + _).mkString(" ")))
    val batch = Seq(
      (1L, "cp " + base),                             // near-dup of 100
      (2L, (200 to 230).map("q" + _).mkString(" ")),  // novel
      (3L, "a b"))                                    // shingle-less
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.newAgainstIndex(batch, index, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L))
    // intra-batch duplicates are NOT this operator's concern: two copies
    // of the same novel text both survive (the index is the only filter)
    val batch2 = batch.unionByName(Seq((4L, (200 to 230).map("q" + _)
      .mkString(" "))).toDF("doc_id", "text"))
    val out2 = graft.ops.Dedup.newAgainstIndex(batch2, index, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(2L, 3L, 4L))
  }

  test("newAgainstIndexStream agrees with batch and dedups re-deliveries") {
    implicit val sq = spark.sqlContext
    val base = (1 to 30).map("w" + _).mkString(" ")
    val index = docs((100L, base), (101L, (50 to 80).map("v" + _).mkString(" ")))
    val rows = Seq(
      (1L, "cp " + base),                             // near-dup of 100 → drop
      (2L, (200 to 230).map("q" + _).mkString(" ")),  // novel → survive
      (3L, "a b"))                                    // shingle-less → survive
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val sdf = stream.toDF().toDF("ingest_ts", "doc_id", "text")
    val q = graft.ops.Dedup.newAgainstIndexStream(sdf, index, 0.5).writeStream
      .format("memory").queryName("ingest_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.zipWithIndex.map { case ((id, t), i) =>
        (ts(i.toLong), id, t) }: _*)
      // re-delivered copy of doc 2 inside the watermark: collapses
      stream.addData((ts(1), 2L, rows(1)._2))
      q.processAllAvailable()
      // advance the watermark far past the drop so the per-doc groups seal
      stream.addData((ts(100000), 999L, "sentinel advancing the watermark"))
      q.processAllAvailable()
      val kept = spark.table("ingest_out")
        .select("doc_id").as[Long].collect().toSeq
      assert(kept.sorted == Seq(2L, 3L)) // == batch survivors, exactly once
      val batchOut = graft.ops.Dedup.newAgainstIndex(
          rows.toDF("doc_id", "text"), index, 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(kept.toSet == batchOut)
    } finally q.stop()
  }

  test("containment at EXACTLY the threshold survives both paths") {
    // |Sa| = 30 shingles, 27 shared: containment = 27/30 = 0.9 exactly —
    // the boundary where the naive IEEE prefix bound (⌊(1−0.9)·30⌋+1 = 3)
    // ran one short of the 3 missing shingles and dropped the pair
    // (caught by q118; pinned here as a deterministic fixture).
    val a = (1 to 32).map("w" + _).mkString(" ")            // shingles t1..t30
    val b = ((1 to 29).map("w" + _) ++ Seq("x", "y", "z")).mkString(" ")
    val d = docs((1L, a), (2L, b))
    val full = Dedup.containmentPairs(d, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.containmentPairsPrefix(d, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // symmetric fixture: b also has 30 shingles with the same 27 shared,
    // so BOTH ordered directions sit exactly on the boundary
    assert(full.map(r => (r._1, r._2)) == Set((1L, 2L), (2L, 1L)))
    assert(full.forall(_._3 == 0.9))
    assert(pref == full)
  }

  test("containmentPairsPrefix equals the full posting join on random corpora") {
    val rng = new scala.util.Random(19)
    val vocab = (1 to 12).map("v" + _)
    val rows = (0 until 40).map { i =>
      val n = 4 + rng.nextInt(20)
      (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    } :+ (100L, "v1 v2") // shorter than k=3 tokens -> empty shingle set
    val d = docs(rows: _*)
    for (t <- Seq(0.3, 0.6, 1.0)) {
      val full = Dedup.containmentPairs(d, t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.containmentPairsPrefix(d, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"threshold=$t")
      if (t == 0.3) assert(full.nonEmpty) // non-vacuous
    }
  }

  test("noveltyScores counts corpus-unique shingles per doc") {
    val d = docs(
      (1L, "a b c d e"),     // shingles abc bcd cde
      (2L, "a b c x y"),     // abc shared with doc 1; bcx cxy unique
      (3L, "p q"))           // < 3 tokens -> excluded
    val out = Dedup.noveltyScores(d)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 2L, 0.6667))) // bcd cde unique; abc df=2
    assert(out(2L) == ((3L, 2L, 0.6667)))
  }

  test("fixedK global sample: exact k, nested along k, repartition-stable") {
    val d = (0L until 57L).map(i => (i, s"t$i")).toDF("vec_id", "label")
    val s5 = Sampling.fixedK(d, "vec_id", 5, "gs8")
      .as[(Long, String)].collect().toSet
    assert(s5.size == 5)
    val s9 = Sampling.fixedK(d, "vec_id", 9, "gs8")
      .as[(Long, String)].collect().toSet
    assert(s9.size == 9 && s5.subsetOf(s9))
    val re = Sampling.fixedK(d.repartition(7), "vec_id", 5, "gs8")
      .as[(Long, String)].collect().toSet
    assert(re == s5)
    // k >= |df| returns everything
    assert(Sampling.fixedK(d, "vec_id", 100, "gs8").count() == 57)
    // single-stratum stratifiedFixedK agrees (same hash order)
    val strat = Sampling.stratifiedFixedK(
        d.withColumn("one", lit(1)), "one", "vec_id", 5, "gs8")
      .select("vec_id", "label").as[(Long, String)].collect().toSet
    assert(strat == s5)
  }

  test("tokenBudgetSelect takes best-quality docs within the budget") {
    // quality is driven by token count (length term) — long docs rank first
    val mk = (n: Int) => (1 to n).map("tok" + _).mkString(" ")
    val d = docs((1L, mk(40)), (2L, mk(30)), (3L, mk(20)), (4L, mk(10)))
    val out = Sampling.tokenBudgetSelect(d, 75)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4)
    // rank: doc1 (40) cum 40, doc2 (30) cum 70, doc3 would hit 90 > 75
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out.map(_._4).toSeq == Seq(40L, 70L))
    // budget below the best doc -> empty
    assert(Sampling.tokenBudgetSelect(d, 39).count() == 0)
  }

  test("withRunningSum equals the one-task window running sum") {
    val rng = new scala.util.Random(11)
    val d = (0 until 200).map(i => (i.toLong, rng.nextInt(50).toLong))
      .toDF("id", "v").repartition(13)
    val got = Preprocess.withRunningSum(d, Seq("id"), "v", "cum")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = d.withColumn("cum", sum("v").over(w))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == want)
  }

  test("domainMixture computes shares and uniform resampling weights") {
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"),    // 8 tokens
      (3L, "a b", "s2")).toDF("doc_id", "text", "source") // 2 tokens
    val out = TextAnalysis.domainMixture(d)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("s1") == ("s1", 2L, 8L, 0.8, 0.625))   // (1/2)/0.8
    assert(out("s2") == ("s2", 1L, 2L, 0.2, 2.5))     // (1/2)/0.2
  }

  test("vocabCoverage counts occurrences inside the learned top-k vocab") {
    val d = docs(
      (1L, "a a a b b c"),   // a:3 b:2 c:1
      (2L, "a b x"),
      (3L, "x x y"))
    // top-2 vocab by count (a:5? -> a:4? compute: a appears 3+1=4, b 2+1=3,
    // x 1+2=3, c 1, y 1) -> top2 = a(4), then b vs x tie at 3 -> 'b' by
    // token tie-break
    val out = TextAnalysis.vocabCoverage(d, 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((6L, 5L, 0.8333)))  // a,a,a,b,b in vocab; c out
    assert(out(2L) == ((3L, 2L, 0.6667)))  // a,b in; x out
    assert(out(3L) == ((3L, 0L, 0.0)))
  }

  test("clusterSizeReport histograms components with singleton fill-in") {
    val d = docs((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x"))
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.clusterSizeReport(d, clusters)
      .as[(Long, Long, Long)].collect().toSet
    // two 2-clusters {1,2} {3,4} and singleton {5}
    assert(out == Set((2L, 2L, 4L), (1L, 1L, 1L)))
  }

  test("vocabulary counts document frequency and total occurrences") {
    val d = Seq(
      (1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(d)
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("a", 2L, 3L), ("b", 1L, 1L), ("c", 1L, 1L)))
  }

  test("tfIdf scores tf·ln(N/df) and keeps top-k per doc deterministically") {
    val d = Seq(
      (1L, "a a b shared"), (2L, "c shared"), (3L, "d shared")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(d, 2)
    val doc1 = out.filter($"doc_id" === 1L)
      .select("token", "tf_idf", "rank").as[(String, Double, Long)].collect().toSeq
    // N=3. doc1: a → 2·ln(3/1) ≈ 2.1972, b → ln(3) ≈ 1.0986, shared → ln(1)=0.
    assert(doc1.map(_._1) == Seq("a", "b"))
    assert(math.abs(doc1.head._2 - 2 * math.log(3.0)) < 1e-4)
    // "shared" appears in every doc → idf 0 → never outranks a real term.
    assert(out.filter($"token" === "shared" && $"rank" === 1L).isEmpty)
  }

  test("retentionMatrix cohorts by first day and counts distinct returners") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // u1 first on d1, back on d2 (twice — must count once) and d3;
    // u2 first on d1 only; u3 first on d2, back on d3.
    val e = Seq(
      (1L, ts("2024-05-01 10:00:00")), (1L, ts("2024-05-02 09:00:00")),
      (1L, ts("2024-05-02 23:00:00")), (1L, ts("2024-05-03 01:00:00")),
      (2L, ts("2024-05-01 12:00:00")),
      (3L, ts("2024-05-02 08:00:00")), (3L, ts("2024-05-03 07:00:00"))
    ).toDF("user_id", "ts")
    val out = EventOps.retentionMatrix(e, 14)
      .select("cohort_day", "day_offset", "n_users", "retention")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(out == Set(
      ("2024-05-01", 0L, 2L, 1.0), ("2024-05-01", 1L, 1L, 0.5),
      ("2024-05-01", 2L, 1L, 0.5),
      ("2024-05-02", 0L, 1L, 1.0), ("2024-05-02", 1L, 1L, 1.0)))
  }

  test("retentionMatrix drops offsets beyond the horizon") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq((1L, ts("2024-05-01 10:00:00")),
                (1L, ts("2024-06-30 10:00:00"))).toDF("user_id", "ts")
    val out = EventOps.retentionMatrix(e, 14)
    assert(out.count() == 1) // only offset 0 survives the 14-day horizon
  }

  test("eventTransitions counts successor types in (ts, event_id) order") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // u1: A→B→A; u2: A→B. Same-ts tie (u1 events 2,3) broken by event_id.
    val e = Seq(
      (1L, ts("2024-05-01 10:00:00"), 1L, "A"),
      (1L, ts("2024-05-01 10:05:00"), 2L, "B"),
      (1L, ts("2024-05-01 10:05:00"), 3L, "A"),
      (2L, ts("2024-05-01 11:00:00"), 4L, "A"),
      (2L, ts("2024-05-01 11:30:00"), 5L, "B")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.eventTransitions(e)
      .select("from_type", "to_type", "n", "p")
      .as[(String, String, Long, Double)].collect().toSet
    assert(out == Set(("A", "B", 2L, 1.0), ("B", "A", 1L, 1.0)))
  }

  test("retentionMatrixStream matches batch cell counts on shuffled events") {
    implicit val sq = spark.sqlContext
    val raw = Cohorts.events(spark, "/root/testdata/sf0.001")
    val rows = new scala.util.Random(23).shuffle(raw
      .select($"user_id", $"ts")
      .as[(Long, java.sql.Timestamp)].collect().toSeq)
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val users = rows.map(_._1).distinct
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventOps.retentionMatrixStream(stream.toDS().map(identity), 14)
      .writeStream.format("memory").queryName("ret_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows)
      // sentinels advance the watermark past every real day; their own
      // offset exceeds maxOffset and is filtered
      stream.addData(users.map(u => (u, flushTs)))
      q.processAllAvailable()
      val streamed = spark.table("ret_out")
        .groupBy("cohort_day", "day_offset").agg(count(lit(1)).as("n_users"))
        .as[(String, Long, Long)].collect().toSet
      val batch = EventOps.retentionMatrix(raw, 14)
        .select("cohort_day", "day_offset", "n_users")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("retentionMatrixStream: a late earlier day revises the cohort before sealing") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // day-5 activity arrives first; day-3 arrives LATE but inside the
    // 3-day watermark — the user's cohort must seal at day 3, emitting
    // offsets {0, 2}, never a day-5 cohort row.
    val b1 = Seq((1L, ts("2024-05-05 10:00:00")))
    val b2 = Seq((1L, ts("2024-05-03 12:00:00")))
    val b3 = Seq((1L, ts("2030-01-01 00:00:00")))
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventOps.retentionMatrixStream(stream.toDS().map(identity),
        maxOffset = 14, watermark = "3 days")
      .writeStream.format("memory").queryName("ret_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("ret_ooo")
        .as[(String, Long)].collect().toSet
      assert(streamed == Set(("2024-05-03", 0L), ("2024-05-03", 2L)))
    } finally q.stop()
  }

  test("eventTransitionsStream matches batch edge counts on shuffled events") {
    implicit val sq = spark.sqlContext
    val raw = Cohorts.events(spark, "/root/testdata/sf0.001")
      .filter($"user_id" < 20)
    val rows = new scala.util.Random(17).shuffle(raw
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect().toSeq)
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val users = rows.map(_._1).distinct
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = EventOps.eventTransitionsStream(stream.toDS().map(identity))
      .writeStream.format("memory").queryName("trans_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows)
      // sentinels advance the watermark past every real event and stay
      // pending themselves (never sealed, never emit an edge)
      stream.addData(users.map(u => (u, flushTs, -1L, "SENTINEL")))
      q.processAllAvailable()
      val streamed = spark.table("trans_out")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().toSet
      val batch = EventOps.eventTransitions(raw)
        .select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("eventTransitionsStream: late in-watermark arrival splices the chain") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // A@10:00 and C@10:10 arrive first; B@10:05 arrives late but inside
    // the 1 h watermark. Event-time edges must read A→B, B→C — never the
    // arrival-order A→C.
    val b1 = Seq((1L, ts("2024-05-01 10:00:00"), 1L, "A"),
                 (1L, ts("2024-05-01 10:10:00"), 2L, "C"))
    val b2 = Seq((1L, ts("2024-05-01 10:05:00"), 3L, "B"))
    val b3 = Seq((1L, ts("2030-01-01 00:00:00"), -1L, "SENTINEL"))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = EventOps.eventTransitionsStream(stream.toDS().map(identity),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("trans_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("trans_ooo")
        .select("from_type", "to_type").as[(String, String)].collect().toSet
      assert(streamed == Set(("A", "B"), ("B", "C")))
    } finally q.stop()
  }

  test("heavyHittersStream seals windows exactly once, equal to batch per-window") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // two 1-hour windows; 'hot' crosses 20% in both, 'warm' only in w2;
    // the late-but-in-watermark doc must land in w1 before it seals
    val w1 = Seq(
      (ts("2024-05-01 10:00:10"), "hot hot hot cold1 cold2"),
      (ts("2024-05-01 10:20:00"), "hot warm cold3 cold4"))
    val w1late = Seq((ts("2024-05-01 10:40:00"), "hot hot cold5"))
    val w2 = Seq(
      (ts("2024-05-01 11:05:00"), "warm warm hot cold6"),
      (ts("2024-05-01 11:30:00"), "warm hot cold7"))
    val flush = Seq((ts("2030-01-01 00:00:00"), "sentinel"))
    val all = w1 ++ w1late ++ w2
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = EventOps.heavyHittersStream(stream.toDS().map(identity), 0.2,
        windowSeconds = 3600, watermark = "1 hour")
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(w1, w2, w1late, flush).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      val streamed = spark.table("hh_out")
        .select(col("window_start").cast("long"), col("token"), col("n"),
          col("share"))
        .as[(Long, String, Long, Double)].collect().toSeq
      // exactly-once: no window emitted twice
      assert(streamed.map(r => (r._1, r._2)).distinct.size == streamed.size)
      // batch reference over the same docs, same window grain
      val tok = all.toDF("ts", "text")
        .select((floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("w"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val cnt = tok.groupBy("w", "token").agg(count(lit(1)).as("n"))
      val tot = tok.groupBy("w").agg(count(lit(1)).as("tot"))
      val batch = cnt.join(tot, "w")
        .filter(col("n") > floor(lit(0.2) * col("tot")))
        .select(col("w"), col("token"), col("n"),
          graft.Num.rnd(col("n") / col("tot"), 6).as("share"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed.toSet == batch, s"streamed=$streamed batch=$batch")
      // the late w1 doc was counted: 'hot' share in w1 reflects all 6 hots
      assert(streamed.exists { case (_, t, n, _) => t == "hot" && n == 6L })
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("interEventGapsStream matches batch gap rows on shuffled events") {
    implicit val sq = spark.sqlContext
    val raw = Cohorts.events(spark, "/root/testdata/sf0.001")
      .filter($"user_id" < 20)
    val rows = new scala.util.Random(23).shuffle(raw
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect().toSeq)
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val users = rows.map(_._1).distinct
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = EventOps.interEventGapsStream(stream.toDS().map(identity))
      .writeStream.format("memory").queryName("gaps_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows)
      stream.addData(users.map(u => (u, flushTs, -1L, "SENTINEL")))
      q.processAllAvailable()
      val streamed = spark.table("gaps_out")
        .select("user_id", "event_id", "event_type", "gap_us")
        .as[(Long, Long, String, Long)].collect().toSet
      val batch = EventOps.interEventGapRows(raw)
        .select($"user_id", $"event_id", $"event_type", $"__gap_us")
        .as[(Long, Long, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("interEventGapsStream: late in-watermark arrival re-segments gaps") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // A@10:00 and C@10:10 arrive first; B@10:05 arrives late but inside
    // the watermark. Event-time gaps must read A→B=300s, B→C=300s — never
    // the arrival-order A→C=600s.
    val b1 = Seq((1L, ts("2024-05-01 10:00:00"), 1L, "A"),
                 (1L, ts("2024-05-01 10:10:00"), 2L, "C"))
    val b2 = Seq((1L, ts("2024-05-01 10:05:00"), 3L, "B"))
    val b3 = Seq((1L, ts("2030-01-01 00:00:00"), -1L, "SENTINEL"))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = EventOps.interEventGapsStream(stream.toDS().map(identity),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("gaps_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("gaps_ooo")
        .select("event_id", "gap_us").as[(Long, Long)].collect().toSet
      assert(streamed == Set((3L, 300000000L), (2L, 300000000L)))
    } finally q.stop()
  }

  test("temperatureSample keeps the smallest stratum whole, others at (nmin/n)^(1-a)") {
    val d = ((1 to 300).map(i => (i.toLong, "big")) ++
      (301 to 375).map(i => (i.toLong, "small"))).toDF("doc_id", "lang")
    val out = Sampling.temperatureSample(d, "lang", "doc_id", 0.5, "tt")
    val rates = out.select("lang", "rate").distinct()
      .as[(String, Double)].collect().toMap
    assert(rates("small") == 1.0)
    assert(math.abs(rates("big") - math.sqrt(75.0 / 300.0)) < 1e-6)
    // every small-stratum row survives; big stratum is actually thinned
    assert(out.filter($"lang" === "small").count() == 75)
    val kbig = out.filter($"lang" === "big").count()
    assert(kbig < 300 && kbig > 75) // ≈ 150 expected
    // α=1 keeps the natural mix — rate 1 everywhere
    assert(Sampling.temperatureSample(d, "lang", "doc_id", 1.0, "tt").count() == 375)
  }

  test("shuffleOrder is a deterministic permutation with no global window") {
    val d = (1 to 500).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    val out = Sampling.shuffleOrder(d, "doc_id", "sh")
    val pos = out.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (0L until 500L))
    // deterministic across reruns
    val again = Sampling.shuffleOrder(d, "doc_id", "sh")
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toSet
    assert(again == out.select("doc_id", "shuffle_pos")
      .as[(Long, Long)].collect().toSet)
    // matches the single-task row_number twin (the oracle's construction)
    val u = Sampling.hashUnit($"doc_id", "sh")
    val twin = d.withColumn("__u", u)
      .withColumn("p", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"__u", $"doc_id"))
        .cast("long") - 1)
      .select("doc_id", "p").as[(Long, Long)].collect().toSet
    assert(again == twin)
  }

  test("pivotDailyCounts widens to one zero-filled column per event type") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (ts("2024-05-01 10:00:00"), "click"), (ts("2024-05-01 11:00:00"), "click"),
      (ts("2024-05-01 12:00:00"), "view"),
      (ts("2024-05-02 09:00:00"), "view")).toDF("ts", "event_type")
    val out = EventOps.pivotDailyCounts(e)
    assert(out.columns.toSeq == Seq("day", "click", "view")) // sorted types
    val rows = out.orderBy("day")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(("2024-05-01", 2L, 1L),
                       ("2024-05-02", 0L, 1L))) // absent cell is 0, not null
  }

  test("pivotDailyCounts degrades on empty input and skips null types") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val empty = Seq.empty[(java.sql.Timestamp, String)].toDF("ts", "event_type")
    val out0 = EventOps.pivotDailyCounts(empty)
    assert(out0.columns.toSeq == Seq("day") && out0.count() == 0)
    val withNull = Seq((ts("2024-05-01 10:00:00"), "click"),
      (ts("2024-05-01 11:00:00"), null)).toDF("ts", "event_type")
    val out1 = EventOps.pivotDailyCounts(withNull)
    assert(out1.columns.toSeq == Seq("day", "click")) // null never a column
    assert(out1.as[(String, Long)].collect().toSeq == Seq(("2024-05-01", 1L)))
  }

  test("interleaveByStrata is a stride-scheduled permutation") {
    val d = ((1 to 200).map(i => (i.toLong, "a")) ++
      (201 to 300).map(i => (i.toLong, "b"))).toDF("doc_id", "lang")
    val out = Sampling.interleaveByStrata(d, "lang", "doc_id",
      Map("a" -> 2.0), 1.0, "il")
    val rows = out.select("interleave_pos", "lang")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 300L)) // dense permutation
    // stride property: strata appear at their weight ratio in EVERY
    // aligned prefix — after 3k positions, 2k of a and k of b (both
    // strata still live: a's rank r sorts at r/2, b's at r, so positions
    // [0, 3k) hold a-ranks 1..2k and b-ranks 1..k exactly)
    for (k <- Seq(10, 30, 90)) {
      val prefix = rows.take(3 * k)
      assert(prefix.count(_._2 == "a") == 2 * k, s"prefix ${3 * k}")
    }
    // deterministic rerun
    val again = Sampling.interleaveByStrata(d, "lang", "doc_id",
        Map("a" -> 2.0), 1.0, "il")
      .select("doc_id", "interleave_pos").as[(Long, Long)].collect().toSet
    assert(again == out.select("doc_id", "interleave_pos")
      .as[(Long, Long)].collect().toSet)
  }

  test("collocations rank bound pairs above independent ones") {
    // "new york" always co-occurs (PMI high); "the cat"/"the dog" split
    // "the"'s mass (lower PMI); all pairs clear minCount = 5.
    val d = (1 to 6).map(i =>
      (i.toLong, "en", "new york " + (if (i % 2 == 0) "the cat" else "the dog")))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.collocations(d, 5, 10)
      .select("lang", "w1", "w2", "n_pair", "pmi", "rank")
      .as[(String, String, String, Long, Double, Long)].collect()
      .sortBy(_._6)
    assert(out.head._2 == "new" && out.head._3 == "york" && out.head._4 == 6L)
    // every reported pair really occurred ≥ minCount times adjacently
    assert(out.forall(_._4 >= 5L))
    // hand-computed: p(new york) = 6/18, p(new) = p(york) = 6/24
    // → pmi = ln((1/3) / (1/16)) = ln(16/3) ≈ 1.6740
    val pmiByPair = out.map(r => (r._2, r._3) -> r._5).toMap
    assert(math.abs(pmiByPair(("new", "york")) - math.log(16.0 / 3.0)) < 1e-3)
    // (the, cat): n_pair = 3 < minCount — PMI noise floor drops it
    assert(!pmiByPair.contains(("the", "cat")))
    // (york, the) is equally bound here (same count ratios); the tie is
    // broken lexicographically, which is what put new/york at rank 1
    assert(pmiByPair(("york", "the")) == pmiByPair(("new", "york")))
  }

  test("madOutliers flags far points without letting them inflate the scale") {
    // 19 values at 10±2 plus one at 1000: mean/stddev z would dilute, MAD
    // doesn't. Degenerate group "flat" (MAD = 0) scores 0 everywhere.
    val d = ((1 to 19).map(i => (i.toLong, "a", 10.0 + (i % 5) - 2)) ++
      Seq((20L, "a", 1000.0)) ++
      (21 to 25).map(i => (i.toLong, "flat", 7.0))).toDF("id", "g", "v")
    val out = Summary.madOutliers(d, "v", Seq("g"), 3.0)
      .select("id", "g", "robust_z", "outlier")
      .as[(Long, String, Double, Long)].collect().map(r => r._1 -> ((r._3, r._4))).toMap
    assert(out(20L)._2 == 1L) // the far point is flagged
    assert((1 to 19).forall(i => out(i.toLong)._2 == 0L)) // inliers are not
    assert((21 to 25).forall(i => out(i.toLong) == ((0.0, 0L)))) // MAD=0 → 0
  }

  test("hourlyAnomalies flags the burst hour against per-type MAD") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // 9 steady hours of 2-3 events (varied — identical counts would
    // collapse MAD to 0) + one 40-event burst hour for "click"
    val steady = for (h <- 0 until 9; i <- 0 until (2 + h % 2)) yield
      (ts(f"2024-05-01 $h%02d:${i * 7}%02d:00"), "click", 1.0)
    val burst = (0 until 40).map(i =>
      (ts(f"2024-05-01 12:${i % 60}%02d:${i % 50}%02d"), "click", 1.0))
    val e = (steady ++ burst).zipWithIndex.map { case ((t, ty, v), i) =>
      (i.toLong, t, i.toLong % 7, ty, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.hourlyAnomalies(e, 3.0)
      .select("hour_start", "outlier")
      .as[(String, Long)].collect().toMap
    assert(out("2024-05-01 12:00:00") == 1L) // the burst is flagged
    assert(out.count(_._2 == 1L) == 1)       // nothing else is
  }

  test("sourceDivergence scores matching sources ~0 and divergent ones high") {
    // s1/s2 share the corpus-dominant distribution; s3 is disjoint tokens
    val d = (
      (1 to 10).map(i => (i.toLong, "s1", "common words here")) ++
      (11 to 20).map(i => (i.toLong, "s2", "common words here")) ++
      (21 to 22).map(i => (i.toLong, "s3", "alien vocabulary entirely"))
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceDivergence(d)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("s1")._1 == 30L) // 10 docs × 3 tokens
    assert(out("s3")._1 == 6L)
    // s1 and s2 are the bulk of the corpus → near-zero divergence;
    // s3's tokens never occur elsewhere → large positive divergence
    assert(out("s1")._2 < 0.2 && out("s2")._2 < 0.2)
    assert(out("s3")._2 > 1.0)
    // KL is non-negative for every source
    out.values.foreach { case (_, kl) => assert(kl >= -1e-9) }
  }

  test("histogram bins per group with clamped max and sparse empty bins") {
    val d = (Seq.tabulate(10)(i => ("a", i.toDouble)) :+ ("a", 100.0))
      .++(Seq(("b", 5.0), ("b", 5.0))) // degenerate group: mn = mx
      .toDF("g", "v")
    val out = Summary.histogram(d, "v", Seq("g"), 10)
      .select("g", "bin", "bin_lo", "bin_hi", "n")
      .as[(String, Long, Double, Double, Long)].collect().toSet
    // group a spans [0, 100], width 10: values 0..9 land in bin 0,
    // the max lands exactly on 10·width and clamps into bin 9.
    assert(out == Set(
      ("a", 0L, 0.0, 10.0, 10L), ("a", 9L, 90.0, 100.0, 1L),
      ("b", 0L, 5.0, 5.0, 2L)))
  }

  test("temporalSplit: monotone time boundaries, all rows labeled") {
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    val d = (1 to 100).map(i => (i.toLong, ts(i))).toDF("event_id", "ts")
    val out = Sampling.temporalSplit(d, "ts", Seq("train", "val", "test"),
        Seq(0.8, 0.9))
      .select($"split", unix_micros($"ts").as("us"))
      .as[(String, Long)].collect()
    assert(out.length == 100)
    val byName = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    // strict temporal ordering: max(train) < min(val), max(val) < min(test)
    assert(byName("train").max < byName("val").min)
    assert(byName("val").max < byName("test").min)
    // ~80/10/10 on distinct minutes
    assert(byName("train").length == 80 && byName("val").length == 10)
    // a null timestamp must raise, not silently contaminate the test set
    val withNull = d.unionByName(
      Seq((0L, Option.empty[java.sql.Timestamp])).toDF("event_id", "ts"))
    intercept[Exception] {
      Sampling.temporalSplit(withNull, "ts", Seq("a", "b"), Seq(0.5)).collect()
    }
    // duplicate fractions are a misconfiguration (middle split always empty)
    intercept[IllegalArgumentException] {
      Sampling.temporalSplit(d, "ts", Seq("a", "b", "c"), Seq(0.8, 0.8))
    }
  }

  test("userFeatures: one row per user with exact cardinalities") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val d = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "a", 2.0),
      (2L, ts("2024-01-02 11:00:00"), 7L, "a", 3.0),
      (3L, ts("2024-01-02 12:00:00"), 7L, "b", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.userFeatures(d)
      .as[(Long, Long, Long, Long, String, String, Double, Double)]
      .collect().toSeq
    assert(out == Seq((7L, 3L, 2L, 2L,
      "2024-01-01 10:00:00", "2024-01-02 12:00:00", 10.0, 3.3333)))
  }

  test("label rebalance: learned k equalizes class sizes deterministically") {
    val e = ((1 to 30).map(i => (i.toLong, "x")) ++ (31 to 40).map(i => (i.toLong, "y")))
      .toDF("vec_id", "label")
    val kmin = e.groupBy("label").count().agg(min("count")).head().getLong(0).toInt
    val out = Sampling.stratifiedFixedK(e, "label", "vec_id", kmin, "lb7")
    val sizes = out.groupBy("label").count().as[(String, Long)].collect().toMap
    assert(sizes == Map("x" -> 10L, "y" -> 10L))
    // deterministic under the content-addressed hash
    val again = Sampling.stratifiedFixedK(e, "label", "vec_id", kmin, "lb7")
    assert(out.collect().map(_.toSeq).toSet == again.collect().map(_.toSeq).toSet)
  }

  test("adaptiveSessionize learns the gap from the median inter-event gap") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 10: gaps 10s, 10s, 3600s → median 10s → threshold 30s: the hour
    // jump starts a new session under the LEARNED gap (a fixed 1800s
    // default would need the jump to be bigger than 30 min)
    val d = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "a", 1.0),
      (2L, ts("2024-01-01 00:00:10"), 10L, "a", 1.0),
      (3L, ts("2024-01-01 00:00:20"), 10L, "a", 1.0),
      (4L, ts("2024-01-01 01:00:20"), 10L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.adaptiveSessionize(d)
      .select("user_id", "session_no", "n_events", "gap_s")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out.map(_._4).distinct == Seq(30L))
    assert(out.map(r => (r._2, r._3)) == Seq((1L, 3L), (2L, 1L)))
    // no user with two events → no learnable threshold: assignment is
    // threshold-independent (all firsts) and gap_s is SQL-null, matching
    // the oracle's empty-aggregate scalar
    val single = Seq((1L, ts("2024-01-01 00:00:00"), 10L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val srow = EventOps.adaptiveSessionize(single)
      .select("session_no", "gap_s").collect()
    assert(srow.length == 1 && srow.head.getLong(0) == 1L && srow.head.isNullAt(1))
  }

  test("equiDepthBins: equal counts on distinct values, ties share a bin") {
    // 20 distinct values → 4 bins of 5 (boundaries fall between values)
    val d = (1 to 20).map(i => ("g", i.toDouble)).toDF("g", "v")
    val out = Summary.equiDepthBins(d, "v", Seq("g"), 4)
      .select("bin", "n", "v_min", "v_max")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._2) == Seq(5L, 5L, 5L, 5L))
    assert(out.head._3 == 1.0 && out.last._4 == 20.0)
    // a massive tie cannot be split: all equal values share one bin
    val ties = (1 to 10).map(_ => ("g", 7.0)).toDF("g", "v")
    val tout = Summary.equiDepthBins(ties, "v", Seq("g"), 4)
      .select("bin", "n").as[(Long, Long)].collect().toSeq
    assert(tout == Seq((0L, 10L)))
    // an all-null group has no boundaries: rows land in bin 0 (the DuckDB
    // list_filter convention), never a null bin
    val nulls = Seq(("g", Option.empty[Double]), ("g", None))
      .toDF("g", "v")
    val nout = Summary.equiDepthBins(nulls, "v", Seq("g"), 4)
      .select("bin", "n").as[(Long, Long)].collect().toSeq
    assert(nout == Seq((0L, 2L)))
  }

  test("bpePairCounts weights char pairs by corpus word frequency") {
    val d = Seq((1L, "aab ab"), (2L, "aab x")).toDF("doc_id", "text")
    // words: aab×2 (pairs aa, ab), ab×1 (pair ab), x×1 (no pair)
    val out = TextAnalysis.bpePairCounts(d, 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("ab", 3L, 1L), ("aa", 2L, 2L)))
    // repeated pair inside one word counts per position: "aaa" → aa twice
    val rep = TextAnalysis.bpePairCounts(
      Seq((1L, "aaa")).toDF("doc_id", "text"), 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(rep == Seq(("aa", 2L, 1L)))
  }

  test("interEventGaps measures same-user deltas keyed by the later type") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val d = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "view", 0.0),
      (2L, ts("2024-01-01 00:00:10"), 10L, "click", 0.0),
      (3L, ts("2024-01-01 00:00:40"), 10L, "click", 0.0),
      (4L, ts("2024-01-01 00:05:00"), 20L, "view", 0.0), // first per user: no gap
      (5L, ts("2024-01-01 00:05:02"), 20L, "buy", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.interEventGaps(d)
      .as[(String, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set("click", "buy"))
    // click gaps: 10 s and 30 s → avg 20, median 20, max 30 s
    assert(out("click") == ("click", 2L, 20.0, 20.0, 30000000L))
    assert(out("buy") == ("buy", 1L, 2.0, 2.0, 2000000L))
  }

  test("columnProfile counts rows, nulls and exact distincts in one pass") {
    val d = Seq(
      (Some(1L), Some("a")), (Some(1L), None), (Some(2L), Some("b")),
      (None, Some("a")))
      .toDF("k", "s")
    val out = Profile.columnProfile(d, Seq("k", "s"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(("k", 4L, 1L, 2L), ("s", 4L, 1L, 2L)))
    // single aggregate: the plan contains exactly one Aggregate→Expand scan
    val plan = Profile.columnProfile(d, Seq("k", "s"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Expand"))
  }

  test("columnProfileApprox tracks exact distincts within the HLL bound") {
    val d = (1 to 5000).map(i => (i.toLong, (i % 137).toLong, "s" + (i % 7)))
      .toDF("id", "k", "s")
    val exact = Profile.columnProfile(d, Seq("id", "k", "s"))
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    val approx = Profile.columnProfileApprox(d, Seq("id", "k", "s"), 0.02)
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    // no Expand in the approx plan — the sketches ride the original rows
    assert(!Profile.columnProfileApprox(d, Seq("id", "k", "s"))
      .queryExecution.optimizedPlan.toString.contains("Expand"))
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(1.0, 3 * 0.02 * n),
        s"col $c: approx ${approx(c)} vs exact $n")
    }
  }

  test("semanticDedup keeps the best-quality doc per embedding cluster") {
    // vecs 1,2 near-identical (one cluster); vec 3 orthogonal (singleton);
    // doc 4 has NO embedding (singleton by definition)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val docs = Seq(
      (1L, "short"),                                     // low quality
      (2L, (1 to 60).map("tok" + _).mkString(" ")),      // higher quality
      (3L, "lone doc"),
      (4L, "no embedding here"))
      .toDF("doc_id", "text")
    val out = Similarity.semanticDedup(docs, emb, 0.9)
      .select("doc_id", "cluster_id", "keep")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)))
    // cluster {1,2}: doc 2 wins on quality; singletons always kept
    assert(out.map(_._3) == Seq(0L, 1L, 1L, 1L))
  }

  test("semanticDedupLsh equals exact semanticDedup on clone groups") {
    // exact-clone embedding groups (the deterministic SRP regime) + a
    // no-embedding doc: the LSH composition must reproduce the exact
    // SemDeDup decision row-for-row, without the all-pairs stage.
    val bases = Seq(
      Array(1.0f, 0.0f, 0.0f, 0.5f), Array(0.0f, 1.0f, 0.0f, -0.5f),
      Array(0.0f, 0.0f, 1.0f, 0.25f))
    val emb = bases.zipWithIndex.flatMap { case (b, g) =>
      (0 until 3).map(c => ((g * 16 + c).toLong, b))
    }.toDF("vec_id", "embedding")
    val docs = (Seq(100L -> "doc with no embedding at all") ++
      bases.indices.flatMap { g =>
        (0 until 3).map(c => (g * 16 + c).toLong ->
          (1 to 20 + g * 16 + c).map("tok" + _).mkString(" "))
      }).toDF("doc_id", "text")
    val exact = Similarity.semanticDedup(docs, emb, 0.99)
      .as[(Long, Long, Double, Long)].collect().toSet
    val lsh = Similarity.semanticDedupLsh(docs, emb, 0.99)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(lsh == exact)
    // 3 clone clusters + the embedding-less singleton = 4 keepers
    assert(exact.count(_._4 == 1L) == 4)
  }

  test("hardNegativesBanded: subset of brute band with identical sims") {
    val rng = new scala.util.Random(7)
    val corpus = Seq.tabulate(60) { i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    val brute = Similarity.hardNegatives(corpus, queries, 60, 0.1, 0.9)
      .select("q_id", "c_id", "sim").as[(Long, Long, Double)].collect().toSet
    val banded = Similarity.hardNegativesBanded(corpus, queries, 5, 0.1, 0.9)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // every banded row is a true band member with the exact sim
    banded.foreach { case (q, c, _, s) => assert(brute.contains((q, c, s))) }
    // ranks are consecutive from 1 per query
    banded.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq)
    }
    // deterministic under the fixed seed
    val again = Similarity.hardNegativesBanded(corpus, queries, 5, 0.1, 0.9)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(banded.toSet == again.toSet)
  }

  test("corpusDiff classifies added/removed/changed/unchanged per group") {
    val prev = Seq((1L, "alpha", "s1"), (2L, "beta", "s1"), (3L, "gamma", "s2"),
      (4L, "delta", "s2"))
      .toDF("doc_id", "text", "source")
    val cur = Seq((1L, "alpha", "s1"), (2L, "beta CHANGED", "s1"),
      (4L, "delta", "s2"), (5L, "epsilon", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Profile.corpusDiff(prev, cur, "doc_id", Seq("text"), "source")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // s1: doc 1 unchanged, doc 2 changed; s2: doc 3 removed, doc 4
    // unchanged, doc 5 added
    assert(out == Seq(("s1", 0L, 0L, 1L, 1L), ("s2", 1L, 1L, 0L, 1L)))
  }

  test("corpusDiff fingerprints NULL, empty and sentinel-colliding content distinctly (ADVICE r11)") {
    // doc 1: NULL -> '' is a CHANGE (concat_ws alone would hash both to
    // md5("")); doc 2: NULL -> NULL is unchanged; doc 3: content equal to
    // the sentinel string itself stays unchanged (framing chars can't be
    // produced by a cast, so no false 'changed'); doc 4: '' -> '' unchanged.
    val prev = Seq((1L, None, "s"), (2L, None, "s"),
      (3L, Some(Profile.NullSentinel), "s"), (4L, Some(""), "s"))
      .toDF("doc_id", "text", "source")
    val cur = Seq((1L, Some(""), "s"), (2L, None, "s"),
      (3L, Some(Profile.NullSentinel), "s"), (4L, Some(""), "s"))
      .toDF("doc_id", "text", "source")
    val out = Profile.corpusDiff(prev, cur, "doc_id", Seq("text"), "source")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("s", 0L, 0L, 1L, 3L)))
  }

  test("distributionDrift emits every bin, clamps out-of-range, and is ~0 on identical sides") {
    val ref = (0 until 100).map(i => i.toDouble).toDF("value")
    val same = Profile.distributionDrift(ref, ref, "value", 10)
      .as[(Long, Double, Double, Long, Long, Double)].collect().toSeq
    assert(same.map(_._1).sorted == (0L until 10L))
    assert(same.forall { case (_, _, _, nr, nc, psi) =>
      nr == 10L && nc == 10L && math.abs(psi) < 1e-9 })
    // shifted+out-of-range current side: values ≥ ref max clamp into the
    // top bin, total PSI is clearly positive
    val cur = (0 until 100).map(i => i.toDouble + 150.0).toDF("value")
    val drift = Profile.distributionDrift(ref, cur, "value", 10)
      .as[(Long, Double, Double, Long, Long, Double)].collect().toSeq
    assert(drift.find(_._1 == 9L).get._5 == 100L) // all cur mass in top bin
    assert(drift.map(_._6).sum > 1.0)
    // bin edges span the REFERENCE range
    assert(drift.find(_._1 == 0L).get._2 == 0.0)
    assert(drift.find(_._1 == 9L).get._3 == 99.0)
  }

  test("distributionDrift is self-contained: no cached blocks accrete per call (VERDICT r13 #6)") {
    val ref = (0 until 100).map(i => i.toDouble).toDF("value")
    val cur = (0 until 100).map(i => i.toDouble + 5.0).toDF("value")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the monitor's deployment shape is a LOOP in a long-lived session —
    // three iterations must not grow the persisted-block set
    val outs = (1 to 3).map { _ =>
      Profile.distributionDrift(ref, cur, "value", 10)
        .as[(Long, Double, Double, Long, Long, Double)].collect().toSeq
    }
    assert(outs.distinct.size == 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"drift monitor left ${leaked.size} cached blocks behind")
  }

  test("distributionDriftStream scores windows against frozen reference bins, equal to batch") {
    implicit val sq = spark.sqlContext
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // frozen reference: uniform over [0, 100) in 5 bins, 20 per bin
    val mn = 0.0; val mx = 100.0
    val refCounts = Array.fill(5)(20L)
    // w1 matches the reference; w2 is shifted high (mass clamps into the
    // top bin); the flush row seals both
    val w1 = (0 until 50).map(i => (ts("2024-05-01 10:00:10"), i * 2.0))
    val w2 = (0 until 50).map(i => (ts("2024-05-01 11:10:00"), 95.0 + i))
    val flush = Seq((ts("2030-01-01 00:00:00"), 1.0))
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val q = Profile.distributionDriftStream(
        stream.toDS().toDF("ts", "value"), "value", "ts", mn, mx, refCounts,
        windowDur = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(w1, w2, flush).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("drift_out")
        .select(col("window_start").cast("long"), col("bin"), col("n_cur"),
          col("psi_term"))
        .as[(Long, Long, Long, Double)].collect().toSeq
      // exactly-once, all 5 bins per sealed window
      assert(streamed.map(r => (r._1, r._2)).distinct.size == streamed.size)
      assert(streamed.count(_._1 == ts("2024-05-01 10:00:00").getTime / 1000) == 5)
      // the in-range window barely drifts; the shifted window's top bin
      // carries clear positive PSI mass
      val w1psi = streamed.filter(_._1 == ts("2024-05-01 10:00:00").getTime / 1000)
      assert(math.abs(w1psi.map(_._4).sum) < 0.01)
      val w2rows = streamed.filter(_._1 == ts("2024-05-01 11:00:00").getTime / 1000)
      assert(w2rows.find(_._2 == 4L).get._3 == 50L) // all mass clamped high
      assert(w2rows.map(_._4).sum > 1.0)
      // batch agreement: same function over the same rows as a batch frame
      val batch = Profile.distributionDriftStream(
          (w1 ++ w2 ++ flush).toDF("ts", "value"), "value", "ts",
          mn, mx, refCounts, windowDur = "1 hour", watermark = "1 hour")
        .select(col("window_start").cast("long"), col("bin"), col("n_cur"),
          col("psi_term"))
        .as[(Long, Long, Long, Double)].collect().toSeq
      // stream output misses only the unsealed flush window
      val sealedBatch = batch.filterNot(_._1 == ts("2030-01-01 00:00:00").getTime / 1000)
      assert(streamed.toSet == sealedBatch.toSet)
    } finally q.stop()
  }

  test("indexDriftReport flags off-manifold ingest with higher quantization error") {
    val rng2 = new scala.util.Random(59)
    val protos = Array.fill(4)(Array.fill(16)(rng2.nextFloat() * 2 - 1))
    // base: tight around the prototypes the codebooks will be fit on
    val base = (0L until 150L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(x => x + 0.02f * (rng2.nextFloat() - 0.5f)))
    }.toDF("vec_id", "embedding")
    // drop: drawn far off the base manifold — frozen codebooks misfit it
    val drop = (1000L until 1100L).map { i =>
      (i, Array.fill(16)(rng2.nextFloat() * 4 - 2))
    }.toDF("vec_id", "embedding")
    val out = Similarity.indexDriftReport(base, drop, m = 4, kCents = 8)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("base")._2 == 150L && out("drop")._2 == 100L)
    assert(out("drop")._3 > 4 * out("base")._3) // mean err² clearly higher
    assert(out("drop")._4 > out("base")._4)     // p95 too
    assert(out("base")._3 >= 0.0 && out("base")._5 >= 0.0)
    val again = Similarity.indexDriftReport(base, drop, m = 4, kCents = 8)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(again == out) // deterministic fit + stable rounding
  }

  test("bpeTrain learns hand-checked merges, leftmost-greedy on overlapping runs, stops when exhausted") {
    // corpus: aaab x3, ab x2, aaaa x1
    val docs = Seq((1L, "aaab aaab aaab ab ab aaaa")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs, 6)
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1).toSeq
    // iter1: (a,a) 2*3+3*1=9 beats (a,b) 5. "aaaa" merges LEFTMOST pairs
    // only -> [aa,aa] (the overlap case); "aaab" -> [aa,a,b].
    // iter2: (a,b) 3+2=5 beats (aa,a) 3. iter3: (aa,ab) 3. iter4: (aa,aa) 1.
    // iter5: no pairs left -> trainer stops at 4 merges despite nMerges=6.
    assert(out == Seq(
      (1L, "a", "a", "aa", 9L),
      (2L, "a", "b", "ab", 5L),
      (3L, "aa", "ab", "aaab", 3L),
      (4L, "aa", "aa", "aaaa", 1L)))
  }

  test("bpeSegment applies learned merges on the vocab: hand-checked token economics") {
    val docs = Seq((1L, "aaab aaab aaab ab ab aaaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, 2)
      .orderBy("iter").as[(Long, String, String, String, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    assert(merges == Seq(("a", "a"), ("a", "b")))
    // aaab -> [aa, ab] (2), ab -> [ab] (1), aaaa -> [aa, aa] (2 — the
    // leftmost-greedy overlap case); 6 words, 10 BPE tokens, 20 chars
    val out = TextAnalysis.bpeSegment(docs, merges)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 6L, 10L, 2.0)))
  }

  test("releasePipeline manifest: conservation, budget bound, shard range, deterministic") {
    val rng = new scala.util.Random(7)
    // 60 docs, 2 langs, benchmark source src0; docs 50-54 duplicate 0-4's
    // text (lexical dups). 30 distinct tokens each: quality = 0.3·1 (ttr)
    // + 0.4·0.3 (length) = 0.42, just above the 0.4 floor
    val docs = (0L until 60L).map { i =>
      val base = if (i >= 50 && i < 55) i - 50 else i
      val text = (0 until 30).map(j => s"w${base}x$j").mkString(" ")
      (i, if (i % 2 == 0) "en" else "zh",
        if (i % 20 == 19) "src0" else s"src${i % 3}", text.length.toLong, text)
    }.toDF("doc_id", "lang", "source", "n_chars", "text")
    // embeddings: docs 6 and 16 share one vector (semantic pair); rest far
    val emb = (0L until 60L).map { i =>
      val v = if (i == 16L) Array.fill(8)(0.9f)
        else if (i == 6L) Array.fill(8)(0.9f)
        else Array.tabulate(8)(d => rng.nextFloat() * 2 - 1)
      (i, v)
    }.toDF("vec_id", "embedding")
    def run() = Curation.releasePipeline(docs, emb, tokenBudget = 500,
        packBudget = 64, packShards = 2, outShards = 3, alpha = 0.5,
        modelFloor = Some(0.0))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val out = run()
    assert(out.nonEmpty && out.forall(r => r._1 >= 0 && r._1 < 3))
    // inclusive token budget bound holds across the whole release
    assert(out.map(_._4).sum <= 500L)
    // source_mix counts reconcile with n_docs per shard
    out.foreach { case (_, nPacks, nDocs, _, mix) =>
      assert(nPacks >= 1 && nDocs >= nPacks) // packs are non-empty
      val cnt = mix.split(",").map(_.split(":")(1).toLong).sum
      assert(cnt == nDocs)
      // canonical order: sources strictly increasing
      val srcs = mix.split(",").map(_.split(":")(0)).toSeq
      assert(srcs == srcs.sorted && srcs.distinct == srcs)
    }
    // benchmark source never ships
    assert(out.forall(!_._5.contains("src0:")))
    assert(run() == out) // content-addressed end to end
    spark.catalog.clearCache()
  }

  test("modelQuality scores with frozen weights: hand-checked logit, flag from rounded score, no shuffle") {
    val docs = Seq((1L, "aa bb aa"), (2L, ""), (3L, "xyz"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.modelQuality(docs)
      .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: grams = [aa, bb, aa, "aa bb", "bb aa"] (3 unigrams + 2 bigrams)
    assert(out(1L)._2 == 5L)
    def w(g: String): Double = {
      val h = g.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
      QualityModel.Weights((h % QualityModel.Dim).toInt)
    }
    val z = BigDecimal(1e-9 +
        (0.0 + w("aa") + w("bb") + w("aa") + w("aa bb") + w("bb aa")) / 5.0
        + QualityModel.Bias)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = BigDecimal(1e-9 + 1.0 / (1.0 + math.exp(-z)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._3 == expected)
    // featureless doc: logit = bias, score = sigmoid(bias)
    val sb = BigDecimal(1e-9 + 1.0 / (1.0 + math.exp(-(1e-9 + QualityModel.Bias))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2L)._3 == sb)
    // flag is the rounded score vs threshold, as 0/1 long
    out.values.foreach { case (_, _, s, f) =>
      assert(f == (if (s >= QualityModel.Threshold) 1L else 0L)) }
    // narrow plan: no exchange anywhere
    val plan = TextAnalysis.modelQuality(docs).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"))
  }

  test("modelQualityWith: frozen weights reproduce modelQuality bit-for-bit; a refreshed model moves scores") {
    val d = Seq((1L, "aa bb aa"), (2L, ""), (3L, "xyz pq rr ss tt"))
      .toDF("doc_id", "text")
    val frozen = TextAnalysis.modelQuality(d)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    val viaData = TextAnalysis.modelQualityWith(d,
        QualityModel.Weights.toSeq, QualityModel.Bias, QualityModel.Threshold)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(viaData == frozen) // identical weights ⇒ identical scores/flags
    // the scalar-Column form agrees too (the composable filter-stage API)
    val viaCol = d.select(col("doc_id"),
        TextAnalysis.modelQualityScoreWith(col("text"),
          QualityModel.Weights.toSeq, QualityModel.Bias).as("s"))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaCol == frozen.map(_._3))
    // a genuinely different model changes at least one score — the
    // deploy-without-recompile path is live, not a pass-through
    val v2 = TextAnalysis.modelQualityWith(d,
        QualityModel.Weights.toSeq.map(-_), 0.1, 0.5)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(v2.map(_._2) == frozen.map(_._2)) // n_feats is model-independent
    assert(v2.map(_._3) != frozen.map(_._3))
    // the pre-tokenized form (trainQualityModel's pinned forward pass) is
    // bit-identical to the text form — same kernel, tokenize hoisted
    val viaToks = d.select(col("doc_id"),
        TextAnalysis.modelQualityScoreFromTokens(
          TextAnalysis.tokens(col("text")),
          QualityModel.Weights.toSeq, QualityModel.Bias).as("s"))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaToks == frozen.map(_._3))
  }

  test("BPE merge table round-trips through parquet; mergePairs preserves merge order") {
    val d = docs((1L, "abab abab cd"), (2L, "abab cd cd"))
    val trained = TextAnalysis.bpeTrain(d, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    TextAnalysis.saveBpeMerges(trained, s"$dir/merges")
    val restored = TextAnalysis.loadBpeMerges(spark, s"$dir/merges")
    val a = trained.as[(Long, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val b = restored.as[(Long, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
    // mergePairs returns (lhs, rhs) in iteration order — order IS the model
    assert(TextAnalysis.mergePairs(restored) == a.map(r => (r._2, r._3)))
    // the restored table segments identically to the in-process one
    val segA = TextAnalysis.bpeSegment(d, a.map(r => (r._2, r._3)))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val segB = TextAnalysis.bpeSegment(d, TextAnalysis.mergePairs(restored))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(segA == segB)
  }

  test("bpeSegmentStream equals batch bpeSegment against a frozen merge table") {
    val d = docs((1L, "abab abab cd"), (2L, "abab cd cd"), (3L, "zz zz yy"),
      (4L, ""))
    val merges = TextAnalysis.mergePairs(TextAnalysis.bpeTrain(d, 3))
    val batch = TextAnalysis.bpeSegment(d, merges)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // the stateless twin on the same frame (works identically batch/stream)
    val twin = TextAnalysis.bpeSegmentStream(d, merges)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(twin == batch)
    assert(!batch.exists(_._1 == 4L)) // token-less doc dropped on both paths
    // and genuinely as a stream: stateless projection, append mode, no
    // watermark or state store required
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = TextAnalysis.bpeSegmentStream(
        stream.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_seg_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((1L, "abab abab cd"), (2L, "abab cd cd"), (3L, "zz zz yy"),
        (4L, ""))
      q.processAllAvailable()
      val streamed = spark.table("bpe_seg_stream")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("public contract constants: default signature length, PII patterns") {
    // the default MinHash signature length every sketch in the suite uses
    assert(Dedup.NumHashes == 32)
    // the published PII patterns match their canonical shapes (and not
    // near-misses) — the piiScan surface a caller filters on
    assert("user.name+tag@example.co.uk".matches(TextAnalysis.EmailRe))
    assert(!"not-an-email@".matches(TextAnalysis.EmailRe))
    assert(java.util.regex.Pattern.compile(TextAnalysis.Ipv4Re)
      .matcher("srv at 10.0.0.1 up").find())
    assert(!java.util.regex.Pattern.compile(TextAnalysis.Ipv4Re)
      .matcher("version 1.2").find())
  }

  test("corpusDelta labels every id across both snapshots with its churn status") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val cur = Seq((2L, "b"), (3L, "CHANGED"), (4L, ""), (5L, "new"))
      .toDF("doc_id", "text")
    val out = Profile.corpusDelta(prev, cur, "doc_id", Seq("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // NULL and '' fingerprint distinctly (the corpusDiff sentinel contract)
    assert(out == Seq((1L, "removed"), (2L, "unchanged"), (3L, "changed"),
      (4L, "changed"), (5L, "added")))
  }

  test("deltaReleaseAssignments: retained packs stable, removals gone, delta curated against the frozen release") {
    val rng = new scala.util.Random(7)
    val docRows = (0L until 60L).map { i =>
      val base = if (i >= 50 && i < 55) i - 50 else i
      val text = (0 until 30).map(j => s"w${base}x$j").mkString(" ")
      (i, if (i % 2 == 0) "en" else "zh",
        if (i % 20 == 19) "src0" else s"src${i % 3}", text.length.toLong, text)
    }
    val embRows = (0L until 60L).map { i =>
      val v = if (i == 16L || i == 6L) Array.fill(8)(0.9f)
        else Array.tabulate(8)(_ => rng.nextFloat() * 2 - 1)
      (i, v)
    }
    val docs0 = docRows.toDF("doc_id", "lang", "source", "n_chars", "text")
    val emb0 = embRows.toDF("vec_id", "embedding")
    val prior = graft.ops.Curation.releaseAssignments(docs0, emb0,
      tokenBudget = 1200, packBudget = 64, packShards = 2, outShards = 3,
      alpha = 0.5)
    val assignCols = Seq("doc_id", "lang", "shard", "tokens", "pack_id",
      "pack_key", "source", "shuffle_pos", "out_shard")
    val priorRows = prior.select(assignCols.map(col): _*)
      .as[(Long, String, Long, Long, Long, String, String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    spark.catalog.clearCache()
    assert(priorRows.size >= 3, s"fixture too thin: ${priorRows.size} prior rows")
    val shipped = priorRows.map(_._1)
    val (removedId, changedId) = (shipped(0), shipped(1))
    val keepId = shipped(2)
    val keepText = docRows.find(_._1 == keepId).get._5
    val keepVec = embRows.find(_._1 == keepId).get._2
    // delta: one shipped doc removed, one changed, three added — a lexical
    // near-dup of a retained doc (cross-lexical kill), an embedding clone
    // of a retained doc with fresh text (cross-semantic kill), and a clean
    // doc (admitted)
    def freshText(tag: String) = (0 until 30).map(j => s"$tag$j").mkString(" ")
    val added = Seq(
      (200L, "en", "src1", 0L, keepText),
      (201L, "en", "src1", 0L, freshText("semclone")),
      (202L, "zh", "src2", 0L, freshText("cleanadd")))
    val curDocs = docRows
      .filterNot(_._1 == removedId)
      .map(r => if (r._1 == changedId) r.copy(_5 = r._5 + " edited") else r)
      .++(added).toDF("doc_id", "lang", "source", "n_chars", "text")
    val curEmb = (embRows ++ Seq(
      (200L, Array.tabulate(8)(d => if (d == 0) 1f else 0f)),
      (201L, keepVec),
      (202L, Array.tabulate(8)(d => if (d == 1) -1f else 0f))))
      .filterNot(_._1 == removedId).toDF("vec_id", "embedding")
    // hermetic prior: the collected assignment rows as a literal frame (a
    // real deployment hands the operator the PERSISTED prior release, not
    // its live lineage)
    val priorDf = priorRows.toDF(assignCols: _*)
    def run() = graft.ops.Curation.deltaReleaseAssignments(priorDf, docs0,
        curDocs, curEmb, deltaTokenBudget = 10000, packBudget = 64,
        packShards = 2, outShards = 3)
      .select(assignCols.map(col): _*)
      .as[(Long, String, Long, Long, Long, String, String, Long, Long)]
      .collect().sortBy(r => (r._1, r._6)).toSeq
    val out = run()
    spark.catalog.clearCache()
    val byId = out.groupBy(_._1)
    // removed doc gone entirely; changed doc's PRIOR row gone (it may only
    // re-enter through a generation-tagged fresh pack)
    assert(!byId.contains(removedId))
    assert(byId.getOrElse(changedId, Nil).forall(_._6.startsWith("d1/")))
    // every unchanged prior row passes through VERBATIM (pack stability)
    val unchangedPrior = priorRows.filterNot(r =>
      r._1 == removedId || r._1 == changedId)
    unchangedPrior.foreach(r => assert(byId(r._1).contains(r),
      s"retained row for doc ${r._1} not stable"))
    // fresh rows: generation-tagged keys, positions strictly after the
    // prior max, round-robin out_shard of the new position
    val prevMax = priorRows.map(_._8).max
    val fresh = out.filterNot(unchangedPrior.contains)
    assert(fresh.nonEmpty)
    fresh.foreach { r =>
      assert(r._6.startsWith("d1/"), s"fresh row without generation tag: $r")
      assert(r._8 > prevMax, s"fresh pos not appended after $prevMax: $r")
      assert(r._9 == r._8 % 3, s"fresh out_shard not round-robin: $r")
    }
    // cross-side kills: the lexical near-dup and the semantic clone never
    // ship; the clean added doc does
    assert(!byId.contains(200L) && !byId.contains(201L))
    assert(byId.contains(202L))
    // content-addressed end to end
    assert(run() == out)
    spark.catalog.clearCache()
    // the restored dedup-index path is bit-neutral: build the prior
    // release's ReleaseDedupIndex, round-trip it through parquet, re-cut
    // with it — identical assignment rows (the index side skips every
    // per-char / per-vector kernel, results must not move)
    val priorIds = priorDf.select("doc_id")
    val ixDir = java.nio.file.Files.createTempDirectory("graft-relix").toString
    Io.writeReleaseIndex(graft.ops.Curation.buildReleaseIndex(
      docs0.join(priorIds, "doc_id"),
      emb0.join(priorIds.select(col("doc_id").as("vec_id")), "vec_id")), ixDir)
    val viaIndex = graft.ops.Curation.deltaReleaseAssignments(priorDf, docs0,
        curDocs, curEmb, deltaTokenBudget = 10000, packBudget = 64,
        packShards = 2, outShards = 3,
        index = Some(Io.readReleaseIndex(spark, ixDir)))
      .select(assignCols.map(col): _*)
      .as[(Long, String, Long, Long, Long, String, String, Long, Long)]
      .collect().sortBy(r => (r._1, r._6)).toSeq
    assert(viaIndex == out)
    spark.catalog.clearCache()
    // empty delta (cur == prev): the re-cut is exactly the prior rows —
    // no fresh packs, no position movement, nothing dropped
    val noChange = graft.ops.Curation.deltaReleaseAssignments(priorDf, docs0,
        docs0, emb0, deltaTokenBudget = 10000, packBudget = 64,
        packShards = 2, outShards = 3)
      .select(assignCols.map(col): _*)
      .as[(Long, String, Long, Long, Long, String, String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(noChange == priorRows)
    spark.catalog.clearCache()
  }

  test("quality-model loop closes: drift trigger → train → deploy (VERDICT r13 #2)") {
    // two label classes: long, stopword-rich, high-TTR docs (quality well
    // above the 0.4 floor) vs short repetitive ones (below it)
    def goodText(i: Int) = (0 until 110).map { j =>
      if (j % 3 == 0) Seq("the", "a", "of", "and", "to")(j % 5)
      else s"term${i}x$j"
    }.mkString(" ")
    def badText(i: Int) = (0 until 8).map(_ => s"spam$i").mkString(" ")
    val docs = ((0 until 40).map(i => (i.toLong, goodText(i))) ++
      (40 until 80).map(i => (i.toLong, badText(i)))).toDF("doc_id", "text")
    // --- monitor: the frozen model's score distribution drifts when the
    // corpus degrades (all-spam batch) — the q144 retrain trigger
    val frozenScores = TextAnalysis.modelQuality(docs)
      .select(col("model_quality").as("value"))
    val degraded = TextAnalysis.modelQuality(
        (0 until 80).map(i => (i.toLong, badText(i + 100))).toDF("doc_id", "text"))
      .select(col("model_quality").as("value"))
    val psi = Profile.distributionDrift(frozenScores, degraded, "value", 10)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(psi > 0.1, s"fixture drift must fire the PSI trigger, got $psi")
    // --- train: deterministic (same call twice → identical relation)
    val model = TextAnalysis.trainQualityModel(docs, nIter = 4, lr = 4.0)
    val (w, b) = TextAnalysis.trainedModel(model)
    val (w2, b2) = TextAnalysis.trainedModel(
      TextAnalysis.trainQualityModel(docs, nIter = 4, lr = 4.0))
    assert(w == w2 && b == b2, "trainer is not content-addressed")
    assert(w.size == graft.ops.QualityModel.Dim && w.exists(_ != 0.0))
    // --- the trained model beats the zero model on its own training
    // objective (mean log-loss against the distilled labels)
    val labels = docs.select(col("doc_id"),
        (graft.Num.rnd(TextAnalysis.qualityScore(col("text")), 4) >= 0.4)
          .cast("int").as("y"))
    assert(labels.agg(sum("y")).head.getLong(0) > 0)
    assert(labels.filter(col("y") === 0).count() > 0)
    def loss(wv: Seq[Double], bv: Double): Double = {
      val rows = TextAnalysis.modelQualityWith(docs, wv, bv, 0.5)
        .join(labels, "doc_id").select("model_quality", "y").collect()
      rows.map { r =>
        val p = math.min(math.max(r.getDouble(0), 1e-6), 1 - 1e-6)
        val y = r.getInt(1)
        -(y * math.log(p) + (1 - y) * math.log(1 - p))
      }.sum / rows.length
    }
    val trained = loss(w, b)
    val zero = loss(Seq.fill(graft.ops.QualityModel.Dim)(0.0), 0.0)
    assert(trained < zero,
      s"4 GD iterations must reduce training loss: $trained vs $zero")
    // --- deploy: the refreshed weights ship through the q145 path and
    // separate the classes the labels define
    val deployed = TextAnalysis.modelQualityWith(docs, w, b, 0.5)
      .join(labels, "doc_id")
    val meanBy = deployed.groupBy("y").agg(avg("model_quality"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(meanBy(1) > meanBy(0),
      s"deployed model does not separate the classes: $meanBy")
  }

  test("multi-generation delta chain: disjoint keys, monotone positions, verbatim transitivity, appended index (VERDICT r13 #1+#3)") {
    import org.apache.spark.sql.DataFrame
    val rng = new scala.util.Random(11)
    val assignCols = Seq("doc_id", "lang", "shard", "tokens", "pack_id",
      "pack_key", "source", "shuffle_pos", "out_shard")
    def freshText(tag: String) = (0 until 30).map(j => s"$tag$j").mkString(" ")
    def randVec() = Array.tabulate(8)(_ => rng.nextFloat() * 2 - 1)
    val docRows = (0L until 60L).map { i =>
      val text = (0 until 30).map(j => s"g${i}x$j").mkString(" ")
      (i, if (i % 2 == 0) "en" else "zh",
        if (i % 20 == 19) "src0" else s"src${i % 3}", text.length.toLong, text)
    }
    val embRows = (0L until 60L).map(i => (i, randVec()))
    val docs0 = docRows.toDF("doc_id", "lang", "source", "n_chars", "text")
    val emb0 = embRows.toDF("vec_id", "embedding")
    val base = graft.ops.Curation.releaseAssignments(docs0, emb0,
      tokenBudget = 1200, packBudget = 64, packShards = 2, outShards = 3,
      alpha = 0.5)
      .select(assignCols.map(col): _*).as[(Long, String, Long, Long, Long, String, String, Long, Long)].collect().sortBy(_._1).toSeq
    spark.catalog.clearCache()
    val baseDf = base.toDF(assignCols: _*)
    val shipped = base.map(_._1)
    assert(shipped.size >= 4, s"fixture too thin: ${shipped.size}")
    val (rm1, ch1, rm2, ch2) = (shipped(0), shipped(1), shipped(2), shipped(3))
    // generation 1 delta: remove rm1, change ch1, add 300/301
    val docRows1 = docRows.filterNot(_._1 == rm1)
      .map(r => if (r._1 == ch1) r.copy(_5 = r._5 + " edited") else r) ++
      Seq((300L, "en", "src1", 0L, freshText("gen1a")),
        (301L, "zh", "src2", 0L, freshText("gen1b")))
    val embRows1 = embRows.filterNot(_._1 == rm1) ++
      Seq((300L, randVec()), (301L, randVec()))
    val docs1 = docRows1.toDF("doc_id", "lang", "source", "n_chars", "text")
    val emb1 = embRows1.toDF("vec_id", "embedding")
    def runDelta(prior: DataFrame, prevD: DataFrame, curD: DataFrame,
                 curE: DataFrame, gen: String,
                 ix: Option[graft.ops.ReleaseDedupIndex] = None): Seq[(Long, String, Long, Long, Long, String, String, Long, Long)] = {
      val out = graft.ops.Curation.deltaReleaseAssignments(prior, prevD, curD,
          curE, deltaTokenBudget = 10000, packBudget = 64, packShards = 2,
          outShards = 3, generation = gen, index = ix)
        .select(assignCols.map(col): _*).as[(Long, String, Long, Long, Long, String, String, Long, Long)].collect().sortBy(_._1).toSeq
      spark.catalog.clearCache()
      out
    }
    val d1 = runDelta(baseDf, docs0, docs1, emb1, "d1")
    val d1Df = d1.toDF(assignCols: _*)
    // generation 2 delta on top of d1: remove rm2, change ch2, add 400/401
    val docRows2 = docRows1.filterNot(_._1 == rm2)
      .map(r => if (r._1 == ch2) r.copy(_5 = r._5 + " edited2") else r) ++
      Seq((400L, "en", "src1", 0L, freshText("gen2a")),
        (401L, "zh", "src2", 0L, freshText("gen2b")))
    val embRows2 = embRows1.filterNot(_._1 == rm2) ++
      Seq((400L, randVec()), (401L, randVec()))
    val docs2 = docRows2.toDF("doc_id", "lang", "source", "n_chars", "text")
    val emb2 = embRows2.toDF("vec_id", "embedding")
    val d2 = runDelta(d1Df, docs1, docs2, emb2, "d2")
    // pack-key generations are disjoint namespaces: base keys carry no
    // generation prefix, each fresh cohort carries exactly its own
    val baseKeys = base.map(_._6).toSet
    val d1Fresh = d1.filterNot(base.contains)
    val d2Fresh = d2.filterNot(d1.contains)
    assert(d1Fresh.nonEmpty && d2Fresh.nonEmpty, "deltas admitted nothing")
    assert(baseKeys.forall(k => !k.startsWith("d1/") && !k.startsWith("d2/")))
    assert(d1Fresh.forall(_._6.startsWith("d1/")))
    assert(d2Fresh.forall(_._6.startsWith("d2/")))
    assert((d1Fresh.map(_._6).toSet & baseKeys).isEmpty)
    assert((d2Fresh.map(_._6).toSet & (baseKeys ++ d1Fresh.map(_._6))).isEmpty)
    // global shuffle positions stay monotone per generation: every d1
    // fresh position sits after the base max, every d2 fresh position
    // after the d1 max
    assert(d1Fresh.map(_._8).min > base.map(_._8).max)
    assert(d2Fresh.map(_._8).min > d1.map(_._8).max)
    // retained-rows-verbatim is TRANSITIVE: a doc untouched by both deltas
    // carries its exact base row through d2
    val touched = Set(rm1, ch1, rm2, ch2)
    val stable = base.filterNot(r => touched.contains(r._1))
    assert(stable.nonEmpty)
    val d2ById = d2.groupBy(_._1)
    stable.foreach(r => assert(d2ById(r._1).contains(r),
      s"doc ${r._1} drifted across generations"))
    // generation collision fails fast with a clear message
    val e = intercept[IllegalArgumentException] {
      graft.ops.Curation.deltaReleaseAssignments(d1Df, docs1, docs2, emb2,
        deltaTokenBudget = 10000, packBudget = 64, packShards = 2,
        outShards = 3, generation = "d1")
    }
    assert(e.getMessage.contains("generation 'd1' already tags"), e.getMessage)
    // the d2 artifact set reconciles through the validating loader
    val relDir = java.nio.file.Files.createTempDirectory("graft-gen2").toString
    Io.writeReleaseShards(d2.toDF(assignCols: _*), s"$relDir/release")
    spark.catalog.clearCache()
    val loaded = Io.readReleaseShards(spark, s"$relDir/release")
      .select(assignCols.map(col): _*).as[(Long, String, Long, Long, Long, String, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(loaded == d2)
    // --- index lifecycle across generations (VERDICT r13 #1) ---
    // the appended index (prior artifact filtered to survivors + fresh
    // docs' delta-sized kernels) equals the from-scratch index over the
    // d1 release slice, relation for relation…
    val ix0 = graft.ops.Curation.buildReleaseIndex(
      docs0.join(baseDf.select("doc_id"), "doc_id"),
      emb0.join(baseDf.select(col("doc_id").as("vec_id")), "vec_id"))
    val ix1 = graft.ops.Curation.updateReleaseIndex(ix0, d1Df, docs0, docs1,
      emb1)
    val ix1Scratch = graft.ops.Curation.buildReleaseIndex(
      docs1.join(d1Df.select("doc_id"), "doc_id"),
      emb1.join(d1Df.select(col("doc_id").as("vec_id")), "vec_id"))
    def lexSet(ix: graft.ops.ReleaseDedupIndex) =
      ix.lexical.as[(Long, Seq[Long], Seq[Long])].collect().toSet
    def semSet(ix: graft.ops.ReleaseDedupIndex) =
      ix.semantic.as[(Long, Seq[Double], Double, Long)].collect().toSet
    assert(lexSet(ix1) == lexSet(ix1Scratch))
    assert(semSet(ix1) == semSet(ix1Scratch))
    assert(ix1.meta == ix1Scratch.meta && ix1.meta.nonEmpty)
    spark.catalog.clearCache()
    // …and a second-generation re-cut against the APPENDED artifact
    // (parquet round-tripped, like deployment) is bit-identical to the
    // live-frames d2
    val ixDir = java.nio.file.Files.createTempDirectory("graft-gen2ix").toString
    Io.writeReleaseIndex(ix1, ixDir)
    spark.catalog.clearCache()
    val d2ViaAppended = runDelta(d1Df, docs1, docs2, emb2, "d2",
      ix = Some(Io.readReleaseIndex(spark, ixDir)))
    assert(d2ViaAppended == d2)
    // a mismatched update refuses to append
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Curation.updateReleaseIndex(ix0, d1Df, docs0, docs1, emb1,
        minhashThreshold = 0.7)
    }
    assert(e2.getMessage.contains("parameter mismatch"), e2.getMessage)
    spark.catalog.clearCache()
  }
}
