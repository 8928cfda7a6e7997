package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks mirroring the reference's I/O surface
  * (SURVEY.md §2.A).
  */
object Io {

  /** Target output-file size for artifact writes (guide §6: 128 MB–1 GB;
    * the low end — index relations compress well and the measured footprint
    * below is the UNCOMPRESSED in-memory size, so files land under this).
    * Env-overridable so a deployment can match its storage's sweet spot. */
  private[graft] val TargetFileBytes: Long =
    sys.env.get("SPARK_GRAFT_TARGET_FILE_BYTES").map(_.toLong)
      .getOrElse(128L << 20)

  /** Output partition count for a relation of MEASURED `bytes` about to be
    * written: ceil(bytes / target), at least 1, never more than the plan's
    * own `current` parallelism (coalesce cannot widen, and a corpus-sized
    * relation must keep its full write parallelism). Unknown footprint
    * (bytes ≤ 0) keeps `current` — never guess smaller than the plan.
    * Pure function so the partition math is spec-testable at both tiny and
    * large stats (VERDICT r14 #5). */
  private[graft] def outputPartitionsFor(bytes: Long, current: Int,
      targetBytes: Long = TargetFileBytes): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    if (bytes <= 0 || current <= 1) math.max(1, current)
    else math.max(1, math.min(current.toLong,
      (bytes + targetBytes - 1) / targetBytes).toInt)
  }

  /** S1 — newline-separated ISO dates file → Dataset[Date]
    * (reference: pipeline.py:331-333 ReadFromText + fromisoformat). Invalid
    * lines fail the job like `date.fromisoformat` raises — `to_date` under
    * ANSI mode throws on malformed input. */
  def readDatesFile(spark: SparkSession, path: String): Dataset[java.sql.Date] = {
    import spark.implicits._
    spark.read.textFile(path)
      .filter(length(trim(col("value"))) > 0)
      .select(to_date(trim(col("value")), "yyyy-MM-dd").as("date"))
      .as[java.sql.Date]
  }

  /** S2 — parquet table scan with a half-open date-range predicate pushed
    * to the source (reference: pipeline.py:143-153; the embedded ORDER BY
    * is dropped — kNN is order-insensitive, SURVEY §2.A S2). */
  def scanDateRange(spark: SparkSession, path: String, dateCol: String,
                    startInclusive: String, endExclusive: String): DataFrame =
    spark.read.parquet(path)
      .filter(col(dateCol) >= lit(startInclusive).cast("timestamp") &&
              col(dateCol) < lit(endExclusive).cast("timestamp"))

  /** Shared per-date layout: `<out>/__date=<date>/part-*` via one
    * distributed write partitioned on the derived day — never a per-date
    * driver loop. All per-date sinks go through here so the layout contract
    * lives in one place. */
  private def perDate(df: DataFrame, dateCol: String) =
    df.withColumn("__date", date_format(col(dateCol), "yyyy-MM-dd"))
      .write.mode("overwrite")
      .partitionBy("__date")

  /** S4 — per-date CSV sink with header, no index column (reference:
    * pipeline.py:265-295 writes `<path>/<date>/adjustments_data.csv`). */
  def writeCsvPerDate(df: DataFrame, dateCol: String, outDir: String): Unit =
    perDate(df, dateCol).option("header", "true").csv(outDir)

  /** S4 with the reference's EXACT artifact names: one plain
    * `<outDir>/<date>/<fileName>` CSV per date (pipeline.py:265-295 —
    * downstream Offline Conversion Import tooling globs those names).
    * Spark writes a staged `__date=`-partitioned dir — `repartition` on the
    * derived date guarantees ONE part file per date — then a driver-side
    * FileSystem pass renames each part file to its exact destination
    * (metadata-only on HDFS-like filesystems; one rename per DATE, which is
    * dimension-sized, never per row/file-count of the corpus). Existing
    * destination files are replaced, so per-date re-runs are idempotent
    * regardless of the session's partitionOverwriteMode. This is the OCI
    * artifact sink; [[writeParquetPerDate]] remains the bulk-data path. */
  def writeCsvExact(df: DataFrame, dateCol: String, outDir: String,
                    fileName: String): Unit = {
    import org.apache.hadoop.fs.Path
    val staging = s"$outDir/.staging_${fileName.replace('.', '_')}"
    df.withColumn("__date",
        // fail fast on a null/unparseable date: it would otherwise land in
        // a __HIVE_DEFAULT_PARTITION__ dir — a silently misnamed artifact
        when(date_format(col(dateCol), "yyyy-MM-dd").isNull,
          raise_error(lit(s"writeCsvExact: null/unparseable '$dateCol' — " +
            "every row must carry a real date to name its artifact")))
          .otherwise(date_format(col(dateCol), "yyyy-MM-dd")))
      .repartition(col("__date"))
      .write.mode("overwrite").partitionBy("__date")
      // a session-level spark.sql.files.maxRecordsPerFile would split a
      // date across part files and break the one-writer-per-date invariant
      // the rename below requires — pin it off for this staged write
      .option("maxRecordsPerFile", 0)
      .option("header", "true").csv(staging)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val stagingPath = new Path(staging)
    val fs = stagingPath.getFileSystem(conf)
    fs.listStatus(stagingPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__date="))
      .foreach { d =>
        val date = d.getPath.getName.stripPrefix("__date=")
        val parts = fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        require(parts.length == 1,
          s"expected exactly one part file for $date, got ${parts.length} " +
            "(the date repartition guarantees one writer per date)")
        val destDir = new Path(s"$outDir/$date")
        fs.mkdirs(destDir)
        val dest = new Path(destDir, fileName)
        if (fs.exists(dest)) fs.delete(dest, false)
        require(fs.rename(parts.head.getPath, dest), s"rename to $dest failed")
      }
    fs.delete(stagingPath, true)
  }

  /** S5 — newline-joined text sink (reference: cloud_function/main.py:
    * 86-100,137-142 writes dates.txt). */
  def writeTextLines(lines: Dataset[String], path: String): Unit =
    lines.coalesce(1).write.mode("overwrite").text(path)

  /** Date-partitioned parquet sink — the 100 TB layout for the cohort
    * tables: one directory per day means a day-scoped job prunes to its
    * partition at PLANNING time (PartitionFilters on the scan), reading
    * none of the other days' files — strictly stronger than the row-group
    * statistics pruning a flat file gives the same predicate. */
  def writeParquetPerDate(df: DataFrame, dateCol: String, outDir: String): Unit =
    perDate(df, dateCol).parquet(outDir)

  /** Training-data RELEASE sink — the write leg of
    * [[graft.ops.Curation.releasePipeline]]: given the doc-level
    * assignment frame ([[graft.ops.Curation.releaseAssignments]]), ships
    *
    *   `<outDir>/shard-<k>.parquet`   one file per output shard
    *   `<outDir>/manifest.csv`        one row per shard (the q141 manifest)
    *
    * with EXACT artifact names (the [[writeCsvExact]] discipline — a
    * training loader globs `shard-*.parquet` and reads `manifest.csv`,
    * so staged `out_shard=`-partitioned directories won't do). Rows
    * within each shard are sorted by the packs' deterministic shuffle
    * position (then pack chain order), so the artifact BYTES are
    * reproducible run-over-run — the property that lets two release
    * builds be diffed by checksum. One distributed write repartitioned
    * on the shard id (one writer task per shard — shard count is chosen
    * by the caller to bound file size, so a single writer per file is
    * the intended parallelism), then a driver-side rename pass that is
    * O(shards), never O(rows). The manifest is computed from the SAME
    * assignment frame being written ([[graft.ops.Curation.manifestOf]]),
    * so the two artifacts cannot drift. */
  def writeReleaseShards(assignments: DataFrame, outDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = assignments.sparkSession
    val staging = s"$outDir/.staging_release"
    assignments
      .repartition(col("out_shard"))
      .sortWithinPartitions(col("out_shard"), col("shuffle_pos"),
        col("pack_id"), col("doc_id"))
      .write.mode("overwrite").partitionBy("out_shard")
      .option("maxRecordsPerFile", 0)
      .parquet(staging)
    val conf = spark.sessionState.newHadoopConf()
    val stagingPath = new Path(staging)
    val fs = stagingPath.getFileSystem(conf)
    // A re-release into an existing outDir must leave EXACTLY the
    // manifest's shard set: empty shards write no file, so a stale
    // shard-<k>.parquet from a previous (larger or differently-sharded)
    // release would be globbed by a loader even though manifest.csv no
    // longer lists it. Drop every pre-existing shard file before the
    // rename pass — still O(shards), and the staged write above already
    // committed, so a crash here never loses the new data (ADVICE r12).
    val outPath = new Path(outDir)
    if (fs.exists(outPath))
      fs.listStatus(outPath)
        .filter { f =>
          val n = f.getPath.getName
          f.isFile && n.startsWith("shard-") && n.endsWith(".parquet")
        }
        .foreach(f => fs.delete(f.getPath, false))
    fs.listStatus(stagingPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("out_shard="))
      .foreach { d =>
        val shard = d.getPath.getName.stripPrefix("out_shard=")
        val parts = fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        require(parts.length == 1,
          s"expected exactly one part file for shard $shard, got ${parts.length} " +
            "(the shard repartition guarantees one writer per shard)")
        val dest = new Path(s"$outDir/shard-$shard.parquet")
        if (fs.exists(dest)) fs.delete(dest, false)
        require(fs.rename(parts.head.getPath, dest), s"rename to $dest failed")
      }
    fs.delete(stagingPath, true)
    // manifest.csv: exactly one header + |shards| rows, exact name. Beyond
    // the counts, each row carries a CONTENT fingerprint (VERDICT r13 #4):
    // the bit_xor fold of xxhash64(doc_id, pack_key, shuffle_pos) over the
    // shard's rows — order-independent (xor commutes, and the write sort
    // needn't be replayed at check time), computed from the SAME assignment
    // frame the shards are written from, and re-derivable from the shard
    // bytes alone. [[readReleaseShards]] recomputes it per shard, so
    // truncation / bit-rot / a swapped shard file fails loudly where the
    // row-count check alone would pass.
    val mStaging = s"$outDir/.staging_manifest"
    graft.ops.Curation.manifestOf(assignments)
      .join(assignments.groupBy("out_shard")
        .agg(expr("bit_xor(xxhash64(doc_id, pack_key, shuffle_pos))")
          .as("content_hash")), "out_shard")
      .orderBy("out_shard")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(mStaging)
    val mPath = new Path(mStaging)
    val mParts = fs.listStatus(mPath)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    require(mParts.length == 1,
      s"expected one manifest part file, got ${mParts.length}")
    val mDest = new Path(s"$outDir/manifest.csv")
    if (fs.exists(mDest)) fs.delete(mDest, false)
    require(fs.rename(mParts.head.getPath, mDest), s"rename to $mDest failed")
    fs.delete(mPath, true)
  }

  /** Read-back leg of [[writeReleaseShards]] — the training loader's
    * validating entry point: reads every `shard-<k>.parquet` in a release
    * dir, reconciles the artifact set against `manifest.csv` (exactly the
    * manifest's shard ids present on disk — a stale or missing shard file
    * fails loudly here instead of silently training on the wrong corpus)
    * and checks each shard's doc count AND content fingerprint (the
    * manifest's xor-fold `content_hash`, recomputed from the shard's
    * rows) against its manifest row. Returns the doc-level assignment
    * rows with their `out_shard` re-derived from the file name.
    * Validation cost is O(shards) driver-side listing plus one narrow
    * 3-column aggregate scan per shard — content verification cannot be
    * footer-only, and the loader is about to read the data regardless. */
  def readReleaseShards(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val named = fs.listStatus(dirPath)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && n.startsWith("shard-") && n.endsWith(".parquet")
      }
      .map { f =>
        val id = f.getPath.getName
          .stripPrefix("shard-").stripSuffix(".parquet")
        // toLongOption, not toLong: a foreign file matching the glob with a
        // non-numeric id must surface through the drift diagnostic below,
        // not crash it with a NumberFormatException (ADVICE r13)
        id.toLongOption -> f.getPath
      }
    require(named.forall(_._1.isDefined),
      s"release dir $dir: unparseable shard file names " +
        s"${named.collect { case (None, p) => p.getName }.toSeq.sorted} — " +
        "foreign files have drifted into the release directory")
    val shardFiles = named
      .map { case (id, p) => id.get -> p.toString }.toMap
    val manifest = spark.read.option("header", "true").csv(s"$dir/manifest.csv")
      .select(col("out_shard").cast("long"), col("n_docs").cast("long"),
        col("content_hash").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    require(shardFiles.keySet == manifest.keySet,
      s"release dir $dir: shard files ${shardFiles.keySet.toSeq.sorted} != " +
        s"manifest shards ${manifest.keySet.toSeq.sorted} — artifacts and " +
        "manifest have drifted (partial write or stale files)")
    // a zero-shard release (empty corpus, header-only manifest) passes the
    // set reconcile vacuously but has no schema to union — fail loudly
    // instead of reduce() throwing UnsupportedOperationException (ADVICE r13)
    require(shardFiles.nonEmpty,
      s"release dir $dir: zero shard files and an empty manifest — the " +
        "release is empty; nothing to load")
    val frames = shardFiles.toSeq.sortBy(_._1).map { case (k, path) =>
      val df = spark.read.parquet(path)
      // one narrow aggregate per shard: the row count (footer-cheap) plus
      // the CONTENT fingerprint — the same order-independent xor fold the
      // writer recorded, recomputed from the shard bytes. Costs one
      // 3-column projection scan per shard; that is the price of verifying
      // content rather than cardinality, paid once at load time by the
      // consumer that is about to read the data anyway.
      val head = df.agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(doc_id, pack_key, shuffle_pos))").as("h"))
        .head()
      val (n, h) = (head.getLong(0), if (head.isNullAt(1)) 0L else head.getLong(1))
      val (mN, mH) = manifest(k)
      require(n == mN,
        s"release dir $dir: shard $k has $n rows, manifest says $mN")
      require(h == mH,
        s"release dir $dir: shard $k content hash $h != manifest $mH — " +
          "the shard's bytes do not match what the release wrote " +
          "(corruption, truncation at equal row count, or a swapped file)")
      df.withColumn("out_shard", lit(k))
    }
    frames.reduce(_ unionByName _)
  }

  /** Ship a release's dedup-index artifact
    * ([[graft.ops.ReleaseDedupIndex]]) next to its shards:
    * `<dir>/lex-index.parquet` + `<dir>/sem-index.parquet` +
    * `<dir>/index-meta.csv` (the [[graft.ops.IndexMeta]] build parameters
    * — ADVICE r13: the signatures are only meaningful at the threshold /
    * shingle k / SRP seed they were computed under, so the artifact
    * carries them and use sites verify). Plain columnar relations —
    * signatures, shingle hash sets and double-cast embeddings
    * parquet-round-trip exactly, so a re-cut against the RESTORED index
    * is bit-identical to one against the live frames (the q148 gate pins
    * this through the oracle hash); Double.toString round-trips the exact
    * IEEE threshold through the meta file. */
  def writeReleaseIndex(index: graft.ops.ReleaseDedupIndex,
                        dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    // The two relations are INDEPENDENT plans writing to disjoint paths —
    // submit both write jobs concurrently (optimization guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially) so each leg's straggler/commit tail back-fills the
    // other: wall ≈ max(leg) instead of sum.
    //
    // Each leg is staged first (the write then streams blocks instead of
    // recomputing the union/semi-join lineage, a wash cost-wise) so the
    // MEASURED footprint can size the output files (guide §6: aim for
    // 100 MB–1 GB files, never shuffle-partition-count shards of a few
    // KB): coalesce to ceil(bytes / target), capped at the plan's own
    // partition count — scale-adaptive by construction, a corpus-sized
    // index keeps its full write parallelism. The scope releases both
    // legs once written.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.graftbridge.Boundary
    import Boundary.executionContext
    def writeLeg(df: DataFrame, path: String): Unit = {
      val out = Boundary.stage(df)
      val n = outputPartitionsFor(
        out.queryExecution.analyzed.stats.sizeInBytes.toLong,
        out.rdd.getNumPartitions)
      out.coalesce(n).write.mode("overwrite").parquet(path)
    }
    Boundary.scoped {
      val legs = Seq(
        Future(writeLeg(index.lexical, s"$dir/lex-index.parquet")),
        Future(writeLeg(index.semantic, s"$dir/sem-index.parquet")))
      // Await BOTH legs before surfacing a failure (ADVICE r14): Await.result
      // on the first future rethrows while the sibling write may still be
      // mutating its output path — a caller's cleanup/retry would then race
      // a detached in-flight job. Await.ready never throws; the result pass
      // after it surfaces the first failure with nothing left running.
      legs.foreach(Await.ready(_, Duration.Inf))
      legs.foreach(Await.result(_, Duration.Inf))
    }
    index.meta.foreach { m =>
      val conf = index.lexical.sparkSession.sessionState.newHadoopConf()
      val p = new Path(s"$dir/index-meta.csv")
      val out = p.getFileSystem(conf).create(p, true)
      try out.write(
        ("minhash_threshold,shingle_k,srp_seed\n" +
          s"${m.minhashThreshold},${m.shingleK},${m.srpSeed}\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Restore a persisted release dedup index ([[writeReleaseIndex]]).
    * Pre-metadata artifacts (no `index-meta.csv`) restore with
    * `meta = None`; use sites then rely on the signature-length guard. */
  def readReleaseIndex(spark: SparkSession,
                       dir: String): graft.ops.ReleaseDedupIndex = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(s"$dir/index-meta.csv")
    val fs = p.getFileSystem(conf)
    val meta =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        require(lines.size == 2 &&
            lines.head == "minhash_threshold,shingle_k,srp_seed",
          s"malformed $p: expected the 2-line writeReleaseIndex meta " +
            s"format, got ${lines.take(3)}")
        val f = lines(1).split(",", -1)
        require(f.length == 3, s"malformed $p meta row: ${lines(1)}")
        Some(graft.ops.IndexMeta(f(0).toDouble, f(1).toInt, f(2).toLong))
      }
    graft.ops.ReleaseDedupIndex(
      spark.read.parquet(s"$dir/lex-index.parquet"),
      spark.read.parquet(s"$dir/sem-index.parquet"),
      meta)
  }

  /** Bucketed parquet table sink — the co-located-join scale path. Rows are
    * hash-distributed into `buckets` files on `bucketCol` and sorted within
    * each bucket; two tables written with the same (column, bucket count)
    * then equi-join on that column with NO exchange on either side (and no
    * sort for sort-merge), because Spark trusts the on-disk distribution.
    * At 100 TB this converts every recurring join/aggregation on the bucket
    * key — e.g. nightly cohort ⋈ adjustments re-attach, or dedup-pair
    * verification against a bucketed corpus — from a full shuffle of both
    * sides into a file-local zip. Registered through the session catalog
    * (`saveAsTable`): bucket metadata cannot be recovered from bare files.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
}
