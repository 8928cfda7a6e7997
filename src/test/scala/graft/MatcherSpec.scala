package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Public API surface + end-to-end runnable pipeline. */
class MatcherSpec extends SparkSpec {
  import spark.implicits._

  private val sp = CohortSpec("gclid", "conversion_value", "features", Nil, Nil)

  private def encoded(rows: (String, Double, String)*) =
    rows.toDF("gclid", "conversion_value", "conversion_item")
      .withColumn("features", Preprocess.tokenFeatures(Seq("conversion_item")))
      .drop("conversion_item")

  test("matcher API reproduces the reference call pattern") {
    val matcher = new NearestCustomerMatcher(encoded(("1", 10.0, "dress")), sp)
    val adjusted = matcher.calculateAdjustedConversions(
      encoded(("10", 20.0, "dress")), MatchStrategy.K(1))
    assert(adjusted.select("adjusted_conversion").as[Double].head() == 20.0)
  }

  test("matcher rejects non-positive conversions at construction (:79-82)") {
    assertThrows[IllegalArgumentException](
      new NearestCustomerMatcher(encoded(("1", 0.0, "dress")), sp))
  }

  test("matcher rejects mismatched feature columns (:266-284)") {
    val matcher = new NearestCustomerMatcher(encoded(("1", 10.0, "dress")), sp)
    val badNc = encoded(("10", 20.0, "dress")).withColumn("extra", lit(1))
    assertThrows[IllegalArgumentException](
      matcher.calculateAdjustedConversions(badNc, MatchStrategy.K(1)))
  }

  test("RunPipeline keys rows by ALL idCols: repeated gclids stay distinct") {
    val dir = Files.createTempDirectory("graft-dup-gclid").toString
    // gclid '1' appears twice (distinct timestamps) — the reference handles
    // this via its positional index; a head(idCols)-only key would merge the
    // two consent rows in the re-attach join and break |output| == |consent|.
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("1", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress"),
      ("10", "2021-11-20 15:00:00 UTC", 30.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")

    RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", "k=2"))

    val out = spark.read.option("header", "true")
      .csv(s"$dir/out/*/adjustments_data.csv")
    assert(out.count() == 2) // cardinality preserved despite repeated gclid
    // conservation: both nc values split 50/50 over the two equidistant
    // consent rows -> each receives (20+30)/2 = 25.0
    val adds = out.select(col("adjusted_conversion").cast("double"))
      .as[Double].collect().sorted
    assert(adds.toSeq == Seq(25.0, 25.0))
  }

  test("RunPipeline rejects non-unique id columns") {
    val dir = Files.createTempDirectory("graft-dup-id").toString
    val dup = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("1", "2021-11-20 12:00:00 UTC", 15.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    dup.write.parquet(s"$dir/consent")
    dup.write.parquet(s"$dir/noconsent")
    assertThrows[IllegalArgumentException](
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", "k=1")))
  }

  test("RunPipeline end-to-end: parquet cohorts -> per-date CSV adjustments") {
    val dir = Files.createTempDirectory("graft-e2e").toString
    // pipeline_test.py:28-67 fixture shape: one noconsent conversion of 20.0
    // on 2021-11-20, two equidistant consent conversions.
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("2", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")

    RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", "k=2"))

    // EXACT artifact names, reference parity (pipeline.py:265-295):
    // <out>/<date>/adjustments_data.csv + adjustments_summary.csv
    assert(new java.io.File(s"$dir/out/2021-11-20/adjustments_data.csv").isFile)
    assert(new java.io.File(s"$dir/out/2021-11-20/adjustments_summary.csv").isFile)
    val out = spark.read.option("header", "true")
      .csv(s"$dir/out/2021-11-20/adjustments_data.csv")
    assert(out.count() == 2)
    val adds = out.select(col("adjusted_conversion").cast("double"))
      .as[Double].collect().sorted
    assert(adds.toSeq == Seq(10.0, 10.0)) // k=2 equidistant -> 10.0 each
    val summary = spark.read.option("header", "true")
      .csv(s"$dir/out/2021-11-20/adjustments_summary.csv")
    assert(summary.count() == 1)
    assert(summary.select(col("percentage_matched_conversions").cast("double"))
      .as[Double].head() == 100.0)
  }

  test("RunPipeline end-to-end per metric string: every sklearn spelling runs") {
    val dir = Files.createTempDirectory("graft-e2e-metric").toString
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress", 5.0),
      ("2", "2021-11-20 13:00:00 UTC", 30.0, "2021-11-20", "shoe", 9.0))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item", "basket_size")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress", 5.5))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item", "basket_size")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")
    // k=1: the numeric feature (basket_size) makes gclid 1 the nearest
    // neighbor under every metric here — all 20.0 goes to it; what the loop
    // pins is that each metric string parses, routes (banded, cosine-banded,
    // and dense-fallback paths all reachable from the CLI), and conserves.
    for (m <- Seq("manhattan", "cityblock", "l1", "euclidean", "l2",
        "chebyshev", "cosine", "minkowski", "minkowski:3",
        "hamming", "braycurtis", "canberra", "sqeuclidean", "jaccard")) {
      val out = s"$dir/out-${m.replace(':', '_')}"
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", out,
        "k=1", s"metric=$m"))
      val adj = spark.read.option("header", "true")
        .csv(s"$out/2021-11-20/adjustments_data.csv")
      assert(adj.count() == 2, s"metric=$m")
      val byId = adj.select(col("gclid"),
          col("adjusted_conversion").cast("double"))
        .as[(String, Double)].collect().toMap
      assert(math.abs(byId("1") - 20.0) < 1e-9, s"metric=$m got $byId")
      assert(math.abs(byId("2") - 0.0) < 1e-9, s"metric=$m got $byId")
    }
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent",
        s"$dir/out-bad", "k=1", "metric=mahalanobis"))
    }
    // degenerate / malformed minkowski p values are curated errors, not a
    // silent pow(sum, 0) == 1.0 metric or a raw NumberFormatException
    intercept[IllegalArgumentException] {
      DistanceMetric.parse("minkowski:Infinity")
    }
    intercept[IllegalArgumentException] {
      DistanceMetric.parse("minkowski:abc")
    }
    intercept[IllegalArgumentException] { DistanceMetric.parse("minkowski:0.5") }
    // a key=value typo in the trailing args is rejected, not silently taken
    // as the dates-file path (batch) / checkpoint dir (stream)
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent",
        s"$dir/out-typo", "k=1", "metrc=cosine"))
    }
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent",
        s"$dir/out-typo", "k=1", "Metric=l2"))
    }
  }

  test("RunPipelineStream drains dates files with AvailableNow, equal to batch") {
    val dir = Files.createTempDirectory("graft-stream-e2e").toString
    val mk = (gclid: String, ts: String, v: Double, d: String) =>
      (gclid, ts, v, d, "dress")
    val consent = Seq(
      mk("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20"),
      mk("2", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20"),
      mk("3", "2021-11-21 12:00:00 UTC", 5.0, "2021-11-21"),
      mk("4", "2021-11-21 13:00:00 UTC", 5.0, "2021-11-21"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      mk("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20"),
      mk("11", "2021-11-21 14:00:00 UTC", 8.0, "2021-11-21"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")
    // two dates files pending before the stream starts — AvailableNow
    // must drain both, writing both date partitions into one output dir
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/dates"))
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f1.txt"),
      "2021-11-20\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f2.txt"),
      "2021-11-21\n".getBytes)

    RunPipelineStream.run(spark,
      Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", s"$dir/dates", "k=2"))

    assert(new java.io.File(s"$dir/out/2021-11-20/adjustments_data.csv").isFile)
    assert(new java.io.File(s"$dir/out/2021-11-21/adjustments_data.csv").isFile)
    val out = spark.read.option("header", "true")
      .csv(s"$dir/out/*/adjustments_data.csv")
    assert(out.count() == 4)
    val perDate = out.groupBy("conversion_date")
      .agg(sum(col("adjusted_conversion").cast("double")).as("s"))
      .as[(String, Double)].collect().toMap
    assert(perDate("2021-11-20") == 20.0 && perDate("2021-11-21") == 8.0)

    // restart with the same checkpoint: both files already committed — the
    // drained stream must re-process nothing (exactly-once dates handling)
    RunPipelineStream.run(spark,
      Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", s"$dir/dates", "k=2"))
    assert(spark.read.option("header", "true")
      .csv(s"$dir/out/*/adjustments_data.csv").count() == 4)
  }

  test("RunPipeline and RunPipelineStream leave no pinned relations behind") {
    val dir = Files.createTempDirectory("graft-leak").toString
    val dates = Seq("2021-11-20", "2021-11-21", "2021-11-22")
    val rows = (consent: Boolean) => for {
      (d, di) <- dates.zipWithIndex
      i <- 0 until (if (consent) 4 else 2)
    } yield (s"${if (consent) "c" else "n"}$di$i", s"$d 1$i:00:00 UTC",
      5.0 + i, d, if (i % 2 == 0) "dress" else "shoe", 1.0 + i + (if (consent) 0 else 0.5))
    for (consent <- Seq(true, false)) {
      val df = rows(consent).toDF("gclid", "conversion_timestamp", "conversion_value",
          "conversion_date", "conversion_item", "basket_size")
        .withColumn("conversion_date", to_date(col("conversion_date")))
      val name = if (consent) "consent" else "noconsent"
      df.write.parquet(s"$dir/num/$name")
      df.drop("basket_size").write.parquet(s"$dir/cat/$name")
    }
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/dates"))
    dates.zipWithIndex.foreach { case (d, i) =>
      Files.write(java.nio.file.Paths.get(s"$dir/dates/f$i.txt"), s"$d\n".getBytes)
    }
    // the session is shared with other suites: measure around each run
    spark.catalog.clearCache()
    def assertNoLeak(what: String)(run: => Unit): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$what left persisted RDDs $left")
      assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark),
        s"$what left cached relations")
    }
    def batch(in: String, strategy: String) = RunPipeline.run(spark,
      Array(s"$dir/$in/consent", s"$dir/$in/noconsent", s"$dir/out-$in-$strategy",
        strategy))
    assertNoLeak("k=2, categoricals only")(batch("cat", "k=2"))
    assertNoLeak("k=2, one numeric column")(batch("num", "k=2"))
    assertNoLeak("radius")(batch("num", "radius=2.0"))
    assertNoLeak("percentile")(batch("num", "percentile=0.5"))
    assertNoLeak("stream of three dates files")(RunPipelineStream.run(spark,
      Array(s"$dir/num/consent", s"$dir/num/noconsent", s"$dir/out-stream",
        s"$dir/dates", "k=2")))
    assert(spark.read.option("header", "true")
      .csv(s"$dir/out-stream/*/adjustments_data.csv").count() == 12)
  }

  /** Launch a CLI main in its OWN JVM — the real deployment entry, not the
    * session-injected library path: fresh SparkSession from main's builder,
    * arg parsing, exit code. Classpath and JDK17 add-opens mirror the test
    * JVM's. */
  private def runCliMain(mainClass: String, args: Seq[String]): Int = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // drain the child's output so a full pipe can't deadlock it
    val sb = new StringBuilder
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = rd.readLine()
    while (line != null) { sb.append(line).append('\n'); line = rd.readLine() }
    val code = proc.waitFor()
    if (code != 0) System.err.println(s"[$mainClass] exit $code:\n${sb.takeRight(4000)}")
    code
  }

  test("RunPipelineStream CLI main() e2e: drain, byte-equal to batch CLI, restart no-op") {
    val dir = Files.createTempDirectory("graft-cli-e2e").toString
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("2", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20", "shoe"),
      ("3", "2021-11-21 12:00:00 UTC", 5.0, "2021-11-21", "dress"),
      ("4", "2021-11-21 13:00:00 UTC", 5.0, "2021-11-21", "shoe"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress"),
      ("11", "2021-11-21 14:00:00 UTC", 8.0, "2021-11-21", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/dates"))
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f1.txt"),
      "2021-11-20\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f2.txt"),
      "2021-11-21\n".getBytes)

    // batch CLI main in its own JVM = the reference artifacts
    assert(runCliMain("graft.RunPipeline",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outBatch", "k=2",
        s"$dir/dates/f1.txt")) == 0)
    assert(runCliMain("graft.RunPipeline",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outBatch", "k=2",
        s"$dir/dates/f2.txt")) == 0)
    // streaming CLI main: AvailableNow drains both pending dates files
    assert(runCliMain("graft.RunPipelineStream",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outStream",
        s"$dir/dates", "k=2")) == 0)

    val artifacts = Seq("2021-11-20/adjustments_data.csv",
      "2021-11-21/adjustments_data.csv", "2021-11-20/adjustments_summary.csv",
      "2021-11-21/adjustments_summary.csv")
    def bytes(p: String) = Files.readAllBytes(java.nio.file.Paths.get(p))
    artifacts.foreach { a =>
      assert(new java.io.File(s"$dir/outStream/$a").isFile, a)
      assert(java.util.Arrays.equals(bytes(s"$dir/outStream/$a"),
        bytes(s"$dir/outBatch/$a")), s"stream artifact differs from batch: $a")
    }

    // checkpoint restart across JVMs: both dates committed — nothing may
    // be re-processed (artifact mtimes untouched) and content is stable
    val before = artifacts.map(a =>
      a -> new java.io.File(s"$dir/outStream/$a").lastModified).toMap
    assert(runCliMain("graft.RunPipelineStream",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outStream",
        s"$dir/dates", "k=2")) == 0)
    artifacts.foreach { a =>
      assert(new java.io.File(s"$dir/outStream/$a").lastModified == before(a),
        s"restart re-processed $a")
    }
  }
}
