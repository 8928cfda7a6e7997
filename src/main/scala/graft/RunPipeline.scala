package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** The production entry point — the Spark twin of the reference's Dataflow
  * run (pipeline.py:318-360) and Cloud Function trigger
  * (cloud_function/main.py:49-83):
  *
  *   1. read the dates file (or compute a lookback window from the data's
  *      max date when no file is given — main.py:103-121),
  *   2. scan both cohort tables for those dates,
  *   3. run the adjustment under one strategy with per-date cohort scope,
  *   4. write per-date CSVs: adjustments data + summary (pipeline.py:265-295).
  *
  * All dates are processed in ONE Spark job graph, scoped by the date
  * column — not the reference's one-date-per-worker loop.
  *
  * Usage: graft.RunPipeline <consentParquet> <noconsentParquet> <outDir>
  *          [k=3 | radius=R | percentile=P] [metric=<sklearn name>] [datesFile]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Strategy CLI syntax shared with [[RunPipelineStream]]. */
  def parseStrategy(s: String): MatchStrategy = s match {
    case s if s.startsWith("k=") => MatchStrategy.K(s.drop(2).toDouble)
    case s if s.startsWith("radius=") => MatchStrategy.Radius(s.drop(7).toDouble)
    case s if s.startsWith("percentile=") => MatchStrategy.Percentile(s.drop(11).toDouble)
    case s => throw new IllegalArgumentException(s"unknown strategy: $s")
  }

  private def isStrategy(s: String): Boolean =
    s.startsWith("k=") || s.startsWith("radius=") || s.startsWith("percentile=")

  /** Guard shared with [[RunPipelineStream]]: a trailing arg that LOOKS like
    * a key=value flag but matches no known key (a typo like `metrc=cosine`
    * or `Metric=l2`) would otherwise be silently taken as the positional
    * dates-file / checkpoint path — fail fast with a usage message instead. */
  private[graft] def rejectUnknownKeyArgs(trailing: Seq[String]): Unit = {
    val known = Set("k", "radius", "percentile", "metric")
    trailing.foreach { a =>
      val eq = a.indexOf('=')
      if (eq > 0) {
        val key = a.substring(0, eq)
        require(known.contains(key),
          s"unrecognized option '$a' — supported keys: " +
            "k=|radius=|percentile=|metric= (keys are lowercase); " +
            "a bare trailing arg is the dates-file / checkpoint path")
      }
    }
  }

  /** The CLI's fixed column roles — ONE definition shared by the date-scope
    * computation and the adjustment job. */
  private val cliConfig = JobConfig(
    idCols = Seq("gclid", "conversion_timestamp"),
    conversionCol = "conversion_value",
    dateCol = "conversion_date",
    cohortCols = Seq("conversion_date"))

  /** Session-agnostic body (tests drive this with their own session).
    * Trailing args are recognized by prefix, any order: a strategy
    * (`k=|radius=|percentile=`), a `metric=<sklearn name>` (the reference's
    * config surface forwards metric strings verbatim, pipeline.py:121-140),
    * and anything else is the dates file path. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(consentPath, noconsentPath, outDir) = args.take(3)
    val trailing = args.drop(3)
    rejectUnknownKeyArgs(trailing.toSeq)
    val strategy = parseStrategy(trailing.find(isStrategy).getOrElse("k=3"))
    val metric = trailing.find(_.startsWith("metric="))
      .map(s => DistanceMetric.parse(s.stripPrefix("metric="))).getOrElse(Manhattan)
    val datesFile = trailing.filterNot(a => isStrategy(a) || a.startsWith("metric="))
      .headOption
    val cfg = cliConfig

    val noconsentRaw = spark.read.parquet(noconsentPath)

    // Date scope: explicit dates file, else a 1-day lookback from the
    // noconsent table's max date (cloud_function/main.py:34,103-121).
    val dates: Seq[String] = datesFile match {
      case Some(f) => Io.readDatesFile(spark, f).collect().map(_.toString).toSeq
      case None =>
        val maxD = noconsentRaw
          .agg(date_format(max(col(cfg.dateCol)), "yyyy-MM-dd")).first().getString(0)
        Seq(maxD)
    }
    runForDates(spark, consentPath, noconsentPath, outDir, strategy, dates, metric)
  }

  /** One adjustment job over an explicit date scope — shared by the batch
    * CLI above and the streaming driver ([[RunPipelineStream]]). Every
    * boundary the job takes is released when it returns, so a long-lived
    * session (one stream batch per day) accumulates none. */
  def runForDates(spark: SparkSession, consentPath: String, noconsentPath: String,
                  outDir: String, strategy: MatchStrategy, dates: Seq[String],
                  metric: DistanceMetric = Manhattan): Unit = Boundary.scoped {
    val cfg = cliConfig.copy(metric = metric)

    val consentRaw = spark.read.parquet(consentPath)
    val noconsentRaw = spark.read.parquet(noconsentPath)

    val inDates = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(date_format(col(cfg.dateCol), "yyyy-MM-dd").isin(dates: _*))

    // Shared feature space over every non-role column (dynamic schema:
    // categoricals = the string columns outside id/date/conversion roles).
    val roleCols = cfg.idCols ++ Seq(cfg.conversionCol, cfg.dateCol)
    val featureFields = consentRaw.schema.fields.filterNot(f => roleCols.contains(f.name))
    val catCols = featureFields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name).toSeq
    val numCols = featureFields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq
    val (nc0, c0) = CocoaPipeline.prepare(
      inDates(noconsentRaw), inDates(consentRaw), cfg, catCols)

    // Row identity must cover ALL idCols: the reference keys rows by
    // positional index precisely because id_columns = [gclid, timestamp] are
    // only unique together (gclid repeats). A repeating id would silently
    // merge softmax groups (breaking Σ shares == value) and fan out the
    // re-attach left join (breaking |output| == |consent|), so build one
    // composite id and hard-check uniqueness per cohort like the
    // reference's positional index guarantees.
    // JSON-struct encoding, not concat_ws: concat_ws silently DROPS null
    // arguments, so distinct tuples like (a, NULL) and (NULL, a) would
    // collide (and a separator char inside a value would shift the split),
    // producing a false "not unique" abort. to_json escapes values and
    // keys fields by name, so distinct tuples stay distinct.
    val rowIdCol = "__row_id"
    val addId = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn(rowIdCol, to_json(struct(cfg.idCols.map(col(_)): _*)))
    val (nc, c) = (addId(nc0), addId(c0))
    def requireUniqueIds(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val keys = (cfg.cohortCols :+ rowIdCol).map(col(_))
      val dup = df.groupBy(keys: _*).count().filter(col("count") > 1).limit(1).count()
      require(dup == 0,
        s"id columns ${cfg.idCols.mkString("(", ",", ")")} are not unique " +
          s"within the $name cohort — rows would merge/duplicate in the adjustment")
    }
    requireUniqueIds(c, "consent")
    requireUniqueIds(nc, "noconsent")

    val spec = CohortSpec(
      idCol = rowIdCol, valueCol = cfg.conversionCol,
      numCols = numCols, cohortCols = Seq(cfg.dateCol), metric = cfg.metric)
    val result = new NearestCustomerMatcher(c, spec)
      .adjustmentsAndSummary(nc, strategy)

    // Reference artifact layout: <out>/<date>/adjustments_data.csv +
    // adjustments_summary.csv (pipeline.py:265-295) — exact names, one
    // plain CSV per date.
    Io.writeCsvExact(result.adjusted.drop(spec.tokenCol, rowIdCol),
      cfg.dateCol, outDir, "adjustments_data.csv")
    // The summary aggregation feeds both the CSV write and the zero-match
    // warning below; cache it so the (noconsent scan + matched agg) DAG runs
    // once, not once per consumer.
    val summary = Boundary.pin(result.summary)
    Io.writeCsvExact(summary, cfg.dateCol, outDir, "adjustments_summary.csv")
    // reference parity: warn when a cohort matched nothing (radius too
    // tight — nearest_consented_customers.py:176-182 logs the same).
    summary
      .select(col(cfg.dateCol), col("number_matched_conversions"))
      .collect()
      .filter(_.getLong(1) == 0L)
      .foreach(r => System.err.println(
        s"[pipeline] WARNING: no matching customers for ${r.get(0)} — " +
          "no conversion values redistributed (radius too small?)"))
    println(s"[pipeline] wrote ${dates.size} date(s) to $outDir")
  }
}
