package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft._
import graft.ops.{Curation, ReleaseDedupIndex}

/** One benchmark JVM: builds the session `RunPipeline.main` builds, runs
  * one cold job and then warm jobs in a closed loop, and writes a JSON
  * result file. Each job processes a date or generation the session has
  * not seen before.
  *
  * Arguments are `key=value`:
  *  - `workload`  day_dense | day_numeric_pct | stream_small_days | corpus_release
  *  - `input`     generated inputs; `out` outputs; `local` spark.local.dir
  *  - `strategy`  the CLI strategy (`k=3`, `percentile=0.9`)
  *  - `jobs`      comma-separated job ids (dates or generations), cold first
  *  - `seconds`   warm jobs start until this much warm time has passed …
  *  - `min_warm`  … and at least this many warm jobs ran
  *  - `trace`     1 runs the traced composition with spans and counters
  *  - `result`    where the result JSON goes
  */
object BenchMain {
  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Stop starting jobs when the output file system has less than this. */
  private val MinFreeBytes = 1L << 30

  def main(args: Array[String]): Unit = {
    val o = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyNs = nowNs()

    val tracer = if (o("trace") == "1") Some(new Tracer(spark)) else None
    lazy val workload: Composition = o("workload") match {
      case "corpus_release" => new CorpusWorkload(spark, o("input"), o("out"), tracer)
      case w => new DayWorkload(spark, o("input"), o("out"), o("strategy"),
        stream = w == "stream_small_days", tracer)
    }
    val ids = o("jobs").split(",").toSeq.filter(_.nonEmpty)
    val seconds = o("seconds").toDouble
    val minWarm = o("min_warm").toInt

    val jobs = mutable.ArrayBuffer[String]()
    var warmNs = 0L
    var stop = false
    val it = ids.iterator
    while (it.hasNext && !stop) {
      val id = it.next()
      val warm = jobs.size - 1
      if (jobs.nonEmpty && warm >= minWarm && warmNs / 1e9 >= seconds) stop = true
      else {
        tracer.foreach(_.beginJob(id))
        val free = new File(o("out")).getUsableSpace
        val t0 = nowNs()
        val error =
          if (free < MinFreeBytes) {
            stop = true
            Some(s"disk nearly full: $free bytes free")
          } else try { workload.run(id); None } catch {
            case NonFatal(e) =>
              e.printStackTrace()
              Some(s"${e.getClass.getName}: ${e.getMessage}")
          }
        val t1 = nowNs()
        if (jobs.nonEmpty) warmNs += t1 - t0
        val pinned = spark.sparkContext.getPersistentRDDs.size
        jobs += Json.obj(
          "id" -> Json.str(id), "start_ns" -> t0.toString, "end_ns" -> t1.toString,
          "ok" -> error.isEmpty.toString,
          "error" -> Json.str(error.getOrElse("")),
          "pinned_rdds" -> pinned.toString)
        if (error.isDefined) stop = true
      }
    }

    val layers = tracer.map { t =>
      t.close()
      Layers.summarize(t, cpus.toInt, warmJobs = ids.slice(1, jobs.size))
    }
    val fields = Seq(
      "ready_ns" -> readyNs.toString,
      "jobs" -> Json.arr(jobs.toSeq),
      "peak_rss_kb" -> peakRssKb().toString) ++
      layers.toSeq.flatMap { case (metrics, spans) =>
        Seq("layers" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
          "spans" -> Json.arr(spans))
      }
    Files.write(Paths.get(o("result")), Json.obj(fields: _*).getBytes(UTF_8))
    spark.stop()
  }

  /** VmHWM: the peak resident set of this JVM so far. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Write `text` to `path` through a rename, so a file-stream source never
    * lists a half-written file. */
  def writeAtomically(path: String, text: String): Unit = {
    val dest = Paths.get(path)
    Files.createDirectories(dest.getParent)
    val tmp = dest.getParent.resolveSibling(s".${dest.getFileName}.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** A workload's job, plus the span helpers its traced composition uses.
  * Untraced, a span is just its body and a boundary is the frame itself.
  * Traced, a boundary is persisted and counted inside the open span, so each
  * layer's Spark work runs under that layer's span instead of inside a later
  * write. */
abstract class Composition(spark: SparkSession, tracer: Option[Tracer]) {
  def run(id: String): Unit

  private val held = mutable.ArrayBuffer[DataFrame]()

  protected def sp[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  protected def bound(df: DataFrame): DataFrame = {
    tracer.foreach { t =>
      df.persist(StorageLevel.MEMORY_AND_DISK)
      held += df
      t.fact("rows", df.count().toDouble)
    }
    df
  }

  protected def freeBoundaries(): Unit = {
    held.foreach(_.unpersist())
    held.clear()
  }
}

/** The day workloads. Untraced, a job is the production entry point:
  * `RunPipeline.run` over a one-date dates file, or `RunPipelineStream.run`
  * after one new dates file lands. Traced, the same job runs through
  * [[tracedForDates]], a span-wrapped copy of `RunPipeline.runForDates`
  * whose outputs the benchmark compares against the untraced run's. */
final class DayWorkload(spark: SparkSession, in: String, out: String,
                        strategyArg: String, stream: Boolean,
                        tracer: Option[Tracer])
    extends Composition(spark, tracer) {
  private val consent = s"$in/consent"
  private val noconsent = s"$in/noconsent"
  private val adjusted = s"$out/adjusted"
  private val datesDir = s"$out/dates"
  private val checkpoint = s"$out/checkpoint"

  def run(date: String): Unit = {
    val datesFile = s"$datesDir/$date.txt"
    BenchMain.writeAtomically(datesFile, date + "\n")
    (tracer, stream) match {
      case (None, false) =>
        RunPipeline.run(spark, Array(consent, noconsent, adjusted, strategyArg, datesFile))
      case (None, true) =>
        RunPipelineStream.run(spark,
          Array(consent, noconsent, adjusted, datesDir, strategyArg, checkpoint))
      case (Some(_), false) =>
        sp("pipeline.run") {
          val dates = sp("io.dates") {
            Io.readDatesFile(spark, datesFile).collect().map(_.toString).toSeq
          }
          tracedForDates(dates)
        }
      case (Some(_), true) =>
        sp("pipeline.stream")(tracedStream())
    }
  }

  /** `RunPipelineStream.run`'s stream, with the traced day job as its batch
    * body. */
  private def tracedStream(): Unit = {
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")
    try {
      val q = spark.readStream
        .option("maxFilesPerTrigger", "1")
        .textFile(datesDir)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: Dataset[String], batchId: Long) =>
          val dates = batch
            .filter(length(trim(col("value"))) > 0)
            .select(to_date(trim(col("value")), "yyyy-MM-dd").cast("string").as("d"))
            .distinct().collect().map(_.getString(0)).toSeq.sorted
          if (dates.nonEmpty) tracedForDates(dates)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally prev match {
      case Some(v) => spark.conf.set(overwriteKey, v)
      case None => spark.conf.unset(overwriteKey)
    }
  }

  /** `RunPipeline.runForDates` call by call, each layer's public call in
    * its own span. The matcher builds the production result; the knn,
    * adjust and summary spans materialize the same sub-plans first, so the
    * final writes read them from the cache. */
  private def tracedForDates(dates: Seq[String]): Unit = sp("pipeline.runForDates") {
    val cfg = JobConfig(
      idCols = Seq("gclid", "conversion_timestamp"),
      conversionCol = "conversion_value",
      dateCol = "conversion_date",
      cohortCols = Seq("conversion_date"))
    val strategy = RunPipeline.parseStrategy(strategyArg)
    val inDates = (df: DataFrame) =>
      df.filter(date_format(col(cfg.dateCol), "yyyy-MM-dd").isin(dates: _*))

    val (consentRaw, ncIn, cIn) = sp("io.scan") {
      val consentRaw = spark.read.parquet(consent)
      val noconsentRaw = spark.read.parquet(noconsent)
      (consentRaw, bound(inDates(noconsentRaw)), bound(inDates(consentRaw)))
    }
    val roleCols = cfg.idCols ++ Seq(cfg.conversionCol, cfg.dateCol)
    val featureFields = consentRaw.schema.fields.filterNot(f => roleCols.contains(f.name))
    val catCols = featureFields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name).toSeq
    val numCols = featureFields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq

    val (nc0, c0) = sp("preprocess.prepare") {
      val (a, b) = CocoaPipeline.prepare(ncIn, cIn, cfg, catCols)
      (bound(a), bound(b))
    }

    val rowIdCol = "__row_id"
    val spec = CohortSpec(
      idCol = rowIdCol, valueCol = cfg.conversionCol,
      numCols = numCols, cohortCols = Seq(cfg.dateCol), metric = cfg.metric)
    val (nc, c, result) = sp("matcher.validate") {
      val addId = (df: DataFrame) =>
        df.withColumn(rowIdCol, to_json(struct(cfg.idCols.map(col(_)): _*)))
      val (nc, c) = (addId(nc0), addId(c0))
      Seq(c -> "consent", nc -> "noconsent").foreach { case (df, name) =>
        val keys = (cfg.cohortCols :+ rowIdCol).map(col(_))
        val dup = df.groupBy(keys: _*).count().filter(col("count") > 1).limit(1).count()
        require(dup == 0, s"id columns are not unique within the $name cohort")
      }
      (nc, c, new NearestCustomerMatcher(c, spec).adjustmentsAndSummary(nc, strategy))
    }

    val sel = strategy match {
      case MatchStrategy.K(k) if k >= 1 && spec.numCols.size == 1 =>
        sp("knn.topKBanded")(bound(NeighborJoin.topKBanded(c, nc, spec, k.toInt, true)))
      case MatchStrategy.K(k) =>
        sp("knn.topK")(bound(NeighborJoin.topK(
          NeighborJoin.pairs(c, nc, spec, true), spec, k, Some(c))))
      case MatchStrategy.Radius(r) =>
        sp("knn.withinRadiusBucketed")(bound(
          NeighborJoin.withinRadiusBucketed(c, nc, spec, r)))
      case MatchStrategy.Percentile(p) =>
        val pass1 = sp("knn.topKBanded") {
          bound(
            if (spec.numCols.size == 1) NeighborJoin.topKBanded(c, nc, spec, 1, true)
            else NeighborJoin.topK(NeighborJoin.pairs(c, nc, spec, true), spec, 1.0))
        }
        val radii = sp("summary.radius") {
          val nearest = Summary.nearestDistances(pass1, spec)
            .persist(StorageLevel.MEMORY_AND_DISK)
          bound(Summary.minRadiusByPercentilePerCohort(nearest, p, spec))
        }
        sp("knn.withinRadiusBucketedPerCohort")(bound(
          NeighborJoin.withinRadiusBucketedPerCohort(c, nc, radii, spec, true)))
    }
    tracer.foreach(_.fact("pairs_selected", sel.count().toDouble))
    sp("adjust.distribute")(bound(Adjust.distribute(c, Adjust.softmaxShares(sel, spec), spec)))
    sp("summary.matched")(bound(
      Summary.matchedSummary(nc, Summary.nearestDistances(sel, spec), spec)))

    sp("io.write") {
      Io.writeCsvExact(result.adjusted.drop(spec.tokenCol, rowIdCol),
        cfg.dateCol, adjusted, "adjustments_data.csv")
      val summary = result.summary.persist()
      Io.writeCsvExact(summary, cfg.dateCol, adjusted, "adjustments_summary.csv")
      summary.select(col(cfg.dateCol), col("number_matched_conversions"))
        .collect().filter(_.getLong(1) == 0L)
        .foreach(r => System.err.println(s"no matching customers for ${r.get(0)}"))
      summary.unpersist()
    }
    freeBoundaries()
  }
}

/** Weekly corpus release generations. Generation 0 is the base release:
  * `Curation.releaseAssignments`, its shards, and `buildReleaseIndex`.
  * Generation g re-cuts against the index restored from generation g-1
  * (`deltaReleaseAssignments`), writes its shards, reads them back through
  * the validating loader, and writes the updated index. There is no CLI
  * for this path, so traced and untraced runs share this composition. */
final class CorpusWorkload(spark: SparkSession, in: String, out: String,
                           tracer: Option[Tracer])
    extends Composition(spark, tracer) {
  private def docs(g: Int) = spark.read.parquet(f"$in/docs_$g%02d")
  private def emb(g: Int) = spark.read.parquet(f"$in/emb_$g%02d")
  private def rel(g: Int) = f"$out/release/gen_$g%02d"

  private def boundIx(ix: ReleaseDedupIndex) =
    ReleaseDedupIndex(bound(ix.lexical), bound(ix.semantic), ix.meta)

  def run(id: String): Unit = {
    val g = id.toInt
    sp("pipeline.release")(if (g == 0) base() else delta(g))
    freeBoundaries()
  }

  private def base(): Unit = {
    val (d0, e0) = (docs(0), emb(0))
    val assign = sp("ops.recut")(bound(Curation.releaseAssignments(d0, e0,
      tokenBudget = CorpusWorkload.BaseTokenBudget, packBudget = 256,
      packShards = 2, outShards = 4)))
    sp("io.writeShards")(Io.writeReleaseShards(assign, rel(0)))
    val ids = sp("io.readShards")(bound(Io.readReleaseShards(spark, rel(0)))).select("doc_id")
    val ix = sp("ops.index")(boundIx(Curation.buildReleaseIndex(
      d0.join(ids, "doc_id"), e0.join(ids.select(col("doc_id").as("vec_id")), "vec_id"))))
    sp("io.writeIndex")(Io.writeReleaseIndex(ix, rel(0)))
  }

  private def delta(g: Int): Unit = {
    val (prevDocs, curDocs, curEmb) = (docs(g - 1), docs(g), emb(g))
    val (prevAssign, ix) = sp("io.restore") {
      (bound(Io.readReleaseShards(spark, rel(g - 1))),
        boundIx(Io.readReleaseIndex(spark, rel(g - 1))))
    }
    val next = sp("ops.recut")(bound(Curation.deltaReleaseAssignments(
      prevAssign, prevDocs, curDocs, curEmb,
      deltaTokenBudget = CorpusWorkload.DeltaTokenBudget, packBudget = 256,
      packShards = 2, outShards = 4, generation = s"d$g", index = Some(ix))))
    sp("io.writeShards")(Io.writeReleaseShards(next, rel(g)))
    val shipped = sp("io.readShards")(bound(Io.readReleaseShards(spark, rel(g))))
    val ix2 = sp("ops.update")(boundIx(
      Curation.updateReleaseIndex(ix, shipped, prevDocs, curDocs, curEmb)))
    sp("io.writeIndex")(Io.writeReleaseIndex(ix2, rel(g)))
  }
}

object CorpusWorkload {
  val BaseTokenBudget = 60000L
  val DeltaTokenBudget = 3000L
}

/** Per-layer metrics from the spans of a traced run, each a mean per warm
  * job: the cold job's class loading and code generation would otherwise
  * land on whichever layer first runs a code path. The one exception is
  * `ops.index.self_s`: the release index is built from scratch only in the
  * base generation, which is the cold job. */
object Layers {
  val names = Seq("io", "preprocess", "matcher", "knn", "summary", "adjust",
    "pipeline", "ops")

  def summarize(t: Tracer, cores: Int, warmJobs: Seq[String])
      : (Map[String, Double], Seq[String]) = {
    val all = t.spans.toSeq
    val warm = all.filter(s => warmJobs.contains(s.job))
    val n = math.max(1, warmJobs.size).toDouble
    val children = all.groupBy(_.parent)
    def self(s: Span) = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    def total(ss: Seq[Span]) = {
      val c = new Counters
      ss.foreach(s => c.add(s.counters))
      c
    }
    def sum(pred: Span => Boolean)(f: Span => Double) = warm.filter(pred).map(f).sum / n
    val m = mutable.LinkedHashMap[String, Double]()
    for (l <- names) {
      val c = total(warm.filter(_.layer == l))
      m(s"$l.self_s") = sum(_.layer == l)(self)
      m(s"$l.jobs") = c.jobs / n
      m(s"$l.task_s") = c.taskNs / 1e9 / n
      m(s"$l.shuffle_mb") = c.shuffleBytes / 1e6 / n
      m(s"$l.spill_mb") = c.spillBytes / 1e6 / n
      m(s"$l.gc_s") = c.gcMs / 1e3 / n
    }
    val evaluated = sum(_.layer == "knn")(_.counters.joinRows.toDouble)
    val selected = sum(_ => true)(_.facts.getOrElse("pairs_selected", 0.0))
    m("knn.pairs_evaluated") = evaluated
    m("knn.pairs_selected") = selected
    m("knn.select_ratio") = if (evaluated > 0) selected / evaluated else 0.0
    val rowsIn = sum(_.name == "io.scan")(_.facts.getOrElse("rows", 0.0))
    val rowsKept = sum(_.name == "preprocess.prepare")(_.facts.getOrElse("rows", 0.0))
    m("preprocess.rows_in") = rowsIn
    m("preprocess.rows_dropped") = rowsIn - rowsKept
    val index = all.filter(_.name == "ops.index")
    m("ops.index.self_s") =
      if (index.isEmpty) 0.0 else index.map(self).sum / index.map(_.job).distinct.size
    for (op <- Seq("recut", "update"))
      m(s"ops.$op.self_s") = sum(_.name == s"ops.$op")(self)
    val c = total(warm)
    m("spark.plan_s") = c.planNs / 1e9 / n
    m("spark.jobs") = c.jobs / n
    val wall = warm.filter(_.parent < 0).map(_.seconds).sum
    m("spark.idle_core_frac") =
      if (wall > 0) 1.0 - c.taskNs / 1e9 / (wall * cores) else 0.0
    // one data batch per stream job, in job order
    val batches = all.filter(_.name == "pipeline.runForDates")
      .zip(t.batchMs.toSeq).filter { case (s, _) => warmJobs.contains(s.job) }
    m("pipeline.stream_overhead_s") =
      if (all.exists(_.name == "pipeline.stream") && batches.nonEmpty)
        batches.map { case (s, ms) => ms / 1e3 - s.seconds }.sum / batches.size
      else 0.0
    val spanJson = all.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "job" -> Json.str(s.job),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "jobs" -> s.counters.jobs.toString,
        "task_ns" -> s.counters.taskNs.toString,
        "join_rows" -> s.counters.joinRows.toString)
    }
    (m.toMap, spanJson)
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
