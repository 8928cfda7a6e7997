package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Boundary
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Size-based partition coalescing under-parallelizes the CPU-heavy
      // small-bytes pairs stages (see Bench.scala) — keep every shuffle at
      // the configured width.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // queries take boundaries (q13/q18 pairs, q26 shingle sets); the
      // scope releases them so ~150 queries' worth of blocks never squeeze
      // execution memory for later ones
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Boundary.scoped {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      if (left.nonEmpty)
        System.err.println(s"[verify] $name left ${left.size} persisted RDD(s) behind")
    }
    // Learned-literal oracles (q44) refit their model on this sf dir when
    // generating SQL — set before the oracleSql dump below.
    SparkEntry.oracleDataDir = Some(sfDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
