package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Boundary

/** Cohort cleaning + feature encoding.
  *
  * Mirrors `cocoa/preprocess.py`: drop null / non-positive conversions,
  * union the cohorts with a consent flag so both sides share one feature
  * space, one-hot ("dummy") encode categoricals, split back by flag.
  *
  * Two encodings are provided:
  *  - [[tokenFeatures]] — each row's active categories as an
  *    `ArrayType(StringType)` token set. Preferred: the manhattan distance
  *    over one-hot dummies is a set-difference size (see [[Manhattan]]), so
  *    the wide data-dependent dummy schema never has to exist. O(#cats) per
  *    row instead of O(#distinct values) columns — this is what survives a
  *    100 TB scale-up.
  *  - [[dummyEncode]] — faithful `pd.get_dummies` wide expansion
  *    (data-dependent schema via a distinct pass), kept for API parity and
  *    oracle checks (reference: cocoa/preprocess.py:99-104).
  */
object Preprocess {

  /** Drop rows with null or non-positive conversion values
    * (reference: cocoa/preprocess.py:30-49 `_clean_data`). */
  def clean(df: DataFrame, conversionCol: String): DataFrame =
    df.na.drop(Seq(conversionCol)).filter(col(conversionCol) > 0)

  /** Vertical union with a 0/1 consent flag, noconsent first
    * (reference: cocoa/preprocess.py:108-148). Spark's unionByName replaces
    * the pandas positional concat; the `len(concat)==len(a)+len(b)` sanity
    * check (preprocess.py:136-139) holds trivially and is pinned in tests. */
  def unionWithConsentFlag(noconsent: DataFrame, consent: DataFrame): DataFrame =
    noconsent
      .withColumn("consent", lit(0))
      .unionByName(consent.withColumn("consent", lit(1)))

  /** Split a unioned frame back into (noconsent, consent)
    * (reference: cocoa/preprocess.py:145-147). */
  def splitByConsent(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col("consent") === 0).drop("consent"),
     df.filter(col("consent") === 1).drop("consent"))

  /** Encode categorical columns as one token array: value v of column c
    * becomes token "c=v"; null categories contribute no token (pandas
    * get_dummies drops NaN). Equivalent information to the dummy block,
    * O(|catCols|) per row. */
  def tokenFeatures(catCols: Seq[String], outCol: String = "features"): Column =
    array_compact(array(catCols.map { c =>
      when(col(c).isNotNull, concat(lit(c + "="), col(c).cast("string")))
    }: _*)).as(outCol)

  /** Faithful `pd.get_dummies`: distinct pass over each categorical column,
    * then an indicator column per (col, value), alphabetically ordered like
    * pandas, named `col_value` with non-alphanumerics sanitized to '_'.
    * Data-dependent schema — use only where parity demands the wide form
    * (reference: cocoa/preprocess.py:99-104). */
  def dummyEncode(df: DataFrame, catCols: Seq[String]): DataFrame = {
    val indicator = catCols.flatMap { c =>
      val values = df.select(col(c).cast("string")).na.drop()
        .distinct().collect().map(_.getString(0)).sorted
      values.map { v =>
        when(col(c).cast("string") === v, 1).otherwise(0).as(sanitize(s"${c}_$v"))
      }
    }
    val keep = df.columns.filterNot(catCols.contains).map(col(_))
    df.select(keep ++ indicator: _*)
  }

  def sanitize(name: String): String = name.replaceAll("[^A-Za-z0-9_]", "_")

  /** Deterministic dense row ids — the Spark replacement for the pandas
    * positional index that the reference uses as the neighbor join key
    * (reference: cocoa/preprocess.py:134-135,
    * cocoa/nearest_consented_customers.py:317-319). `row_number` over an
    * explicit ordering, NOT monotonically_increasing_id, so reruns are
    * stable. Note: a global Window without partition keys funnels through a
    * single task — fine for oracle-sized data; at scale prefer carrying a
    * natural unique key (as the TPC-H adapter does with o_orderkey). */
  def withRowIds(df: DataFrame, orderCols: Seq[String], outCol: String = "idx"): DataFrame =
    df.withColumn(outCol,
      row_number().over(Window.orderBy(orderCols.map(col(_)): _*)).cast("long") - 1)

  /** Scale path for [[withRowIds]]: the same deterministic dense ids with
    * NO single-task stage — one [[rangeScan]] whose per-partition summary
    * is the row count. Output equals [[withRowIds]] row-for-row when the
    * ordering keys are unique — pinned by PreprocessSpec. */
  def withRowIdsDistributed(df: DataFrame, orderCols: Seq[String],
                            outCol: String = "idx"): DataFrame =
    rangeScan(df, orderCols, outCol)(_.size.toLong) { counts =>
      val offsets = counts.scanLeft(0L)(_ + _)
      pid => {
        var next = offsets(pid) - 1
        _ => { next += 1; next }
      }
    }

  /** Distributed PER-GROUP dense row ids — the scale twin of
    * `row_number().over(Window.partitionBy(groupCols…).orderBy(orderCols…))
    * − 1`, which ships EVERY row of a group through one task (a 100 TB
    * stratum = one sort on one core). A [[rangeScan]] on (group ++ order):
    * a group's rows may span partitions, but each partition holds a
    * contiguous sorted slice of it, so per-(partition, group) counts give
    * cumulative offsets per group across partitions. CONTRACT: the
    * collected state is O(|partitions| × |distinct groups|) driver rows and
    * the offsets map ships in every task closure — the operator is for
    * BOUNDED-CARDINALITY strata (languages, sources, shards; its caller
    * [[graft.ops.Sampling.interleaveByStrata]] is exactly that), not for
    * data-sized keys like user ids, where the per-group id should come
    * from a window over the key's own partition instead. Requires
    * (group ++ order) to form a total order. Equivalence to the window
    * form is pinned by PreprocessSpec. */
  def withGroupRowIdsDistributed(df: DataFrame, groupCols: Seq[String],
                                 orderCols: Seq[String],
                                 outCol: String = "idx"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (use withRowIdsDistributed)")
    val gIdx = groupCols.map(df.schema.fieldIndex)
    rangeScan(df, groupCols ++ orderCols, outCol) { it =>
      // LinkedHashMap: a partition sees each group as one contiguous run,
      // so this is O(groups-in-partition) entries however large the slice
      val m = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
      it.foreach { r =>
        val k = gIdx.map(r.get)
        m.update(k, m.getOrElse(k, 0L) + 1L)
      }
      m.toSeq
    } { counts =>
      val offsets: Map[(Int, Seq[Any]), Long] = counts.zipWithIndex
        .flatMap { case (cs, pid) => cs.map { case (k, c) => (pid, k, c) } }
        .groupBy(_._2)
        .flatMap { case (g, cs) =>
          cs.map(_._1).zip(cs.map(_._3).scanLeft(0L)(_ + _))
            .map { case (pid, off) => (pid, g) -> off }
        }
      pid => {
        val next = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
        r => {
          val k = gIdx.map(r.get)
          val v = next.getOrElse(k, offsets.getOrElse((pid, k), 0L))
          next.update(k, v + 1)
          v
        }
      }
    }
  }

  /** Distributed INCLUSIVE running SUM of `valueCol` (integral) in the
    * total order of `orderCols` — [[withRunningFlagCount]] generalized from
    * a 0/1 flag to an arbitrary long-valued column: the scale twin of
    * `sum(value).over(Window.orderBy(orderCols…).rowsBetween(
    * unboundedPreceding, currentRow))` without the one-task global window.
    * Order keys must form a total order. Used by the token-budget corpus
    * selection. */
  def withRunningSum(df: DataFrame, orderCols: Seq[String],
                     valueCol: String, outCol: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    def v(r: org.apache.spark.sql.Row): Long = r.getAs[Number](vIdx).longValue()
    rangeScan(df, orderCols, outCol)(_.foldLeft(0L)(_ + v(_))) { sums =>
      val offsets = sums.scanLeft(0L)(_ + _)
      pid => {
        var acc = offsets(pid)
        r => { acc += v(r); acc }
      }
    }
  }

  /** Distributed INCLUSIVE running count of rows with `flagCol` != 0 in the
    * total order of `orderCols` — the scale twin of
    * `sum(flag).over(Window.orderBy(orderCols…).rowsBetween(
    * unboundedPreceding, currentRow))`, which funnels every row through ONE
    * task when there is no partition key. Requires the order keys to form
    * a total order (ties would make both forms nondeterministic). Used by
    * the banded neighbor join's global-cohort path; equivalence to the
    * window form is pinned by PreprocessSpec. */
  def withRunningFlagCount(df: DataFrame, orderCols: Seq[String],
                           flagCol: String, outCol: String): DataFrame = {
    val flagIdx = df.schema.fieldIndex(flagCol)
    def flagged(r: org.apache.spark.sql.Row): Boolean =
      r.getAs[Number](flagIdx).longValue() != 0L
    rangeScan(df, orderCols, outCol)(_.count(flagged).toLong) { counts =>
      val offsets = counts.scanLeft(0L)(_ + _)
      pid => {
        var acc = offsets(pid)
        r => { if (flagged(r)) acc += 1; acc }
      }
    }
  }

  /** The zipWithIndex-shaped skeleton of the distributed scans above:
    * range-partition on `keyCols` (each partition a contiguous key range,
    * sorted within), collect one `summarize` value per partition in one
    * small job, and stream each partition once more, appending the long
    * `label(summaries)(partition)` assigns to each row as `outCol`.
    *
    * The partition count is explicit because an advisory repartitionByRange
    * is fair game for AQE coalescing (small bytes ⇒ one partition ⇒ the
    * single-task stage these scans exist to avoid). The input is pinned
    * across range sampling and the shuffle, because RangePartitioner's
    * bound sampling is a full pass over it. The sorted relation is staged
    * so the summary job and the labelling pass see the SAME partitions:
    * re-running the lineage after an upstream shuffle could split
    * differently. */
  private def rangeScan[A](df: DataFrame, keyCols: Seq[String], outCol: String)(
      summarize: Iterator[org.apache.spark.sql.Row] => A)(
      label: IndexedSeq[A] => Int => org.apache.spark.sql.Row => Long): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val keys = keyCols.map(col(_))
    val inp = Boundary.pin(df)
    val sorted = Boundary.stage(
      inp.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*))
    Boundary.release(inp)
    val rows = sorted.rdd
    val labelOf = label(rows.mapPartitionsWithIndex { (pid, it) =>
      Iterator((pid, summarize(it)))
    }.collect().toIndexedSeq.sortBy(_._1).map(_._2))
    val out = rows.mapPartitionsWithIndex { (pid, it) =>
      val next = labelOf(pid)
      it.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ next(r)))
    }
    df.sparkSession.createDataFrame(out,
      sorted.schema.add(outCol, org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** Split a `sep`-joined hierarchy string into `levels` level columns
    * (`furniture/living/sofa` style — reference: cocoa/preprocess.py:52-78
    * `_additional_feature_engineering` guidance + notebook cell 13's
    * `str.split('_')`). Missing levels yield null. */
  def splitHierarchy(df: DataFrame, column: String, sep: String, levels: Int): DataFrame = {
    val parts = split(col(column), java.util.regex.Pattern.quote(sep))
    (0 until levels).foldLeft(df) { (d, i) =>
      // get() (not element_at) — null on missing level rather than an ANSI
      // out-of-bounds error (spark.sql.ansi.enabled defaults on in Spark 4).
      d.withColumn(s"${column}_l$i", get(parts, lit(i)))
    }
  }
}
