package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  * Spark 4 made these conversions `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so the library exposes
  * them from inside the sql package — the standard pattern for extension
  * libraries shipping native expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether the session's cache manager holds no cached relations — the
    * assertion behind the index-handle lifecycle contract
    * ([[graft.ops.AnnIndex.unpersist]]). The manager is `private[sql]`, so
    * the check is exposed from inside the package like the conversions. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
