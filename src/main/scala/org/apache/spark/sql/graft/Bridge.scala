package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Column ↔ catalyst Expression bridge for custom expressions, and the
  * session re-wrap the persisted-index probes use.
  *
  * Spark 4 split the public `Column` API from catalyst; the converters
  * live in `classic.ExpressionUtils`, which is `private[sql]`, as is
  * `Dataset.ofRows`. This standard extension-point shim (own jar,
  * `org.apache.spark.sql` subpackage) re-exposes just what the graft
  * operators need. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s analyzed plan as a DataFrame of session `s` (same
    * SparkContext): every later action on it — and on anything built
    * from it — is optimized and planned under `s`'s confs. The plan is
    * not re-resolved, so rows and column ids are `df`'s own. */
  def onSession(s: SparkSession, df: DataFrame): DataFrame =
    ClassicDataset.ofRows(s.asInstanceOf[ClassicSession], df.queryExecution.analyzed)
}
