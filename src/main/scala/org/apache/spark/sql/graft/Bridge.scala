package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{Pool, SchedulingMode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Column ↔ catalyst Expression bridge for custom expressions, the
  * session re-wrap the persisted-index probes use, and the FAIR pool
  * declaration of the concurrent entry points.
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

  /** Declare FAIR scheduler pools `names` with Spark's defaults (FIFO
    * inside a pool, minShare 0, weight 1) before any job names them, so
    * the scheduler does not create each on first use with a WARN. Pools
    * that exist are left alone; a FIFO context has no pools to declare. */
  def declarePools(sc: SparkContext, names: Iterable[String]): Unit = {
    val root = sc.taskScheduler.rootPool
    if (root.schedulingMode == SchedulingMode.FAIR)
      names.foreach { n =>
        if (root.getSchedulableByName(n) == null)
          root.addSchedulable(new Pool(n, SchedulingMode.FIFO, 0, 1))
      }
  }
}
