package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4.x hides the Column↔Expression conversion behind
  * `private[sql] org.apache.spark.sql.classic.ExpressionUtils`; this object
  * lives in a subpackage of `org.apache.spark.sql` so graft's custom
  * codegen expressions (see `graft.functions.VectorExpressions`) can be
  * exposed as ordinary `Column`s without a session-level function registry.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Release the storage blocks behind a `localCheckpoint(true)`ed
    * Dataset. `Dataset.unpersist` is a NO-OP for checkpoints — it only
    * uncaches CacheManager entries, while a local checkpoint persists the
    * underlying RDD directly — so the blocks otherwise linger until the
    * driver GCs the RDD and ContextCleaner gets to it. Only call once
    * nothing will read the Dataset again: the truncated lineage cannot
    * recompute. Its one caller in main is `graft.operators.Materialize`
    * (the scoped form); operators do not pair checkpoints with releases
    * by hand. */
  def unpersistCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Eagerly CONVERT a Column's node tree to a Catalyst expression.
    * [[expression]] returns a lazy `ColumnNodeExpression` placeholder,
    * which classic sessions resolve during DataFrame analysis — but a
    * function-registry builder must hand the analyzer a real expression
    * tree (the placeholder is Unevaluable and never gets swapped when it
    * appears via SQL function resolution). */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Block until every listener-bus event posted so far has reached every
    * listener (`LiveListenerBus.waitUntilEmpty` is `private[spark]`);
    * throws a `TimeoutException` if the bus has not drained in a minute. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
