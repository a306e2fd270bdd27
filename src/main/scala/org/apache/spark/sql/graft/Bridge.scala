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

  /** A row encoder for `schema` whose `Row`s hold Catalyst's INTERNAL
    * values (`UTF8String`, `ArrayData`, `InternalRow`, `Decimal`, …)
    * instead of external ones, both ways: its deserializer wraps the
    * fields as they are and its serializer reads them back unconverted,
    * so a `mapPartitions` over such rows pays no per-field decode or
    * encode, yet the plan keeps its scan and filters under the map. A
    * deserialized value may point into a buffer the next row reuses:
    * read it before the next row, and copy what is kept
    * (`InternalRow.copyValue`). */
  def internalRowEncoder(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.catalyst.analysis.GetColumnByOrdinal
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Literal}
    import org.apache.spark.sql.catalyst.expressions.objects.{CreateExternalRow, Invoke}
    val fields = schema.fields.toIndexedSeq.zipWithIndex
    val row = BoundReference(0,
      org.apache.spark.sql.types.ObjectType(classOf[org.apache.spark.sql.Row]), nullable = true)
    ExpressionEncoder(schema).copy(
      objSerializer = CreateNamedStruct(fields.flatMap { case (f, i) =>
        Seq(Literal(f.name),
          Invoke(row, "get", f.dataType, Seq(Literal(i)), returnNullable = f.nullable))
      }),
      objDeserializer = CreateExternalRow(
        fields.map { case (f, i) => GetColumnByOrdinal(i, f.dataType) }, schema))
  }

  /** `df` read through [[internalRowEncoder]]. */
  def internalRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[org.apache.spark.sql.Row] =
    df.as(internalRowEncoder(df.schema))

  /** Block until every listener-bus event posted so far has reached every
    * listener (`LiveListenerBus.waitUntilEmpty` is `private[spark]`);
    * throws a `TimeoutException` if the bus has not drained in a minute. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
