package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Narrow bridge to `private[sql]` Spark internals graft needs:
  * Column⇄Expression conversion (for the typed DSL) and
  * AbstractDataType.acceptsType (for expression type checks).
  */
object GraftBridge {
  def column(e: Expression): Column   = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def accepts(expected: AbstractDataType, actual: DataType): Boolean =
    expected.acceptsType(actual)

  /** Catalyst⇄Scala value converters (for user-registered aggregates,
    * whose callbacks speak external Scala types — String, Seq, Row —
    * not UTF8String/ArrayData/InternalRow).
    */
  def toScalaConverter(dt: DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt)
  def toCatalystConverter(dt: DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)

  /** Block until the async listener bus has delivered every queued
    * event — deterministic per-query metric attribution for Bench
    * (task-end events otherwise post after the query returns and
    * bleed into the NEXT query's counters under load).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
