package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4.x wraps `Column` around `ColumnNode` (Spark Connect refactor), so
  * building a `Column` from a Catalyst `Expression` — needed for the
  * grouped-verb window rewrites in [[graft.api.DataTable]] — goes through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`.
  * Living in a subpackage of `org.apache.spark.sql` grants access.
  */
object Shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly convert a Column to its Catalyst expression tree.
    * (`ExpressionUtils.expression` returns a lazy `ColumnNodeExpression`
    * wrapper whose children are ColumnNodes, invisible to Catalyst
    * transforms — the converter materializes the real tree.) */
  def toExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Blocks until every event posted so far has reached its listeners:
    * `QueryExecutionListener` callbacks run on the (asynchronous)
    * listener bus, whose drain is `private[spark]`. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
