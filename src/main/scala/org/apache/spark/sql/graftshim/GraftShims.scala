package org.apache.spark.sql.graftshim

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Spark internals (lives under org.apache.spark.sql
  * for access; no Spark code modified): Column <-> Catalyst Expression
  * conversion, so custom TypedImperativeAggregate / Expression nodes are
  * usable from the public DataFrame API, and the task's memory manager,
  * which a physical node needs to charge execution memory.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def taskMemoryManager(ctx: TaskContext): TaskMemoryManager = ctx.taskMemoryManager()
}
