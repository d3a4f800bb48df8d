package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]`, so custom
  * Catalyst expressions (graft.expressions.*) reach the public Column API
  * through this shim living under the sql package tree — the standard pattern
  * for Spark extension libraries that add native expressions. The same holds
  * for `cloneSession` (a session with a copy of the conf, temp views and
  * functions, sharing the context and cache). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def cloneSession(s: SparkSession): SparkSession = s.asInstanceOf[classic.SparkSession].cloneSession()
}
