package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic Column ↔ Expression converters, which are
  * `private[sql]` in Spark 4 (Column is backend-agnostic there). Graft
  * needs them to attach its native Catalyst expressions (e.g.
  * [[graft.functions.DotProduct]]) to DataFrame columns without going
  * through a per-session function registry.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The EAGERLY-converted catalyst expression of a Column:
    * [[expression]] returns a lazy ColumnNodeExpression wrapper whose
    * children are column NODES, not catalyst nodes — code that walks
    * the tree (e.g. manifest-stats predicate pruning) needs the real
    * And/comparison shapes the classic converter produces. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** `ds`'s analyzed plan as a DataFrame of `session`: its actions
    * plan, run and pick their conf in `session`, not in the session
    * that built `ds`. Only a leaf over already-computed rows (the
    * `LogicalRDD` a foreachBatch micro-batch is) moves safely this way;
    * a plan that still reads a source would resolve it in `session`. */
  def ofRows(session: SparkSession, ds: Dataset[_]): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      ds.queryExecution.logical)

  /** Drop the blocks behind a `localCheckpoint()`ed Dataset now; they
    * otherwise stay until the JVM garbage-collects the Dataset. The
    * Dataset must not be read again. */
  def releaseCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.logical match {
      case r: execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Register a temp function on an EXISTING session (the extensions
    * path below only applies at session construction). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
