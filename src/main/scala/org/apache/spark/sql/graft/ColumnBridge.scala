package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge into Spark 4's classic Column internals: build a [[Column]] from
  * a Catalyst [[Expression]] and back. Lives inside the org.apache.spark
  * .sql namespace to reach the `private[sql]` constructors — the standard
  * pattern for libraries shipping custom Catalyst expressions (cf. public
  * examples in SNIPPETS.md [1]/[3]).
  */
object ColumnBridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter.apply(c.node)

  /** Build a DataFrame over an (already analyzed) logical plan — the
    * plan-surgery entry used by EpsJoinRewrite to construct its
    * replacement subtree with the ordinary DataFrame API instead of
    * hand-assembled Generate/Join/Project nodes.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame of `schema` over rows in Catalyst's internal form. */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `f` over the internal rows of `df`'s plan, collected, in one SQL
    * execution of that plan, as a Dataset action runs it: its listeners,
    * `observe` metrics included, see the plan complete.
    */
  def collectInternal[T: ClassTag](df: DataFrame)(f: InternalRow => IterableOnce[T]): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.toRdd.flatMap(f).collect())
  }

  /** A 1-row/1-column DataFrame as an uncorrelated scalar subquery
    * Column: evaluated once, its value becomes a query constant on
    * every task — the join-free way to attach a corpus-level scalar
    * (vocabulary size, total doc count, a bloom sketch) to a big frame.
    * The alternative — crossJoin with a 1-row frame — plans a
    * BroadcastNestedLoopJoin; this plans nothing at all.
    */
  def scalar(df: org.apache.spark.sql.DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed))

  /** Release the executor-resident copy behind a `localCheckpoint(true)`'d
    * frame. `Dataset.unpersist` only clears CacheManager entries
    * (`.persist`/`.cache` plans); a checkpoint's storage lives on the
    * underlying RDD, reachable only through the plan's LogicalRDD leaf —
    * without this, iterative algorithms leak one full frame per round
    * until ContextCleaner eventually GCs them.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame,
      blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking)
      case _ => ()
    }
}
