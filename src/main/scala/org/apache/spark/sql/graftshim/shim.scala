package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Minimal bridge to Spark's `private[sql]` API: the Column⇄Expression
  * converters so graft can register native Catalyst expressions (SURVEY
  * §4), and the Dataset-from-LogicalPlan factory behind the checkpoint
  * leaves of `graft.operators.Rounds`. Lives inside the
  * org.apache.spark.sql package purely for access.
  */
package object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Stable per-session key (private[sql] in the classic session). */
  def sessionKey(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other                   => System.identityHashCode(other).toString
  }

  /** `explain("formatted")` as a string (r12 plan artifacts). */
  def formattedPlan(df: Dataset[_]): String = df match {
    case d: classic.Dataset[_] =>
      d.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    case other => other.queryExecution.toString
  }

  /** Lazy local checkpoint of `df` re-entered as a plan leaf whose size
    * estimate is `sizeInBytes`. `localCheckpoint` alone keeps the
    * estimate of the plan it cut, so a loop whose rounds self-join their
    * state compounds that estimate round over round (until Catalyst's
    * BigInteger stats overflow); here the leaf is rebuilt through the
    * Dataset-from-LogicalPlan factory with the given size instead. The
    * layout (partitioning, ordering) and constraints of the checkpoint
    * are kept. Returns the leaf and the RDD holding its blocks. */
  def lazyLeaf(df: Dataset[_], sizeInBytes: BigInt): (DataFrame, RDD[_]) =
    leaf(df, StorageLevel.MEMORY_AND_DISK, _ => Statistics(sizeInBytes))

  /** Eagerly materialized local checkpoint of `df`, stored at `level`, as
    * a plan leaf whose statistics are measured: the row count of its
    * blocks (the one job that materializes them) times the row width
    * Catalyst assumes. */
  def eagerLeaf(df: Dataset[_], level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, RDD[_]) = leaf(df, level, { lr =>
    val rows = BigInt(lr.rdd.count())
    Statistics(EstimationUtils.getOutputSize(lr.output, rows), Some(rows))
  })

  /** True iff `df` already is a checkpoint (or other RDD-backed) leaf. */
  def isLeaf(df: Dataset[_]): Boolean = df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def leaf(df: Dataset[_], level: StorageLevel,
                   stats: LogicalRDD => Statistics): (DataFrame, RDD[_]) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val lr = df.localCheckpoint(false, level).queryExecution.analyzed.asInstanceOf[LogicalRDD]
    (classic.Dataset.ofRows(session, lr.copy()(session, Some(stats(lr)), Some(lr.constraints))),
      lr.rdd)
  }
}
