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

  /** The session's SQL conf and a Hadoop conf carrying its settings. */
  def sqlConf(s: SparkSession): internal.SQLConf =
    s.asInstanceOf[classic.SparkSession].sessionState.conf
  def hadoopConf(s: SparkSession): org.apache.hadoop.conf.Configuration =
    s.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** `schema` with every field, element and value nullable, as Spark's
    * schema inference reports a file source's schema. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

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
    * constraints of the checkpoint are kept; its layout is not: the leaf
    * reports no partitioning or ordering (`LayoutSpec`), so a join on a
    * key shuffles it whatever layout the cut plan had. Returns the leaf and the RDD holding its blocks. */
  def lazyLeaf(df: Dataset[_], sizeInBytes: BigInt): (DataFrame, RDD[_]) =
    leaf(df, StorageLevel.MEMORY_AND_DISK, _ => Statistics(sizeInBytes))

  /** Eagerly materialized local checkpoint of `df`, stored at `level`, as
    * a plan leaf whose statistics are measured: the row count of its
    * blocks (the one job that materializes them) times the row width
    * Catalyst assumes. */
  def eagerLeaf(df: Dataset[_], level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, RDD[_]) = leaf(df, level, lr => measured(lr, lr.rdd.count()))

  /** [[eagerLeaf]] at MEMORY_AND_DISK whose one materializing job also
    * sums `measure` over the leaf's rows; returns the leaf and that sum. */
  def eagerLeafSum(df: Dataset[_], measure: catalyst.InternalRow => Long): (DataFrame, Long) = {
    var sum = 0L
    val (leaf, _) = this.leaf(df, StorageLevel.MEMORY_AND_DISK, { lr =>
      val (rows, s) = lr.rdd.aggregate((0L, 0L))(
        (a, r) => (a._1 + 1, a._2 + measure(r)), (a, b) => (a._1 + b._1, a._2 + b._2))
      sum = s
      measured(lr, rows)
    })
    (leaf, sum)
  }

  private def measured(lr: LogicalRDD, rows: BigInt): Statistics =
    Statistics(EstimationUtils.getOutputSize(lr.output, rows), Some(rows))

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
