package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.functions._

/** A checkpoint leaf keeps NO layout: whatever partitioning and ordering
  * the cut plan had, the leaf reports `UnknownPartitioning(0)` and no
  * ordering, so a merge join over it shuffles and sorts it again. This
  * holds for a plain `localCheckpoint` and for the [[Rounds]] leaves, and
  * it is why graft's staged tables are not laid out before their
  * checkpoint; keeping the layout needs a laid-table primitive whose
  * layout is a checked contract. */
class LayoutSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def edges: DataFrame =
    (1L to 200L).flatMap(i => Seq((i, i % 17), (i % 17, i))).toDF("u", "v")

  private val laid: Seq[(String, () => DataFrame)] = Seq(
    "repartition(v).sortWithinPartitions(v).localCheckpoint()" -> (() =>
      edges.repartition(col("v")).sortWithinPartitions(col("v")).localCheckpoint()),
    "repartition(4, v).sortWithinPartitions(v).localCheckpoint()" -> (() =>
      edges.repartition(4, col("v")).sortWithinPartitions(col("v")).localCheckpoint()),
    "Rounds.eager(repartition(v))" -> (() => Rounds.eager(edges.repartition(col("v")))))

  test("a checkpoint leaf reports no partitioning and no ordering") {
    laid.foreach { case (what, mk) =>
      val plan = mk().queryExecution.sparkPlan
      assert(plan.outputPartitioning == UnknownPartitioning(0), s"$what: ${plan.outputPartitioning}")
      assert(plan.outputOrdering.isEmpty, s"$what: ${plan.outputOrdering}")
    }
  }

  test("a merge self-join over a checkpoint leaf shuffles and sorts both sides") {
    laid.foreach { case (what, mk) =>
      val t = mk()
      val j = t.as("a").join(t.as("b").hint("merge"), col("a.v") === col("b.v"))
      assert(j.count() == edges.as("a").join(edges.as("b"), col("a.v") === col("b.v")).count())
      j.collect()
      val plan: SparkPlan = j.queryExecution.executedPlan
      // an exchange straight over the checkpoint scan, and a sort per side
      val reshuffled = collect(plan) {
        case e: ShuffleExchangeExec if e.child.collectFirst { case x: Exchange => x }.isEmpty &&
          e.child.collectLeaves().forall(_.isInstanceOf[RDDScanExec]) => e
      }
      assert(reshuffled.nonEmpty, s"$what: no exchange over the checkpoint scan\n$plan")
      assert(collect(plan) { case s: SortExec => s }.size >= 2, s"$what: one side unsorted\n$plan")
    }
  }
}
