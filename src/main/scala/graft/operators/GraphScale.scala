package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scale cutover policy for the iterative-graph family ([[KCore.peel]],
  * `Analytics.qPagerank`; [[Lpa.propagate]] is always-shuffled past its
  * kernel). k-core's plan has three ranges of the staged edge table:
  *   - up to [[GraphKernel.MaxRows]] rows, the [[GraphKernel]] runs every
  *     round in one task (LPA's too; PageRank keeps its relational plans);
  *   - past that, up to [[broadcastMaxNodes]] nodes, relational rounds
  *     with a broadcast attach;
  *   - past that, relational rounds through forced merge joins.
  *
  * The per-round broadcast attach — survivor set into a semi-join, rank
  * table into the edge join — is the right plan while the node table is
  * small: it costs zero extra shuffles and each round is a map-side
  * filter. But broadcast builds pin driver AND executor memory, the
  * builds of successive rounds accumulate until GC catches up, and
  * Spark hard-caps a single build at 8 GB — at sf1 this exact pattern
  * OOM'd `q_lpa_communities` (r7, fixed by forcing merge joins). A
  * documented "switch past ~10⁷ nodes" cutover proved to be no
  * protection in practice, so the switch is AUTOMATIC: the node count is
  * bounded by measured rows ([[nodeBound]]: an eager edge leaf counts its
  * rows as it materializes, and a graph has no more nodes than edge
  * rows), and only a bound past the threshold pays for the exact count
  * before the plan flips to the shuffled one.
  *
  * Default 10⁷ nodes ≈ 160 MB of (long, long) broadcast rows per round
  * — comfortably under the 8 GB cap with headroom for round-to-round
  * accumulation. Conf-overridable (`spark.graft.graph.broadcastMaxNodes`)
  * so operators can tune per cluster, and so specs can force the
  * shuffled plan on tiny graphs to assert trajectory equality. */
object GraphScale {
  /** Runtime conf key: node count at or below which the per-round
    * broadcast attach is used; above it, the forced-merge shuffled
    * plan. */
  val BroadcastMaxNodesKey = "spark.graft.graph.broadcastMaxNodes"

  val DefaultBroadcastMaxNodes = 10000000L

  /** Parse a long-valued tuning knob from runtime conf (falling back to
    * `envKey`, then `default`). A malformed value fails with the key
    * NAMED instead of a bare NumberFormatException surfacing from inside
    * an operator mid-query. */
  def longConf(spark: SparkSession, confKey: String, envKey: Option[String],
               default: Long): Long =
    spark.conf.getOption(confKey).orElse(envKey.flatMap(sys.env.get)) match {
      case None => default
      case Some(s) =>
        try s.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$confKey${envKey.fold("")(k => s" (or env $k)")} must be a " +
              s"long, got '$s'")
        }
    }

  def broadcastMaxNodes(spark: SparkSession): Long =
    longConf(spark, BroadcastMaxNodesKey, None, DefaultBroadcastMaxNodes)

  /** True iff a graph with `nNodes` measured nodes should attach its
    * per-round node-keyed table by broadcast. */
  def useBroadcast(spark: SparkSession, nNodes: Long): Boolean =
    nNodes <= broadcastMaxNodes(spark)

  /** A node count of the edge table `edges` (a [[Rounds.eager]] leaf whose
    * nodes are the values of `nodeCol`) that is exact where it decides
    * [[useBroadcast]]: the leaf's measured row count, an upper bound that
    * costs no job, while it is at or below the cutover; past it, the
    * exact distinct count. */
  def nodeBound(edges: DataFrame, nodeCol: String): Long = {
    val rows = Rounds.measuredRows(edges)
    if (useBroadcast(edges.sparkSession, rows)) rows
    else edges.select(col(nodeCol)).distinct().count()
  }
}
