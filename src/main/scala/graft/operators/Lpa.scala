package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label propagation (Raghavan–Albert–Kumara 2007, the synchronous
  * variant) — the community-detection counterpart to the repo's other
  * graph primitives (triangles, PageRank, k-core, the union-find
  * `Dedup.connectedComponents`): every node starts labeled with its own
  * id, and each round adopts the MODE of its neighbors' labels. Dense
  * intra-community edges amplify their majority label within a few
  * rounds while sparse cut edges cannot, so labels converge to
  * community markers without a target community count.
  *
  * Determinism (the property the DuckDB oracle needs): rounds are fully
  * SYNCHRONOUS (every round-r label is computed from the complete
  * round-(r−1) labeling, never a mix) and the mode tie-break is the
  * MINIMUM label, so the entire trajectory is a pure function of the
  * edge set — no randomized vertex order as in the asynchronous
  * original. A FIXED round count keeps the computation expressible as
  * unrolled SQL (same reasoning as `KCore.peel`); synchronous LPA can
  * 2-cycle on bipartite cuts rather than converge, which a fixed-round
  * snapshot sidesteps by construction.
  *
  * Distributed shape: the edge table is checkpointed ONCE, then each
  * round is a sort-MERGE equi-join against the label table (a checkpoint
  * keeps no partitioning or ordering — `LayoutSpec` — so both sides
  * shuffle and sort per round) followed by one
  * map-side-combined `groupBy(u, lbl)` count with the per-node argmax
  * folded in via `max(struct(cnt, -lbl))`. The rounds run under
  * [[Rounds.fixed]]. The merge join is FORCED: the sf1 gate
  * showed AQE happily broadcasting the label table each round, and
  * per-round broadcast builds accumulate in the driver until the build
  * itself OOMs (the q_range_join lesson: broadcast/shuffle_hash pin
  * memory, merge spills). At 100 TB: |E|-linear per round with a
  * bounded round count, no driver materialization, nothing pinned. */
object Lpa {

  /** Propagate labels over `sym` (a SYMMETRIZED directed edge table with
    * long columns `u`, `v`; both (a,b) and (b,a) present, no self-loops)
    * for exactly `rounds` synchronous rounds. Returns `(u, lbl)` — one
    * row per node that has at least one neighbor. */
  def propagate(sym: DataFrame, rounds: Int): DataFrame =
    // checkpointed as it comes: a checkpoint keeps no layout (LayoutSpec),
    // so partitioning or sorting the edges first would only add a shuffle
    // and a sort that every round's merge join redoes anyway
    propagateLaid(sym.localCheckpoint(), rounds)

  /** [[propagate]] over an ALREADY checkpointed symmetric edge table
    * (r13: the co-order graph is staged once per session and shared
    * across the iterative rows). */
  def propagateLaid(e: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"propagation rounds must be >= 1, got $rounds")
    val labels0 = e.select(col("u")).distinct().withColumn("lbl", col("u"))
    Rounds.fixed("lpa", labels0, rounds) { (labels, _) =>
      val l = labels.withColumnRenamed("u", "n").hint("merge")
      e.join(l, e("v") === l("n"))
        .groupBy(e("u"), col("lbl")).agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc): struct max compares c first,
        // then -lbl, so the winner on a count tie is the SMALLEST label
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("u"), (-col("m.neg")).as("lbl"))
    }
  }
}
