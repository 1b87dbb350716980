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
  * Distributed shape: the edge table is staged ONCE as an eager leaf.
  * Up to [[GraphKernel.MaxRows]] rows all rounds run in one
  * [[GraphKernel]] task inside the caller's action, with no round job.
  * Past it, each round is a sort-MERGE equi-join against the label table
  * (a checkpoint keeps no partitioning or ordering — `LayoutSpec` — so
  * both sides shuffle and sort per round) followed by one
  * map-side-combined `groupBy(u, lbl)` count with the per-node argmax
  * folded in via `max(struct(cnt, -lbl))`. Those rounds run under
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
    * row per node that has at least one neighbor. A duplicate row is two
    * votes for its neighbor's label. */
  def propagate(sym: DataFrame, rounds: Int): DataFrame =
    // staged as it comes: a checkpoint keeps no layout (LayoutSpec), so
    // partitioning or sorting the edges first would only add a shuffle
    // and a sort that every round's merge join redoes anyway
    propagateLaid(Rounds.eager(sym), rounds)

  /** [[propagate]] over an edge table already staged as a
    * [[Rounds.eager]] leaf, whose measured rows pick the kernel or the
    * relational rounds (r13: the co-order graph is staged once per
    * session and shared across the iterative rows). */
  def propagateLaid(e: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"propagation rounds must be >= 1, got $rounds")
    if (GraphKernel.fits(e)) kernel(e, rounds) else relational(e, rounds)
  }

  /** The rounds in one [[GraphKernel]] task. Labels are node numbers; a
    * node's new label is the mode of its labeled neighbours' labels,
    * counted in `cnt` (reset after each node), the smallest id on a count
    * tie. A node is labeled while it has a labeled neighbour; at round 0,
    * every node with a row. */
  private[operators] def kernel(e: DataFrame, rounds: Int): DataFrame =
    GraphKernel(e, ("u", "lbl")) { g =>
      var lbl = Array.range(0, g.n)
      var has = Array.tabulate(g.n)(u => g.off(u + 1) > g.off(u))
      var next = new Array[Int](g.n)
      var nextHas = new Array[Boolean](g.n)
      val cnt = new Array[Int](g.n)
      for (_ <- 1 to rounds) {
        var u = 0
        while (u < g.n) {
          var best = -1
          var bestCnt = 0
          var j = g.off(u)
          while (j < g.off(u + 1)) {
            val v = g.adj(j)
            if (has(v)) {
              val l = lbl(v)
              cnt(l) += 1
              // the running best also moves to a smaller id at an equal
              // count: the first label to reach the final maximum may not
              // be the smallest one that does
              if (cnt(l) > bestCnt || cnt(l) == bestCnt && g.id(l) < g.id(best)) {
                best = l; bestCnt = cnt(l)
              }
            }
            j += 1
          }
          j = g.off(u)
          while (j < g.off(u + 1)) {
            // an unlabeled neighbour's lbl is -1 (no neighbour of its own
            // was labeled), so only labeled ones are counted and reset
            if (has(g.adj(j))) cnt(lbl(g.adj(j))) = 0
            j += 1
          }
          nextHas(u) = best >= 0
          next(u) = best
          u += 1
        }
        val (l0, h0) = (lbl, has)
        lbl = next; has = nextHas; next = l0; nextHas = h0
      }
      Iterator.range(0, g.n).filter(has(_)).map(u => (g.id(u), g.id(lbl(u))))
    }

  /** The relational rounds: the plan of an edge table past
    * [[GraphKernel.MaxRows]]. */
  private[operators] def relational(e: DataFrame, rounds: Int): DataFrame = {
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
