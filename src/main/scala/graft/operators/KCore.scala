package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction by iterative peeling (Matula–Beck; the linear-time
  * sequential form is Batagelj–Zaveršnik 2003) — the third iterative-graph
  * primitive next to triangle counting and PageRank: repeatedly delete
  * every node of degree < k until the fixpoint, leaving the maximal
  * subgraph where every node keeps ≥ k neighbors (the standard cohesion
  * screen before community/centrality work).
  *
  * Distributed shape: the SYMMETRIZED edge table is staged once as an
  * eager leaf, and the peel runs at most a fixed number of synchronous
  * rounds. A fixed round budget (rather than loop-until-converged) keeps
  * the computation expressible as unrolled SQL for the DuckDB oracle;
  * convergence is not assumed but CERTIFIED by the caller checking the
  * final minimum degree ≥ k (the `stable` column in `q_kcore`). Survivor
  * sets are nested, so a round that removes nothing is the fixpoint: the
  * peel stops there (on the perfbench co-order graph after round 4 of 8)
  * and returns exactly the state the full budget would. Three plans walk
  * the same trajectory, chosen by the leaf's measured rows:
  *   - up to [[GraphKernel.MaxRows]] rows (the perfbench graph, and the
  *     co-order graph through sf0.1 at 2.4M rows), the whole peel is one
  *     [[GraphKernel]] task inside the caller's action: no round job;
  *   - past it, [[Rounds.nested]] rounds. Below [[GraphScale]]'s node
  *     cutover each round is one map-side-combined degree `groupBy` plus
  *     two left-semi equi-joins against the auto-broadcast survivor set;
  *   - past the cutover, broadcast builds would accumulate in the driver
  *     (the failure that OOM'd `q_lpa_communities` at sf1 before
  *     [[Lpa.propagate]]'s forced-merge fix), so only the |V|-row alive
  *     set is peeled, through forced merge joins.
  *
  * At 100 TB: each relational round is O(|E|) shuffle work, rounds =
  * peel-cascade depth (measured 6 at both sf0.01 and sf0.1 on the
  * co-order graph; bounded by graph degeneracy in the worst case). */
object KCore {

  /** Peel `sym` (a SYMMETRIZED directed edge table with long columns
    * `u`, `v`; both (a,b) and (b,a) present, no self-loops) for at most
    * `rounds` rounds at threshold `k`. Returns the surviving symmetric
    * edge table. Peeling preserves symmetry: an edge survives iff BOTH
    * endpoints have degree ≥ k, a symmetric criterion, so the result is
    * again a valid input (idempotent once converged). A node's degree is
    * its count of live rows, so a duplicate row counts twice, as
    * `count(1)` does. The plan (see the object doc) is chosen from the
    * staged table's measured rows; all three compute the identical
    * trajectory (spec-asserted on every KCoreSpec graph, which calls
    * each plan directly). */
  def peel(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    checkArgs(k, rounds)
    // ONE edge materialization serves every plan (the r8 soak lesson: a
    // plain checkpoint here plus a repartitioned one inside the shuffled
    // peel held TWO copies of the edge table and starved a capped heap)
    peelStaged(Rounds.eager(sym), k, rounds)
  }

  /** [[peel]] over an edge table already staged as a [[Rounds.eager]]
    * leaf, whose measured row count picks the plan (callers that stage
    * the table once per session — the co-order graph serves all six
    * co-order rows — skip re-materializing it per consuming query). */
  def peelStaged(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    checkArgs(k, rounds)
    if (GraphKernel.fits(e)) kernel(e, k, rounds) else relational(e, k, rounds)
  }

  private def checkArgs(k: Int, rounds: Int): Unit = {
    require(k >= 1, s"k-core threshold must be >= 1, got $k")
    require(rounds >= 1, s"peel rounds must be >= 1, got $rounds")
  }

  /** The peel in one [[GraphKernel]] task. Each round counts every live
    * node's rows to live nodes, all against the previous round's live
    * set, then drops the nodes under `k`; a round that drops none is the
    * fixpoint. Emits the rows whose two ends both live. */
  private[operators] def kernel(e: DataFrame, k: Int, rounds: Int): DataFrame =
    GraphKernel(e, ("u", "v")) { g =>
      val live = Array.fill(g.n)(true)
      val deg = new Array[Int](g.n)
      var (r, dropped) = (0, true)
      while (dropped && r < rounds) {
        r += 1
        var u = 0
        while (u < g.n) {
          if (live(u)) {
            var d = 0
            var j = g.off(u)
            while (j < g.off(u + 1)) { if (live(g.adj(j))) d += 1; j += 1 }
            deg(u) = d
          }
          u += 1
        }
        dropped = false
        u = 0
        while (u < g.n) {
          if (live(u) && deg(u) < k) { live(u) = false; dropped = true }
          u += 1
        }
      }
      Iterator.range(0, g.n).filter(live(_)).flatMap { u =>
        Iterator.range(g.off(u), g.off(u + 1)).map(g.adj(_)).filter(live(_))
          .map(v => (g.id(u), g.id(v)))
      }
    }

  /** The relational peel, broadcast or shuffled by [[GraphScale]]'s node
    * cutover: the plans of an edge table past [[GraphKernel.MaxRows]]. */
  private[operators] def relational(e: DataFrame, k: Int, rounds: Int): DataFrame =
    if (GraphScale.useBroadcast(GraphScale.nodeBound(e, "u"))) peelBroadcast(e, k, rounds)
    else peelShuffled(e, k, rounds)

  /** Broadcast plan: per round, the shrinking edge table is filtered by
    * two broadcast left-semi joins against the (small) survivor set. */
  private[operators] def peelBroadcast(sym: DataFrame, k: Int, rounds: Int): DataFrame =
    Rounds.nested("kcore", sym, rounds) { e =>
      // out-degree == degree on a symmetric table; survivors broadcast
      // (both semi-joins share one broadcast exchange)
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("u").as("node"))
      e.join(keep, e("u") === keep("node"), "left_semi")
        .join(keep, e("v") === keep("node"), "left_semi")
    }

  /** Shuffled plan (the [[Lpa.propagate]] recipe): the full edge table
    * never shrinks; state is the shrinking |V|-row ALIVE set. Round r's
    * degree of u = count of alive neighbors v (one forced merge join +
    * map-side-combined groupBy), restricted to u itself alive,
    * thresholded at k — the same
    * alive_r = {u ∈ alive_{r−1} : #(alive_{r−1} ∩ N(u)) ≥ k}
    * trajectory the broadcast plan walks, since its round-r edge table
    * is exactly the alive_{r−1}-induced subgraph. The surviving edge
    * table is recovered at the end by one double semi-join against the
    * final alive set (legal because alive sets are decreasing, so
    * cumulative per-round filtering ≡ filtering by the final set). The
    * edge table is a checkpoint leaf, which keeps no layout, so every
    * merge join re-shuffles it. */
  private[operators] def peelShuffled(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val alive = Rounds.nested("kcore", e.select(col("u")).distinct(), rounds) { alive =>
      val av = alive.withColumnRenamed("u", "n").hint("merge")
      val deg = e.join(av, e("v") === av("n"))
        .groupBy(e("u")).agg(count(lit(1)).as("d"))
      // a node's degree counts only ALIVE neighbors; a dead node can
      // still appear on the u side (its alive neighbors emit it), so
      // restrict to previously-alive nodes before thresholding
      deg.join(alive.hint("merge"), Seq("u"), "left_semi")
        .filter(col("d") >= k).select(col("u"))
    }
    val an = alive.withColumnRenamed("u", "n")
    e.join(an.hint("merge"), e("u") === an("n"), "left_semi")
      .join(an.hint("merge"), e("v") === an("n"), "left_semi")
  }
}
