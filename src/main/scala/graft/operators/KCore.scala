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
  * Distributed shape: the SYMMETRIZED edge table is peeled a FIXED
  * number of [[Rounds.fixed]] rounds — each round is one
  * map-side-combined degree `groupBy` plus two left-semi equi-joins
  * against the (tiny, auto-broadcast) survivor set. A fixed round count
  * (rather than loop-until-converged) keeps the computation expressible
  * as unrolled SQL for the DuckDB oracle; convergence is not assumed but
  * CERTIFIED by the caller checking the final minimum degree ≥ k (the
  * `stable` column in `q_kcore`).
  *
  * At 100 TB: each round is O(|E|) shuffle work on the shrinking edge
  * table, rounds = peel-cascade depth (measured 6 at both sf0.01 and
  * sf0.1 on the co-order graph; bounded by graph degeneracy in the
  * worst case). The per-round survivor attach switches AUTOMATICALLY on
  * a measured node count: below [[GraphScale]]'s cutover the survivor
  * set rides as a broadcast semi-join (map-side filter, no extra
  * shuffle); past it, broadcast builds would accumulate in the driver —
  * the exact failure that OOM'd `q_lpa_communities` at sf1 before
  * [[Lpa.propagate]]'s forced-merge fix — so the peel flips to the LPA
  * recipe: edges repartitioned+sorted ONCE, per round only the |V|-row
  * alive set shuffles through forced merge joins. */
object KCore {

  /** Peel `sym` (a SYMMETRIZED directed edge table with long columns
    * `u`, `v`; both (a,b) and (b,a) present, no self-loops) for exactly
    * `rounds` rounds at threshold `k`. Returns the surviving symmetric
    * edge table. Peeling preserves symmetry: an edge survives iff BOTH
    * endpoints have degree ≥ k, a symmetric criterion, so the result is
    * again a valid input (idempotent once converged). The broadcast vs
    * shuffled survivor-attach plan is chosen from the measured node
    * count (see [[GraphScale.useBroadcast]]); both plans compute the
    * identical trajectory (spec-asserted on every KCoreSpec graph).
    *
    * `modeOut` receives the chosen plan (`"broadcast"` / `"shuffled"`)
    * — observability for specs and GraphBench. A callback rather than a
    * shared mutable global, so concurrent peels can't clobber each
    * other's observation. */
  def peel(sym: DataFrame, k: Int, rounds: Int,
           modeOut: String => Unit = _ => ()): DataFrame = {
    checkArgs(k, rounds)
    // ONE edge materialization serves both plans (the r8 soak lesson: a
    // plain checkpoint here plus a repartitioned one inside the shuffled
    // peel held TWO copies of the edge table and starved a capped heap):
    // the broadcast peel is layout-agnostic, the shuffled peel needs
    // exactly this (v-partitioned, sorted) layout.
    val e = sym.repartition(col("v")).sortWithinPartitions(col("v"))
      .localCheckpoint()
    peelLaid(e, e.select(col("u")).distinct().count(), k, rounds, modeOut)
  }

  /** [[peel]] over an ALREADY laid-out edge table — `e` must be the
    * symmetric edge set, v-partitioned, v-sorted and checkpointed, with
    * `nNodes` its measured node count (r13: callers that stage the
    * layout once per session — the co-order graph serves four iterative
    * rows — skip re-shuffling the edges per consuming query). */
  def peelLaid(e: DataFrame, nNodes: Long, k: Int, rounds: Int,
               modeOut: String => Unit = _ => ()): DataFrame = {
    checkArgs(k, rounds)
    if (GraphScale.useBroadcast(e.sparkSession, nNodes)) {
      modeOut("broadcast"); peelBroadcast(e, k, rounds)
    } else {
      modeOut("shuffled"); peelShuffled(e, k, rounds)
    }
  }

  private def checkArgs(k: Int, rounds: Int): Unit = {
    require(k >= 1, s"k-core threshold must be >= 1, got $k")
    require(rounds >= 1, s"peel rounds must be >= 1, got $rounds")
  }

  /** Broadcast plan: per round, the shrinking edge table is filtered by
    * two broadcast left-semi joins against the (small) survivor set.
    * Each round adds only map-side filters to the lineage. */
  private def peelBroadcast(sym: DataFrame, k: Int, rounds: Int): DataFrame =
    Rounds.fixed("kcore", sym, rounds) { (e, _) =>
      // out-degree == degree on a symmetric table; survivors broadcast
      // (both semi-joins share one broadcast exchange)
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("u").as("node"))
      e.join(keep, e("u") === keep("node"), "left_semi")
        .join(keep, e("v") === keep("node"), "left_semi")
    }

  /** Shuffled plan (the [[Lpa.propagate]] recipe): the FULL edge table
    * is partitioned+sorted on `v` once and never moves again; state is
    * the shrinking |V|-row ALIVE set. Round r's degree of u = count of
    * alive neighbors v (one forced merge join + map-side-combined
    * groupBy), restricted to u itself alive, thresholded at k — the
    * same alive_r = {u ∈ alive_{r−1} : #(alive_{r−1} ∩ N(u)) ≥ k}
    * trajectory the broadcast plan walks, since its round-r edge table
    * is exactly the alive_{r−1}-induced subgraph. The surviving edge
    * table is recovered at the end by one double semi-join against the
    * final alive set (legal because alive sets are decreasing, so
    * cumulative per-round filtering ≡ filtering by the final set). */
  private def peelShuffled(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    // e arrives (v-partitioned, sorted) and checkpointed from peel() —
    // the layout survives the checkpoint, so edges never re-shuffle
    val alive = Rounds.fixed("kcore", e.select(col("u")).distinct(), rounds) { (alive, _) =>
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
