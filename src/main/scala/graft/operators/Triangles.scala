package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed exact triangle counting over an undirected edge list.
  *
  * Shape (the 100 TB plan): every edge is ORIENTED from its lower
  * (degree, id) endpoint to the higher — the Suri–Vassilvitskii WWW'11
  * ordering, which makes every triangle {x ≺ y ≺ z} carry exactly the
  * oriented edges x→y, x→z, y→z and bounds any node's OUT-degree by
  * O(√|E|) even on power-law hubs. Triangles are then counted per EDGE:
  * T = Σ_{(a,b)} |N⁺(a) ∩ N⁺(b)| — each oriented edge (a,b) meets its
  * closing vertices as the sorted-array intersection of the two
  * endpoints' out-neighbor lists. This replaces the r6–r9 wedge
  * enumeration (Σ C(od,2) materialized wedge rows — 411M at sf1, 41×
  * the edge count — shuffled and sorted into a semi-join) with two
  * |E|-row equi-joins that attach the adjacency arrays; the quadratic
  * term moves from SHUFFLED ROWS into per-row codegen'd intersection
  * work, which is where a 1000-executor cluster wants it.
  *
  * Heavy/light split (skew insurance): a node's out-list is shipped
  * once per incident edge through the attach joins, so shuffle volume
  * is Σ od² — fine on degree-bounded graphs (the co-order graph's
  * oriented out-degree is ≤ 97 at sf1, measured), quadratic on a dense
  * hub. Nodes whose out-degree exceeds an adaptive threshold τ are
  * processed EXACTLY via a broadcast of their adjacency instead: τ is
  * chosen from the collected out-degree HISTOGRAM (≤ max-od rows — a
  * statistics collect, never corpus data) as the smallest cutoff whose
  * heavy tail fits [[HeavyBroadcastMaxKey]] adjacency entries (default
  * 4M ≈ 32 MB), so the broadcast is absolutely bounded at any graph
  * size and the split degrades to all-light when the tail alone would
  * blow the cap. On a skew-free graph the heavy side is simply the
  * budget-sized top of the distribution; on a hub-dominated graph it is
  * precisely the hubs, whose lists then ship ONCE instead of od times.
  * Both sides compute the identical intersection semantics
  * (spec-asserted on an engineered clique-with-tail graph at forced τ).
  */
object Triangles {

  /** Runtime conf key: max adjacency ENTRIES (packed-long neighbor ids)
    * broadcast for the heavy side. 4M entries ≈ 32 MB serialized. */
  val HeavyBroadcastMaxKey = "spark.graft.triangles.heavyBroadcastMax"

  val DefaultHeavyBroadcastMax = 4000000L

  /** Observability record for [[summary]]'s plan choice: the chosen
    * out-degree threshold (heavy ⟺ od > tau), how many adjacency
    * entries the heavy broadcast carries, and the adjacency total. */
  final case class SplitStats(tau: Long, broadcastEntries: Long,
                              totalEntries: Long)

  /** Smallest τ whose heavy tail (Σ od·n over od > τ) fits `cap`
    * entries, from a (od → node count) histogram. τ = 0 means the whole
    * adjacency broadcasts; τ ≥ max od means no heavy side. */
  private[operators] def chooseTau(hist: Seq[(Long, Long)], cap: Long): (Long, Long) = {
    var tau = hist.foldLeft(0L) { case (m, (od, _)) => math.max(m, od) }
    var tail = 0L
    var blocked = false
    hist.sortBy(-_._1).foreach { case (od, n) =>
      if (!blocked && tail + od * n <= cap) { tail += od * n; tau = od - 1 }
      else blocked = true
    }
    (tau, tail)
  }

  /** One summary row (n_nodes, n_edges, n_wedges, n_triangles,
    * global_cc_bp) over `edges` — a DISTINCT undirected edge list with
    * long columns (u, v), ids < 2³¹ so (degree, id) packs into one
    * orderable long. `statsOut` receives the split decision (a callback,
    * not shared mutable state — concurrent runs can't clobber each
    * other's observation). */
  def summary(spark: SparkSession, edgesIn: DataFrame,
              statsOut: SplitStats => Unit = _ => ()): DataFrame = {
    val edges = edgesIn.select(col("u"), col("v"))
      .localCheckpoint(false) // feeds degrees, orientation, and totals
    // the packed (degree, id) orientation key requires 0 <= id < 2^31:
    // a negative or over-wide id silently corrupts BOTH the orientation
    // comparison and the adjacency equality, so the contract is enforced
    // at runtime, not just stated in the doc. One reduce over the
    // already-checkpointed edge list (summary() takes several passes
    // over it anyway); null bounds = empty graph = trivially in range.
    val bounds = edges.agg(
      min(least(col("u"), col("v"))).as("lo"),
      max(greatest(col("u"), col("v"))).as("hi")).head()
    if (!bounds.isNullAt(0)) {
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      require(lo >= 0L && hi < (1L << 31),
        s"Triangles.summary requires node ids in [0, 2^31) for the packed " +
          s"(degree, id) orientation key; got id range [$lo, $hi]")
    }
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(false) // feeds both endpoint joins + the wedge total
    def key(d: Column, id: Column): Column = shiftleft(d, 32) + id
    val keyed = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
      .select(key(col("du"), col("u")).as("ku"), key(col("dv"), col("v")).as("kv"))
    val oriented = keyed.select(
        when(col("ku") < col("kv"), col("ku")).otherwise(col("kv")).as("src"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("dst"))
      .localCheckpoint(false) // two attach joins + the adjacency groupBy
    // out-degree HISTOGRAM: ≤ max-od ≈ O(√|E|) rows to the driver — the
    // KMeans-centroid collect posture (statistics, never corpus data)
    val hist = oriented.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .groupBy(col("od")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cap = GraphScale.longConf(spark, HeavyBroadcastMaxKey, None,
      DefaultHeavyBroadcastMax)
    val (tau, tail) = chooseTau(hist, cap)
    statsOut(SplitStats(tau, tail, hist.map { case (od, n) => od * n }.sum))
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint(false) // one materialization feeds all four attaches
    val adjL = adj.filter(size(col("nbrs")) <= tau)
    val adjH = adj.filter(size(col("nbrs")) > tau)
    val none = array().cast("array<bigint>")
    val attached = oriented
      .join(adjL.select(col("src"), col("nbrs").as("na_l")), Seq("src"), "left")
      .join(broadcast(adjH.select(col("src"), col("nbrs").as("na_h"))),
        Seq("src"), "left")
      .join(adjL.select(col("src").as("dst"), col("nbrs").as("nb_l")),
        Seq("dst"), "left")
      .join(broadcast(adjH.select(col("src").as("dst"), col("nbrs").as("nb_h"))),
        Seq("dst"), "left")
    val tri = attached
      .select(size(array_intersect(
          coalesce(col("na_l"), col("na_h"), none),
          coalesce(col("nb_l"), col("nb_h"), none))).cast("long").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    val totals = edges.agg(count(lit(1)).as("n_edges")).crossJoin(
      deg.agg(count(lit(1)).as("n_nodes"),
        // coalesce: an EMPTY edge list aggregates to a null sum, and the
        // summary contract is zeros, not nulls, on degenerate graphs
        coalesce(sum(col("d") * (col("d") - 1) / 2).cast("long"), lit(0L))
          .as("n_wedges")))
    broadcast(totals).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        // wedge-free graph (all degrees <= 1): 0/0 would surface as null;
        // a graph with no wedges has, by convention, zero clustering
        when(col("n_wedges") > 0,
          floor(lit(3) * col("n_triangles") * 10000.0 / col("n_wedges")))
          .otherwise(lit(0L)).cast("long").as("global_cc_bp"))
  }
}
