package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the clustering
  * step behind corpus bucketing, IVF index building and diversity
  * sampling. Everything is integer math so the whole iteration trajectory
  * is bit-identical in DuckDB (SURVEY §6): elements quantize to integer
  * millionths, distances are exact bigint sums of squares, and centroid
  * updates are `floor(sum/n)` of exact bigint sums.
  *
  * Scale shape per iteration: centroids are a k·dim-row DataFrame (never
  * driver state) broadcast into the distance join; the assignment is one
  * partial-aggregable groupBy(vec_id, k) + an argmin groupBy(vec_id); the
  * centroid update is one groupBy(k, pos) over the assigned table —
  * shuffle keys stay (vec_id) / (k, pos), both fine at 10⁹ vectors.
  * The iterations run under [[Rounds.fixed]].
  *
  * Determinism: seeds are the k smallest vec_ids; cluster ids ARE the seed
  * vec_ids; distance ties break to the smaller cluster id; a cluster that
  * loses all members vanishes (documented — later assignments only target
  * surviving clusters, identically in the oracle).
  */
object KMeans {

  /** The quantized (vec_id, pos, q) table [[fit]] iterates over,
    * checkpointed — expose it so multi-k sweeps (`e_kmeans_elbow`) pay
    * the corpus explode/materialization once, not per k. */
  def quantize(embeddings: DataFrame): DataFrame = embeddings
    .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
    .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
      floor(col("x").cast("double") * 1000000).cast("long").as("q"))
    .localCheckpoint() // scanned by every iteration — materialize once

  /** @param embeddings (vec_id, embedding: array<float>)
    * @return (vec_id, cluster, dist) after `iters` centroid updates and a
    *         final assignment; dist = exact squared L2 in millionths²
    */
  def fit(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    fitQuantized(quantize(embeddings), embeddings, k, iters)

  /** [[fit]] over a pre-[[quantize]]d table. Seeds still come from the
    * EMBEDDINGS table (TakeOrdered over n_vecs rows, no shuffle — and
    * the DuckDB twin's `seeds` CTE selects from embeddings, so an empty
    * embedding array among the k smallest ids counts as a seed slot in
    * both engines rather than only in the oracle). */
  def fitQuantized(vecs: DataFrame, embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    assign(vecs, finalCentroids(vecs, embeddings, k, iters))
      .select(col("vec_id"), col("k").as("cluster"), col("dist"))

  /** The (k, pos, c) centroid table after `iters` Lloyd updates — the
    * trajectory [[fitQuantized]] assigns against, exposed so multi-probe
    * assignment ([[assignTop]]) shares the identical centroids. */
  def finalCentroids(vecs: DataFrame, embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val seeds = embeddings.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
    val cents0 = vecs.join(broadcast(seeds), "vec_id")
      .select(col("vec_id").as("k"), col("pos"), col("q").as("c"))
    Rounds.fixed("kmeans", cents0, iters) { (cents, _) =>
      assign(vecs, cents).join(vecs, "vec_id")
        .groupBy(col("k"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
        .select(col("k"), col("pos"),
          floor(col("s") * 1.0 / col("n")).cast("long").as("c"))
    }
  }

  private def assign(vecs: DataFrame, c: DataFrame): DataFrame =
    vecs.join(broadcast(c), Seq("pos"))
      .groupBy(col("vec_id"), col("k"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("k"))).as("m"))
      .select(col("vec_id"), col("m.k").as("k"), col("m.dist").as("dist"))

  /** Multi-probe assignment: each vector's `p` NEAREST centroids (ties to
    * the smaller cluster id, like [[fitQuantized]]'s argmin), as
    * (vec_id, cluster, dist, rnk ∈ 1..p). rnk=1 rows ARE [[fitQuantized]]'s
    * assignment over the same centroids — the nearest-2-centroid probe
    * SemDeDup/IVF use to catch near-dups that straddle a cell boundary. */
  def assignTop(vecs: DataFrame, cents: DataFrame, p: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vecs.join(broadcast(cents), Seq("pos"))
      .groupBy(col("vec_id"), col("k"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("k"))))
      .filter(col("rnk") <= p)
      .select(col("vec_id"), col("k").as("cluster"), col("dist"), col("rnk"))
  }

  /** [[fit]] with `p`-probe assignment over the same trajectory. */
  def fitTop(embeddings: DataFrame, k: Int, iters: Int, p: Int): DataFrame = {
    val vecs = quantize(embeddings)
    assignTop(vecs, finalCentroids(vecs, embeddings, k, iters), p)
  }
}
