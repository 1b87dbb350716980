package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, graftshim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Lloyd's k-means over an embedding column — the clustering
  * step behind corpus bucketing, IVF index building and diversity
  * sampling. Everything is integer math so the whole iteration trajectory
  * is bit-identical in DuckDB (SURVEY §6): elements quantize to integer
  * millionths, distances are exact bigint sums of squares over the
  * positions a vector and a centroid share, and centroid updates are
  * `floor(s * 1.0 / n)` of exact bigint sums. Overflow fails, as ANSI
  * `sum` does.
  *
  * Scale shape: the centroids are driver state, k arrays of at most dim
  * longs ([[Centroids]]) — MLlib's model-size bound, O(k·dim) whatever the
  * corpus size. Each iteration is ONE `treeAggregate` over the quantized
  * table with the centroids broadcast: per partition, each vector's exact
  * distance to every centroid, its argmin, and per-(cluster, pos) sums and
  * member counts in long arrays (a cluster's arrays are allocated on its
  * first member in the task, so at most 2·k·dim longs per task: 64 MiB at
  * `VectorQueries.DefaultKnnMaxCells` = 65,536 cells of 64 dims); the driver
  * divides. The final assignment and the top-p probes are a map over the
  * quantized table, no shuffle. A fit of `iters` rounds runs `iters` + 2
  * jobs once its output is materialized: the seeds' collect, one job per
  * round (round 1's also fills the quantized checkpoint) and the one that
  * materializes the assignment. Round `r`'s job is described
  * `kmeans round <r>`.
  *
  * Determinism: seeds are the k smallest vec_ids of the embeddings (a seed
  * whose embedding is null or empty yields no centroid); cluster ids ARE
  * the seed vec_ids; distance ties break to the smaller cluster id; a
  * cluster that loses all members vanishes (documented — later
  * assignments only target surviving clusters, identically in the
  * oracle). vec_id is the key of the embeddings, and an embedding element
  * must not be null.
  */
object KMeans {

  /** Lloyd's centroids on the driver: cluster `ids` ascending (seed
    * vec_ids), `values(j)` the coordinates of cluster `ids(j)` at
    * positions 1..`values(j).length`. */
  final class Centroids private[operators] (val ids: Array[Long], val values: Array[Array[Long]])
    extends Serializable {
    def size: Int = ids.length
  }

  /** The quantized (vec_id, q: array<bigint>) table [[fit]] iterates
    * over: every element `floor(x·10⁶)`, null and empty embeddings
    * dropped; a lazy checkpoint, filled by the first job that reads it.
    * Expose it so multi-k sweeps (`e_kmeans_elbow`) quantize the corpus
    * once, not per k. */
  def quantize(embeddings: DataFrame): DataFrame = embeddings
    .select(col("vec_id"), quantized(col("embedding")).as("q"))
    .filter(size(col("q")) > 0)
    .localCheckpoint(false)

  private def quantized(embedding: Column): Column =
    transform(embedding, x => floor(x.cast("double") * 1000000).cast("long"))

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
    assignTop(vecs, finalCentroids(vecs, embeddings, k, iters), 1)
      .select(col("vec_id"), col("cluster"), col("dist"))

  /** The centroids after `iters` Lloyd updates — the trajectory
    * [[fitQuantized]] assigns against, exposed so multi-probe assignment
    * ([[assignTop]]) shares the identical centroids. */
  def finalCentroids(vecs: DataFrame, embeddings: DataFrame, k: Int, iters: Int): Centroids = {
    val qs = vecs.select(col("q")).queryExecution.toRdd
    (1 to iters).foldLeft(seeds(embeddings, k)) { (c, r) =>
      Rounds.described(vecs.sparkSession, s"kmeans round $r")(update(qs, c))
    }
  }

  /** The k smallest vec_ids of `embeddings` with their quantized
    * embeddings, read by one TakeOrdered collect. */
  private def seeds(embeddings: DataFrame, k: Int): Centroids = {
    val rows = embeddings.select(col("vec_id"), quantized(col("embedding")))
      .orderBy(col("vec_id")).limit(k).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getSeq[Any](1).nonEmpty)
    new Centroids(rows.map(_.getLong(0)), rows.map(_.getSeq[Any](1).map {
      case x: Long => x
      case _       => throw nullElement
    }.toArray))
  }

  /** One Lloyd round: assign every vector of `qs` to its nearest centroid
    * of `c` and average each surviving cluster's members per position. */
  private def update(qs: RDD[InternalRow], c: Centroids): Centroids = {
    val b = qs.sparkContext.broadcast(c)
    val acc = try qs.treeAggregate(new Sums(c.size))({ (a, row) =>
      val q = row.getArray(0)
      val (js, _) = nearest(q, b.value, 1)
      if (js.nonEmpty) a.add(js(0), q)
      a
    }, _ merge _)
    finally b.destroy()
    val live = (0 until c.size).filter(acc.s(_) != null).toArray
    new Centroids(live.map(c.ids), live.map { j =>
      val (s, n) = (acc.s(j), acc.n(j))
      Array.tabulate(s.length)(i => math.floor(s(i) * 1.0 / n(i)).toLong)
    })
  }

  /** Per-(cluster, pos) sums and member counts of one round; a cluster's
    * arrays are allocated on its first member and grow to its longest. */
  private final class Sums(k: Int) extends Serializable {
    val s = new Array[Array[Long]](k)
    val n = new Array[Array[Long]](k)

    def add(j: Int, q: ArrayData): Unit = {
      grow(j, q.numElements)
      var i = 0
      while (i < q.numElements) {
        s(j)(i) = Math.addExact(s(j)(i), elem(q, i))
        n(j)(i) += 1
        i += 1
      }
    }

    def merge(o: Sums): Sums = {
      for (j <- 0 until k if o.s(j) != null) {
        grow(j, o.s(j).length)
        for (i <- o.s(j).indices) {
          s(j)(i) = Math.addExact(s(j)(i), o.s(j)(i))
          n(j)(i) += o.n(j)(i)
        }
      }
      this
    }

    private def grow(j: Int, len: Int): Unit =
      if (s(j) == null) { s(j) = new Array[Long](len); n(j) = new Array[Long](len) }
      else if (s(j).length < len) {
        s(j) = java.util.Arrays.copyOf(s(j), len)
        n(j) = java.util.Arrays.copyOf(n(j), len)
      }
  }

  /** The indexes into `c` of the `p` centroids nearest `q`, nearest first
    * with ties to the smaller cluster id, and their distances. */
  private def nearest(q: ArrayData, c: Centroids, p: Int): (Array[Int], Array[Long]) = {
    val m = math.max(0, math.min(p, c.size))
    val (js, ds) = (new Array[Int](m), new Array[Long](m))
    var n = 0
    for (j <- 0 until c.size) {
      val d = dist(q, c.values(j))
      // ids ascend with j: a later centroid at an equal distance ranks after
      if (n < m || (m > 0 && d < ds(m - 1))) {
        if (n < m) n += 1
        var i = n - 1
        while (i > 0 && ds(i - 1) > d) { js(i) = js(i - 1); ds(i) = ds(i - 1); i -= 1 }
        js(i) = j
        ds(i) = d
      }
    }
    (js, ds)
  }

  /** Exact squared L2 over the positions `q` and `c` share. */
  private def dist(q: ArrayData, c: Array[Long]): Long = {
    val n = math.min(q.numElements, c.length)
    var s = 0L
    var i = 0
    while (i < n) {
      val d = Math.subtractExact(elem(q, i), c(i))
      s = Math.addExact(s, Math.multiplyExact(d, d))
      i += 1
    }
    s
  }

  private def elem(q: ArrayData, i: Int): Long =
    if (q.isNullAt(i)) throw nullElement else q.getLong(i)

  private def nullElement =
    new IllegalArgumentException("KMeans: an embedding element is null")

  /** Multi-probe assignment: each vector's `p` NEAREST centroids (ties to
    * the smaller cluster id, like [[fitQuantized]]'s argmin), as
    * (vec_id, cluster, dist, rnk ∈ 1..p). rnk=1 rows ARE [[fitQuantized]]'s
    * assignment over the same centroids — the nearest-2-centroid probe
    * SemDeDup/IVF use to catch near-dups that straddle a cell boundary.
    * A map over `vecs` with the centroids broadcast. */
  def assignTop(vecs: DataFrame, cents: Centroids, p: Int): DataFrame = {
    val b = vecs.sparkSession.sparkContext.broadcast(cents)
    val top = graftshim.column(Nearest(graftshim.expression(col("q")), b, p))
    vecs.select(col("vec_id"), posexplode(top).as(Seq("r0", "m")))
      .select(col("vec_id"), col("m.k").as("cluster"), col("m.dist").as("dist"),
        (col("r0") + 1).as("rnk"))
  }

  /** [[fit]] with `p`-probe assignment over the same trajectory. */
  def fitTop(embeddings: DataFrame, k: Int, iters: Int, p: Int): DataFrame = {
    val vecs = quantize(embeddings)
    assignTop(vecs, finalCentroids(vecs, embeddings, k, iters), p)
  }

  /** [[nearest]] as an expression: array<struct<k, dist>>, nearest first. */
  private case class Nearest(child: Expression, cents: Broadcast[Centroids], p: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("dist", LongType, nullable = false))), containsNull = false)

    override protected def nullSafeEval(q: Any): Any = {
      val c = cents.value
      val (js, ds) = nearest(q.asInstanceOf[ArrayData], c, p)
      new GenericArrayData(js.indices.map(i => InternalRow(c.ids(js(i)), ds(i))).toArray[Any])
    }

    override protected def withNewChildInternal(newChild: Expression): Nearest =
      copy(child = newChild)
  }
}
