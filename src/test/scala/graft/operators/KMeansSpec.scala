package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lloyd's iterations must actually converge on separable data — seeds are
  * the k smallest vec_ids, so the fixture puts one early id in each true
  * cluster and the rest anywhere — and the fused kernel must reproduce the
  * relational Lloyd ([[KMeansSpec.Reference]]) row for row, the trajectory
  * the DuckDB oracle replays. */
class KMeansSpec extends SparkSpecBase {
  import KMeansSpec.Reference

  private def cluster(center: Float, ids: Seq[Long]) =
    ids.map(i => (i, Array(center + (i % 5) * 0.01f, center - (i % 3) * 0.01f)))

  test("recovers three separable clusters in two iterations") {
    import spark.implicits._
    // ids 0,1,2 seed one true cluster each; later ids are shuffled across
    val rows = cluster(0.0f, Seq(0L, 10, 13, 16)) ++
      cluster(5.0f, Seq(1L, 11, 14, 17)) ++
      cluster(-5.0f, Seq(2L, 12, 15, 18))
    val df = rows.toDF("vec_id", "embedding")
    val out = KMeans.fit(df, k = 3, iters = 2).collect()
    val byCluster = out.groupBy(_.getAs[Long]("cluster"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(byCluster == Map(
      0L -> Set(0L, 10, 13, 16),
      1L -> Set(1L, 11, 14, 17),
      2L -> Set(2L, 12, 15, 18)))
    // members sit near their centroid: all distances far below the
    // inter-cluster gap (5 units = 5e6 quantized → gap² = 2.5e13)
    assert(out.forall(_.getAs[Long]("dist") < 1e10))
  }

  test("identical vectors all land on the smallest seed id") {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val out = KMeans.fit(df, k = 4, iters = 1).collect()
    assert(out.forall(_.getAs[Long]("cluster") == 0L))
    assert(out.forall(_.getAs[Long]("dist") == 0L))
  }

  test("fitTop rnk=1 IS fit, over the same trajectory, with ranked runners-up") {
    import spark.implicits._
    val rows = cluster(0.0f, Seq(0L, 10, 13, 16)) ++
      cluster(5.0f, Seq(1L, 11, 14, 17)) ++
      cluster(-5.0f, Seq(2L, 12, 15, 18))
    val df = rows.toDF("vec_id", "embedding")
    val fit = KMeans.fit(df, k = 3, iters = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cluster"), r.getAs[Long]("dist")))
      .toMap
    val top = KMeans.fitTop(df, k = 3, iters = 2, p = 2).collect()
    // rank-1 rows reproduce the argmin assignment exactly (same
    // centroids, same tie rule) — the invariant multi-probe SemDeDup
    // and incremental-IVF assignment rest on
    val r1 = top.filter(_.getAs[Int]("rnk") == 1)
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cluster"), r.getAs[Long]("dist")))
      .toMap
    assert(r1 == fit)
    // every vector carries exactly p probes, rank-2 strictly no closer
    val byVec = top.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec.values.forall(_.length == 2))
    byVec.values.foreach { probes =>
      val Array(a, b) = probes.sortBy(_.getAs[Int]("rnk"))
      assert(a.getAs[Long]("dist") <= b.getAs[Long]("dist"))
    }
  }

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def embeddings(rows: Seq[(Long, Seq[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v) }.asJava, schema)

  /** `n` vectors of ragged lengths 1..`maxLen` under distinct unsorted ids,
    * plus an empty and a null embedding, one of them at the smallest id
    * (a seed) and the other past the largest. Grid elements (−0.5, 0,
    * 0.5) make exact distance ties common. */
  private def fixture(seed: Int, n: Int, maxLen: Int, grid: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 3L * n).toVector).take(n)
    val rows = ids.map { id =>
      id -> Seq.fill(1 + rnd.nextInt(maxLen))(
        if (grid) rnd.nextInt(3) * 0.5f - 0.5f else rnd.nextFloat() * 2 - 1)
    }
    val (lo, hi) = if (seed % 2 == 0) (-2L, ids.max + 1) else (ids.max + 1, -2L)
    embeddings(rows :+ (lo -> Seq.empty[Float]) :+ (hi -> null))
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  private def centroidRows(c: KMeans.Centroids): Seq[Seq[Any]] =
    (for (j <- 0 until c.size; p <- c.values(j).indices)
      yield Seq[Any](c.ids(j), p + 1L, c.values(j)(p))).sortBy(_.mkString(","))

  /** fit, fitTop and finalCentroids against the reference; returns the
    * reference's centroid rows and its (vec_id, cluster, dist, rnk) probes. */
  private def assertMatchesReference(emb: DataFrame, k: Int, iters: Int,
                                     p: Int): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val refVecs = Reference.quantize(emb)
    val refCents = Reference.finalCentroids(refVecs, emb, k, iters)
    val cents = rowsOf(refCents.select(col("k"), col("pos"), col("c")))
    val top = rowsOf(Reference.assignTop(refVecs, refCents, p))
    val ctx = s"k=$k iters=$iters"
    assert(centroidRows(KMeans.finalCentroids(KMeans.quantize(emb), emb, k, iters)) == cents, ctx)
    assert(rowsOf(KMeans.fit(emb, k, iters)) == rowsOf(Reference.assign(refVecs, refCents)), ctx)
    assert(rowsOf(KMeans.fitTop(emb, k, iters, p)) == top, s"$ctx p=$p")
    (cents, top)
  }

  test("fit, fitTop and finalCentroids equal the relational Lloyd row for row") {
    for (seed <- 1 to 4; grid <- Seq(true, false)) {
      val emb = fixture(seed, n = 40, maxLen = if (grid) 4 else 8, grid)
      assertMatchesReference(emb, k = 6, iters = 3, p = 3)
      // more seeds than rows: every row, the empty and the null one seed
      assertMatchesReference(emb, k = 45, iters = 2, p = 2)
      // against the seeds themselves (round 1's assignment), the grid
      // fixtures exercise the tie rule: some vector's nearest two seeds
      // are at the same distance
      val (_, top) = assertMatchesReference(emb, k = 6, iters = 0, p = 3)
      if (grid) assert(top.groupBy(_.head).values.exists { probes =>
        probes.count(_(2) == probes.find(_(3) == 1).get(2)) > 1
      }, s"seed $seed: no distance tie")
    }
    assertMatchesReference(Tables.embeddings(spark, Sf), k = 8, iters = 2, p = 2)
  }

  test("a cluster that loses every member vanishes, as in the reference") {
    // vector 1 extends seed 0's coordinates: over their shared positions
    // both centroids are at distance 0 from it and the smaller id wins,
    // so cluster 1 has no member after round 1
    val emb = embeddings(Seq(0L -> Seq(0.5f, 0.5f), 1L -> Seq(0.5f, 0.5f, 1f),
      2L -> Seq(-1f, -1f), 3L -> Seq(-0.5f, -1f, 0.5f), 4L -> Seq(0.5f, 0f)))
    val (cents, _) = assertMatchesReference(emb, k = 3, iters = 2, p = 3)
    assert(cents.map(_.head).distinct == Seq(0L, 2L))
  }

  test("a fit of n rounds costs at most n + 3 jobs, materialization included") {
    val emb = Tables.embeddings(spark, Sf)
    for (n <- 1 to 3) {
      val (out, jobs) = jobsDuring(KMeans.fit(emb, k = 8, iters = n).collect())
      assert(out.get.nonEmpty)
      assert(jobs.count(_.startsWith("kmeans round")) == n, graft.Harness.jobCounts(jobs))
      assertJobBudget(jobs, n + 3)
    }
  }
}

object KMeansSpec {

  /** The relational Lloyd graft ran before its fused kernel: the centroids
    * are a (k, pos, c) table, and each round broadcasts it into a distance
    * aggregate per (vec_id, k), takes the argmin per vec_id, joins back to
    * the exploded vectors and re-averages per (k, pos). It is the shape of
    * the DuckDB trajectory CTEs (`VectorQueries.kmeansChain`). */
  object Reference {
    def quantize(embeddings: DataFrame): DataFrame = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
      .localCheckpoint()

    def finalCentroids(vecs: DataFrame, embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
      val seeds = embeddings.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
      val cents0 = vecs.join(broadcast(seeds), "vec_id")
        .select(col("vec_id").as("k"), col("pos"), col("q").as("c"))
      Rounds.fixed("kmeans reference", cents0, iters) { (cents, _) =>
        assign(vecs, cents).withColumnRenamed("cluster", "k").join(vecs, "vec_id")
          .groupBy(col("k"), col("pos"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
          .select(col("k"), col("pos"),
            floor(col("s") * 1.0 / col("n")).cast("long").as("c"))
      }
    }

    /** (vec_id, cluster, dist): the argmin by (dist, k). */
    def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
      vecs.join(broadcast(cents), Seq("pos"))
        .groupBy(col("vec_id"), col("k"))
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("k"))).as("m"))
        .select(col("vec_id"), col("m.k").as("cluster"), col("m.dist").as("dist"))

    /** (vec_id, cluster, dist, rnk ≤ p): the p nearest by (dist, k). */
    def assignTop(vecs: DataFrame, cents: DataFrame, p: Int): DataFrame =
      vecs.join(broadcast(cents), Seq("pos"))
        .groupBy(col("vec_id"), col("k"))
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("k"))))
        .filter(col("rnk") <= p)
        .select(col("vec_id"), col("k").as("cluster"), col("dist"), col("rnk"))
  }
}
