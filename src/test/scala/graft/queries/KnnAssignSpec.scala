package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** r13: [[VectorQueries.knnGraphBuild]]'s cell assignment moved from a
  * crossJoin + per-vector rank window (an exchange of n·ncells wide rows)
  * to a map-side transform/sort/slice over the broadcast centroid array.
  * This spec pins the REFEREE: on the real corpus the map-side top-probe
  * cells must equal the window's rank ≤ probe cut exactly — same cells,
  * same ranks, for every vector — so the declared knn/hnsw family results
  * cannot move. */
class KnnAssignSpec extends SparkSpecBase {

  test("map-side top-probe cell assignment == rank-window assignment on the real corpus") {
    val e = VectorQueries.embs(spark, Sf)
    val n = graft.core.Tables.embeddings(spark, Sf).count()
    val ncells = VectorQueries.knnNumCells(spark, n)
    val cents = VectorQueries.knnCentroids(spark, Sf, e, n, ncells)

    // the pre-r13 window shape, inlined as the reference
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell"))
    val ref = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        (graft.functions.VectorExprs.dotProduct(col("v"), col("cv")) /
          (col("nrm") * col("cn"))).as("ccos"))
      .withColumn("crnk", rank().over(wAssign))
      .filter(col("crnk") <= VectorQueries.KnnProbe)
      .select(col("vec_id"), col("cell"), col("crnk").cast("long").as("crnk"))

    // the shipped build's assignment, re-read off its checkpoint
    val now = VectorQueries.knnGraphAssignedForSpec(spark, Sf)
      .select(col("vec_id"), col("cell"), col("crnk").cast("long").as("crnk"))

    assert(now.count() == ref.count(), "assignment row counts differ")
    assert(now.except(ref).isEmpty && ref.except(now).isEmpty,
      "map-side assignment diverges from the rank-window reference")
  }

  test("a NaN score ranks strictly before +inf, whatever the cell ids") {
    import spark.implicits._
    // ccos = dot / (nrm · cn): cell 0 overflows to +inf, cell 1 is NaN;
    // ccos DESC orders NaN first, so the lower cell id must not win a tie
    val m = Seq((1L, Seq(1e200), 1.0)).toDF("vec_id", "v", "nrm")
    val cents = Seq((0, Seq(1e200), 1.0), (1, Seq(Double.NaN), 1.0)).toDF("cell", "cv", "cn")
    val ranks = VectorQueries.knnAssignTopCells(m, cents).collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Int]("crnk")).toMap
    assert(ranks == Map(1 -> 1, 0 -> 2), s"cell -> rank: $ranks")
  }
}
