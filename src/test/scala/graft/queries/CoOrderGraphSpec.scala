package graft.queries

import graft.{Harness, SparkSpecBase}
import graft.core.Tables
import org.apache.spark.sql.functions._

/** The staged co-order graph (`Analytics.coOrderSymStaged`): the one
  * symmetric edge leaf that all six co-order rows read. Its `u < v` half
  * must be the edge list the rows were built on before the leaf was
  * shared, and once one row has staged it, the others reuse it. */
class CoOrderGraphSpec extends SparkSpecBase {
  import spark.implicits._

  /** The undirected edge list as it was built per query before the shared
    * leaf: lineitem → sorted distinct part arrays → `sortedPairs` →
    * `distinct`. */
  private def referenceEdges: Seq[(Long, Long)] =
    Tables.lineitem(spark, Sf)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(QueryModule.sortedPairs(col("ps"))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .distinct()
      .as[(Long, Long)].collect().toSeq.sorted

  test("the staged leaf is symmetric with no self-loop or duplicate row") {
    val rows = Analytics.coOrderSymStaged(spark, Sf).as[(Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.distinct.size === rows.size)
    assert(!rows.exists { case (u, v) => u == v })
    assert(rows.toSet === rows.map(_.swap).toSet)
    val half = rows.filter { case (u, v) => u < v }.sorted
    assert(half === referenceEdges)
    assert(rows.size === 2 * half.size)
  }

  test("after q_kcore, the co-order rows stage no edge table of their own") {
    Analytics.qKcore(spark, Sf).collect()
    val rows = Seq("q_pagerank", "q_lpa_communities", "q_graph_triangles",
      "q_triangles_approx", "q_link_predict")
    val (_, jobs) = jobsDuring(rows.foreach(q => Analytics.queries(q)(spark, Sf).collect()))
    assert(!jobs.contains("co-order staging"), Harness.jobCounts(jobs))
    // the degree leaf (its shuffle and its materialization), then the
    // degree-joined edge table (the degree broadcast and the checkpoint)
    assert(jobs.count(_ == "pagerank staging") <= 4, Harness.jobCounts(jobs))
  }
}
