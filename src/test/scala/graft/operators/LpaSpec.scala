package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

/** [[Lpa.propagate]] on a hand-built graph with known communities, plus
  * a brute-force cross-validation of the full synchronous trajectory
  * (mode-of-neighbors, min-label tie-break) on seeded random graphs —
  * the [[KCoreSpec]] posture for the fourth graph primitive. Graphs
  * this small run in the in-task kernel; the relational rounds past its
  * bound are reached through `Lpa.relational`. */
class LpaSpec extends SparkSpecBase {
  import spark.implicits._

  private def sym(pairs: (Long, Long)*): DataFrame =
    (pairs ++ pairs.map { case (a, b) => (b, a) }).toDF("u", "v")

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.select("u", "lbl").as[(Long, Long)].collect().toMap

  /** In-memory synchronous LPA: every round-r label computed from the
    * complete round-(r−1) map; tie-break = smallest label. */
  private def brute(edges: Set[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (edges.toSeq ++ edges.toSeq.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val prev = lbl
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(prev).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("two triangles joined by a bridge settle into two communities") {
    val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val got = labelsOf(Lpa.propagate(g, rounds = 4))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("matches the brute-force synchronous trajectory on seeded random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 5
      val p = 0.15 + 0.05 * trial
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < p
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        // compare the FULL trajectory, not just the endpoint: every round
        // count from 1 to 4 must agree, pinning the synchronous semantics
        for (r <- 1 to 4) {
          val got = labelsOf(Lpa.propagate(sym(edges.toSeq: _*), rounds = r))
          assert(got === brute(edges, r), s"trial=$trial rounds=$r edges=${edges.size}")
        }
      }
    }
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("u", "lbl").as[(Long, Long)].collect().toSeq.sorted

  test("the kernel equals the relational rounds round for round") {
    val bridge = sym((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val path = sym((1L until 40L).map(i => (i, i + 1)): _*)
    // 1–3 twice: two votes for 3 outvote the smaller label 2
    val dup = sym((1L, 2L), (1L, 3L), (1L, 3L))
    val rnd = new scala.util.Random(11)
    val random = (1 to 2).map { _ =>
      sym((for { a <- 1L to 20L; b <- (a + 1) to 20L if rnd.nextDouble() < 0.2 }
        yield (a, b)): _*)
    }
    val cases = Seq(("bridge", bridge, 1 to 4), ("path", path, Seq(8)),
      ("duplicates", dup, 1 to 2), ("empty", sym(), Seq(1))) ++
      random.zipWithIndex.map { case (r, i) => (s"random $i", r, 1 to 4) }
    for ((name, g, roundsSeq) <- cases; r <- roundsSeq) {
      val e = Rounds.eager(g)
      assert(rows(Lpa.kernel(e, r)) == rows(Lpa.relational(e, r)), s"$name rounds=$r")
    }
    assert(labelsOf(Lpa.propagate(dup, rounds = 1))(1L) === 3L)
    assert(Lpa.propagate(sym(), rounds = 2).count() === 0)
  }

  test("propagation over a graph that fits the kernel runs no round job") {
    val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val (n, jobs) = jobsDuring(Lpa.propagate(g, rounds = 4).count())
    assert(n.get === 6L)
    assert(!jobs.exists(_.startsWith("lpa round")), jobs)
    assertJobBudget(jobs, 3) // the edge table's staging, then the count
  }

  test("q_lpa_communities is a well-formed size histogram at sf0.001") {
    val rows = graft.queries.Analytics.qLpaCommunities(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_rounds") == 4L))
    // histogram identity: every community size appears once, and
    // n_nodes = comm_size * n_comms row-wise
    val sizes = rows.map(_.getAs[Long]("comm_size"))
    assert(sizes.distinct.length === sizes.length)
    assert(rows.forall(r =>
      r.getAs[Long]("n_nodes") == r.getAs[Long]("comm_size") * r.getAs[Long]("n_comms")))
  }
}
