package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

/** [[KCore.peel]] on a hand-built graph with a known core structure:
  * a triangle {1,2,3} with a pendant path 3–4–5–6 hanging off it. The
  * 2-core is exactly the triangle, and reaching it REQUIRES a cascade
  * (6 falls first, which drops 5 to degree 1, which drops 4) — one
  * round is provably not enough, so the test pins the iterative part,
  * not just the degree filter. The peel stops at its fixpoint with the
  * output of the full round budget, in fewer jobs. Graphs this small run
  * in the in-task kernel; the relational plans past its bound are
  * reached through `KCore.relational`, and both walk one trajectory. */
class KCoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def sym(pairs: (Long, Long)*): DataFrame =
    (pairs ++ pairs.map { case (a, b) => (b, a) }).toDF("u", "v")

  private val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))

  private def nodes(e: DataFrame): Set[Long] =
    e.select("u").as[Long].collect().toSet

  test("2-core of triangle+path is the triangle, via a 3-deep cascade") {
    assert(nodes(KCore.peel(g, k = 2, rounds = 3)) === Set(1L, 2L, 3L))
    assert(KCore.peel(g, k = 2, rounds = 3).count() === 6) // 3 undirected edges
    // one round only strips the leaf — the cascade is real
    assert(nodes(KCore.peel(g, k = 2, rounds = 1)) === Set(1L, 2L, 3L, 4L, 5L))
  }

  /** The peel before it stopped at its fixpoint: every one of `rounds`
    * rounds runs, each a lazy [[Rounds.fixed]] leaf. */
  private def fixedPeel(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    Rounds.fixed("fixed kcore", Rounds.eager(sym), rounds) { (e, _) =>
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u").as("node"))
      e.join(keep, e("u") === keep("node"), "left_semi")
        .join(keep, e("v") === keep("node"), "left_semi")
    }
  }

  private def rows(e: DataFrame): Seq[(Long, Long)] =
    e.as[(Long, Long)].collect().toSeq.sorted

  /** The relational peel (the plan past the kernel's bound), broadcast or
    * shuffled as [[GraphScale]] picks. */
  private def relationalPeel(sym: DataFrame, k: Int, rounds: Int,
                             modeOut: String => Unit = _ => ()): DataFrame =
    KCore.relational(Rounds.eager(sym), k, rounds, modeOut)

  test("a peel that converges at round 3 of 8 stops there, with the 8-round output") {
    val (fixedOut, fixedJobs) = jobsDuring(rows(fixedPeel(g, k = 2, rounds = 8)))
    val (out, jobs) = jobsDuring(rows(relationalPeel(g, k = 2, rounds = 8)))
    assert(out.get == fixedOut.get)
    assert(out.get.map(_._1).toSet == Set(1L, 2L, 3L))
    // round 4 keeps every edge of round 3: the fixpoint, so no round 5
    assert(jobs.contains("kcore round 4") && !jobs.contains("kcore round 5"), jobs)
    info(s"${jobs.size} jobs against ${fixedJobs.size} for 8 fixed rounds")
    assertJobBudget(jobs, fixedJobs.size - 1)
  }

  test("a peel that has not converged returns the same round-8 state as 8 fixed rounds") {
    // a 40-node path at k = 2 loses its two end nodes per round: 20 rounds
    val path = sym((1L until 40L).map(i => (i, i + 1)): _*)
    val (out, jobs) = jobsDuring(rows(relationalPeel(path, k = 2, rounds = 8)))
    assert(out.get == rows(fixedPeel(path, k = 2, rounds = 8)))
    assert(out.get.map(_._1).toSet == (9L to 32L).toSet)
    assert(jobs.contains("kcore round 8"), jobs)
    assert(rows(KCore.peel(path, k = 2, rounds = 8)) == out.get)
  }

  test("the kernel peel equals the relational peel round for round") {
    val path = sym((1L until 40L).map(i => (i, i + 1)): _*)
    // 3–4 twice: node 4 keeps degree 2 on the duplicate row alone, as
    // count(1) counts it, after 5 and 6 peel off
    val dup = g.union(sym((3L, 4L)))
    val rnd = new scala.util.Random(11)
    val random = (1 to 2).map { _ =>
      sym((for { a <- 1L to 20L; b <- (a + 1) to 20L if rnd.nextDouble() < 0.2 }
        yield (a, b)): _*)
    }
    val cases = Seq(("cascade", g, 2, 1 to 3), ("path", path, 2, Seq(8)),
      ("duplicates", dup, 2, 1 to 4), ("empty core", g, 3, Seq(1, 3))) ++
      random.zipWithIndex.flatMap { case (r, i) =>
        Seq((s"random $i", r, 2, 1 to 4), (s"random $i", r, 3, 1 to 4)) }
    val key = GraphScale.BroadcastMaxNodesKey
    var mode = ""
    for ((name, gr, k, roundsSeq) <- cases; r <- roundsSeq) {
      val got = rows(KCore.kernel(Rounds.eager(gr), k, r))
      assert(got == rows(relationalPeel(gr, k, r, mode = _)), s"$name k=$k rounds=$r")
      assert(mode == "broadcast")
      // the forced-shuffled cutover walks the same trajectory
      spark.conf.set(key, "1")
      try assert(got == rows(relationalPeel(gr, k, r, mode = _)), s"$name k=$k rounds=$r shuffled")
      finally spark.conf.unset(key)
      assert(mode == "shuffled")
    }
    assert(nodes(KCore.peel(dup, k = 2, rounds = 8)) === Set(1L, 2L, 3L, 4L))
    assert(KCore.peel(g, k = 3, rounds = 3).count() === 0)
  }

  test("a peel of a graph that fits the kernel runs no round job") {
    var mode = ""
    val (n, jobs) = jobsDuring(KCore.peel(g, k = 2, rounds = 8, mode = _).count())
    assert(n.get === 6L)
    assert(mode === "kernel")
    assert(!jobs.exists(_.startsWith("kcore round")), jobs)
    assertJobBudget(jobs, 3) // the edge table's staging, then the count
  }

  test("peel refuses k = 0 before any Spark job starts") {
    val (out, jobs) = jobsDuring(KCore.peel(g, k = 0, rounds = 1))
    assert(out.failed.get.isInstanceOf[IllegalArgumentException], out)
    assert(out.failed.get.getMessage.contains("k-core threshold"))
    assert(jobs.isEmpty, s"peel ran ${jobs.size} job(s) before refusing: $jobs")
  }

  test("peeling is idempotent once converged and empties past the degeneracy") {
    val core = KCore.peel(g, k = 2, rounds = 3)
    assert(nodes(KCore.peel(core, k = 2, rounds = 1)) === nodes(core))
    assert(KCore.peel(g, k = 3, rounds = 3).count() === 0) // triangle is only a 2-core
  }

  test("matches a brute-force peel on seeded random graphs, all k") {
    // in-memory reference: delete min-degree-< k nodes until fixpoint
    def brute(edges: Set[(Long, Long)], k: Int): Set[Long] = {
      var es = edges
      var done = false
      while (!done) {
        val deg = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.size).toMap
        val keep = deg.collect { case (n, d) if d >= k => n }.toSet
        val next = es.filter { case (a, b) => keep(a) && keep(b) }
        done = next == es
        es = next
      }
      es.flatMap { case (a, b) => Seq(a, b) }
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 6
      val p = 0.12 + 0.08 * trial
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < p
      } yield (a, b)).toSet
      for (k <- 2 to 3) {
        val expect = brute(edges, k)
        // 10 rounds is a budget, not an assumption: if it were too few,
        // the equality against the brute-force FIXPOINT fails loudly
        val got =
          if (edges.isEmpty) Set.empty[Long]
          else nodes(KCore.peel(sym(edges.toSeq: _*), k, rounds = 10))
        assert(got === expect, s"trial=$trial k=$k edges=${edges.size}")
      }
    }
  }

  test("shuffled cutover: forced-low threshold switches the plan, output unchanged") {
    // force the shuffled plan on the tiny spec graphs by dropping the
    // cutover to 1 node — the automatic switch the sf1 LPA OOM mandated
    val key = GraphScale.BroadcastMaxNodesKey
    spark.conf.set(key, "1")
    var mode = ""
    try {
      val core = relationalPeel(g, k = 2, rounds = 3, mode = _)
      core.collect() // run to AQE-final so the plan assert sees reality
      assert(mode === "shuffled")
      // the LPA recipe: final survivor attach is a forced merge join,
      // never a broadcast build
      val plan = core.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(nodes(core) === Set(1L, 2L, 3L))
      assert(core.count() === 6)
      // trajectory equality, not just fixpoint: a 1-round peel must
      // match the broadcast plan's 1-round result mid-cascade
      assert(nodes(relationalPeel(g, k = 2, rounds = 1)) === Set(1L, 2L, 3L, 4L, 5L))
      // and on seeded random graphs both plans agree round-for-round
      val rnd = new scala.util.Random(7)
      val edges = (for {
        a <- 1L to 20L; b <- (a + 1) to 20L if rnd.nextDouble() < 0.2
      } yield (a, b)).toSet
      val gr = sym(edges.toSeq: _*)
      for (r <- 1 to 4) {
        spark.conf.set(key, "1")
        val shuffled = nodes(relationalPeel(gr, k = 2, rounds = r, mode = _))
        assert(mode === "shuffled")
        spark.conf.unset(key)
        val bcast = nodes(relationalPeel(gr, k = 2, rounds = r, mode = _))
        assert(mode === "broadcast")
        assert(shuffled === bcast, s"rounds=$r")
      }
    } finally spark.conf.unset(key)
  }

  test("qPagerank shuffled cutover matches the broadcast trajectory") {
    val key = GraphScale.BroadcastMaxNodesKey
    var mode = ""
    val bcast = graft.queries.Analytics.qPagerank(spark, Sf, mode = _)
      .collect().toSeq
    assert(mode === "broadcast")
    spark.conf.set(key, "1")
    try {
      val shuffled = graft.queries.Analytics.qPagerank(spark, Sf, mode = _)
        .collect().toSeq
      assert(mode === "shuffled")
      assert(shuffled === bcast) // identical integer ranks, identical order
    } finally spark.conf.unset(key)
  }

  test("q_kcore summary certifies convergence at sf0.001") {
    val row = graft.queries.Analytics.qKcore(spark, Sf).collect()(0)
    assert(row.getAs[Boolean]("stable"))
    // sf0.001's co-order graph collapses entirely at k=80 (measured in
    // the oracle prototype); the empty core must still be a stable,
    // well-formed summary row
    assert(row.getAs[Long]("n_core_nodes") === 0L)
    assert(row.getAs[Long]("n_core_edges") === 0L)
    assert(row.getAs[Long]("min_core_deg") === 80L)
  }
}
