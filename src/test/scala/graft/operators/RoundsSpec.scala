package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Rounds]]: fresh-stats round leaves, refusal of non-convergence,
  * eviction of superseded rounds, the fixpoint exit of a nested loop,
  * per-round planning time that stays flat over long loops, and the job
  * budget of a fixed loop. */
class RoundsSpec extends SparkSpecBase {
  import spark.implicits._

  /** An n-node path as CC input: (doc_a, doc_b) pairs and the vertices. */
  private def path(n: Long): (DataFrame, DataFrame) =
    ((0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      (0L until n).toDF("doc_id"))

  /** Min-label propagation over an n-node path on [[Rounds.untilStable]]:
    * plain hops, one path node per round, each round's plan a self-join of
    * the previous round's state. `log` sees every round's plan. */
  private def pathCc(n: Long, log: DataFrame => DataFrame = identity): DataFrame = {
    val sym = (0L until n - 1).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("nbr", "doc_id")
    Rounds.untilStable("path cc", (0L until n).map(i => (i, i))
        .toDF("doc_id", "cluster_id"), maxIters = 2 * n.toInt) { s =>
      val l = s.select(col("doc_id"), col("cluster_id"))
      log(sym.join(l, "doc_id").select(col("nbr").as("doc_id"), col("cluster_id"))
        .unionByName(l).groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
        .join(l.select(col("doc_id"), col("cluster_id").as("prev")), "doc_id"))
    }(s => s.filter(col("cluster_id") < col("prev")).count())
  }

  test("CC on a 2,000-node path keeps every round leaf's size estimate below 2^63") {
    // every plan an action runs during CC (each level's leaf and the final
    // composition) and during a min-label loop of several self-joining
    // rounds reads earlier state as checkpoint leaves; a leaf that
    // inherits the estimate of the plan it cut squares it per self-join
    // round (11,387 bits by round 4)
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[BigInt]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.collectLeaves().foreach {
          case leaf: LogicalRDD => sizes.add(leaf.stats.sizeInBytes)
          case _                =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val (pairs, verts) = path(2000)
    spark.listenerManager.register(listener)
    val ((out, _), (hops, jobs)) =
      try (jobsDuring(Dedup.connectedComponents(pairs.repartition(3), verts).collect()),
        jobsDuring(pathCc(12).filter(col("cluster_id") =!= 0L).count()))
      finally spark.listenerManager.unregister(listener)
    val got = out.get.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 2000 && got.values.forall(_ == 0L))
    assert(hops.get == 0L)
    val rounds = jobs.filter(_.startsWith("path cc round ")).distinct
    assert(rounds.size >= 3, s"expected several self-joining rounds, saw $rounds")
    import scala.jdk.CollectionConverters._
    val all = sizes.asScala.toSeq
    assert(all.nonEmpty)
    assert(all.max < BigInt(Long.MaxValue), s"a leaf estimate has ${all.max.bitLength} bits")
  }

  test("untilStable names maxIters when it refuses a loop that has not converged") {
    val e = intercept[IllegalArgumentException] {
      Rounds.untilStable("toy", spark.range(4).toDF("x"), maxIters = 3)(s => s)(_ => 1L)
    }
    assert(e.getMessage.contains("maxIters = 3"), e.getMessage)
    // the path's edges dealt to 2 partitions: neither holds all of it, so
    // one level cannot settle it
    val (pairs, verts) = path(40)
    val cc = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs.repartition(2), verts, maxIters = 1)
    }
    assert(cc.getMessage.contains("maxIters = 1"), cc.getMessage)
  }

  test("after a run only the final round's leaves are still persisted") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.foreach { case (_, r) => r.unpersist(true) }
    // a toy countdown: every round makes one state leaf; 8 rounds, of
    // which only the last state may stay
    val done = Rounds.untilStable("toy", spark.range(8).toDF("x"), maxIters = 20) {
      s => s.select(greatest(col("x") - 1, lit(0L)).as("x"))
    }(_.filter(col("x") > 0).count())
    assert(sc.getPersistentRDDs.size == 1, sc.getPersistentRDDs.values.mkString(", "))
    assert(done.agg(max(col("x"))).head().getLong(0) == 0L) // keeps `done` reachable above
    sc.getPersistentRDDs.foreach { case (_, r) => r.unpersist(true) }
    // CC over a diameter-19 chain in 3 partitions: its result composes
    // every level's label map, so exactly its level leaves remain, one
    // per level, and nothing else it made
    val (pairs, verts) = path(20)
    val (cc, jobs) = jobsDuring(Dedup.connectedComponents(pairs.repartition(3), verts))
    val levels = jobs.filter(_.startsWith("cc round ")).distinct.size
    assert(cc.get.collect().length == 20)
    val residue = sc.getPersistentRDDs.size
    assert(levels >= 2 && residue == levels, s"$residue persisted RDDs left after " +
      s"$levels CC levels: ${sc.getPersistentRDDs.values.mkString(", ")}")
    assert(cc.get.count() == 20) // keeps the level leaves reachable above
  }

  test("a fixed loop runs no more jobs per round than Lpa.propagateLaid did before Rounds") {
    // Lpa.propagateLaid before it ran on Rounds, on this graph: 6 jobs
    // for 1 round, 18 for 4, i.e. 4 per round
    val ParentJobsPerRound = 4
    val rnd = new scala.util.Random(7)
    val und = (for { a <- 1L to 40L; b <- (a + 1) to 40L if rnd.nextDouble() < 0.15 }
      yield (a, b))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
      .repartition(col("v")).sortWithinPartitions(col("v")).localCheckpoint()
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    def jobs(rounds: Int): Seq[String] = {
      val (out, js) = jobsDuring(Lpa.relational(e, rounds).collect())
      assert(out.isSuccess, out)
      js
    }
    val (j1, j4) = try (jobs(1), jobs(4)) finally sc.setJobDescription(null)
    // the 3 extra rounds add at most ParentJobsPerRound jobs each
    assertJobBudget(j4, j1.size + 3 * ParentJobsPerRound)
    // rounds are described, and the caller's description comes back
    assert((1 to 4).forall(r => j4.contains(s"lpa round $r")), j4)
    assert(j4.last == "caller", j4)
  }

  test("a nested loop stops at the first round that keeps every row") {
    val sc = spark.sparkContext
    // keeps x >= 5 of 0..9: round 2 keeps round 1's five rows
    val (out, jobs) = jobsDuring(
      Rounds.nested("toy", spark.range(10).toDF("x"), 8)(_.filter(col("x") >= 5)).count())
    assert(out.get == 5L)
    assert(jobs.contains("toy round 2") && !jobs.exists(_.startsWith("toy round 3")), jobs)
    assertJobBudget(jobs, 4) // two rounds and the count's two
    // drops its maximum per round: never stable, so all n rounds run
    sc.getPersistentRDDs.foreach { case (_, r) => r.unpersist(true) }
    val dropMax = Rounds.nested("toy", spark.range(10).toDF("x"), 4) { s =>
      s.join(s.agg(max(col("x")).as("m")), col("x") < col("m")).select(col("x"))
    }
    assert(dropMax.as[Long].collect().sorted.toSeq == (0L to 5L))
    // a superseded round is freed once its successor has materialized
    assert(sc.getPersistentRDDs.size == 1, sc.getPersistentRDDs.values.mkString(", "))
  }

  /** Per-round planning time (analysis through the physical plan) and
    * optimized-plan size of a loop's round plans, in round order. */
  private final class PlanLog {
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    def apply(df: DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      rounds += (((System.nanoTime() - t0) / 1e6, df.queryExecution.optimizedPlan.collect { case p => p }.size))
      df
    }
    /** Round plans do not grow, and late rounds plan about as fast as
      * early ones (loose: a wall-clock bound on a shared host). */
    def assertBounded(what: String): Unit = {
      assert(rounds.size >= 16, s"$what: ${rounds.size} rounds")
      val sizes = rounds.drop(1).map(_._2)
      assert(sizes.max == sizes.min, s"$what: round plans grew: $sizes")
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val early = median(rounds.slice(1, 6).map(_._1).toSeq)
      val late = median(rounds.takeRight(5).map(_._1).toSeq)
      info(f"$what: ${rounds.size} rounds, planning $early%.1f ms early, $late%.1f ms late")
      assert(late <= 3 * early + 50, f"$what: planning $early%.1f ms early, $late%.1f ms late")
    }
  }

  test("per-round planning time stays bounded on a long path graph") {
    // untilStable: plain min-label hops, one path node per round
    val cc = new PlanLog
    val labels = pathCc(24, cc(_))
    assert(labels.filter(col("cluster_id") =!= 0L).count() == 0L)
    cc.assertBounded("untilStable")
    // nested: a 2-core peel of a 40-node path loses its two ends per round
    // and reaches the empty fixpoint after 20 rounds
    val path = (1L until 40L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("u", "v")
    val peel = new PlanLog
    val core = Rounds.nested("path kcore", Rounds.eager(path), 30) { e =>
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select(col("u").as("node"))
      peel(e.join(keep, e("u") === keep("node"), "left_semi")
        .join(keep, e("v") === keep("node"), "left_semi"))
    }
    assert(core.count() == 0L && peel.rounds.size == 21)
    peel.assertBounded("nested")
  }
}
