package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Rounds]]: fresh-stats round leaves, refusal of non-convergence,
  * eviction of superseded rounds, and the job budget of a fixed loop. */
class RoundsSpec extends SparkSpecBase {
  import spark.implicits._

  /** An n-node path as CC input: (doc_a, doc_b) pairs and the vertices. */
  private def path(n: Long): (DataFrame, DataFrame) =
    ((0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      (0L until n).toDF("doc_id"))

  test("CC on a 2,000-node path keeps every round leaf's size estimate below 2^63") {
    // every plan an action runs during CC (each round's step, eager
    // leaves and changed count) reads the previous rounds' state as
    // checkpoint leaves; a leaf that inherits the estimate of the plan it
    // cut squares it per self-join round (11,387 bits by round 4)
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
    val (out, jobs) =
      try jobsDuring(Dedup.connectedComponents(pairs, verts).collect())
      finally spark.listenerManager.unregister(listener)
    val got = out.get.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 2000 && got.values.forall(_ == 0L))
    val rounds = jobs.filter(_.startsWith("cc round ")).distinct
    assert(rounds.size >= 3, s"expected several CC rounds, saw $rounds")
    import scala.jdk.CollectionConverters._
    val all = sizes.asScala.toSeq
    assert(all.nonEmpty)
    assert(all.max < BigInt(Long.MaxValue), s"a leaf estimate has ${all.max.bitLength} bits")
  }

  test("untilStable names maxIters when it refuses a loop that has not converged") {
    val e = intercept[IllegalArgumentException] {
      Rounds.untilStable("toy", spark.range(4).toDF("x"), maxIters = 3)((s, _) => s)(_ => 1L)
    }
    assert(e.getMessage.contains("maxIters = 3"), e.getMessage)
    val (pairs, verts) = path(40) // diameter 39: one round cannot settle it
    val cc = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, verts, maxIters = 1)
    }
    assert(cc.getMessage.contains("maxIters = 1"), cc.getMessage)
  }

  test("after a run only the final round's leaves are still persisted") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.foreach { case (_, r) => r.unpersist(true) }
    // a toy countdown: every round makes one eager leaf and one state
    // leaf; 8 rounds, of which only the last state may stay
    val done = Rounds.untilStable("toy", spark.range(8).toDF("x"), maxIters = 20) {
      (s, round) => round.eager(s.select(greatest(col("x") - 1, lit(0L)).as("x")))
    }(_.filter(col("x") > 0).count())
    assert(sc.getPersistentRDDs.size == 1, sc.getPersistentRDDs.values.mkString(", "))
    assert(done.agg(max(col("x"))).head().getLong(0) == 0L) // keeps `done` reachable above
    sc.getPersistentRDDs.foreach { case (_, r) => r.unpersist(true) }
    // CC over a diameter-19 chain (several rounds of 3 eager leaves and a
    // state each): besides the final round's state only the two staged
    // edge tables (the pair checkpoint and its symmetric layout) may
    // remain, and those two are unreachable once CC returns, so the
    // ContextCleaner may already have freed them
    val (pairs, verts) = path(20)
    val cc = Dedup.connectedComponents(pairs, verts)
    assert(cc.collect().length == 20)
    val residue = sc.getPersistentRDDs.size
    assert(residue >= 1 && residue <= 3, s"$residue persisted RDDs left after CC — " +
      "superseded round checkpoints are leaking to the async cleaner")
    assert(cc.count() == 20) // keeps the final state reachable above
  }

  test("a fixed loop runs no more jobs per round than Lpa.propagateLaid did before Rounds") {
    // Lpa.propagateLaid before it ran on Rounds, on this graph: 6 jobs
    // for 1 round, 18 for 4, i.e. 4 per round
    val ParentJobsPerRound = 4.0
    val rnd = new scala.util.Random(7)
    val und = (for { a <- 1L to 40L; b <- (a + 1) to 40L if rnd.nextDouble() < 0.15 }
      yield (a, b))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
      .repartition(col("v")).sortWithinPartitions(col("v")).localCheckpoint()
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    def jobs(rounds: Int): Seq[String] = {
      val (out, js) = jobsDuring(Lpa.propagateLaid(e, rounds).collect())
      assert(out.isSuccess, out)
      js
    }
    val (j1, j4) = try (jobs(1), jobs(4)) finally sc.setJobDescription(null)
    val perRound = (j4.size - j1.size) / 3.0
    assert(perRound <= ParentJobsPerRound, s"$perRound jobs per round: $j4")
    // rounds are described, and the caller's description comes back
    assert((1 to 4).forall(r => j4.contains(s"lpa round $r")), j4)
    assert(j4.last == "caller", j4)
  }
}
