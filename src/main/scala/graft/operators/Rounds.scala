package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The per-round policy of graft's iterative DataFrame loops (PageRank,
  * BPE, the HNSW walks, the fsimage path walk, and k-core and LPA over an
  * edge table past [[GraphKernel.MaxRows]] rows), in one place. Below that
  * bound k-core and LPA run every round in one [[GraphKernel]] task and
  * no round job. Two loops keep their own state and use only its parts:
  * Lloyd's k-means keeps k centroid arrays on the driver, each of its rounds one
  * `treeAggregate` ([[KMeans]]); connected components keeps every level's
  * label map for the final composition, each level one [[eagerSum]]
  * leaf ([[Dedup.connectedComponents]]). Both describe their jobs through
  * [[described]] like these rounds, and CC refuses a loop that does not
  * settle with [[NotConverged]], as [[untilStable]] does.
  *
  * Each round's state re-enters the next round's plan as a fresh leaf: a
  * local checkpoint whose size estimate is either measured (an eager
  * leaf, counted by the job that materializes it) or carried from the
  * round-0 leaf, never derived from the previous round's plan. A plain
  * `localCheckpoint` keeps the estimate of the plan it cut, so a loop
  * that self-joins its state squares the estimate every round until
  * Catalyst's BigInteger stats overflow (`e_knn_mutual` at sf0.1) — and
  * planning slows down long before that. Carrying the round-0 estimate
  * (rather than `spark.sql.defaultSizeInBytes`) keeps the join
  * strategies the state's real size earns. A checkpoint leaf keeps no partitioning or ordering
  * (`LayoutSpec`): a round that joins on a key shuffles its inputs.
  *
  * At benchmark scale a round costs its Spark jobs (each ~30 ms of fixed
  * overhead on a 4-core host, whatever its rows), so each entry point
  * runs as few as its loop's shape allows. The loop's shape picks it:
  *   - [[fixed]]: a fixed round count (the oracle unrolls it as SQL).
  *     Each state is a LAZY leaf, so a round runs no more jobs than its
  *     own shuffles need; the blocks materialize on first use and stay
  *     for every later reader.
  *   - [[nested]]: a fixed round count over states that only ever lose
  *     rows (k-core's peel). Each state is an eager leaf, counted as it
  *     materializes; a round that keeps every row of its predecessor is
  *     the fixpoint, so the loop stops there with the round-`n` result
  *     and skips the rounds that would repeat it.
  *   - [[untilStable]]: rounds until a `changed` count is zero. That
  *     count is the one action that materializes a round; once it ran,
  *     the previous round's state is dead and is freed by the RDD created
  *     for it (not left to the ContextCleaner, which only runs after a
  *     GC — a capped heap OOM'd on that race). Non-convergence is refused.
  *
  * Jobs a round runs are described `"<loop> round <r>"`; the caller's
  * job description is restored afterwards and the job group is never
  * touched (benchmarks attribute their counters by job group). */
object Rounds {

  /** The refusal of a loop still changing after `maxIters` rounds; a
    * caller that knows why a loop cannot converge catches this and names
    * the cause. */
  final class NotConverged(loop: String, maxIters: Int, changed: Long)
    extends IllegalArgumentException(s"$loop: not converged after " +
      s"maxIters = $maxIters rounds ($changed still changing); raise maxIters")

  /** `df` materialized now (one job) at `level` as a leaf with measured
    * statistics — for a value read more than once. */
  def eager(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    graftshim.eagerLeaf(df, level)._1

  /** [[eager]], and the sum of `measure` over the leaf's rows, taken by
    * the same one job. */
  def eagerSum(df: DataFrame)(measure: InternalRow => Long): (DataFrame, Long) =
    graftshim.eagerLeafSum(df, measure)

  /** The row count an [[eager]] leaf measured when it materialized. */
  def measuredRows(leaf: DataFrame): Long =
    leaf.queryExecution.analyzed.stats.rowCount.map(_.toLong).getOrElse(
      throw new IllegalArgumentException("measuredRows: not an eager leaf"))

  /** `n` rounds of `step` from `init`; `step` gets the previous state and
    * the 1-based round number. Returns the round-`n` state. */
  def fixed(loop: String, init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val (state0, size, _) = roundZero(init)
    (1 to n).foldLeft(state0) { (state, r) =>
      described(init.sparkSession, s"$loop round $r")(graftshim.lazyLeaf(step(state, r), size)._1)
    }
  }

  /** At most `n` rounds of `step` from `init`, for a `step` whose output
    * rows are always a subset of its input's and that depends on that
    * input alone (a peel). Returns the round-`n` state, as [[fixed]]
    * would, but each round is an [[eager]] leaf: its materializing job
    * also counts it, and a round that keeps as many rows as the round
    * before it returns the same set, so every later round would repeat
    * it and the loop stops. A superseded round is freed once its
    * successor has materialized. `init` is the caller's and is not
    * counted, so an `init` that already is the fixpoint costs two
    * rounds. */
  def nested(loop: String, init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var last: Option[(Long, RDD[_])] = None // rows and blocks of the latest round
    var (r, stable) = (0, false)
    while (!stable && r < n) {
      r += 1
      val (next, rdd) = described(init.sparkSession, s"$loop round $r")(graftshim.eagerLeaf(step(state)))
      val rows = measuredRows(next)
      last.foreach(_._2.unpersist(blocking = false))
      stable = last.exists(_._1 == rows)
      last = Some((rows, rdd))
      state = next
    }
    state
  }

  /** Rounds of `step` from `init` until `changed(state)` is zero, at most
    * `maxIters` of them; refuses (rather than returning a partial
    * fixpoint) when the count is still positive after the last one. */
  def untilStable(loop: String, init: DataFrame, maxIters: Int)(
      step: DataFrame => DataFrame)(changed: DataFrame => Long): DataFrame = {
    var (state, size, dead) = roundZero(init)
    var (c, r) = (1L, 0)
    while (c > 0 && r < maxIters) {
      r += 1
      val (next, rdd) = described(init.sparkSession, s"$loop round $r") {
        val leaf = graftshim.lazyLeaf(step(state), size)
        c = changed(leaf._1)
        leaf
      }
      dead.foreach(_.unpersist(blocking = false))
      dead = Some(rdd)
      state = next
    }
    if (c != 0) throw new NotConverged(loop, maxIters, c)
    state
  }

  /** The round-0 leaf (`init` itself when it already is one), the size
    * estimate every later round's leaf carries, and the RDD created for
    * the leaf here, if any. */
  private def roundZero(init: DataFrame): (DataFrame, BigInt, Option[RDD[_]]) = {
    val size = init.queryExecution.optimizedPlan.stats.sizeInBytes
    if (graftshim.isLeaf(init)) (init, size, None)
    else { val (leaf, rdd) = graftshim.lazyLeaf(init, size); (leaf, size, Some(rdd)) }
  }

  /** `body` with its jobs described `what`; the caller's description is
    * restored afterwards. */
  private[graft] def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }
}
