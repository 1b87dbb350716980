package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

/** The in-task kernel of the fixed-round graph loops ([[KCore.peel]],
  * [[Lpa.propagate]]): when a staged edge table fits one task, the whole
  * loop runs there in memory instead of as Spark jobs.
  *
  * At benchmark scale a relational round costs its jobs (~30 ms each on a
  * 4-core host, whatever their rows), two or three a round. Here one task
  * reads every row of the leaf (`coalesce(1)`), lays them out once as
  * compressed sparse rows ([[Csr]]), runs the caller's synchronous rounds
  * over that layout and emits the final state. The returned DataFrame is
  * lazy: it runs no job of its own, the caller's action runs the task.
  * Nothing of graph size goes to the driver. Past [[MaxRows]] the callers
  * keep their relational rounds. */
object GraphKernel {

  /** The most rows of an edge leaf the kernel reads into one task. The
    * task holds 12 bytes per row while it builds the layout (the row's two
    * node numbers, then its adjacency entry; 4 once built) and at most 54
    * bytes per node (its [[DenseIds]] entry, its row offset and fill
    * cursor, and at most 14 of loop state). A symmetric table without
    * self-loops has no more nodes than rows, so at the bound a task holds
    * at most ~265 MiB, and ~70 MiB on a graph whose mean degree is 10 or
    * more. */
  val MaxRows: Long = 1L << 22

  /** True iff the [[Rounds.eager]] leaf `e` fits one kernel task. */
  def fits(e: DataFrame): Boolean = Rounds.measuredRows(e) <= MaxRows

  /** The rows `run` emits from the [[Csr]] of the `(u, v)` rows of `e` (a
    * [[Rounds.eager]] leaf, whose measured row count sizes the layout), as
    * a lazy DataFrame with columns `cols`, computed in one task. */
  private[operators] def apply(e: DataFrame, cols: (String, String))(
      run: Csr => Iterator[(Long, Long)]): DataFrame = {
    val longs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val rows = Rounds.measuredRows(e)
    e.select(col("u"), col("v")).as(longs).coalesce(1)
      .mapPartitions(it => run(Csr(it, rows)))(longs).toDF(cols._1, cols._2)
  }
}

/** One task's `(u, v)` rows as compressed sparse rows. Nodes are numbered
  * densely as they first appear in either column ([[DenseIds]]); node
  * `i`'s rows are `adj(off(i))` until `adj(off(i + 1))`, each the number
  * of its `v`, in input order. A duplicate row is two entries, as it is
  * two rows to `count(1)`. */
private[operators] final class Csr(ids: DenseIds, val off: Array[Int], val adj: Array[Int]) {
  /** The node count. */
  val n: Int = ids.size

  /** The id of node `i`. */
  def id(i: Int): Long = ids(i)
}

private[operators] object Csr {
  /** The layout of `rows`, about `expected` of them. */
  def apply(rows: Iterator[(Long, Long)], expected: Long): Csr = {
    val ids = new DenseIds
    var src = new Array[Int](math.max(1L, expected).toInt)
    var dst = new Array[Int](src.length)
    var m = 0
    rows.foreach { case (u, v) =>
      if (m == src.length) {
        src = java.util.Arrays.copyOf(src, 2 * m)
        dst = java.util.Arrays.copyOf(dst, 2 * m)
      }
      src(m) = ids.number(u)
      dst(m) = ids.number(v)
      m += 1
    }
    // counting sort by source: off(i + 1) counts node i's rows, then sums
    val off = new Array[Int](ids.size + 1)
    var j = 0
    while (j < m) { off(src(j) + 1) += 1; j += 1 }
    var i = 0
    while (i < ids.size) { off(i + 1) += off(i); i += 1 }
    val at = java.util.Arrays.copyOf(off, ids.size)
    val adj = new Array[Int](m)
    j = 0
    while (j < m) { adj(at(src(j))) = dst(j); at(src(j)) += 1; j += 1 }
    new Csr(ids, off, adj)
  }
}
