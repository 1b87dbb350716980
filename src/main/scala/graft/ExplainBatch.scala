package graft

/** Plan-artifact dumper for the optimization rounds: writes
  * `<outDir>/<query>_<suffix>.txt` with `explain("formatted")` output for
  * each named query, from ONE warmed session.
  *
  * Each dump opens with a header naming the Spark jobs that ran while the
  * query's DataFrame was built: their count, then each distinct job
  * description (a `Rounds` round such as `pagerank round 3`, or a call
  * site such as `count at …`) with its count. A query that stages work
  * while it is built (a checkpointed edge table, the rounds of an
  * iterative loop, the whole chain of `p_pipeline_counts`) plans over the
  * leaves that work left, so the header is what shows the work; a lazy
  * query's header reads 0 jobs.
  *
  * Usage: `runMain graft.ExplainBatch <outDir> <suffix> <sfDir> <q1,q2,…>`
  *
  * r13 (VERDICT r12 item 3): for ChainMemo'd rows the declared query's
  * plan is a memo-hit scan, which proves sharing but not the work a miss
  * executes — the names below additionally resolve to the BUILD
  * functions, so `<family>_build_{before,after}.txt` artifacts carry the
  * plan that actually runs on every cold build.
  */
object ExplainBatch {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  val builds: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_graph_build" ->
      ((s: SparkSession, d: String) => graft.queries.VectorQueries.knnGraphBuild(s, d)),
    "knn_search_visited_build" ->
      ((s: SparkSession, d: String) => graft.queries.VectorQueries.knnSearchVisitedBuild(s, d)),
    "winnow_build" ->
      ((s: SparkSession, d: String) => graft.queries.TextQueries.winnowBuild(s, d)),
    "ngram_pair_stats_build" ->
      ((s: SparkSession, d: String) => graft.operators.Dedup.pairStats(
        graft.core.Tables.documents(s, d))))

  /** The dump of one plan: the job header, then the formatted plan of
    * the DataFrame `build` returns. */
  def render(spark: SparkSession)(build: => DataFrame): String = {
    val (df, jobs) = Harness.jobsDuring(spark)(build)
    val header = s"== Spark jobs while building: ${jobs.size} ==\n" +
      (if (jobs.isEmpty) "" else Harness.jobCounts(jobs) + "\n")
    header + "\n" + org.apache.spark.sql.graftshim.formattedPlan(df.get)
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, sfDir, qlist) = args.take(4)
    val spark = graft.core.GraftSession.get()
    Harness.warm(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    qlist.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val t0 = System.nanoTime()
      try {
        val plan = render(spark)(builds.getOrElse(name, SparkEntry.queries(name))(spark, sfDir))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(f"[explain] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
