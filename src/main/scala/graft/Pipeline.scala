package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, KMeans, PrefixSum, Rounds}

/** End-to-end curation pipeline — the operators composed the way a
  * production run chains them, with shared artifacts computed ONCE:
  * the surviving corpus is materialized between stages ([[Rounds.eager]]:
  * each stage reads the previous stage's materialization, not a
  * re-derivation, and the job that materializes it also counts it), and
  * one k-means fit feeds cluster sizes, quality metrics AND medoids.
  * [[Bench]] measures every query standalone by design; this main is the
  * reuse counterpoint — the library surface a pipeline author actually
  * holds.
  *
  * Stages: exact dedup → near-dup keep-best → per-language quality gate
  * (bottom quartile dropped) → context-window packing; embeddings: one
  * Lloyd fit → three cluster views, computed by one aggregate and read
  * once. Prints ONE JSON line of stage counts.
  *
  * At benchmark scale a run costs its Spark jobs, not its rows: each job
  * carries ~30 ms of fixed overhead on a 4-core host, and after AQE
  * coalescing most stages are one task. So the chain starts a job only
  * where one does work, and `PipelineSpec` holds it to a job budget
  * (41 jobs at sf0.001). Each stage's jobs are described
  * `pipeline <stage>` (an iterative step inside names its own rounds).
  *
  * `runMain graft.Pipeline [sfDir]` (env: SPARK_GRAFT_SF_DIR).
  */
object Pipeline {

  // private[graft]: the driver oracle (PipelineQueries.pipelineCountsSql)
  // interpolates these same values — one definition site, so a tuning
  // change can't silently desync the Spark chain from its DuckDB replay
  private[graft] val SeqTokens = 2048L // packed context-window length
  private[graft] val MinJaccardBp = 2000 // near-dup pair threshold
  private[graft] val QualityQuantile = 0.25 // per-language gate cut

  /** Runs the chain; returns (stage, rows, seconds) in stage order —
    * [[main]] prints the per-stage wall time; count-only callers drop the
    * third element. */
  def run(spark: SparkSession, sfDir: String): Seq[(String, Long, Double)] = {
    val out = Seq.newBuilder[(String, Long, Double)]
    // every job a stage runs (AQE's query-stage jobs included) is
    // described `pipeline <stage>`, unless a loop inside names its rounds
    def stage(name: String)(rows: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = Rounds.described(spark, s"pipeline $name")(rows)
      out += ((name, n, (System.nanoTime() - t0) / 1e9))
    }
    // stageDf: one job materializes the stage and measures its row count,
    // and both land in the stage's time
    def stageDf(name: String)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val d = Rounds.described(spark, s"pipeline $name")(Rounds.eager(f))
      val n = Rounds.measuredRows(d)
      out += ((name, n, (System.nanoTime() - t0) / 1e9))
      d
    }
    val docs = Tables.documents(spark, sfDir)
    stage("docs")(docs.count())

    // 1. exact dedup: keep the smallest doc_id of each distinct text
    val exactKeep = docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val afterExact = stageDf("after_exact_dedup") {
      docs.join(exactKeep, "doc_id")
    }

    // 2. near-dup: shingle-Jaccard pairs → components → best (longest,
    //    then smallest-id) survivor per cluster — over the EXACT-dedup'd
    //    corpus, so the pair join never re-finds byte-identical copies
    val afterNear = stageDf("after_neardup_keep") {
      val pairs = Dedup
        .ngramJaccardPairs(afterExact, minJaccardBp = MinJaccardBp, sorted = false)
        .select(col("doc_a"), col("doc_b"))
      val labels = Dedup.connectedComponents(pairs, afterExact.select(col("doc_id")))
      val nearKeep = Dedup
        .keepBest(labels, afterExact.select(col("doc_id"), col("n_chars").as("score")))
        .select(col("doc_id"))
      afterExact.join(nearKeep, "doc_id")
    }

    // 3. quality gate: drop each language's bottom quartile — the SAME
    //    rank-ceil threshold definition as t_quality_filter, via the
    //    shared groupPercentile helper
    val gated = stageDf("after_quality_gate") {
      val scored = afterNear.withColumn("q_bp",
        graft.queries.TextQueries.qualityBp(col("text")))
      graft.queries.TextQueries
        .groupPercentile(scored, "lang", "q_bp", QualityQuantile)
        .filter(col("q_bp") >= col("thr_bp"))
        .select(col("doc_id"), col("text"))
    }

    // 4. context-window packing: exclusive prefix sum of token counts in
    //    doc_id order assigns each token stream its window; the sequence
    //    COUNT is the highest window any token lands in, +1 — counting
    //    distinct doc-START windows would skip windows interior to a
    //    longer-than-window document
    // coalesce(-1): an empty surviving corpus has a NULL max → 0 sequences
    stage("packed_sequences") {
      PrefixSum.exclusive(
          gated.select(col("doc_id"),
            size(split(col("text"), "\\s+")).cast("long").as("n_tokens")),
          keyCol = "doc_id", valueCol = "n_tokens")
        .agg(coalesce(
          max(expr(s"(prefix_excl + n_tokens - 1) DIV $SeqTokens")), lit(-1L))
          .as("m"))
        .head().getLong(0) + 1
    }

    // 5. embeddings: ONE fit, three views (what Bench measures standalone)
    val fit = stageDf("kmeans_fit_rows") {
      KMeans.fit(Tables.embeddings(spark, sfDir),
          k = graft.queries.VectorQueries.KmeansK,
          iters = graft.queries.VectorQueries.KmeansIters)
    }
    // the three cluster views in ONE aggregate over the fit, read once
    // (in the first stage that needs it): per cluster the medoid (argmin
    // by struct), the min dist and the dist sum. The medoid dist must BE
    // the cluster's min dist — two independent aggregates, so a broken
    // argmin (e.g. wrong struct field order) shows up as a violation
    lazy val views = fit.groupBy(col("cluster"))
      .agg(min(struct(col("dist"), col("vec_id"))).as("m"),
        min(col("dist")).as("lo"), sum(col("dist")).as("w"))
      .select(col("m.dist").as("mdist"), col("lo"), col("w"))
      .collect()
    stage("kmeans_clusters")(views.length.toLong)
    stage("cluster_medoids")(views.length.toLong)
    stage("medoid_argmin_violations")(views.count(r => r.getLong(0) != r.getLong(1)).toLong)
    // overflow fails, as ANSI `sum` does within each cluster
    val wcss = views.foldLeft(0L)((a, r) => Math.addExact(a, r.getLong(2)))
    stage("fit_wcss_nonzero")(if (wcss > 0) 1L else 0L)
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = graft.core.GraftSession.get()
    val (sec, stages) = Harness.time(run(spark, sfDir))
    val body = stages.map { case (k, v, _) => s""""$k":$v""" }.mkString("{", ",", "}")
    val secs = stages.map { case (k, _, s) => s""""$k":${Harness.ms3(s)}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"pipeline","sec":${Harness.ms3(sec)},"stages":$body,"stage_sec":$secs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
