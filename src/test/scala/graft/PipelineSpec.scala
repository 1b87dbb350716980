package graft

/** The composed curation chain holds its invariants: each gate only ever
  * shrinks the corpus, packing covers the surviving tokens, and the single
  * k-means fit yields all three cluster views; no stage runs a job just to
  * count itself, and the whole run stays within its job budget. */
class PipelineSpec extends SparkSpecBase {
  test("pipeline stages shrink monotonically and the shared fit feeds all views") {
    val (run, jobs) = jobsDuring(Pipeline.run(spark, Sf))
    val stages = run.get.map { case (k, v, _) => k -> v }.toMap
    assert(stages("docs") > 0)
    assert(stages("after_exact_dedup") <= stages("docs"))
    assert(stages("after_neardup_keep") <= stages("after_exact_dedup"))
    assert(stages("after_quality_gate") <= stages("after_neardup_keep"))
    assert(stages("after_quality_gate") > 0)
    // the p25 gate keeps at least ~75 % of every language, so globally too
    assert(stages("after_quality_gate") * 4L >= stages("after_neardup_keep") * 3L - 4)
    assert(stages("packed_sequences") > 0)
    assert(stages("kmeans_clusters") == stages("cluster_medoids"))
    assert(stages("medoid_argmin_violations") == 0L)
    assert(stages("fit_wcss_nonzero") == 1L)
    // each of the 4 materialized stages is counted by the one job that
    // materializes it (a checkpoint and then a count() ran 79 jobs here);
    // the three cluster views are one aggregate read once, the tables'
    // schemas come from their footers and CC's first jump is lazy (68
    // jobs before those three); each Lloyd round is one job (53 jobs when
    // a round was five)
    info(s"${jobs.size} jobs")
    assertJobBudget(jobs, 45)
  }
}
