package perfbench

/** Input sizes of the workloads, and the values their outputs are
  * checked against where no generator ground truth exists. */
object Sizes {
  val SessionFiles = 30000
  val SessionDirs = 300
  val Training = TrainingData.Size(docs = 2000, vectors = 800, orders = 8000, parts = 600)
}

/** `training_iter` results on the fixed [[TrainingData]] corpus at
  * [[Sizes.Training]]: the pipeline's stage counts and each query's
  * order-independent row fingerprint. They were recorded from a run
  * whose outputs for the same corpus matched the DuckDB oracle
  * (`graft.Verify` restricted to these queries, then
  * `tools/check_oracle.py`); `record_expected.py` repeats both steps. */
object Expected {
  val training: Map[String, String] = Map(
    "pipeline" -> ("docs=2000,after_exact_dedup=1896,after_neardup_keep=1689," +
      "after_quality_gate=1271,packed_sequences=29,kmeans_fit_rows=800," +
      "kmeans_clusters=8,cluster_medoids=8,medoid_argmin_violations=0,fit_wcss_nonzero=1"),
    "q_kcore" -> "4fd09f36d95c0f91")
}
