package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Local testing uses `local[N]`; the same conf block is what we would ship
  * on a real cluster (AQE for runtime re-planning, skew-join handling,
  * partition coalescing; shuffle partitions sized for the deployment).
  *
  * One generated-code cache per JVM. A long-lived graft process (a
  * load-once namespace, a curator re-running the pipeline, a tool serving
  * many sessions) generates the same whole-stage code on every run, and
  * should compile it once. Spark keys its generated-class cache by
  * (context classloader, code) and bounds it as an LRU. Two defaults defeat
  * it:
  *   - `spark.sql.artifact.isolation.enabled` (default true) runs each
  *     session's tasks under that session's own classloader, so every
  *     `newSession()` misses on every class. graft turns it off. The trade:
  *     an artifact (jar, class file) added to one graft session is visible
  *     to every other graft session in the JVM — Spark's documented
  *     behaviour without isolation. graft itself adds no session artifacts.
  *   - `spark.sql.codegen.cache.maxEntries` (default 100) is smaller than
  *     one run's working set (a `training_iter` pass of the perf benchmark
  *     fills ~220 entries: a class is cached once under the driver's
  *     loader and once under the executors'), and an LRU smaller than a
  *     cyclic working set hits nothing. graft sizes it to
  *     [[CodegenCacheEntries]]. It is a static conf: the bound is fixed
  *     when the JVM first generates code, so only a JVM whose first
  *     session comes from this builder gets it.
  *
  * Classes compiled per timed pass of the perf benchmark (a new session per
  * pass, after the warm-up pass; 4-core box):
  * {{{
  *   workload          defaults  isolation off only  2000 entries only  both
  *   training_iter     249-252   221                 120                0
  *   fsimage_session   71-82     44                  52                 0
  * }}}
  * `CodegenReuseSpec` checks that both settings take effect.
  */
object GraftSession {

  /** The generated-class cache bound: room for several runs' working sets. */
  val CodegenCacheEntries = 2000

  /** Local worker threads of the default master: `SPARK_GRAFT_CPUS`, as
    * given (Bench reports it verbatim), default 32. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // namespace/report caches are hot and short-lived: skip columnar
      // compression (build-time CPU) — memory is the cheaper currency here
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // CORRECTNESS: Spark 4.1.2's union-partitioning propagation is
      // unsound for window-over-union when the union's children end in
      // broadcast joins above same-key hash-partitioned streams: UnionExec
      // claims the children's partitioning, EnsureRequirements elides the
      // exchange, but execution CONCATENATES child partitions, so one
      // key's rows land in different partitions and the window computes
      // per-fragment results (caught by q_scd2_incr's rebuild-equivalence
      // oracle; minimal repro pinned in UnionPartitioningSpec). Off until
      // the engine zips partitions when claiming this.
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      // compile each generated class once per JVM (see the object doc)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
